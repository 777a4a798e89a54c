"""The three workloads: inputs, set-up, the timed job and its output check.

Each workload drives the engine only through its public functions —
``sources.geolite2_csv.load_city_csv``, ``sources.geolite2.validate_dim``,
``functions.parse.parse_transcripts``, ``operators.enrich.enrich``,
``operators.aggregate.*``, ``operators.route.route`` and
``streaming.pipeline.run_stream`` — and hands it inputs only as files.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from logstash_filter_geoip_spark.config import DEFAULT_TAG_ON_FAILURE, GeoIPConfig
from logstash_filter_geoip_spark.lineage import METRICS_DIR
from logstash_filter_geoip_spark.functions.parse import parse_transcripts
from logstash_filter_geoip_spark.operators import aggregate as agg
from logstash_filter_geoip_spark.operators.enrich import enrich
from logstash_filter_geoip_spark.operators.route import read_sink, route
from logstash_filter_geoip_spark.sources.geolite2 import load_dim_v6, validate_dim
from logstash_filter_geoip_spark.sources.geolite2_csv import load_city_csv
from logstash_filter_geoip_spark.streaming.pipeline import enrich_batch, run_stream

import gen
from tracing import Tracer, checkpoint_batches

CONFIG = GeoIPConfig(source="ip_any", target="geoip", database="City",
                     ecs_compatibility=True)
FAIL = DEFAULT_TAG_ON_FAILURE[0]
COUNTRY = "geoip.geo.country_iso_code"
MIN_REPS = 3
WARM_TURNS = 2_000
PROBE_FILES, PROBE_FILE_TURNS = 12, 2_000


@dataclass
class Inputs:
    turns_dir: str
    warm_dir: str
    blocks: str
    locations: str
    turns: gen.Turns
    dim: gen.Dim
    props: dict
    files: list = field(default_factory=list)   # stream_tail: staged files
    probe_dir: str = ""                           # route_fanout: stream probe
    expected: dict = field(default_factory=dict)  # the oracle's outputs


def expected(turns: gen.Turns) -> dict:
    return {"geo": gen.expected_geo_window(turns),
            "sinks": gen.expected_sinks(turns),
            "convs": gen.expected_convs(turns)}


@dataclass
class Dims:
    dim: object
    dim_v6: object
    rows: int


@dataclass
class Run:
    """What a workload reports back to run.py."""
    job_s: list = field(default_factory=list)     # per timed rep / file
    turns_per_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    outputs: list = field(default_factory=list)   # per-rep output summaries
    extra: dict = field(default_factory=dict)     # workload-only figures

    def check(self, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(errs[:5])


def write_warm(turns: gen.Turns, work: str, parts: int = 4) -> str:
    """A small warm-up slice in one file per core-sized partition, so the
    warm-up starts as many Python workers as the timed job uses."""
    wdir = os.path.join(work, "warm")
    step = WARM_TURNS // parts
    for i in range(parts):
        gen.write_turns(turns, os.path.join(wdir, f"part-{i:05d}.parquet"),
                        slice(i * step, (i + 1) * step))
    return wdir


def load_dims(spark, inputs: Inputs, tr: Tracer) -> Dims:
    """Dim ingestion: the CSV pair loaded, held in memory, validated."""
    with tr.span("sources.load_city_csv"):
        dim = load_city_csv(spark, inputs.blocks, inputs.locations).cache()
    with tr.span("sources.validate_dim"):
        validate_dim(dim)
        rows = dim.count()
    return Dims(dim, load_dim_v6(spark, "City"), rows)


def enriched(spark, path: str, dims: Dims, tr: Tracer):
    with tr.span("sources.read"):
        df = spark.read.parquet(path)
    with tr.span("functions.parse"):
        parsed = parse_transcripts(df)
    with tr.span("operators.enrich"):
        return enrich(parsed, dims.dim, CONFIG, dim_v6=dims.dim_v6)


def _diff(name: str, got: dict, want: dict) -> list[str]:
    if got == want:
        return []
    keys = sorted(set(got) | set(want), key=str)
    bad = [k for k in keys if got.get(k) != want.get(k)]
    return [f"{name}: {len(bad)} of {len(keys)} keys differ, e.g. "
            f"{bad[0]!r}: got {got.get(bad[0])!r} want {want.get(bad[0])!r}"]


# ---------------------------------------------------------------------------
# Batch workloads
# ---------------------------------------------------------------------------


class Batch:
    name = ""
    dim_spec: gen.DimSpec
    turn_spec: gen.TurnSpec

    def generate(self, seed: int, work: str, seconds: float) -> Inputs:
        rng = np.random.default_rng(seed)
        dim = gen.make_dim(rng, self.dim_spec, os.path.join(work, "dim"))
        turns = gen.make_turns(rng, dim, self.turn_spec)
        tdir = os.path.join(work, "turns")
        gen.write_turns(turns, os.path.join(tdir, "part-00000.parquet"))
        return Inputs(tdir, write_warm(turns, work), dim.blocks_path,
                      dim.locations_path, turns, dim, gen.properties(turns, dim),
                      expected=expected(turns))

    def warmup(self, spark, dims: Dims, inputs: Inputs, work: str,
               tr: Tracer) -> None:
        """The job itself over a small slice: compiles the job's own plans
        (their first compile costs ~2 s more than any other warm-up) and
        starts as many Python workers as the timed job uses."""
        self.job(spark, dims, inputs.warm_dir, work, tr, warm=True)

    def measure(self, spark, dims: Dims, inputs: Inputs, work: str,
                tr: Tracer, seconds: float, min_reps: int = MIN_REPS) -> Run:
        run = Run()
        end = time.time() + seconds
        while len(run.job_s) < min_reps or time.time() < end:
            with tr.span("job") as s:
                out = self.job(spark, dims, inputs.turns_dir, work, tr)
            run.job_s.append(s.seconds)
            run.outputs.append(out)
            run.check(self.check(spark, out, inputs))
        run.turns_per_s = inputs.turns.n / statistics.median(run.job_s)
        self.after(spark, dims, inputs, work, tr, run)
        return run

    def after(self, spark, dims, inputs, work, tr, run: Run) -> None:
        """Checks and figures that follow the timed reps."""

    stream_probe = None           # traced runs drive run_stream when set
    aggregate_inputs: tuple = ()  # columns each aggregate of the job reads

    def downstream_cols(self) -> list[str] | None:
        """Columns the layer after enrich reads (for the prefix jobs);
        None when it writes every column."""
        return None


class GeoRollup(Batch):
    """Read/aggregate path: parse → enrich → three aggregates, collected.

    Each aggregate runs on the uncached enriched frame, as the repo's own
    callers do (``scripts/run_pipeline.py``, ``pipeline.flagship``), so
    scan, parse and enrich run once per aggregate."""

    name = "geo_rollup"
    dim_spec = gen.DimSpec(n_prefix16=150, nets_lo=100, nets_hi=256)
    turn_spec = gen.TurnSpec(n_turns=120_000, ip_density=0.70, pool=3_000)

    def job(self, spark, dims, path, work, tr, warm=False):
        e = enriched(spark, path, dims, tr)
        with tr.span("operators.aggregate.turns_per_geo_window"):
            geo = agg.turns_per_geo_window(
                e, country_col=COUNTRY).collect()
        with tr.span("operators.aggregate.failure_counts_per_sink"):
            sinks = agg.failure_counts_per_sink(e).collect()
        with tr.span("operators.aggregate.salted_conv_rollup"):
            convs = agg.salted_conv_rollup(e).collect()
        return geo, sinks, convs

    def check(self, spark, out, inputs: Inputs) -> list[str]:
        geo, sinks, convs = out
        got_geo = {(int(r["window_start"].timestamp()), r["country_iso_code"]):
                   (r["n_turns"], r["n_failures"]) for r in geo}
        got_sinks = {(r["role"], r["tool"]): (r["n_turns"], r["n_failures"])
                     for r in sinks}
        got_convs = {r["conv_id"]: r["n_turns"] for r in convs}
        want = inputs.expected
        return (_diff("turns_per_geo_window", got_geo, want["geo"])
                + _diff("failure_counts_per_sink", got_sinks, want["sinks"])
                + _diff("salted_conv_rollup", got_convs, want["convs"]))

    aggregate_inputs = ([COUNTRY, "ts", "tags"], ["role", "tool", "tags"],
                        ["conv_id", "turn_idx"])

    def downstream_cols(self):
        return list(dict.fromkeys(c for cols in self.aggregate_inputs for c in cols))


class RouteFanout(Batch):
    """Write path: parse → enrich → route() of the full enriched rows."""

    name = "route_fanout"
    dim_spec = gen.DimSpec(n_prefix16=250, nets_lo=5, nets_hi=35)
    turn_spec = gen.TurnSpec(n_turns=140_000, ip_density=0.30, pool=None,
                             hot_conv_share=0.25, sink_top_share=0.40)

    def job(self, spark, dims, path, work, tr, warm=False):
        e = enriched(spark, path, dims, tr)
        base = os.path.join(work, "route_warm" if warm else "route")
        with tr.span("operators.route"):
            return dict(route(e, base, resume=False), base=base)

    def check(self, spark, manifest: dict, inputs: Inputs) -> list[str]:
        t = inputs.turns
        want = {f"{r}|{tl}": n for (r, tl), (n, _) in inputs.expected["sinks"].items()}
        errs = _diff("sink_counts", manifest.get("sink_counts", {}), want)
        # the per-file lineage table route() writes: failures per sink
        failures = {(r["role"], r["tool"]): r["n"] for r in
                    spark.read.parquet(os.path.join(manifest["base"], METRICS_DIR))
                    .groupBy("role", "tool").agg(F.sum("n_failures").alias("n"))
                    .collect()}
        errs += _diff("sink_failures", failures,
                      {k: f for k, (_, f) in inputs.expected["sinks"].items()})
        if manifest.get("total_rows") != t.n:
            errs.append(f"manifest total {manifest.get('total_rows')} != {t.n}")
        if manifest.get("fingerprint", {}).get("n_rows") != t.n:
            errs.append(f"fingerprint rows {manifest.get('fingerprint')} != {t.n}")
        return errs

    def after(self, spark, dims, inputs, work, tr, run: Run) -> None:
        base = os.path.join(work, "route")
        fps = [m.get("fingerprint") for m in run.outputs]
        run.check([] if all(fp == fps[0] for fp in fps)
                  else [f"fingerprint differs across reps: {fps}"])
        before = _tree_state(os.path.join(base, "sinks"))
        prev = _read_json(os.path.join(base, "_manifest.json"))
        e = enriched(spark, inputs.turns_dir, dims, tr)
        with tr.span("operators.route.resume") as s:
            m = route(e, base, resume=True)
        run.extra["resume_s"] = s.seconds
        errs = []
        if m != prev:
            errs.append("resume did not return the existing manifest")
        if _tree_state(os.path.join(base, "sinks")) != before:
            errs.append("resume modified the sink files")
        if _read_json(os.path.join(base, "_manifest.json")) != prev:
            errs.append("resume rewrote the manifest")
        run.check(errs)
        run.check(_readback(spark, base, inputs))

    def generate(self, seed: int, work: str, seconds: float) -> Inputs:
        inputs = super().generate(seed, work, seconds)
        probe = os.path.join(work, "stream_probe")
        for i in range(PROBE_FILES):
            sl = slice(i * PROBE_FILE_TURNS, (i + 1) * PROBE_FILE_TURNS)
            gen.write_turns(inputs.turns, os.path.join(probe, f"f{i:05d}.parquet"), sl)
        inputs.probe_dir = probe
        return inputs

    def stream_probe(self, spark, dims, inputs, work, tr) -> tuple[list, float]:
        """Drain the probe files through run_stream (available-now): the
        per-micro-batch costs of the same write path."""
        with tr.span("streaming.run_stream") as s:
            q = run_stream(spark, inputs.probe_dir, os.path.join(work, "probe_out"),
                           os.path.join(work, "probe_ckpt"),
                           dim_provider=lambda: (dims.dim, dims.dim_v6),
                           config=CONFIG, available_now=True)
            q.awaitTermination(120)
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        q.stop()
        return progress, s.seconds


def _tree_state(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _read_json(path: str) -> dict:
    import json
    with open(path) as f:
        return json.load(f)


def _readback(spark, base: str, inputs: Inputs, n_sample: int = 200) -> list[str]:
    """Per-turn text equality on a sample and the golden leaf, read back
    from the written sinks."""
    t = inputs.turns
    rng = np.random.default_rng(len(t.text))
    idx = rng.choice(t.n, min(n_sample, t.n), replace=False)
    golden = int(np.flatnonzero(t.ip_lit == gen.GOLDEN_IP)[0])
    idx = np.append(idx, golden)
    keys = spark.createDataFrame(
        [(t.conv[i], int(t.turn_idx[i])) for i in idx.tolist()],
        "conv_id string, turn_idx int")
    rows = {(r["conv_id"], r["turn_idx"]): r for r in
            read_sink(spark, base).join(keys, ["conv_id", "turn_idx"])
            .select("conv_id", "turn_idx", "text", "role", "tool",
                    "geoip.geo.city_name", "geoip.geo.region_iso_code",
                    "geoip.geo.postal_code").collect()}
    errs = []
    for i in idx.tolist():
        r = rows.get((t.conv[i], int(t.turn_idx[i])))
        if r is None or r["text"] != t.text[i] or r["role"] != t.role[i] \
                or r["tool"] != t.tool[i]:
            errs.append(f"turn {t.conv[i]}/{t.turn_idx[i]} not read back intact")
    g = rows.get((t.conv[golden], int(t.turn_idx[golden])))
    leaf = g and (g["city_name"], g["region_iso_code"], g["postal_code"])
    if leaf != ("Milton", "US-WA", "98354"):
        errs.append(f"golden {gen.GOLDEN_IP} leaf {leaf}")
    return errs


# ---------------------------------------------------------------------------
# Open-loop stream
# ---------------------------------------------------------------------------


class StreamTail(Batch):
    """Open-loop micro-batches: small files renamed into a watched
    directory on a fixed schedule, drained by run_stream."""

    name = "stream_tail"
    dim_spec = GeoRollup.dim_spec
    file_turns = 2_000
    interval_s = 1.0
    max_files = 64
    max_late_s = 0.5
    drain_timeout_s = 60.0

    def n_files(self, seconds: float) -> int:
        return min(self.max_files, max(4, int(seconds / self.interval_s)))

    def generate(self, seed: int, work: str, seconds: float) -> Inputs:
        rng = np.random.default_rng(seed)
        dim = gen.make_dim(rng, self.dim_spec, os.path.join(work, "dim"))
        n = self.n_files(seconds)
        spec = gen.TurnSpec(n_turns=n * self.file_turns,
                            ip_density=GeoRollup.turn_spec.ip_density,
                            pool=GeoRollup.turn_spec.pool)
        turns = gen.make_turns(rng, dim, spec)
        stage = os.path.join(work, "staged")
        files = []
        for i in range(n):
            sl = slice(i * self.file_turns, (i + 1) * self.file_turns)
            files.append(f"f{i:05d}.parquet")
            gen.write_turns(turns, os.path.join(stage, files[-1]), sl)
        return Inputs(stage, write_warm(turns, work), dim.blocks_path,
                      dim.locations_path, turns, dim,
                      gen.properties(turns, dim), files)

    def warmup(self, spark, dims, inputs, work, tr) -> None:
        """The per-batch transform run_stream applies, on the slice."""
        out = enrich_batch(spark.read.parquet(inputs.warm_dir), dims.dim,
                           CONFIG, dim_v6=dims.dim_v6, auto_v6=False)
        out.write.mode("append").partitionBy("role").parquet(
            os.path.join(work, "warm_out"))

    def measure(self, spark, dims, inputs, work, tr, seconds, min_reps=0) -> Run:
        run = Run()
        tag = f"s{int(time.time() * 1000)}"
        watch = os.path.join(work, tag, "in")
        out = os.path.join(work, tag, "out")
        ckpt = os.path.join(work, tag, "ckpt")
        os.makedirs(watch)
        staged = os.path.join(work, tag, "staged")
        shutil.copytree(inputs.turns_dir, staged)
        with tr.span("streaming.run_stream"):
            q = run_stream(spark, watch, out, ckpt,
                           dim_provider=lambda: (dims.dim, dims.dim_v6),
                           config=CONFIG, available_now=False)
        due, sent = {}, {}
        t0 = time.time() + 1.0

        def offer():
            # open loop: the schedule never waits on Spark
            for i, name in enumerate(inputs.files):
                due[name] = t0 + i * self.interval_s
                delay = due[name] - time.time()
                if delay > 0:
                    time.sleep(delay)
                os.rename(os.path.join(staged, name), os.path.join(watch, name))
                sent[name] = time.time()

        gen_thread = threading.Thread(target=offer, name="open-loop")
        with tr.span("streaming.schedule") as sched:
            gen_thread.start()
            gen_thread.join()
            deadline = time.time() + self.drain_timeout_s
            while time.time() < deadline:
                batches, commits = checkpoint_batches(ckpt)
                if all(b and b[0] in commits for b in
                       (batches.get(n) for n in inputs.files)):
                    break
                if q.exception() is not None:
                    break
                time.sleep(0.05)
        progress = list(q.recentProgress)
        q.stop()
        batches, commits = checkpoint_batches(ckpt)
        lat = []
        for name in inputs.files:
            b = batches.get(name, [])
            ok = len(b) == 1 and b[0] in commits
            run.check([] if ok else [f"{name} read by batches {b}"])
            if ok:
                lat.append(commits[b[0]] - due[name])
        late = max(sent[n] - due[n] for n in inputs.files)
        run.check([] if late <= self.max_late_s else
                  [f"open-loop generator ran {late:.3f}s late"])
        written = read_sink_rows(spark, out)
        t = inputs.turns
        n_in = len(inputs.files) * self.file_turns
        want_fail = int(t.failure[:n_in].sum())
        run.check([] if written == (n_in, want_fail) else
                  [f"sink rows/failures {written} != offered {(n_in, want_fail)}"])
        run.job_s = lat
        data = [p for p in progress if p.get("numInputRows", 0) > 0]
        rates = [p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1e3)
                 for p in data if p["durationMs"].get("triggerExecution")]
        run.turns_per_s = statistics.median(rates) if rates else 0.0
        run.extra.update({
            "latency_p50_s": _quantile(lat, 0.5),
            "latency_p95_s": _quantile(lat, 0.95),
            "drain_s": lat[-1] if lat else 0.0,
            "generator_late_s": late,
            "files": len(inputs.files),
            "schedule_s": sched.seconds,
            "progress": data,
        })
        return run


def read_sink_rows(spark, out: str) -> tuple[int, int]:
    r = (spark.read.parquet(os.path.join(out, "sinks"))
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.array_contains("tags", FAIL).cast("int")).alias("f"))
         .collect()[0])
    return int(r["n"]), int(r["f"] or 0)


def _quantile(xs: list, q: float) -> float:
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, int(round(q * (len(s) - 1))))]


WORKLOADS = {w.name: w for w in (GeoRollup(), RouteFanout(), StreamTail())}

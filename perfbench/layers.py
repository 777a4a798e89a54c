"""Per-layer metrics for the traced run.

Executor self time per layer comes from cumulative prefix jobs over the
workload's input — scan, then +parse, then +enrich, then +the full enriched
struct (for a next layer that writes every column) or +enrich pruned to each
aggregate's input, then the full job — each forced through one global
aggregate over exactly the columns the next layer reads (a ``noop`` sink
would force every column and overstate enrich). A layer's self time is the
difference between its prefix and the one before it.

Everything else comes from the spans and the Spark event log of the traced
session; streaming figures come from the query's progress reports.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

from logstash_filter_geoip_spark.functions.parse import parse_transcripts
from logstash_filter_geoip_spark.operators.enrich import enrich
from logstash_filter_geoip_spark.streaming.pipeline import enrich_batch

from tracing import EventLog, Tracer
from workloads import CONFIG, Dims, Inputs, Run

# name → (unit, better); the order is the order BENCHMARK.json lists them
PER_LAYER = {
    "sources.dim_ingest_s": ("s", "lower"),
    "sources.dim_rows": ("rows", "higher"),
    "sources.scan_s": ("s", "lower"),
    "sources.bytes_read": ("bytes", "lower"),
    "parse.self_s": ("s", "lower"),
    "parse.ip_yield": ("ratio", "higher"),
    "ipkeys.arrow_rows": ("rows", "lower"),
    "ipkeys.arrow_run_s": ("s", "lower"),
    "ipkeys.arrow_worker_start_s": ("s", "lower"),
    "ipkeys.arrow_worker_init_s": ("s", "lower"),
    "enrich.self_s": ("s", "lower"),
    "enrich.hit_ratio": ("ratio", "higher"),
    "enrich.materialize_s": ("s", "lower"),
    "enrich.plan_s": ("s", "lower"),
    "enrich.broadcast_bytes": ("bytes", "lower"),
    "enrich.broadcast_build_s": ("s", "lower"),
    "enrich.build_rows": ("rows", "lower"),
    "aggregate.self_s": ("s", "lower"),
    "aggregate.shuffle_bytes": ("bytes", "lower"),
    "aggregate.partial_ratio": ("ratio", "lower"),
    "aggregate.spill_bytes": ("bytes", "lower"),
    "route.self_s": ("s", "lower"),
    "route.write_s": ("s", "lower"),
    "route.post_write_s": ("s", "lower"),
    "route.shuffle_bytes": ("bytes", "lower"),
    "route.files_written": ("count", "lower"),
    "route.bytes_written": ("bytes", "lower"),
    "route.task_skew": ("ratio", "lower"),
    "route.spill_bytes": ("bytes", "lower"),
    "lineage.resume_s": ("s", "lower"),
    "lineage.resume_cpu_s": ("s", "lower"),
    "lineage.resume_bytes_read": ("bytes", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.rows_per_batch_p50": ("rows", "higher"),
    "streaming.add_batch_s_p50": ("s", "lower"),
    "streaming.overhead_s_p50": ("s", "lower"),
    "streaming.planning_s_p50": ("s", "lower"),
    "streaming.busy_share": ("ratio", "lower"),
    "session.executor_cpu_s": ("s", "lower"),
    "session.executor_run_s": ("s", "lower"),
    "session.gc_s": ("s", "lower"),
    "session.peak_heap_mb": ("MB", "lower"),
    "session.tasks": ("count", "lower"),
    "session.cpu_util": ("ratio", "higher"),
    "session.scaling_eff": ("ratio", "higher"),
    "trace.overhead_s": ("s", "lower"),
    "trace.overhead_share": ("ratio", "lower"),
}

WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


def _timed(tr: Tracer, name: str, action) -> tuple[float, object]:
    with tr.span(name) as s:
        out = action()
    return s.seconds, out


def prefix_jobs(spark, wl, dims: Dims, inputs: Inputs, work: str,
                tr: Tracer) -> dict:
    """Cumulative prefix timings over the input one job (or, for the
    stream, one micro-batch) reads."""
    path = (os.path.join(inputs.turns_dir, inputs.files[0])
            if wl.name == "stream_tail" else inputs.turns_dir)
    passthru = ["conv_id", "turn_idx", "role", "tool", "ts"]

    def hashed(df, cols):
        return F.sum(F.xxhash64(*[F.col(c) for c in cols]) % 1000003)

    df = spark.read.parquet(path)
    t_scan, _ = _timed(tr, "prefix.scan", lambda: df.agg(
        F.count(F.lit(1)), F.sum(F.length("text")), hashed(df, passthru)).collect())
    with tr.span("functions.parse"):
        parsed = parse_transcripts(df)
    t = F.col("text")
    t_parse, row = _timed(tr, "prefix.parse", lambda: parsed.agg(
        F.count_if(F.col("ip_any").isNotNull()).alias("ip"),
        F.count_if(t.contains(".") | t.contains(":")).alias("pre"),
        hashed(parsed, ["ip_any"] + passthru)).collect()[0])
    ip_yield = row["ip"] / row["pre"] if row["pre"] else 0.0
    with tr.span("operators.enrich"):
        e = enrich(parsed, dims.dim, CONFIG, dim_v6=dims.dim_v6)
    light = wl.downstream_cols() or ["tags", "geoip_hit"]
    t_enrich, row = _timed(tr, "prefix.enrich", lambda: e.agg(
        F.count(F.lit(1)).alias("n"), F.count_if("geoip_hit").alias("hit"),
        hashed(e, light)).collect()[0])
    hit_ratio = row["hit"] / row["n"] if row["n"] else 0.0
    t_mat = None
    if wl.downstream_cols() is None:  # the next layer writes every column
        t_mat, _ = _timed(tr, "prefix.materialize", lambda: e.agg(
            hashed(e, e.columns)).collect())
    # what each aggregate runs before its own operators: scan, parse and
    # enrich pruned to the columns it reads
    agg_inputs = [_timed(tr, "prefix.aggregate_input", lambda c=cols: e.agg(
        hashed(e, c)).collect())[0] for cols in wl.aggregate_inputs]
    if wl.name == "stream_tail":
        # the per-batch transform run_stream applies, as one batch job
        out = os.path.join(work, "prefix_out")

        def full():
            b = enrich_batch(spark.read.parquet(path), dims.dim, CONFIG,
                             dim_v6=dims.dim_v6, auto_v6=False)
            b.write.mode("overwrite").partitionBy("role").parquet(out)
        t_full, _ = _timed(tr, "prefix.full", full)
    else:
        t_full = None
    return {"scan": t_scan, "parse": t_parse, "enrich": t_enrich,
            "materialize": t_mat, "aggregate_inputs": agg_inputs,
            "full": t_full, "ip_yield": ip_yield,
            "hit_ratio": hit_ratio}


def _p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(wl, tr: Tracer, ev: EventLog, run: Run, pre: dict, dims: Dims,
              cores: int, n_turns: int, stream=None) -> dict:
    """`stream` is (progress reports, wall seconds) of a streaming query
    the traced run drove, if any."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    job_spans = tr.named("job")
    reps = max(len(job_spans), 1)
    if wl.name == "stream_tail":
        jobs = ev.stream_jobs()
        units = max(len(run.extra.get("progress", [])), 1)   # batches
        full_s = pre["full"]
    else:
        jobs = ev.jobs_in(set().union(*(tr.descendants(s.id) for s in job_spans)))
        units = reps
        full_s = _p50([s.seconds for s in job_spans])
    execs = ev.executions(jobs)
    tasks = ev.tasks(jobs)

    ingest = tr.named("sources.load_city_csv") + tr.named("sources.validate_dim")
    m["sources.dim_ingest_s"] = sum(s.seconds for s in ingest)
    m["sources.dim_rows"] = dims.rows
    m["sources.scan_s"] = pre["scan"]
    m["sources.bytes_read"] = tasks.input_bytes / units
    m["parse.self_s"] = pre["parse"] - pre["scan"]
    m["parse.ip_yield"] = pre["ip_yield"]
    m["ipkeys.arrow_rows"] = ev.metric(jobs, "ArrowEvalPython",
                                       "number of output rows") / units
    m["ipkeys.arrow_run_s"] = ev.metric(jobs, "ArrowEvalPython",
                                        "time to run Python workers") / units
    m["ipkeys.arrow_worker_start_s"] = ev.metric(
        jobs, "ArrowEvalPython", "time to start Python workers") / units
    m["ipkeys.arrow_worker_init_s"] = ev.metric(
        jobs, "ArrowEvalPython", "time to initialize Python workers") / units
    m["enrich.self_s"] = pre["enrich"] - pre["parse"]
    m["enrich.hit_ratio"] = pre["hit_ratio"]
    if pre["materialize"] is not None:
        m["enrich.materialize_s"] = pre["materialize"] - pre["enrich"]
    m["enrich.plan_s"] = _p50([s.seconds for s in tr.named("operators.enrich")])
    m["enrich.broadcast_bytes"] = ev.metric(jobs, "BroadcastExchange",
                                            "data size") / units
    m["enrich.broadcast_build_s"] = ev.metric(jobs, "BroadcastExchange",
                                              "time to build") / units
    m["enrich.build_rows"] = ev.metric(jobs, "BroadcastExchange",
                                       "number of output rows") / units

    if wl.name == "geo_rollup":
        agg_spans = [s for s in tr.spans if s.name.startswith("operators.aggregate.")
                     and any(s.parent == j.id for j in job_spans)]
        at = ev.tasks(ev.jobs_in({s.id for s in agg_spans}))
        # each aggregate re-runs scan, parse and enrich on the uncached
        # enriched frame; those prefixes are not its own time
        m["aggregate.self_s"] = full_s - sum(pre["aggregate_inputs"])
        m["aggregate.shuffle_bytes"] = at.shuffle_write_bytes / reps
        m["aggregate.partial_ratio"] = at.shuffle_records / (reps * n_turns)
        m["aggregate.spill_bytes"] = at.spill_bytes / reps

    if wl.name in ("route_fanout", "stream_tail"):
        if wl.name == "route_fanout":
            route_spans = [s for s in tr.named("operators.route")
                           if any(s.parent == j.id for j in job_spans)]
            rjobs = ev.jobs_in({s.id for s in route_spans})
            # each route() call writes the sinks first, then its per-file
            # metrics table
            sink_writes = [
                [x for x in ev.executions(ev.jobs_in({s.id}))
                 if ev.has_node(x, WRITE_NODE)][0] for s in route_spans]
            route_s = _p50([s.seconds for s in route_spans])
            m["route.write_s"] = sum(ev.exec_wall(x) for x in sink_writes) / len(sink_writes)
            m["route.post_write_s"] = route_s - m["route.write_s"]
            m["route.self_s"] = full_s - pre["materialize"]
            per = reps
        else:
            rjobs = jobs
            sink_writes = [x for x in execs if ev.has_node(x, WRITE_NODE)]
            m["route.write_s"] = sum(ev.exec_wall(x) for x in sink_writes) / units
            m["route.self_s"] = pre["full"] - pre["materialize"]
            per = units
        rt = ev.tasks(rjobs)
        wjobs = [j for j in rjobs if ev.job_exec.get(j) in set(sink_writes)]
        m["route.shuffle_bytes"] = rt.shuffle_write_bytes / per
        m["route.files_written"] = ev.metric(
            wjobs, WRITE_NODE, "number of written files", sink_writes) / per
        m["route.bytes_written"] = ev.metric(
            wjobs, WRITE_NODE, "written output", sink_writes) / per
        m["route.task_skew"] = ev.last_stage_skew(wjobs)
        m["route.spill_bytes"] = rt.spill_bytes / per

    resume = tr.named("operators.route.resume")
    if resume:
        lt = ev.tasks(ev.jobs_in(tr.descendants(resume[0].id)))
        m["lineage.resume_s"] = resume[0].seconds
        m["lineage.resume_cpu_s"] = lt.cpu_s
        m["lineage.resume_bytes_read"] = lt.input_bytes

    if stream is not None:
        prog, stream_wall = stream
        dur = [p["durationMs"] for p in prog]
        m["streaming.batches"] = len(prog)
        m["streaming.rows_per_batch_p50"] = _p50([p["numInputRows"] for p in prog])
        m["streaming.add_batch_s_p50"] = _p50([d.get("addBatch", 0) / 1e3 for d in dur])
        m["streaming.overhead_s_p50"] = _p50(
            [(d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1e3 for d in dur])
        m["streaming.planning_s_p50"] = _p50([d.get("queryPlanning", 0) / 1e3 for d in dur])
        m["streaming.busy_share"] = (sum(d.get("triggerExecution", 0) for d in dur)
                                     / 1e3 / stream_wall)
    wall = run.extra["schedule_s"] if wl.name == "stream_tail" else full_s * reps

    m["session.executor_cpu_s"] = tasks.cpu_s / units
    m["session.executor_run_s"] = tasks.run_s / units
    m["session.gc_s"] = tasks.gc_s / units
    m["session.peak_heap_mb"] = ev.peak_heap_bytes / 2**20
    m["session.tasks"] = tasks.n / units
    m["session.cpu_util"] = tasks.cpu_s / (wall * cores) if wall else 0.0
    return m


def scaling_probe(wl, sess, inputs: Inputs) -> float:
    """Wall time of one job of the workload on this session after its
    warm-up (one process, its own JVM) — run at local[1] for the north_rule
    scaling efficiency; one rep keeps the traced run within its time limit."""
    from workloads import load_dims
    tr = Tracer("probe", enabled=False)
    spark = sess.start()
    dims = load_dims(spark, inputs, tr)
    wl.warmup(spark, dims, inputs, sess.work, tr)
    t0 = time.time()
    wl.job(spark, dims, inputs.turns_dir, sess.work, tr)
    return time.time() - t0

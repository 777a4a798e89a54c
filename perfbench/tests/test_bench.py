"""Self-tests of the benchmark: generator determinism, the Spark-free
oracle against small Spark runs of the same jobs, and the trace readers."""

import hashlib
import json
import os
from dataclasses import replace

import numpy as np
import pytest

import gen
import workloads
from tracing import EventLog, Tracer, checkpoint_batches


def _digest(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = \
                    hashlib.sha256(fh.read()).hexdigest()
    return out


SMALL_DIM = gen.DimSpec(n_prefix16=8, nets_lo=100, nets_hi=256, n_locations=50)
SMALL_TURNS = gen.TurnSpec(n_turns=3_000, ip_density=0.7, pool=300)


@pytest.mark.parametrize("name", ["geo_rollup", "route_fanout", "stream_tail"])
def test_same_seed_gives_identical_files(tmp_path, name):
    wl = workloads.WORKLOADS[name]
    for d, seed in (("a", 7), ("b", 7), ("c", 8)):
        wl.generate(seed, str(tmp_path / d), 4)
    a, b, c = (_digest(str(tmp_path / d)) for d in "abc")
    assert a and a == b
    assert a != c


def test_oracle_lookup_is_longest_prefix_match(tmp_path):
    rng = np.random.default_rng(0)
    dim = gen.make_dim(rng, SMALL_DIM, str(tmp_path))
    i = len(dim.starts) // 2
    ips = np.array([dim.starts[i], dim.ends[i], dim.ends[i] + 1, 200 << 24])
    got = gen.lookup_v4(dim, ips)
    assert got[0] == i and got[1] == i
    assert got[3] == -1
    assert got[2] in (-1, i + 1)          # gap or the adjacent block
    if got[2] == i + 1:
        assert dim.starts[i + 1] == dim.ends[i] + 1


def test_properties_follow_the_spec(tmp_path):
    rng = np.random.default_rng(3)
    dim = gen.make_dim(rng, SMALL_DIM, str(tmp_path))
    spec = replace(SMALL_TURNS, n_turns=20_000, hot_conv_share=0.25,
                   sink_top_share=0.4)
    p = gen.properties(gen.make_turns(rng, dim, spec), dim)
    assert abs(p["ip_density"] - 0.7) < 0.02
    assert abs(p["v6_share"] - 0.05) < 0.01
    assert abs(p["hot_key_share"] - 0.25) < 0.02
    assert abs(p["largest_sink_share"] - 0.4) < 0.02
    assert p["sinks"] == 24
    assert 100 <= p["mean_dim_rows_per_probed_16"] <= 256


def _small(wl, tmp_path, **turn_kw):
    wl = type(wl)()
    wl.dim_spec = SMALL_DIM
    wl.turn_spec = replace(SMALL_TURNS, **turn_kw)
    return wl, wl.generate(5, str(tmp_path), 4)


def test_geo_rollup_oracle_matches_spark(session, tmp_path):
    wl, inputs = _small(workloads.GeoRollup(), tmp_path)
    spark = session.start()
    tr = Tracer("t", enabled=False)
    dims = workloads.load_dims(spark, inputs, tr)
    out = wl.job(spark, dims, inputs.turns_dir, str(tmp_path), tr)
    assert wl.check(spark, out, inputs) == []
    # the checker is not vacuous: a perturbed output is caught
    geo, sinks, convs = out
    assert wl.check(spark, (geo, sinks[1:], convs), inputs)


def test_route_fanout_oracle_matches_spark(session, tmp_path):
    wl, inputs = _small(workloads.RouteFanout(), tmp_path, ip_density=0.3,
                        pool=None, hot_conv_share=0.25, sink_top_share=0.4)
    spark = session.start()
    tr = Tracer("t", enabled=False)
    dims = workloads.load_dims(spark, inputs, tr)
    run = wl.measure(spark, dims, inputs, str(tmp_path), tr, 0, min_reps=2)
    assert run.failed == 0, run.errors
    assert run.attempted == 2 + 3        # reps, fingerprint, resume, read-back
    bad = dict(run.outputs[0], total_rows=inputs.turns.n + 1)
    assert wl.check(spark, bad, inputs)
    # per-sink failures are read from route()'s lineage table
    sinks = dict(inputs.expected["sinks"])
    key = next(k for k, (_, f) in sinks.items() if f)
    sinks[key] = (sinks[key][0], sinks[key][1] - 1)
    off = replace(inputs, expected=dict(inputs.expected, sinks=sinks))
    errs = wl.check(spark, run.outputs[0], off)
    assert any(e.startswith("sink_failures") for e in errs), errs


def test_event_log_attributes_jobs_to_spans(session, tmp_path):
    wl, inputs = _small(workloads.GeoRollup(), tmp_path)
    spark = session.start()
    tr = Tracer("t", enabled=True)
    tr.spark = spark
    dims = workloads.load_dims(spark, inputs, tr)
    with tr.span("job") as job:
        wl.job(spark, dims, inputs.turns_dir, str(tmp_path), tr)
    tr.spark = None
    session.stop()                       # flush the event log
    ev = EventLog(session.event_log_dir)
    jobs = ev.jobs_in(tr.descendants(job.id))
    assert jobs
    # three aggregates over the uncached enriched frame: three passes
    assert ev.metric(jobs, "ArrowEvalPython", "number of output rows") \
        == 3 * inputs.turns.n
    assert ev.metric(jobs, "BroadcastExchange", "data size") > 0
    assert ev.tasks(jobs).n > 0
    assert ev.peak_heap_bytes > 0
    tr.dump(str(tmp_path / "spans.json"))
    with open(tmp_path / "spans.json") as f:
        spans = json.load(f)["spans"]
    assert {s["name"] for s in spans} >= {"job", "operators.enrich"}


def test_checkpoint_reader(tmp_path):
    ck = tmp_path / "ckpt"
    (ck / "sources" / "0").mkdir(parents=True)
    (ck / "commits").mkdir()
    (ck / "sources" / "0" / "0").write_text(
        'v1\n{"path":"file:///w/in/a.parquet","timestamp":1,"batchId":0}\n')
    (ck / "sources" / "0" / "1.compact").write_text(
        'v1\n{"path":"file:///w/in/a.parquet","timestamp":1,"batchId":0}\n'
        '{"path":"file:///w/in/b.parquet","timestamp":2,"batchId":1}\n')
    (ck / "commits" / "0").write_text("v1\n{}")
    files, commits = checkpoint_batches(str(ck))
    assert files == {"a.parquet": [0], "b.parquet": [1]}
    assert set(commits) == {0}

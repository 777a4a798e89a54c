"""Benchmark entry point.

    python3 perfbench/run.py --workload geo_rollup --seed 1 --seconds 12 --trace 0

Generates the workload's inputs from the seed, sets the engine up several
times (median reported as ``setup_s``), runs the workload's job for
``--seconds`` seconds, checks every output against the generator's
Spark-free counts, and prints a report followed, as the last line, by one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` a
separate traced run (spans + Spark event log) gives the per-layer ones.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 3            # set-ups per run; setup_s is their median
TRACE_REPS = 2        # timed reps in each half of a traced batch run

END_TO_END = {
    "setup_s": "s",
    "turns_per_s": "turns/s",
    "peak_rss_mb": "MB",
}


def _env(work: str) -> None:
    from sparkctl import HEAP
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # every JVM spark-submit starts (its launcher too) keeps its temporary
    # and perf-data files out of the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def set_up(wl, sess, inputs, tr, prev=None):
    """Session build + dim ingestion + one warm-up job. The first set-up in
    a process starts the JVM; later ones on the same session re-ingest the
    dim and re-warm, the path a database update takes."""
    from workloads import load_dims
    t0 = time.time()
    if prev is not None:
        prev.dim.unpersist()
    spark = sess.start()
    tr.spark = spark
    with tr.span("setup"):
        dims = load_dims(spark, inputs, tr)
        with tr.span("warmup"):
            wl.warmup(spark, dims, inputs, sess.work, tr)
    return spark, dims, time.time() - t0


def timed_run(wl, sess, inputs, args) -> tuple[dict, object]:
    from tracing import Tracer
    tr = Tracer(f"{wl.name}-{args.seed}", enabled=False)
    setups, dims = [], None
    for _ in range(SETUPS):
        spark, dims, s = set_up(wl, sess, inputs, tr, prev=dims)
        setups.append(s)
    run = wl.measure(spark, dims, inputs, sess.work, tr, args.seconds)
    metrics = {
        "setup_s": statistics.median(setups),
        "turns_per_s": run.turns_per_s,
        "peak_rss_mb": sess.peak_rss_mb(),
    }
    run.extra["setups_s"] = setups
    run.extra["job_s"] = run.job_s
    return {k: (v, END_TO_END[k]) for k, v in metrics.items()}, run


def _trace_secs(wl, args) -> float:
    return args.seconds if wl.name == "stream_tail" else 0


def traced_run(wl, sess, inputs, args) -> tuple[dict, object]:
    """An untraced half here (set-up + TRACE_REPS reps), then the traced
    half in a child process of its own with Spark's event log on. Both
    halves start a fresh JVM and time the same reps after one set-up, so
    the difference of their median job times is the tracing overhead."""
    from layers import PER_LAYER
    from tracing import Tracer
    plain = Tracer("plain", enabled=False)
    spark, dims, _ = set_up(wl, sess, inputs, plain)
    run = wl.measure(spark, dims, inputs, sess.work, plain,
                     _trace_secs(wl, args), TRACE_REPS)
    sess.close()                      # one JVM at a time
    child = _child(args, ["--trace", "1", "--traced-half"], timeout=170)
    if child is None:
        run.check(["traced half failed"])
        return {}, run
    m = child["metrics"]
    b = statistics.median(run.job_s)
    t = statistics.median(child["job_s"])
    m["trace.overhead_s"] = t - b
    m["trace.overhead_share"] = (t - b) / b
    if wl.name == "geo_rollup":
        probe = _child(args, ["--trace", "0", "--cores", "1"], timeout=150)
        m["session.scaling_eff"] = (probe["probe_job_s"] / (_cores() * b)
                                    if probe else 0.0)
    run.attempted += child["attempted"]
    run.failed += child["failed"]
    run.errors += child["errors"]
    return {k: (v, PER_LAYER[k][0]) for k, v in m.items()}, run


def traced_half(wl, sess, inputs, args) -> dict:
    """Set-up, timed reps, prefix jobs (and the stream probe) with spans
    recorded and the event log on; the per-layer metrics they give."""
    from layers import per_layer, prefix_jobs
    from tracing import EventLog, Tracer
    tr = Tracer(f"{wl.name}-{args.seed}", enabled=True)
    spark, dims, _ = set_up(wl, sess, inputs, tr)
    with tr.span("measure"):
        run = wl.measure(spark, dims, inputs, sess.work, tr,
                         _trace_secs(wl, args), TRACE_REPS)
    with tr.span("prefixes"):
        pre = prefix_jobs(spark, wl, dims, inputs, sess.work, tr)
    if wl.name == "stream_tail":
        streamed = (run.extra["progress"], run.extra["schedule_s"])
    elif wl.stream_probe is not None:
        streamed = wl.stream_probe(spark, dims, inputs, sess.work, tr)
    else:
        streamed = None
    sess.stop()                       # flushes the event log
    m = per_layer(wl, tr, EventLog(sess.event_log_dir), run, pre, dims,
                  sess.cores, inputs.turns.n, streamed)
    tr.dump(os.path.join(ROOT, ".perfbench_work", "traces",
                         f"{wl.name}-seed{args.seed}.json"))
    return {"metrics": m, "job_s": run.job_s, "attempted": run.attempted,
            "failed": run.failed, "errors": run.errors}


def _child(args, flags: list[str], timeout: float) -> dict | None:
    """Run this workload in a child process (its own JVM); its last line
    of output, parsed."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds)] + flags
    # its own process group, so a timeout also ends the JVM it started
    with subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, cwd=ROOT, start_new_session=True) as p:
        try:
            out, err = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            shutil.rmtree(_work_dir(args.workload, args.seed, p.pid),
                          ignore_errors=True)
            print(f"child run {flags} timed out after {timeout}s", file=sys.stderr)
            return None
    try:
        if p.returncode:
            raise ValueError(f"exit code {p.returncode}: {err[-2000:]}")
        return json.loads(out.strip().splitlines()[-1])
    except (ValueError, IndexError) as e:
        print(f"child run {flags} failed: {e}", file=sys.stderr)
        return None


def _work_dir(workload: str, seed: int, pid: int) -> str:
    return os.path.join(ROOT, ".perfbench_work", f"{workload}-seed{seed}-{pid}")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=0,
                   help="run one scaling probe at local[CORES] and exit")
    p.add_argument("--traced-half", action="store_true",
                   help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import workloads
        from sparkctl import Session, reset_hwm
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = _work_dir(wl.name, args.seed, os.getpid())
    shutil.rmtree(work, ignore_errors=True)    # a crashed run's, same pid
    os.makedirs(work)
    _env(work)
    cores = _cores()
    sess = Session(work, cores, master_cores=args.cores or cores,
                   event_log=args.traced_half)
    try:
        t0 = time.time()
        inputs = wl.generate(args.seed, work, args.seconds)
        gen_s = time.time() - t0
        reset_hwm()
        if args.cores:
            from layers import scaling_probe
            print(json.dumps({"probe_job_s": scaling_probe(wl, sess, inputs)}))
            return 0
        if args.traced_half:
            print(json.dumps(traced_half(wl, sess, inputs, args)))
            return 0
        if args.trace:
            metrics, run = traced_run(wl, sess, inputs, args)
        else:
            metrics, run = timed_run(wl, sess, inputs, args)
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {wl.name}  seed {args.seed}  cores {cores}  "
          f"trace {args.trace}  generation {gen_s:.2f}s")
    print("properties " + json.dumps(
        {k: round(v, 4) if isinstance(v, float) else v
         for k, v in inputs.props.items()}))
    for k, v in run.extra.items():
        if k != "progress":
            print(f"  {k:<28} {v}")
    for name, (value, unit) in metrics.items():
        print(f"  {name:<28} {value:>14.4f} {unit}")
    for e in run.errors:
        print(f"CHECK FAILED: {e}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

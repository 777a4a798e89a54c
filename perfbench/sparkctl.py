"""The benchmark's owner of the engine's SparkSession and its JVM.

Sessions come from the engine's own factory (``session.get_spark``); this
class only decides where Spark may write (inside the run's work directory),
whether the event log is on, and makes sure the JVM it started has ended
before the run exits.
"""

from __future__ import annotations

import os

from logstash_filter_geoip_spark.session import get_spark


# The driver heap's upper limit (the engine's default is 8g). The heap
# grows on demand below it, so peak RSS follows what the job touches; the
# limit only keeps a run from claiming more of a shared host than it needs.
HEAP = "2g"


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, in MB (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def reset_hwm(pid: int | str = "self") -> None:
    """Restart peak-RSS accounting (Linux clear_refs '5')."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


class Session:
    """One SparkSession per process. The event-log setting is fixed when
    the session is made: a SparkContext restarted in the same process would
    leave the engine's module-level pandas UDFs bound to the old one, so a
    run that needs the event log on runs in its own process."""

    def __init__(self, work: str, cores: int, master_cores: int | None = None,
                 event_log: bool = False):
        self.work = work
        self.cores = cores
        self.master_cores = master_cores or cores
        self.event_log = event_log
        self.spark = None
        self.jvm_pid = None
        self.event_log_dir = os.path.join(work, "eventlog")

    def start(self):
        if self.spark is not None:
            return get_spark(app="perfbench")
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.eventLog.enabled": str(self.event_log).lower(),
        }
        if self.event_log:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({"spark.eventLog.dir": "file://" + self.event_log_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false",
                         "spark.eventLog.logStageExecutorMetrics": "true"})
        self.spark = get_spark(app="perfbench",
                               master=f"local[{self.master_cores}]",
                               shuffle_partitions=self.master_cores,
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(
            self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark and end the JVM, waiting for it to exit."""
        self.stop()
        from pyspark import SparkContext
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — a hung JVM is killed below
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb() + (vm_hwm_mb(self.jvm_pid) if self.jvm_pid else 0.0)

"""Driver JVM lifecycle and the Spark event log.

Every measured set-up starts a cold JVM through the program's own
``build_session``, and every JVM the benchmark starts is stopped and
waited for before the next one starts, so only one runs at a time.
Scratch space (Spark local dirs, JVM and Python temp files, the
warehouse, event logs) lives under the benchmark's work directory.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections import defaultdict
from pathlib import Path

from .stats import median


class Engine:
    def __init__(self, work: Path, py_files: Path):
        self.work = work
        self.py_files = py_files
        self.spark = None
        self._jvm_proc = None
        tmp = work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        # the JVM and its Python workers inherit these
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
        # the short-lived launcher JVM that spark-submit starts first
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        tempfile.tempdir = str(tmp)

    def session(self, cores: int, event_log: Path | None = None):
        """Build a session on ``local[cores]``. The first call launches a
        cold JVM; later calls replace the SparkContext inside the same JVM
        (warm JIT), which lets one JVM switch event logging and cores."""
        from beats_spark.session import build_session
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        # the driver heap stays build_session's (BEATS_SPARK_DRIVER_MEM)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.work / "tmp"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            # no hsperfdata under /tmp; JVM temp files in the work dir
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={self.work / 'tmp'}"
            ),
            "spark.eventLog.enabled": "false",
        }
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": event_log.resolve().as_uri(),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = build_session("perfbench", cores=cores, extra_conf=conf)
        self.spark.sparkContext.addPyFile(str(self.py_files))
        self._jvm_proc = SparkContext._gateway.proc
        return self.spark

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM, from /proc."""
        with open(f"/proc/{self._jvm_proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")

    def stop(self) -> None:
        """Stop the session and the JVM, and wait until the JVM exits."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        # the gateway server exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def read_event_log(log_dir: Path) -> dict[str, dict[str, float]]:
    """Per-job-group engine totals from the (finished) event logs.

    Returns ``{group: {"task_busy_s", "gc_s", "stages", "tasks",
    "shuffle_write_bytes", "spill_bytes", "task_s_max_over_median"}}``;
    jobs outside any group count under ``""``. The task skew figure is
    taken over the tasks of the group's widest stage.
    """
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    completed: dict[str, int] = defaultdict(int)
    for path in sorted(log_dir.iterdir()):
        if path.name.startswith(".") or path.suffix == ".crc":
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    tasks[ev["Stage ID"]].append(ev.get("Task Metrics") or {})
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    completed[stage_group.get(sid, "")] += 1
    out: dict[str, dict[str, float]] = {}
    widest: dict[str, list[float]] = {}
    for sid, metrics in tasks.items():
        g = stage_group.get(sid, "")
        o = out.setdefault(
            g,
            {
                "task_busy_s": 0.0, "gc_s": 0.0, "stages": 0, "tasks": 0,
                "shuffle_write_bytes": 0, "spill_bytes": 0,
                "task_s_max_over_median": 0.0,
            },
        )
        run_s = [m.get("Executor Run Time", 0) / 1000.0 for m in metrics]
        o["tasks"] += len(metrics)
        o["task_busy_s"] += sum(run_s)
        o["gc_s"] += sum(m.get("JVM GC Time", 0) for m in metrics) / 1000.0
        o["shuffle_write_bytes"] += sum(
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for m in metrics
        )
        o["spill_bytes"] += sum(
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for m in metrics
        )
        if len(run_s) > len(widest.get(g, [])):
            widest[g] = run_s
    for g, o in out.items():
        o["stages"] = completed.get(g, 0)
        run_s = widest.get(g, [])
        mid = median(run_s) if run_s else 0.0
        o["task_s_max_over_median"] = max(run_s) / mid if mid > 0 else 0.0
    return out

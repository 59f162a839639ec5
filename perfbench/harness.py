"""Process-level plumbing: the Spark session, set-up timing, job counts,
the event log and peak memory.

Everything the benchmark writes goes under ``<checkout>/.perfbench_work``:
Spark's local dirs, the JVM's temp dir, Python temp files, the event log
and the evaluator's result files.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import signal
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# heap of the JVM that runs the local session: the inputs are small and
# a smaller heap makes its peak memory steadier from run to run
JVM_MEMORY = "1g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_work_dir() -> None:
    """Fresh work dir, and every temp-file path pointed into it."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "events", "eval"):
        os.makedirs(os.path.join(WORK, sub))
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_MEMORY
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def spark_conf(event_log: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata files: they would go to /tmp, outside the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
    }
    if event_log:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(WORK, "events")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def start_spark(event_log: bool):
    from cardinality_estimation_evaluation_framework_spark.session import get_spark

    return get_spark("perfbench", cores=nproc(), extra_conf=spark_conf(event_log))


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure to exit: kill it
            proc.kill()
            proc.wait(timeout=30)


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reap(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has exited (Python workers
    outlive the JVM that started them for a moment); kill what outlives
    ``timeout``."""
    deadline = time.time() + timeout
    while any(map(_alive, pids)) and time.time() < deadline:
        time.sleep(0.2)
    for pid in filter(_alive, pids):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(map(_alive, pids)) and time.time() < deadline + 10:
        time.sleep(0.2)


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> dict[int, float]:
    """VmHWM in MB of this process and of every process below it (the JVM
    and its Python workers). Their sum counts pages that forked workers
    share with their parent once per process."""
    pids = [os.getpid()] + descendants(os.getpid())
    return {p: vm_hwm_kb(p) / 1024.0 for p in pids}


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class JobCounter:
    """Spark jobs, stages and tasks per job group, from the StatusTracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def counts(self, group: str) -> tuple[int, int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            # skipped stages (shuffle output reused) never ran: no info/attempt
            if info is not None and info.currentAttemptId >= 0 and info.numCompletedTasks:
                tasks += info.numTasks
        return len(jobs), len(stages), tasks


def shuffle_bytes_by_group() -> dict[str, tuple[int, int]]:
    """Job group -> (shuffle bytes written, shuffle bytes read), summed over
    the finished tasks of the event logs (read after the session stopped)."""
    out: dict[str, list[int]] = {}
    for path in glob.glob(os.path.join(WORK, "events", "*")):
        stage_group: dict[int, str] = {}  # stage ids restart with each session
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics") or {}
                    if group is None or not metrics:
                        continue
                    w = (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    r = metrics.get("Shuffle Read Metrics") or {}
                    read = r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    acc = out.setdefault(group, [0, 0])
                    acc[0] += w
                    acc[1] += read
    return {g: (v[0], v[1]) for g, v in out.items()}

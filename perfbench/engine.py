"""Spark-side plumbing read from outside the package: the pinned session
shape, set-up timing, per-job-group engine counters, Python worker RSS
from ``/proc``, and an orderly shutdown that waits for every process the
run started."""

from __future__ import annotations

import os
import subprocess
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: stage-level counters read from the status store for every job group
STAGE_FIELDS = (
    ("tasks", "numTasks"),
    ("failed_tasks", "numFailedTasks"),
    ("input_bytes", "inputBytes"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("output_bytes", "outputBytes"),
    ("executor_run_ms", "executorRunTime"),
    ("gc_ms", "jvmGcTime"),
)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def session_shape(work_root: str) -> dict:
    """The Spark shape every run uses: ``local[nproc]``, twice as many
    shuffle partitions, a 3g JVM heap, and every scratch directory
    inside the benchmark's work root."""
    cores = host_cores()
    tmp = os.path.join(work_root, "tmp")
    return {
        "master": f"local[{cores}]",
        "cores": cores,
        "shuffle_partitions": 2 * cores,
        "driver_mem": "3g",
        "extra_conf": {
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    }


def first_job(spark) -> None:
    """The trivial ``mapInPandas`` job that ends set-up: it starts the
    Python workers. The function is nested so that it is pickled by value:
    workers cannot import this directory."""
    def _passthrough(batches):
        yield from batches

    df = spark.range(0, 64, numPartitions=host_cores())
    n = df.mapInPandas(_passthrough, "id long").count()
    if n != 64:
        raise RuntimeError(f"first job counted {n} rows, expected 64")


def build(shape: dict):
    """build_session + first job; returns (spark, build_s, first_job_s)."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = shape["driver_mem"]
    from ocr_automation_system_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench", master=shape["master"],
                          shuffle_partitions=shape["shuffle_partitions"],
                          extra_conf=shape["extra_conf"])
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    first_job(spark)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


class EngineCounters:
    """Wraps calls in Spark job groups and sums their jobs', stages' and
    tasks' counters from ``statusTracker`` and the status store."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self._n = 0
        self._store = self.sc._jsc.sc().statusStore()

    @contextmanager
    def group(self, name: str):
        self._n += 1
        gid = f"{self.run_id}-{self._n}-{name}"
        self.sc.setJobGroup(gid, name)
        stats = {}
        try:
            yield stats
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            stats.update(self.read(gid))

    def read(self, gid: str) -> dict:
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "failed_jobs": 0, "stages": 0}
        out.update({k: 0 for k, _ in STAGE_FIELDS})
        for jid in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(jid)
            out["jobs"] += 1
            if info is None:
                continue
            if info.status == "FAILED":
                out["failed_jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: its shuffle output was reused
                    continue
                out["stages"] += 1
                for key, getter in STAGE_FIELDS:
                    out[key] += int(getattr(st, getter)())
        return out


# --- processes ----------------------------------------------------------------

def _children_map() -> dict:
    kids = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int | None = None) -> list:
    root = root or os.getpid()
    kids, out, todo = _children_map(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def worker_peak_rss_mb() -> float:
    """Largest VmHWM (peak resident set) of this run's Python workers."""
    peak = 0
    for pid in descendants():
        if "pyspark.daemon" not in _cmdline(pid):
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    started = descendants()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of everything written under ``path``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files

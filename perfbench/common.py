"""Plumbing shared by the perfbench workloads: the private run directory,
Spark start and stop, host and Spark counters, and percentile helpers."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP_PARENT = os.path.join(REPO, ".perfbench_tmp")
OUT_DIR = os.path.join(REPO, ".perfbench_out")


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def make_run_dir(tag: str) -> str:
    """A fresh directory for everything a run writes (stream roots, Spark
    scratch, warehouse, temp files), removed again by ``remove_run_dir``."""
    d = os.path.join(TMP_PARENT, f"{tag}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    return d


def remove_run_dir(d: str) -> None:
    shutil.rmtree(d, ignore_errors=True)
    try:
        os.rmdir(TMP_PARENT)  # only succeeds once no other run uses it
    except OSError:
        pass


def pin_environment(run_dir: str) -> None:
    """local[nproc], a 2 GB JVM heap, and every scratch path inside the
    run directory. Must run before the first ``leaf_spark`` import."""
    tmp = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # Python workers import leaf_spark whatever their working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def start_spark(run_dir: str, app: str):
    """Start the tuned session (``leaf_spark.session.get_spark``) with its
    warehouse in the run directory. Returns (spark, seconds)."""
    from leaf_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app, extra_conf={"spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")}
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:
                pass
            if proc is not None:
                try:
                    proc.stdin.close()  # the JVM exits on stdin EOF
                except Exception:
                    pass
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()


def run_rounds(seconds: float, round_s: float, round_fn, least: int = 1) -> float:
    """Call ``round_fn(i)`` for i = 1 … max(least, seconds // round_s). The
    amount of work follows from ``--seconds`` and a round's nominal length
    (``round_s``, measured on a 4-core host), never from the clock, so a
    fast or slow host cannot change how many rounds a run holds. Returns the
    measured wall time."""
    t0 = time.perf_counter()
    for i in range(1, max(least, int(seconds // round_s)) + 1):
        round_fn(i)
    return time.perf_counter() - t0


# -- host ---------------------------------------------------------------------


def steal_ticks() -> int:
    """Cumulative steal time of all CPUs in USER_HZ ticks (/proc/stat)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8]) if parts[0] == "cpu" and len(parts) > 8 else 0
    except OSError:
        return 0


def ticks_to_s(ticks: int) -> float:
    try:
        hz = os.sysconf("SC_CLK_TCK")
    except (ValueError, OSError):
        hz = 100
    return ticks / hz


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU time (user + system) used so far by a process (default: this
    one) and all its descendants: the live ones from their own
    ``/proc/<pid>/stat``, the ended ones through their parent's reaped
    children's time. With the Spark JVM and its Python workers under it,
    this is the whole cost of the work a process started."""
    todo, ticks = [pid or os.getpid()], 0
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            for t in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{t}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:  # the process ended while the tree was walked
            pass
    return ticks_to_s(ticks)


def load1() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return 0.0


# -- Spark counters -------------------------------------------------------------


def codegen_compiles(spark) -> int:
    """Whole-stage codegen compilations so far (JVM ``CodegenMetrics``)."""
    jvm = spark.sparkContext._jvm
    m = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(m.METRIC_COMPILATION_TIME().getCount())


def group_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages run, tasks run) of one job group, from ``statusTracker``.
    Stages skipped because their shuffle output was reused do not count.

    ``statusTracker`` is fed through Spark's asynchronous listener bus, so
    the bus is drained first: read at once, a job that has just ended can
    still be missing from its group."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for s in stage_ids:
        si = st.getStageInfo(s)
        if si is not None and si.numCompletedTasks > 0:
            stages += 1
            tasks += si.numCompletedTasks
    return len(jobs), stages, tasks


# -- statistics ---------------------------------------------------------------


def pct(values, p: float) -> float:
    """Linear-interpolated percentile (p in 0..100); 0.0 for no values."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values) -> float:
    xs = [v for v in values if v > 0]
    return math.exp(statistics.fmean(math.log(v) for v in xs)) if xs else 0.0

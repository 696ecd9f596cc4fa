"""Process plumbing shared by the workloads: where the benchmark may
write, the Spark session, memory sampling, noise stamps, percentiles,
output digests and Spark job counts."""

from __future__ import annotations

import math
import os
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# every file the benchmark writes lives under here (git-ignored)
WORK = ROOT / ".perfbench"
PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def prepare_env() -> None:
    """Point every temp/scratch location of this process, the JVM and the
    Python workers inside the checkout, and make the engine importable
    by the workers. Must run before the JVM starts."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    py_path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), py_path) if p)
    import tempfile

    tempfile.tempdir = str(tmp)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


# Spark JVM flags. On a few-core host the C2 compiler competes with the
# workload for cores for minutes and settles each JVM at its own speed:
# run medians of a bulk pass spread by ~25 % across runs with the
# default JIT and G1, by ~5 % with C1 only and the parallel collector.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:+UseParallelGC"


def start_session(cpus: int):
    """Engine session at local[cpus] with its Python worker pool started;
    returns (spark, seconds)."""
    from dea_coastlines_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", cpus=cpus, shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} {JVM_OPTS}",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # one Python worker per core, so whichever step runs first (corpus
    # build or warm-up) does not also pay for starting them
    spark.range(cpus, numPartitions=cpus).mapInPandas(
        lambda it: it, "id long").write.format("noop").mode("overwrite").save()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and with it the Python worker
    daemon) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


# ---------------------------------------------------------------- memory


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_rss_mb(root_pid: int | None = None) -> float:
    """Summed resident memory of a process and all its descendants (the
    benchmark process, the Spark JVM and the Python workers)."""
    total = 0
    for pid in _descendants(root_pid or os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total / 2**20


def tree_cpu_s(root_pid: int | None = None) -> float:
    """User + system CPU seconds of a process and all its descendants,
    with the children they have already reaped."""
    total = 0
    for pid in _descendants(root_pid or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return total / TICK


class RssSampler:
    """Samples `tree_rss_mb` from a background thread; keeps the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# ---------------------------------------------------------- noise stamps


def load1() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return None


def cpu_jiffies() -> tuple[int, int] | None:
    """(steal, total) jiffies from the aggregate /proc/stat cpu line."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        if parts and parts[0] == "cpu" and len(parts) > 8:
            vals = [int(x) for x in parts[1:]]
            return vals[7], sum(vals)
    except (OSError, ValueError):
        pass
    return None


def noise_stamp(start: tuple[int, int] | None) -> dict:
    """Diagnostics only: never used to pick, retry or drop a run."""
    end = cpu_jiffies()
    steal = None
    if start and end and end[1] > start[1]:
        steal = 100.0 * (end[0] - start[0]) / (end[1] - start[1])
    return {"load1": load1(), "steal_pct": steal}


# ----------------------------------------------------------- statistics

TAIL_CANDIDATES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest candidate percentile with at least `min_beyond` of the `n`
    samples beyond it, or None when even the median has fewer."""
    best = None
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


# -------------------------------------------------------------- digests


def frame_digests(frames: dict[str, object], decimals: int = 3) -> dict[str, str]:
    """Order-independent digest per frame, all in one Spark job: row count
    plus the exact sum of xxhash64 over every column, doubles rounded to
    `decimals`. The frames must share one schema."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    union = None
    for tag, df in frames.items():
        cols = [
            F.round(F.col(f"`{f.name}`"), decimals)
            if isinstance(f.dataType, (DoubleType, FloatType))
            else F.col(f"`{f.name}`")
            for f in sorted(df.schema.fields, key=lambda f: f.name)
        ]
        hashed = df.select(F.lit(tag).alias("_tag"), F.xxhash64(*cols).alias("_h"))
        union = hashed if union is None else union.unionByName(hashed)
    rows = union.groupBy("_tag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_h").cast("decimal(38,0)")).alias("h"),
    ).collect()
    got = {r["_tag"]: f"{r.n}:{r.h}" for r in rows}
    return {tag: got.get(tag, "0:0") for tag in frames}


def frame_digest(df, decimals: int = 3) -> str:
    return frame_digests({"df": df}, decimals)["df"]


# ------------------------------------------------------ Spark job counts


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran for one job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages, tasks = 0, 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numTasks > 0:
                stages += 1
                tasks += st.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

"""Spark session lifetime and run-level measurement: peak RSS of the
driver JVM and its Python workers, host CPU weather from /proc/stat, a
Spark-free control kernel, and stage/task totals from Spark's status
store (the UI stays off; the store is kept regardless)."""

from __future__ import annotations

import hashlib
import os
import statistics
import threading
import time

import numpy as np


DRIVER_MEMORY = "2g"


def spark_session(work: str, cores: int):
    """local[cores] session whose scratch, warehouse and temp files all
    live under work. Returns (spark, jvm Popen)."""
    from pyspark.sql import SparkSession

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    # the whole heap is committed and touched at start, so the JVM's
    # resident size does not depend on when its collector grew the heap
    java_opts = (f"-Djava.io.tmpdir={local} -Xms{DRIVER_MEMORY} "
                 "-XX:+AlwaysPreTouch")
    spark = (SparkSession.builder
             .master(f"local[{cores}]")
             .appName("tileigi-perfbench")
             .config("spark.driver.memory", DRIVER_MEMORY)
             .config("spark.driver.extraJavaOptions", java_opts)
             .config("spark.local.dir", local)
             .config("spark.sql.warehouse.dir",
                     os.path.join(work, "warehouse"))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", str(max(cores * 4, 16)))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
             .config("spark.sql.files.maxPartitionBytes", "16m")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark, spark.sparkContext._gateway.proc


def stop_session(spark, proc, timeout: float = 60.0) -> None:
    """Stop Spark, close the gateway and wait for the JVM (and with it
    the Python worker daemon) to exit."""
    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc.stdin:
            proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout=timeout)


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")) \
            .startswith("python")
    except OSError:
        return False


class RssSampler:
    """Samples the summed RSS of the JVM at `pid` and its Python worker
    processes every `period` seconds on a daemon thread; `peak_mb` is the
    largest sum seen while running. Other descendants are left out: a
    child the JVM spawns for a shell command shares the JVM's memory
    until it execs, and counting it would add the JVM a second time."""

    def __init__(self, pid: int, period: float = 0.1):
        self.pid = pid
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            kb = _rss_kb(self.pid) + sum(
                _rss_kb(p) for p in _descendants(self.pid)[1:]
                if _is_python(p))
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def cpu_ticks() -> tuple[int, int, int]:
    """(user+nice+system, steal, total) jiffies of the whole host."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2], (v[7] if len(v) > 7 else 0), sum(v)


def host_weather(t0, t1) -> dict:
    """host.steal_pct / host.busy_pct between two cpu_ticks samples."""
    dt = max(1, t1[2] - t0[2])
    return {"host.steal_pct": 100.0 * (t1[1] - t0[1]) / dt,
            "host.busy_pct": 100.0 * (t1[0] - t0[0]) / dt}


def control_kernel(reps: int = 3) -> float:
    """Median seconds of a fixed Spark-free kernel (numpy sort plus MD5
    over fixed bytes). It runs the same work on every commit, so a change
    in it between two sets of runs is host drift, not a code effect."""
    rng = np.random.default_rng(12345)
    data = rng.random(1_000_000)
    blob = data.tobytes()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        np.sort(data, kind="stable")
        hashlib.md5(blob).digest()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class StageStats:
    """Stage and task totals from Spark's status store, as deltas between
    a `mark()` and a `since()`."""

    FIELDS = ("stages", "tasks", "failed_tasks", "run_ms", "cpu_ns",
              "shuffle_write", "shuffle_read", "gc_ms")

    def __init__(self, spark):
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.seen: set[tuple[int, int]] = set()

    def _stages(self):
        quantiles = getattr(self.store, "stageList$default$4")()
        seq = self.store.stageList(None, False, False, quantiles, None)
        it = seq.iterator()
        while it.hasNext():
            yield it.next()

    def mark(self) -> None:
        self.seen = {(s.stageId(), s.attemptId()) for s in self._stages()}

    def since(self) -> dict:
        tot = dict.fromkeys(self.FIELDS, 0)
        for s in self._stages():
            if (s.stageId(), s.attemptId()) in self.seen:
                continue
            tot["stages"] += 1
            tot["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            tot["failed_tasks"] += s.numFailedTasks()
            tot["run_ms"] += s.executorRunTime()
            tot["cpu_ns"] += s.executorCpuTime()
            tot["shuffle_write"] += s.shuffleWriteBytes()
            tot["shuffle_read"] += s.shuffleReadBytes()
            tot["gc_ms"] += s.jvmGcTime()
        return tot


def _identity(iterator):
    yield from iterator


def task_fixed_ms(spark, parts: int, reps: int = 3) -> float:
    """Median run time per task of a one-stage identity mapInPandas job
    over `parts` partitions of a few rows each: the fixed cost every
    Python task pays (Arrow stream setup, worker round trip), with no
    kernel."""
    stats = StageStats(spark)
    per_task = []
    for _ in range(reps):
        stats.mark()
        (spark.range(0, parts * 64, 1, parts)
         .mapInPandas(_identity, "id long")
         .write.format("noop").mode("overwrite").save())
        tot = stats.since()
        per_task.append(tot["run_ms"] / max(1, tot["tasks"]))
    return statistics.median(per_task)


def _warm(iterator):
    import tileigi_spark.engine  # noqa: F401
    import tileigi_spark.extract  # noqa: F401
    import tileigi_spark.geom.batch  # noqa: F401
    import tileigi_spark.geom.rectfast  # noqa: F401
    import tileigi_spark.spatial  # noqa: F401
    yield from iterator


def warm_workers(spark, cores: int) -> None:
    """Start the Python workers and import the engine in each, so the
    first measured task does not pay for it."""
    (spark.range(0, cores * 128, 1, cores * 2)
     .mapInPandas(_warm, "id long")
     .write.format("noop").mode("overwrite").save())

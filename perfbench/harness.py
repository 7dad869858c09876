"""Shared machinery: work directory, Spark session, span tracer, worker
RSS sampler and summary statistics.

Everything the benchmark writes goes under ``.perfbench_work/`` in the
current directory (the root of the checkout it runs from).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import threading
import time
import uuid

WORK_ROOT = ".perfbench_work"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def make_workdir(workload: str, seed: int) -> str:
    """A fresh directory unique to (workload, seed, invocation)."""
    path = os.path.abspath(
        os.path.join(WORK_ROOT, f"{workload}-s{seed}-{os.getpid()}-{uuid.uuid4().hex[:6]}")
    )
    os.makedirs(os.path.join(path, "tmp"))
    # child processes (JVMs, Python workers, spark-submit) inherit these;
    # SPARK_LOCAL_DIRS would otherwise override spark.local.dir
    os.environ["TMPDIR"] = os.path.join(path, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(path, "spark-local")
    return path


def remove_workdir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)
    except OSError:
        pass


def spark_conf(work: str, event_log: str | None) -> dict[str, str]:
    """Session settings shared by the in-process session and spark-submit."""
    n = cores()
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.shuffle.partitions": str(max(2 * n, 16)),
        "spark.default.parallelism": str(n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        "spark.driver.memory": "2g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.log.level": "ERROR",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # C1 only: with tiered C2 the JVM keeps compiling for about a
        # minute of runs, so short runs measured a drifting warm-up
        # (1.56-2.26 s per extract_scan run within one session), and a
        # minute of untimed warm-up per run does not fit the time budget.
        # spec.json's "jit" records C1 against C2 on every workload.
        "spark.driver.extraJavaOptions": (
            f"-XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def start_session(work: str, event_log: str | None = None):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master(f"local[{cores()}]").appName("perfbench")
    for k, v in spark_conf(work, event_log).items():
        b = b.config(k, v)
    return b.getOrCreate()


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit, so the
    next session starts cold."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def materialize(df) -> None:
    """Run a plan to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


# -- statistics ---------------------------------------------------------------


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs) -> tuple[float, float]:
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (0.0, 0.0)
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile (p in 0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


# -- spans --------------------------------------------------------------------


class Tracer:
    """In-memory spans around the benchmark's own calls into the program.

    When enabled, each span also becomes the Spark job group of the
    calling thread, so jobs in the event log can be parented to it."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def _set_group(self, group: str | None) -> None:
        if not (self.enabled and self.spark is not None):
            return
        # the group alone: a job description would also replace the SQL
        # execution's description, which names the action (count, save, ...)
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)

    def dump(self, path: str, extra: list[dict] = ()) -> None:
        with open(path, "w") as f:
            for s in list(self.spans) + list(extra):
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t = tracer
        self.name = name
        self.attrs = attrs
        self.rec: dict | None = None

    def __enter__(self):
        t = self.t
        self.start_mono = time.monotonic()
        if t.enabled:
            sid = f"s{len(t.spans)}"
            self.rec = {
                "id": sid,
                "parent": t._stack[-1] if t._stack else None,
                "name": self.name,
                "kind": "bench",
                "start": time.time(),
                **self.attrs,
            }
            t.spans.append(self.rec)
            t._stack.append(sid)
            t._set_group(sid)
        return self

    def __exit__(self, *exc):
        self.seconds = time.monotonic() - self.start_mono
        t = self.t
        if self.rec is not None:
            self.rec["end"] = time.time()
            t._stack.pop()
            t._set_group(t._stack[-1] if t._stack else None)
        return False


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id → duration minus the union of its children's intervals."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent"):
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = union_length(
            [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], [])]
        )
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


def union_length(intervals) -> float:
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# -- Python worker memory -------------------------------------------------------


class WorkerRss:
    """Samples the peak RSS (VmHWM) of every PySpark Python worker that
    descends from this process, including workers of a spark-submit
    child."""

    MARKERS = (b"pyspark.daemon", b"pyspark.worker")

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.poll()
        return False

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.poll()

    def poll(self) -> None:
        me = os.getpid()
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(name)] = int(stat[stat.rindex(b")") + 2 :].split()[1])
        for pid in parent:
            p, hops = pid, 0
            while p not in (me, 0, 1) and hops < 16:
                p, hops = parent.get(p, 0), hops + 1
            if p != me or pid == me:
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
                if not any(m in cmd for m in self.MARKERS):
                    continue
                with open(f"/proc/{pid}/status", "rb") as f:
                    for line in f:
                        if line.startswith(b"VmHWM:"):
                            kb = int(line.split()[1])
                            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), kb)
                            break
            except OSError:
                continue

    @property
    def peak_mb(self) -> float:
        return max(self.peak_kb.values(), default=0) / 1024.0

"""Session, timing, tracing and resource helpers for the flagship benchmark.

The load is a closed loop with one client: one Spark job at a time on
``local[nproc]``.  Every timed repetition materializes the whole output
through ``flagship_aggregate`` (an order-independent hash-sum over every
output column, so Catalyst cannot prune the work).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MASK32 = 0xFFFFFFFF


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def machine_env(work: str) -> dict:
    """Environment for a self-contained session sized to this machine:
    every core this process may run on, a driver heap of a quarter of
    MemTotal (1-8 GB), scratch and temp dirs inside ``work``, and the
    checkout on the workers' PYTHONPATH."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_gb = max(1, min(8, mem_kb // (4 * 1024 * 1024)))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),  # as nproc counts
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": root + (os.pathsep + path if path else ""),
    }


def start_session(work: str, event_log: str | None = None):
    """``session.get_spark`` at nproc cores with the benchmark's extras;
    ``event_log`` turns the Spark event log on (traced runs only).

    The JVM runs the serial collector: it sizes the heap from the live data
    left after each collection, where G1 grows it by the time its collector
    threads took, so under G1 the same work ended with a JVM ``VmHWM``
    anywhere in 1.17-1.37 GB and ``peak_rss_mb`` followed the host's load."""
    from libosmtools_spark.session import default_cpus, get_spark

    tmp = os.environ["TMPDIR"]
    extra = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseSerialGC",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    cpus = default_cpus()
    return get_spark(app="perfbench", cpus=cpus, shuffle_partitions=max(cpus, 8), extra=extra)


def shutdown_jvm() -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    from libosmtools_spark.session import stop_spark

    gw = SparkContext._gateway
    stop_spark()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def release_engine(eng) -> None:
    """Free an engine's broadcasts and cached index before building the
    next one, so set-up repetitions do not accumulate memory."""
    eng.cell_index.unpersist()
    eng.rings_bcast.unpersist()
    if eng._candidates_bcast is not None:
        eng._candidates_bcast.unpersist()


# ---------------------------------------------------------------------------
# materialization
# ---------------------------------------------------------------------------


def hash_sum(df: DataFrame) -> tuple[int, int]:
    """(rows, order-independent hash-sum over every column) of ``df``."""
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*df.columns).bitwiseAND(F.lit(MASK32))).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def flagship_aggregate(out: DataFrame) -> dict:
    """Materialize a flagship output ``(url, cell_key, cell_id,
    region_ids)`` in one job: row count, hash over every column and hash
    over ``(cell_key, cell_id)``."""
    row = out.agg(
        F.count("*").alias("n"),
        F.sum(
            F.xxhash64("url", "cell_key", "cell_id", "region_ids").bitwiseAND(F.lit(MASK32))
        ).alias("h_all"),
        F.sum(F.xxhash64("cell_key", "cell_id").bitwiseAND(F.lit(MASK32))).alias("h_cells"),
    ).collect()[0]
    return {"n": row["n"], "h_all": row["h_all"], "h_cells": row["h_cells"]}


# ---------------------------------------------------------------------------
# host-speed reference
# ---------------------------------------------------------------------------

#: tasks of the reference job; fixed, so its total work does not depend on
#: the core count
REF_TASKS = 8


def _reference_task():
    # nested, so it pickles by value: this file is not on the workers' path
    def work(batches):
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(0)
        for pdf in batches:
            acc = 0
            for _ in range(4):
                a = rng.random(200_000)
                a.sort()
                acc += int(np.searchsorted(a, 0.5))
                words = [f"{x:.6f}" for x in a[:30_000]]
                acc += sum(len(w) for w in {w: i for i, w in enumerate(words)})
            yield pd.DataFrame({"id": [acc] * len(pdf)})

    return work


def reference_cpu_s(spark) -> float:
    """CPU seconds the Python workers spend on the reference job: a fixed
    amount of numpy and pure-Python work (sort, search, format, hash) in
    ``REF_TASKS`` tasks, with no engine code and no input data.  Run next
    to a repetition, it measures how fast this host runs the workers at
    that moment."""
    c0 = cpu_split()["python"]
    spark.range(0, REF_TASKS, 1, REF_TASKS).mapInPandas(_reference_task(), "id long").collect()
    return cpu_split()["python"] - c0


# ---------------------------------------------------------------------------
# resources
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree_pids() -> list[int]:
    """The gateway JVM first, then every process under it (the Python
    daemon and its workers); empty without a running gateway."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return []
    out, todo = [], [proc.pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of ``pid``, in clock ticks: a
    worker that exits and is reaped moves its time into its parent's
    cutime, so the sum over a process tree never drops."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_split() -> dict[str, float]:
    """CPU seconds used so far by the gateway JVM (``jvm``), the Python
    daemon and workers under it (``python``) and this process
    (``driver``).  Task CPU time excludes the host's steal time, which a
    wall includes."""
    pids = _tree_pids()
    t = os.times()
    return {
        "jvm": _cpu_ticks(pids[0]) / _TICK if pids else 0.0,
        "python": sum(_cpu_ticks(p) for p in pids[1:]) / _TICK,
        "driver": t.user + t.system,
    }


def cpu_s() -> float:
    """Total of ``cpu_split``."""
    return sum(cpu_split().values())


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def peak_rss_mb() -> float:
    """Sum of VmHWM over the gateway JVM and every process under it (the
    Python daemon and its workers), in MB."""
    return sum(_hwm_kb(p) for p in _tree_pids()) / 1024.0


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once
    at the end of the run.  Each span also labels its Spark jobs with a job
    group of the same name, so event-log task metrics map back to it."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self):
        t = self.t
        parent = t.spans[t._stack[-1]]["id"] if t._stack else None
        self.idx = len(t.spans)
        t.spans.append(
            {"id": self.idx, "name": self.name, "parent": parent, "run_id": t.run_id,
             "start": time.monotonic(), "end": None}
        )
        t._stack.append(self.idx)
        if t.spark is not None:
            t.spark.sparkContext.setJobGroup(self.name, self.name)
        return self

    def __exit__(self, *exc):
        t = self.t
        t.spans[self.idx]["end"] = time.monotonic()
        t._stack.pop()
        if t.spark is not None:
            outer = t.spans[t._stack[-1]]["name"] if t._stack else "untraced"
            t.spark.sparkContext.setJobGroup(outer, outer)
        return False


TASK_METRICS = ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "input_bytes", "shuffle_write_bytes", "spill_bytes")


def event_log_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Job group → summed task metrics, parsed from the Spark event log(s)
    in ``log_dir`` (the session must have stopped so the log is final)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "untraced")
                    for sid in ev.get("Stage IDs", []):
                        # a reused stage ran under the first job listing it
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    g = out.setdefault(
                        stage_group.get(ev["Stage ID"], "untraced"), dict.fromkeys(TASK_METRICS, 0.0)
                    )
                    g["tasks"] += 1
                    g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out

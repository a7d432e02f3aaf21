"""Flagship benchmark: ``SpatialEngine.flagship_map`` over a seeded corpus.

    python3 perfbench/run.py --workload crawl_text --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One client submits one Spark job at a
time on ``local[nproc]``; each timed repetition is one fully materialized
flagship query over the workload's whole corpus, checked against brute
oracles (``check.py``).  ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones (``layers.py``) and writes its spans to
``perfbench/out/``.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  Metric names and units
come from ``BENCHMARK.json``; ``perfbench/BENCHMARK.md`` says what each
workload and metric is for.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-up repetitions per run (setup_s is their median)
SETUP_REPS = 5
#: untimed, checked repetitions after the cold query, while the JVM's JIT
#: settles (its CPU per query falls for the first few)
WARM_REPS = 2
#: timed repetitions per run at least, even past --seconds
MIN_REPS = 3
#: repetitions of each layer call in a traced run
TRACE_REPS = 2

#: span name → label of its Spark task metrics
SPARK_GROUPS = {
    "pipeline.flagship": "flagship",
    "joins.mapjoin.scan": "scan",
    "joins.mapjoin.arrow_identity": "arrow_identity",
    "joins.mapjoin.kernel_pass": "kernel_pass",
    "joins.mapjoin.keys_pass": "keys_pass",
    "cells.assign.dictionary": "dictionary",
    "run.checkpoint.staged": "staged",
}


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


class Run:
    """One benchmark run: its corpus, session, counters and checks."""

    def __init__(self, workload: str, seed: int, seconds: float, work: str):
        import check
        import gen
        import harness
        import numpy as np
        import pyarrow.parquet as pq

        self.workload, self.seed, self.seconds, self.work = workload, seed, seconds, work
        os.environ.update(harness.machine_env(work))
        self.corpus = gen.ensure_corpus(gen.WORKLOAD_CORPUS[workload], seed)
        files = sorted(os.listdir(os.path.join(self.corpus, "pages.parquet")))
        urls = np.concatenate(
            [
                pq.read_table(os.path.join(self.corpus, "pages.parquet", f), columns=["url"])
                .column("url")
                .to_numpy()
                for f in files
            ]
        )
        rings = pq.read_table(os.path.join(self.corpus, "region_rings.parquet")).to_pandas()
        truth = np.load(os.path.join(self.corpus, "truth.npy"))
        # the brute oracle runs while the session starts (``open``)
        pool = concurrent.futures.ThreadPoolExecutor(max_workers=1)
        self.oracle = pool.submit(check.oracle_frame, urls, truth, rings)
        pool.shutdown(wait=False)
        self.want = None
        self.n_pages = len(urls)
        self.attempted = 0
        self.failed = 0
        self.spark = None

    # -- session ---------------------------------------------------------

    def open(self, event_log: str | None = None) -> float:
        """Start a session; → its start wall.  The first session also
        waits for the oracle table and hashes it with the repetitions'
        aggregate."""
        import check
        import harness

        t0 = time.monotonic()
        self.spark = harness.start_session(self.work, event_log)
        self.pages = self.spark.read.parquet(os.path.join(self.corpus, "pages.parquet"))
        self.rings = self.spark.read.parquet(os.path.join(self.corpus, "region_rings.parquet"))
        wall = time.monotonic() - t0
        if self.want is None:
            odf = self.spark.createDataFrame(self.oracle.result(), check.ORACLE_SCHEMA)
            self.want = harness.flagship_aggregate(odf)
        return wall

    def build(self):
        """→ (engine, wall s, CPU s): ``SpatialEngine(...)`` plus its
        ``candidates_bcast``."""
        import harness

        from libosmtools_spark.pipeline import SpatialEngine

        c0, t0 = harness.cpu_s(), time.monotonic()
        eng = SpatialEngine(self.spark, self.rings)
        eng.candidates_bcast
        return eng, time.monotonic() - t0, harness.cpu_s() - c0

    # -- checked operations ------------------------------------------------

    def verify(self, agg: dict) -> None:
        import check

        self.attempted += 1
        bad = check.mismatches(agg, self.want)
        if bad:
            self.failed += 1
            log("WRONG:", "; ".join(bad))

    def query(self, eng) -> tuple[float, dict] | None:
        """One timed, checked flagship repetition → (wall s, CPU s by
        process kind); None when it raised."""
        import harness

        c0, t0 = harness.cpu_split(), time.monotonic()
        try:
            agg = harness.flagship_aggregate(eng.flagship_map(self.pages))
        except Exception:
            self.attempted += 1
            self.failed += 1
            log("FAILED:", traceback.format_exc())
            return None
        wall, c1 = time.monotonic() - t0, harness.cpu_split()
        self.verify(agg)
        return wall, {k: c1[k] - c0[k] for k in c1}

    def timed_loop(self, eng, seconds: float) -> dict:
        """Warm-up repetitions, then timed ones for ``seconds``, each
        right after a reference job → {"wall", "cpu", "jvm", "python", "ref"}:
        per-repetition lists, plus "rss" (peak RSS in MB at the end) and
        "steal" (the machine's steal share over the timed window)."""
        import harness

        for _ in range(WARM_REPS):
            self.query(eng)
        harness.reference_cpu_s(self.spark)  # untimed warm-up, as for the queries
        reps = {"wall": [], "cpu": [], "jvm": [], "python": [], "ref": []}
        s0 = harness.steal_jiffies()
        first, end = self.attempted, time.monotonic() + seconds
        while time.monotonic() < end or self.attempted - first < MIN_REPS:
            ref = harness.reference_cpu_s(self.spark)
            r = self.query(eng)
            if r is None:
                continue
            wall, cpu = r
            reps["wall"].append(wall)
            reps["cpu"].append(sum(cpu.values()))
            reps["jvm"].append(cpu["jvm"])
            reps["python"].append(cpu["python"])
            reps["ref"].append(ref)
        s1 = harness.steal_jiffies()
        reps["rss"] = harness.peak_rss_mb()
        reps["steal"] = (s1[0] - s0[0]) / max(s1[1] - s0[1], 1)
        return reps

    # -- the two kinds of run ----------------------------------------------

    def end_to_end(self) -> dict:
        import harness

        log(f"session start: {self.open():.1f} s")
        eng, walls, cpus = None, [], []
        for _ in range(SETUP_REPS):
            if eng is not None:
                harness.release_engine(eng)
            eng, w, c = self.build()
            walls.append(w)
            cpus.append(c)
        cold = self.query(eng)
        reps = self.timed_loop(eng, self.seconds)
        # median over median: one reference job's CPU varies as much from
        # call to call as a query's, so pairing them per repetition adds
        # both noises; the two medians share only the host's slower drift
        cpu_p50 = statistics.median(reps["cpu"])
        cost = cpu_p50 / statistics.median(reps["ref"])
        wall_p50 = statistics.median(reps["wall"])
        log(f"{self.workload} seed={self.seed}: set-up walls {walls}, CPU {cpus}; cold query {cold}")
        log(f"{len(reps['wall'])} repetitions, steal share {reps['steal']:.3f}")
        log(f"  walls {reps['wall']}")
        log(f"  CPU   {reps['cpu']}")
        log(f"  ref   {reps['ref']}")
        log(f"  wall pages_per_s {self.n_pages / wall_p50:.1f}, query_s_p50 {wall_p50:.4f} s")
        log(f"  CPU pages_per_cpu_s {self.n_pages / cpu_p50:.1f}, query_cpu_s_p50 {cpu_p50:.4f} s")
        return {
            "pages_per_refjob": self.n_pages / cost,
            "query_refjobs_p50": cost,
            "setup_s": statistics.median(cpus),
            "peak_rss_mb": reps["rss"],
        }

    def traced(self) -> dict:
        import harness
        import layers

        from libosmtools_spark.session import stop_spark

        # untraced baseline in a session of its own, for the overhead
        # figure and the wall and CPU split of a query; its warm-up
        # repetitions let the JVM settle first, as it has by the time the
        # traced flagship runs
        session_s = self.open()
        eng, setup_s, _ = self.build()
        cold = (self.query(eng) or (0.0,))[0]
        reps = self.timed_loop(eng, self.seconds / 3)
        base = statistics.median(reps["wall"])
        harness.release_engine(eng)
        stop_spark()

        event_log = os.path.join(self.work, "eventlog")
        self.open(event_log)
        run_id = f"{self.workload}-{self.seed}-{int(time.time())}"
        tracer = harness.Tracer(self.spark, run_id)
        m = {
            "session.start_s": session_s,
            "session.cold_query_s": cold,
            "pipeline.query_wall_s": base,
            "pipeline.query_cpu_s": statistics.median(reps["cpu"]),
            "pipeline.query_jvm_cpu_s": statistics.median(reps["jvm"]),
            "pipeline.query_python_cpu_s": statistics.median(reps["python"]),
            "pipeline.reference_cpu_s": statistics.median(reps["ref"]),
        }
        with tracer.span("run"):
            setup_m, cand, lookup = layers.setup_layers(tracer, self.rings)
            m.update(setup_m)
            with tracer.span("session.engine"):
                eng = self.build()[0]
            call_m, aggs = layers.call_layers(tracer, eng, self.pages, TRACE_REPS)
            m.update(call_m)
            harness.release_engine(eng)
            staged_m, saggs = layers.staged_layers(
                tracer, self.spark, self.corpus, os.path.join(self.work, "ckpt"), self.n_pages
            )
            m.update(staged_m)
            with tracer.span("joins.mapjoin.kernel_replay"):
                replay_m, cpu = layers.kernel_replay(self.corpus, cand, lookup)
        for agg in aggs + saggs:
            self.verify(agg)
        m.update(replay_m)
        m["trace.flagship_overhead"] = m["pipeline.flagship_s"] / base - 1.0
        stop_spark()

        calls = {name: len(tracer.durations(name)) for name in SPARK_GROUPS}
        groups = harness.event_log_metrics(event_log)
        for name, label in SPARK_GROUPS.items():
            g = groups.get(name, dict.fromkeys(harness.TASK_METRICS, 0.0))
            for k in harness.TASK_METRICS:
                m[f"spark.{label}.{k}"] = g[k] / max(calls[name], 1)

        setup_total = m["index.grid.rings_collect_s"] + m["index.grid.covering_s"] + m["joins.mapjoin.candidates_s"]
        claims = {
            "kernel_cpu_s": cpu,
            "largest_kernel_stage": max(cpu, key=cpu.get),
            "bytes_s": m["joins.mapjoin.scan_s"] + m["joins.mapjoin.arrow_identity_s"] + cpu["geocode"],
            "resolve_cpu_s": cpu["resolve"],
            "stage_share_of_query_cpu": {k: v / statistics.median(reps["cpu"]) for k, v in cpu.items()},
            "setup_share": setup_total / (setup_total + m["pipeline.flagship_s"]),
            "untraced_setup_s": setup_s,
        }
        log(f"{self.workload} seed={self.seed} claims: {json.dumps(claims)}")
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        tracer.dump(os.path.join(out, f"trace-{run_id}.json"))
        with open(os.path.join(out, f"layers-{run_id}.json"), "w") as f:
            json.dump({"workload": self.workload, "seed": self.seed, "metrics": m, "claims": claims}, f)
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        log(f"unknown workload {args.workload!r}; choose from {names}")
        return 2
    sys.path.insert(0, ROOT)
    try:
        import libosmtools_spark  # noqa: F401
    except ImportError as e:
        log(f"the engine package is not importable from {ROOT}: {e}")
        return 2

    import harness

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    try:
        t0 = time.monotonic()
        run = Run(args.workload, args.seed, args.seconds, work)
        log(f"inputs: {time.monotonic() - t0:.1f} s")
        values = run.traced() if args.trace else run.end_to_end()
        metrics_spec = spec["per_layer"] if args.trace else spec["end_to_end"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metrics_spec}
    finally:
        harness.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    for name, mv in metrics.items():
        log(f"  {name} = {mv['value']:.6g} {mv['unit']}")
    log(f"  failed_ratio = {run.failed / max(run.attempted, 1):.6g} ({run.failed}/{run.attempted})")
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

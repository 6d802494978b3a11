"""Repository benchmark for the spatial engine.

    python3 perfbench/run.py --workload skewed_join_resume --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

One run generates (or reads back) the seeded inputs, starts a local Spark
session sized from the host, times the engine's one-time preparation, calls
the workload's operation for ``--seconds`` seconds (and at least as often
as the workload asks), checks the outputs, and
prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` re-runs the operation one layer at a time
under spans, reports the per-layer metrics, and writes the spans to
``perfbench/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from spans import RssSampler, Tracer, descendants, log

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
SETUP_REPEATS = 3

END_TO_END = {"items_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "textextract.busy_s": "s", "textextract.rows": "count", "textextract.html_bytes": "B",
    "geocode.busy_s": "s", "geocode.located_ratio": "ratio",
    "tiles.busy_s": "s",
    "cells.cover_rows": "count", "cells.cover_busy_s": "s",
    "join.prep_s": "s", "join.build_rows": "count", "join.broadcast_bytes": "B",
    "join.busy_s": "s", "join.candidate_pairs": "count", "join.refine_hit_ratio": "ratio",
    "join.shuffle_bytes": "B", "join.spill_bytes": "B", "join.partition_skew": "ratio",
    "join.hot_cells": "count",
    "kernels.pip_edge_tests_per_s": "1/s",
    "pipeline.busy_s": "s", "pipeline.overhead_ratio": "ratio", "pipeline.bytes_written": "B",
    "pipeline.out_bytes_per_page": "B", "pipeline.batches_committed": "count",
    "pipeline.batches_skipped_on_resume": "count", "pipeline.batches_recomputed": "count",
    "ewkb.decode_busy_s": "s", "ewkb.encode_busy_s": "s", "ewkb.coords": "count",
    "ewkb.python_bytes": "B", "wkt.busy_s": "s", "geojson.busy_s": "s",
    "knn.index_s": "s", "knn.busy_s": "s", "knn.rounds_per_lookup": "count",
    "knn.candidates_per_query": "count", "knn.fallback_queries": "count",
    "trace.overhead_ratio": "ratio",
}


def host_sizing() -> dict:
    """local[N] with N = usable cores and a driver heap of 1/16 of available
    RAM in whole GiB (1..4), so the figures follow the host, not constants.
    A heap the workloads fill in every run keeps the peak RSS steady; a
    roomier one leaves it to when G1 chooses to grow the heap."""
    cpus = len(os.sched_getaffinity(0))
    avail_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    mem_gb = max(1, min(4, avail_kb // (16 << 20)))
    return {"cpus": cpus, "driver_memory_gb": mem_gb, "mem_available_mb": avail_kb // 1024}


def build_session(host: dict, work: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{host['cpus']}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(host["cpus"]))
        .config("spark.sql.adaptive.enabled", "true")
        # see spatial/join.py: constraint propagation duplicates the staged
        # cell expression into per-row predicates
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.driver.memory", f"{host['driver_memory_gb']}g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    alive = started
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _tail(samples: list[float]) -> tuple[float, float] | None:
    """Highest percentile with at least ten samples beyond it, and its value."""
    n = len(samples)
    if n < 11:
        return None
    s = sorted(samples)
    idx = n - 11
    return 100.0 * (idx + 1) / n, s[idx]


def run_one(args, cls, host: dict) -> dict:
    phases = _Phases()
    paths = cls.make_inputs(args.seed)  # cached by seed and size; untimed
    phases.mark("inputs")
    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    # keep every scratch file of Spark, the JVM and the workers in the run's
    # own directory
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM the session launches; perf data would go to /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    attempted = failed = 0
    detail: dict = {"workload": args.workload, "seed": args.seed, "host": host}
    with RssSampler() as rss:
        spark = build_session(host, work)
        detail["session_start_s"] = phases.mark("session")
        try:
            wl = cls(spark, args.seed, work)
            wl.load(paths)
            phases.mark("load")
            if args.trace:
                metrics, checks = _traced(wl, Tracer(), args)
                attempted += len(checks)
                failed += sum(not ok for _name, ok in checks)
                detail["trace_checks"] = checks
            else:
                prep = _setup(wl)
                phases.mark("setup")
                calls, lat = _measure(wl, args.seconds)
                phases.mark("measure")
                attempted += sum(o.attempted for o in calls)
                failed += sum(o.failed for o in calls)
                metrics = {"items_per_s": calls[0].items / statistics.median(lat),
                           "setup_s": statistics.median(prep)}
                detail.update(prepare_s=prep, call_s=lat, call_p50_s=statistics.median(lat))
                tail = _tail(lat)
                detail["call_tail"] = ({"percentile": tail[0], "value_s": tail[1], "samples": len(lat)}
                                       if tail else f"needs 11 calls, had {len(lat)}")
            a, f = wl.check()
            attempted += a
            failed += f
            phases.mark("check")
        finally:
            stop_session(spark)
            phases.mark("stop")
    if not args.trace:
        metrics["peak_rss_mb"] = rss.peak_mb
    shutil.rmtree(work, ignore_errors=True)
    detail["error_rate"] = failed / max(1, attempted)
    detail["phase_s"] = phases.times
    units = PER_LAYER if args.trace else END_TO_END
    return {"detail": detail, "result": {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}}}


class _Phases:
    """Wall time of each phase of a run, for the ``detail`` line."""

    def __init__(self) -> None:
        self.times: dict[str, float] = {}
        self._t = time.perf_counter()

    def mark(self, name: str) -> float:
        now = time.perf_counter()
        self.times[name] = now - self._t
        self._t = now
        return self.times[name]


def _setup(wl) -> list[float]:
    """The workload's one-time preparation, ``SETUP_REPEATS`` times; the
    last one stays. The first also starts the Python workers and loads JVM
    classes, host work that is not the engine's, which the median leaves
    out."""
    times = []
    for i in range(SETUP_REPEATS):
        if i:
            wl.release()
        t = time.perf_counter()
        wl.prepare()
        times.append(time.perf_counter() - t)
    return times


def _measure(wl, seconds: float) -> tuple[list, list[float]]:
    """Closed loop, one client: call until ``seconds`` have passed and the
    workload's ``min_calls`` are made, after its untimed warm-up."""
    wl.warm()
    calls, lat = [], []
    deadline = time.perf_counter() + seconds
    while True:
        t = time.perf_counter()
        calls.append(wl.call())
        lat.append(time.perf_counter() - t)
        if time.perf_counter() >= deadline and len(calls) >= wl.min_calls:
            break
    return calls, lat


def _traced(wl, tr, args) -> tuple[dict, list]:
    """One operation re-run layer by layer under spans. The workload also
    times the same operation untraced, and ``trace.overhead_ratio`` is the
    summed layer spans over that untraced time."""
    wl.prepare()
    m = {k: 0.0 for k in PER_LAYER}
    with tr.span("call"):
        untraced_s, layers = wl.traced_call(tr, m)
    traced_s = sum(tr.total(n) for n in layers)
    self_s = tr.self_times()
    m.update({
        "textextract.busy_s": self_s.get("textextract", 0.0),
        "geocode.busy_s": self_s.get("geocode", 0.0),
        "tiles.busy_s": self_s.get("tiles", 0.0),
        "cells.cover_busy_s": tr.total("cells.cover"),
        "join.prep_s": tr.total("join.prep"),
        "join.busy_s": tr.total("join"),
        "pipeline.busy_s": tr.total("pipeline"),
        "ewkb.decode_busy_s": tr.total("ewkb.decode"),
        "ewkb.encode_busy_s": tr.total("ewkb.encode"),
        "wkt.busy_s": self_s.get("wkt", 0.0),
        "geojson.busy_s": self_s.get("geojson", 0.0),
        "knn.index_s": tr.total("knn.index"),
        "knn.busy_s": tr.total("knn.lookup"),
        "trace.overhead_ratio": traced_s / untraced_s,
    })
    out_dir = os.path.join(BENCH_DIR, "results")
    os.makedirs(out_dir, exist_ok=True)
    tr.dump(os.path.join(out_dir, f"trace-{wl.name}-s{args.seed}.json"),
            {"workload": wl.name, "seed": args.seed, "traced_layers": layers,
             "traced_s": traced_s, "untraced_s": untraced_s, "metrics": m})
    return m, wl.trace_checks


def run_all(args, names) -> int:
    """Every workload in turn, each in its own process (one Spark session at
    a time); prints each result line, then a combined one."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            log(f"{name} failed with exit code {proc.returncode}")
            return 1
        res = json.loads(lines[-1])
        print(json.dumps({"workload": name, **res}), flush=True)
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "spatial", "pipeline.py")):
        log(f"engine sources not found next to perfbench/ (looked in {REPO})")
        return 2
    # the engine must import in the driver and in Spark's Python workers,
    # whatever the working directory
    sys.path[:0] = [REPO, BENCH_DIR]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])

    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args, list(WORKLOADS))
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all")
        return 2
    out = run_one(args, WORKLOADS[args.workload], host_sizing())
    print(json.dumps({"detail": out["detail"]}), flush=True)
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""The repo benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload mosaic_full --seed 1 --seconds 25 --trace 0

Generates the workload's seeded inputs and numpy references, sets up a
fresh Spark session at local[nproc] three times (the last one stays up),
then produces results one at a time for ``--seconds``, checking every
result against its reference. Prints a readable report, then as the
last line one JSON object: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path
from statistics import median

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

SETUPS = 3
MIN_RESULTS = 4

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("first_result_s", "s", "lower"),
    ("result_s", "s", "lower"),
    ("mpx_per_s", "Mpx/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.worker_warm_s", "s", "lower"),
    ("session.jobs", "count", "lower"),
    ("summary.s", "s", "lower"),
    ("summary.jobs", "count", "lower"),
    ("grid.tiles", "count", "lower"),
    ("grid.gap_tiles", "count", "lower"),
    ("grid.jobs", "count", "lower"),
    ("spatial_join.s", "s", "lower"),
    ("spatial_join.rows", "count", "lower"),
    ("spatial_join.broadcast_bytes", "B", "lower"),
    ("spatial_join.jobs", "count", "lower"),
    ("clip.rows_out", "count", "lower"),
    ("clip.useful_byte_ratio", "ratio", "higher"),
    ("shuffle.bytes_written", "B", "lower"),
    ("shuffle.data_bytes", "B", "lower"),
    ("shuffle.compression_ratio", "ratio", "lower"),
    ("shuffle.records", "count", "lower"),
    ("shuffle.write_busy_s", "s", "lower"),
    ("shuffle.fetch_wait_s", "s", "lower"),
    ("shuffle.spill_bytes", "B", "lower"),
    ("stitch.python_busy_s", "s", "lower"),
    ("stitch.bytes_to_python", "B", "lower"),
    ("stitch.bytes_from_python", "B", "lower"),
    ("stitch.groups", "count", "lower"),
    ("stitch.sort_peak_bytes", "B", "lower"),
    ("stitch.kernel_ms_per_tile", "ms", "lower"),
    ("stitch.boundary_s", "s", "lower"),
    ("stats.s", "s", "lower"),
    ("pyramid.rows", "count", "lower"),
    ("pyramid.bytes_written", "B", "lower"),
    ("pyramid.s", "s", "lower"),
    ("sink.s", "s", "lower"),
    ("sink.files", "count", "lower"),
    ("sink.bytes_written", "B", "lower"),
    ("sink.jobs", "count", "lower"),
    ("relayout.build_s", "s", "lower"),
    ("relayout.jobs", "count", "lower"),
    ("relayout.buckets", "count", "lower"),
    ("relayout.result_s", "s", "lower"),
    ("relayout.direct_s", "s", "lower"),
    ("relayout.stitch_tasks", "count", "lower"),
    ("relayout.scan_bytes", "B", "lower"),
    ("relayout.shuffle_bytes", "B", "lower"),
    ("docs.rank_s", "s", "lower"),
    ("docs.rank_jobs", "count", "lower"),
    ("incremental.s", "s", "lower"),
    ("incremental.touched_tiles", "count", "lower"),
    ("incremental.rewritten_tiles", "count", "lower"),
    ("incremental.useful_rewrite_ratio", "ratio", "higher"),
    ("incremental.jobs", "count", "lower"),
    ("focal.terrain_s", "s", "lower"),
    ("focal.halo_bytes", "B", "lower"),
    ("focal.jobs", "count", "lower"),
    ("hydro.basins_s", "s", "lower"),
    ("hydro.basins_jobs", "count", "lower"),
    ("hydro.accumulation_s", "s", "lower"),
    ("hydro.accumulation_jobs", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("trace.overhead_s", "s", "lower"),
]


class NoTrace:
    @staticmethod
    def span(name):
        return nullcontext()


def set_up(wl, harness):
    """SETUPS fresh sessions, each: JVM start, the first tiny mapInArrow
    (Python worker start), then the workload's own loading. All but the
    last are stopped again. Returns the live session and the timings."""
    times = {"setup": [], "start": [], "warm": []}
    n = harness.host_cores()
    for k in range(SETUPS):
        t0 = time.perf_counter()
        spark = harness.start_session(f"s{k}")
        try:
            t1 = time.perf_counter()
            spark.sparkContext.setJobGroup("session", "warm-up")
            spark.range(n, numPartitions=n).mapInArrow(lambda it: it, "id long").collect()
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            t2 = time.perf_counter()
            wl.load(spark)
        except BaseException:
            harness.stop_session(spark)
            raise
        times["setup"].append(time.perf_counter() - t0)
        times["start"].append(t1 - t0)
        times["warm"].append(t2 - t1)
        if k < SETUPS - 1:
            harness.stop_session(spark)
    return spark, times


def measure(wl, spark, seconds: float, tracer) -> dict:
    """Closed loop: one result at a time until ``seconds`` have passed
    (and at least MIN_RESULTS). With a tracer, even-numbered results are
    traced and odd ones are not, so the overhead is measured in-run."""
    deadline = time.perf_counter() + seconds
    rec = {"times": [], "traced": [], "mpx": [], "layers": [], "failed": 0}
    i = 0
    while i < MIN_RESULTS or time.perf_counter() < deadline:
        traced = tracer is not None and i % 2 == 0
        ok, dt, mpx = False, None, 0.0
        try:
            ctx = tracer.result() if traced else nullcontext([])
            with ctx as spans:
                t0 = time.perf_counter()
                mpx = wl.result(spark, tracer if traced else NoTrace, i)
                dt = time.perf_counter() - t0
            ok = wl.check(spark, i)
            if traced and i > 1:
                m = wl.layers(spans)
                m["spark.failed_tasks"] = sum(s.jobs.get("failed_tasks", 0) for s in spans)
                rec["layers"].append(m)
        except Exception:  # noqa: BLE001 — a failed result is counted, the loop goes on
            traceback.print_exc()
        rec["failed"] += not ok
        rec["times"].append(dt)
        rec["traced"].append(traced)
        rec["mpx"].append(mpx)
        i += 1
    return rec


def _med(xs):
    xs = [x for x in xs if x is not None]
    return median(xs) if xs else 0.0


def _warm(rec: dict, traced: bool) -> list:
    """Result times from the third result on: the second one finishes
    warming the JVM and the Python workers and is not counted."""
    return [t for t, tr in zip(rec["times"][2:], rec["traced"][2:]) if tr == traced]


def end_to_end(rec: dict, setup: dict, rss: float) -> dict:
    result_s = _med(_warm(rec, False))
    mpx = _med([m for m, t in zip(rec["mpx"][2:], rec["times"][2:]) if t])
    return {
        "setup_s": median(setup["setup"]),
        "first_result_s": rec["times"][0] or 0.0,
        "result_s": result_s,
        "mpx_per_s": mpx / result_s if result_s else 0.0,
        "peak_rss_mb": rss,
    }


def per_layer(rec: dict, setup: dict, extra: dict, spark) -> dict:
    from planfold import job_stats

    samples = rec["layers"]
    m = {k: _med([s.get(k) for s in samples]) for k in (samples[0] if samples else {})}
    m.update(extra)
    m["session.start_s"] = median(setup["start"])
    m["session.worker_warm_s"] = median(setup["warm"])
    m["session.jobs"] = job_stats(spark, "session")["jobs"]
    if m.get("stitch.kernel_ms_per_tile"):
        m["stitch.boundary_s"] = m.get("stitch.python_busy_s", 0.0) - (
            m["stitch.kernel_ms_per_tile"] / 1e3 * m.get("stitch.groups", 0))
    m["trace.overhead_s"] = _med(_warm(rec, True)) - _med(_warm(rec, False))
    return {name: float(m.get(name, 0.0)) for name, _, _ in PER_LAYER}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import harness

    harness.prepare_workdir()
    import moamosaic_spark  # fails here when the package is absent

    if Path(moamosaic_spark.__file__).resolve().parent.parent != harness.ROOT:
        sys.exit(f"moamosaic_spark was imported from {moamosaic_spark.__file__}, "
                 f"not from the checkout at {harness.ROOT}")

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](args.seed)
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0

    spark, setup = set_up(wl, harness)
    try:
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        rec = measure(wl, spark, args.seconds, tracer)
        if tracer is not None:
            extra = {}
            try:
                extra = wl.probes(spark, tracer)
            except Exception:  # noqa: BLE001 — a failed probe fails the run's check
                traceback.print_exc()
                rec["failed"] += 1
                rec["times"].append(None)
                rec["traced"].append(True)
            metrics = per_layer(rec, setup, extra, spark)
            out_dir = harness.ROOT / ".perfbench_traces"
            out_dir.mkdir(exist_ok=True)
            tracer.write(str(out_dir / f"{args.workload}-seed{args.seed}.jsonl"))
            units = {n: u for n, u, _ in PER_LAYER}
        else:
            metrics = end_to_end(rec, setup, harness.tree_peak_rss_mb())
            units = {n: u for n, u, _ in END_TO_END}
    finally:
        harness.stop_session(spark)

    attempted = len(rec["times"])
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace}")
    print("host " + " ".join(f"{k}={v}" for k, v in harness.host_facts().items()))
    print(f"load: closed loop, 1 client, local[{harness.host_cores()}]; "
          f"inputs generated in {gen_s:.2f} s (not in setup_s)")
    print(f"results: attempted={attempted} failed={rec['failed']} "
          f"failed_frac={rec['failed'] / attempted:.4f} "
          f"times_s={[round(t, 3) if t else None for t in rec['times']]}")
    print(f"setup: {SETUPS} set-ups {[round(t, 3) for t in setup['setup']]} s")
    for name, v in metrics.items():
        print(f"  {name:34s} {v:16.6f} {units[name]}")
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": attempted,
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

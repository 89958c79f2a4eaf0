"""Benchmark entry point.

    python3 perfbench/run.py --workload focal_r7 --seed 1 --seconds 4 --trace 0

Runs one workload on ``local[k]`` (k = min(4, usable CPUs)), checks every
job's output against an independent NumPy reference, and prints one JSON
object as the last line of stdout: ``correct``, ``attempted``, ``failed``
and the metrics — the end-to-end ones with ``--trace 0``, the per-layer
ones with ``--trace 1``. The lines before it name every metric with its
unit (plus the workload's own throughput name and ``error_rate``), the
host and the seed. The full result, spans included, is written to
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# metric name -> unit, in the order of BENCHMARK.json (README.md says
# how each is measured)
END_TO_END = {"setup_s": "s", "job_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB"}
ITEM_METRIC = {"tiles": "tiles_per_s", "points": "points_per_s"}

STAGES = ("ingest", "points", "tiles", "stats")
PER_LAYER = {
    "session.start_s": "s",
    "deploy.ship_s": "s",
    "trace.job_s": "s",
    "ledger.attributed_s": "s",
    "ledger.unattributed_s": "s",
    "lakehouse.read_s": "s",
    "io.scan_s": "s",
    "tiling.halo_exchange_s": "s",
    "tiling.halo_rows": "count",
    "tiling.halo_payload_mb": "MiB",
    "tiling.focal_partitions": "count",
    "tiling.assemble_ms_per_tile": "ms",
    "tiling.focal_unattributed_s": "s",
    "tiling.rasterize_s": "s",
    "kernels.mean_circle_r7_ms_per_tile": "ms",
    "kernels.mean_square_r31_ms_per_tile": "ms",
    "kernels.shannon_square_r31_ms_per_tile": "ms",
    "kernels.estimate_s": "s",
    "pipeline.run_s": "s",
    "grid.cell_encode_ns_per_point": "ns",
    "geometry.point_in_rings_ns_per_point": "ns",
    "geometry.cover_s": "s",
    "joins.candidates": "count",
    "joins.refine_hit_ratio": "ratio",
    "udfs.geocode_s": "s",
    **{f"lakehouse.write_stage_s.{s}": "s" for s in STAGES},
    **{f"lakehouse.bytes_written_mb.{s}": "MiB" for s in STAGES},
    "lakehouse.write_amplification": "ratio",
    "spark.shuffle_write_mb": "MiB",
    "spark.python_sent_mb": "MiB",
    "spark.python_returned_mb": "MiB",
    "spark.python_time_s": "s",
    "spark.python_init_s": "s",
    "spark.tasks": "count",
    "spark.task_max_over_median": "ratio",
}
HIGHER_IS_BETTER = {"joins.refine_hit_ratio"}


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: a few-second smoke run (tests only)")
    return p.parse_args(argv)


def run_job(wl, spark, trace, tracer, sql):
    """One prepared, timed and checked job."""
    from perfbench.harness import MemorySampler
    from perfbench.sparkmetrics import summarize

    wl.prepare()
    # start every job from a collected heap: run-to-run times and peak
    # RSS otherwise depend on how much garbage earlier jobs left behind
    spark.sparkContext._jvm.java.lang.System.gc()  # noqa: SLF001
    mark = sql.marker() if trace else None
    result, problems = None, []
    with MemorySampler() as rss, tracer.span("job") as span:
        t0 = time.perf_counter()
        try:
            result = wl.run(spark, tracer if trace else None)
        except Exception:  # noqa: BLE001 - a failed job is counted, not fatal
            problems.append(traceback.format_exc(limit=3))
        job_s = time.perf_counter() - t0
    if not problems:
        try:
            problems = wl.check(result)
        except Exception:  # noqa: BLE001 - an unreadable output is a wrong output
            problems.append(traceback.format_exc(limit=3))
    rec = {"job_s": job_s, "rss_mb": rss.peak / 1e6, "problems": problems}
    if trace:
        idx = tracer.spans.index(span)
        rec["stages"] = {
            c["name"].split(".", 1)[1]: c["end"] - c["start"]
            for c in tracer.children_of(idx) if c["name"].startswith("write_stage.")
        }
        rec["spark"] = summarize(sql.since(mark))
    return rec


def measure(args) -> dict:
    from perfbench import harness, workloads
    from perfbench.harness import median
    from perfbench.sparkmetrics import SqlMetrics

    host = harness.prepare_environment()
    k = host["cores"]
    tracer = harness.Tracer()
    t_gen = time.perf_counter()
    wl = workloads.make(args.workload, args.seed, harness.SCRATCH, tiny=args.size == "tiny")
    gen_s = time.perf_counter() - t_gen
    setups = []
    try:
        spark = None
        for _ in range(harness.SETUP_REPS):
            if spark is not None:
                spark.stop()
            with tracer.span("setup") as sp:
                spark, start_s, ship_s = harness.start_session(k)
                with tracer.span("input_setup"):
                    wl.set_up(spark)
            setups.append({"setup_s": sp["end"] - sp["start"], "start_s": start_s, "ship_s": ship_s})
        host.update(harness.host_facts(spark))
        sql = SqlMetrics(spark)
        jobs = [run_job(wl, spark, args.trace, tracer, sql)]  # warm-up: checked, not timed
        t_end = time.perf_counter() + args.seconds
        timed_jobs = []
        while len(timed_jobs) < harness.MIN_JOBS or time.perf_counter() < t_end:
            timed_jobs.append(run_job(wl, spark, args.trace, tracer, sql))
        jobs += timed_jobs
        ok = [j for j in timed_jobs if not j["problems"]] or timed_jobs
        job_s = median(j["job_s"] for j in ok)
        metrics = {
            "setup_s": median(s["setup_s"] for s in setups),
            "job_s": job_s,
            "items_per_s": wl.items / job_s,
            "peak_rss_mb": median(j["rss_mb"] for j in ok),
        }
        units = END_TO_END
        if args.trace:
            layer = dict.fromkeys(PER_LAYER, 0.0)
            layer["session.start_s"] = setups[0]["start_s"]
            layer["deploy.ship_s"] = median(s["ship_s"] for s in setups)
            layer["trace.job_s"] = job_s
            for name in ok[0]["spark"]:
                if f"spark.{name}" in layer:
                    layer[f"spark.{name}"] = median(j["spark"][name] for j in ok)
            extra = wl.layers(spark, k, job_s, ok)
            for name in wl.side:
                side = workloads.make(name, args.seed, os.path.join(harness.SCRATCH, name), tiny=args.size == "tiny")
                side.set_up(spark)
                # a warm-up job, then the measured one; both are checked
                side_jobs = [run_job(side, spark, 1, tracer, sql) for _ in range(2)]
                jobs += side_jobs
                extra.update(side.layers(spark, k, side_jobs[-1]["job_s"], side_jobs[-1:]))
            unknown = set(extra) - set(PER_LAYER)
            if unknown:
                raise RuntimeError(f"unlisted per-layer metrics {sorted(unknown)}")
            layer.update(extra)
            metrics, units = layer, PER_LAYER
    finally:
        harness.stop_jvm()
        shutil.rmtree(harness.SCRATCH, ignore_errors=True)
    failed = sum(1 for j in jobs if j["problems"])
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "host": host,
        "item": wl.item, "items_per_job": wl.items, "generate_s": gen_s,
        "attempted": len(jobs), "failed": failed,
        "metrics": metrics, "units": units, "setups": setups, "jobs": jobs,
        "spans": tracer.spans,
    }


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    try:
        import engine.session  # noqa: F401 - the program under test
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine or pyspark from {ROOT}: {e}", file=sys.stderr)
        return 2
    res = measure(args)
    from perfbench.harness import RESULTS

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(RESULTS, name), "w") as f:
        json.dump(res, f, indent=1, default=str)
    print(f"# workload {res['workload']} seed {res['seed']} trace {res['trace']}")
    print(f"# host {json.dumps(res['host'], sort_keys=True)}")
    for j in res["jobs"]:
        for p in j["problems"]:
            print(f"# CHECK FAILED: {p}")
    m = res["metrics"]
    for n, v in m.items():
        print(f"{n} = {v!r} {res['units'][n]}")
    if not args.trace:
        print(f"{ITEM_METRIC[res['item']]} = {m['items_per_s']!r} {res['item']}/s")
    print(f"error_rate = {res['failed'] / res['attempted']!r} failed/attempted")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": v, "unit": res["units"][n]} for n, v in m.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point.

    python3 perfbench/run.py --workload {feed_cycle,curation_funnel,user_filters,all}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Builds the workload's inputs from the
seed, starts the engine's session on local[nproc], runs the workload's
operations closed-loop until S seconds of operation time are measured,
checks every output, stops every process it started, and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` the per-layer metrics from spans around each call into the
engine, each layer's self time, and the tracing overhead.  A readable
report goes to stderr; the run record (machine, heap, versions, seed,
every operation time; traced: every span) goes to
``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from statistics import median

import harness as h
from curation_funnel import STAGES
from spans import NO_TRACE, Tracer

# Every workload reports every metric; an "operation" is one cron cycle
# (feed_cycle), one funnel (curation_funnel) or one query (user_filters), and
# a "row" is a feed entry, a document entering the funnel, or a stage-table
# row scanned.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_ms_p50": ("ms", "lower"),
    "rows_per_s": ("1/s", "higher"),
    "stored_bytes_per_row": ("B", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "ok_rate": ("ratio", "higher"),
}

LAYERS = [
    "session",
    "sources.rss",
    "operators.filters",
    "operators.dedup",
    "operators.merges",
    "sources.parquet",
    "plans.filter_pipeline",
    "cli",
    "plans.curation_pipeline",
]
# name -> (unit, which direction is better); counts of rows a layer passes
# on are properties of the input and are listed as "higher" (more work done)
NAMED = {
    "session.start_s": ("s", "lower"),
    "rss.fetch_parse_s": ("s", "lower"),
    "rss.clean_s": ("s", "lower"),
    "rss.entries_out": ("count", "higher"),
    "rss.feeds_failed": ("count", "lower"),
    "rss.core_util": ("ratio", "higher"),
    "dedup.keep_last_s": ("s", "lower"),
    "dedup.rows_dropped": ("count", "higher"),
    "merges.scd1_s": ("s", "lower"),
    "merges.rows_updated": ("count", "higher"),
    "merges.rows_inserted": ("count", "higher"),
    "merges.shuffle_write_bytes": ("B", "lower"),
    "parquet.read_s": ("s", "lower"),
    "parquet.write_s": ("s", "lower"),
    "parquet.bytes_written": ("B", "lower"),
    "parquet.files_written": ("count", "lower"),
    "parquet.partitions_touched": ("count", "lower"),
    "parquet.bytes_written_per_entry": ("B", "lower"),
    "filter.build_ms": ("ms", "lower"),
    "filter.exec_ms": ("ms", "lower"),
    "filter.rows_out": ("count", "higher"),
    "filter.files_read": ("count", "lower"),
    "filter.bytes_read": ("B", "lower"),
    "filter.rows_read_per_row_out": ("ratio", "lower"),
    "cli.etl_s": ("s", "lower"),
    "cli.filter_s": ("s", "lower"),
    **{f"curation.{st}_s": ("s", "lower") for st in STAGES + ["s6_pack_scorecard"]},
    "curation.kept_fraction": ("ratio", "higher"),
    "curation.shuffle_write_bytes": ("B", "lower"),
    "curation.spill_bytes": ("B", "lower"),
}
PER_LAYER = {
    **NAMED,
    **{f"self_s.{layer}": ("s", "lower") for layer in LAYERS},
    **{f"jobs.{layer}": ("count", "lower") for layer in LAYERS},
    **{f"tasks.{layer}": ("count", "lower") for layer in LAYERS},
    **{f"core_util.{layer}": ("ratio", "higher") for layer in LAYERS},
    "trace.op_s_untraced": ("s", "lower"),
    "trace.op_s_traced": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}
WORKLOADS = ["feed_cycle", "curation_funnel", "user_filters"]


class Context:
    def __init__(self, args, run_dir: str, box: dict):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.box = box
        self.tracer = NO_TRACE

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def end_to_end(res: dict, setup_s: float) -> dict:
    loop = res["loop"]
    ops = loop.op_s
    return {
        "setup_s": setup_s,
        "op_ms_p50": median(ops) * 1000,
        "rows_per_s": res["rows"] / sum(ops),
        "stored_bytes_per_row": res["stored_bytes_per_row"],
        "peak_rss_mb": loop.peak_rss_mb,
        "ok_rate": 1 - loop.failed / loop.attempted,
    }


def per_layer(res: dict, tracer: Tracer, session_start_s: float) -> dict:
    """Medians over the traced operations; 0 for layers the workload never
    calls."""
    rows = []
    traced_ops = sorted({s.op for s in tracer.spans})
    for op, named in zip(traced_ops, res["layers"]):
        row = dict(named)
        for layer, t in tracer.layer_totals(op).items():
            row[f"self_s.{layer}"] = t["self_s"]
            row[f"jobs.{layer}"] = t.get("jobs", 0)
            row[f"tasks.{layer}"] = t.get("tasks", 0)
            row[f"core_util.{layer}"] = t.get("core_util", 0.0)
        rows.append(row)
    out = {name: median([r.get(name, 0) for r in rows]) if rows else 0 for name in PER_LAYER}
    out["session.start_s"] = session_start_s
    out["self_s.session"] = session_start_s
    untraced, traced = median(res["loop"].op_s), median(res["loop"].traced_s)
    out["trace.op_s_untraced"] = untraced
    out["trace.op_s_traced"] = traced
    out["trace.overhead_s"] = traced - untraced
    return out


def versions(spark) -> dict:
    import pyspark

    return {
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def run_all(args) -> int:
    """Run every workload of BENCHMARK.json in its own process and print
    each one's metrics by name with their units."""
    with open(os.path.join(h.ROOT, "BENCHMARK.json")) as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    ok = True
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        if proc.returncode != 0:
            print(f"{name}: exit code {proc.returncode}")
            ok = False
            continue
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        ok = ok and res["correct"]
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
        for metric, m in res["metrics"].items():
            print(f"  {metric:34s} {m['value']:16.6g} {m['unit']}")
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument(
        "--workload",
        choices=WORKLOADS + ["all"],
        required=True,
        help="'all': every workload of BENCHMARK.json in turn, with a summary",
    )
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, h.ROOT)
    try:
        import rss_feed_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {h.ROOT}: {e}", file=sys.stderr)
        return 2

    box = h.machine()
    run_dir = os.path.join(h.WORK, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    h.configure(run_dir, box)
    ctx = Context(args, run_dir, box)
    try:
        spark, start_s = h.start_session()
        setup_s = h.process_age_s()
        try:
            if ctx.trace:
                ctx.tracer = Tracer(spark, box["nproc"])
            module = __import__(args.workload)
            t0 = time.perf_counter()
            res = module.run(spark, ctx)
            wall = time.perf_counter() - t0
            info = {**box, **versions(spark), "seed": args.seed, "workload": args.workload}
        finally:
            h.stop_session(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    loop = res["loop"]
    record = {**info, **res["info"], "setup_s": setup_s, "workload_wall_s": wall,
              "op_s": loop.op_s, "traced_s": loop.traced_s}
    if ctx.trace:
        metrics, units = per_layer(res, ctx.tracer, start_s), PER_LAYER
    else:
        metrics, units = end_to_end(res, setup_s), END_TO_END
    out_dir = os.path.join(h.WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    if ctx.trace:
        ctx.tracer.dump(os.path.join(out_dir, name), {"run": record, "metrics": metrics, "layers": res["layers"]})
    else:
        with open(os.path.join(out_dir, name), "w") as fh:
            json.dump({"run": record, "metrics": metrics}, fh, indent=1)
    ctx.log(json.dumps(record))
    for name, value in metrics.items():
        ctx.log(f"{name:34s} {value:16.6g} {units[name][0]}")
    print(
        json.dumps(
            {
                "correct": loop.failed == 0,
                "attempted": loop.attempted,
                "failed": loop.failed,
                "metrics": {k: {"value": v, "unit": units[k][0]} for k, v in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

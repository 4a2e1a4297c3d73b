"""user_filters: many users' filter queries against one shared stage table,
closed loop, one client.

The stage table (~300k rows over ~90 days) is laid out at set-up by the
program's own ``sources.parquet.write_partitioned``, so layout changes show
here.  Each query reads the table afresh and runs
``plans.filter_pipeline.run_filter_pipeline`` with a seeded per-user config,
forced by one action that reads every output column and returns a count and
a checksum.  This is the read path: no writes, no Python UDFs.  The date
predicate is on ``published`` while the table is partitioned by
``ingest_date``, so a pruning or caching change shows here and on no other
workload.

Every query's count and checksum must equal DuckDB's over the same files.
"""

from __future__ import annotations

import os
import time

import duckdb
import pyarrow.parquet as papq

import gen
import harness as h
from spans import NO_TRACE

TS = {"published", "AS_OF_DT"}


def query(spark, stage_path: str, spec: gen.FilterSpec, tr):
    """One user's query: read the table, build the plan, force it with one
    action.  Returns (checksum, the forced DataFrame)."""
    from rss_feed_etl_spark.plans.filter_pipeline import run_filter_pipeline
    from rss_feed_etl_spark.sources import parquet as pq

    with tr.span("sources.parquet", "read_table"):
        stage = pq.read_table(spark, stage_path)
    with tr.span("plans.filter_pipeline", "build"):
        out = run_filter_pipeline(
            stage,
            existing=None,
            as_of=gen.USER_AS_OF,
            days_back=spec.days_back,
            content_cols=spec.content_cols,
            exclude_keywords=spec.exclude,
        )
        agg = h.checksum_df(out, gen.FILTERED_COLS, TS)
    with tr.span("plans.filter_pipeline", "exec"):
        ck = h.collect_checksum(agg)
    return ck, agg


def oracle(con, stage_path: str, spec: gen.FilterSpec) -> tuple[int, int, int]:
    """DuckDB's answer to the same query over the same files."""
    where = [
        f"published >= TIMESTAMP '{gen.USER_AS_OF}' - INTERVAL {int(spec.days_back)} DAY",
        *[f"({c} IS NOT NULL AND trim({c}) NOT IN ('', 'nan'))" for c in spec.content_cols],
    ]
    for col, kws in spec.exclude.items():
        if kws:
            hits = " OR ".join(f"contains(lower({col}), '{k.lower()}')" for k in kws)
            where.append(f"NOT coalesce({hits}, false)")
    src = (
        f"(SELECT *, TIMESTAMP '{gen.USER_AS_OF}' AS AS_OF_DT FROM {h.parquet_glob(stage_path)} "
        f"WHERE {' AND '.join(where)})"
    )
    return h.duck_checksum(con, src, gen.FILTERED_COLS, TS)


def run(spark, ctx) -> dict:
    from rss_feed_etl_spark.sources import parquet as pq

    stage_path = os.path.join(ctx.run_dir, "stage")
    src = os.path.join(ctx.run_dir, "stage_src.parquet")
    table = gen.stage_table(ctx.seed)
    papq.write_table(table, src)
    pq.write_partitioned(spark.read.parquet(src), stage_path, ts_col="published")
    os.remove(src)
    n_rows = table.num_rows
    del table

    specs = gen.user_filter_specs(ctx.seed, 4000)
    for spec in specs[-3:]:  # warm-up: JIT, the OS file cache
        query(spark, stage_path, spec, NO_TRACE)

    results, layers = [], []

    def one(traced: bool, index: int) -> tuple[float, bool]:
        spec = specs[index % (len(specs) - 3)]
        t0 = time.perf_counter()
        ck, agg = query(spark, stage_path, spec, ctx.tracer if traced else NO_TRACE)
        dt = time.perf_counter() - t0
        results.append((index, spec, ck))
        if traced:
            layers.append(layer_metrics(ctx.tracer, index, agg, ck[0]))
        return dt, True  # checked against DuckDB after the loop

    loop = h.closed_loop(ctx, one)
    con = duckdb.connect()
    for index, spec, ck in results:
        want = oracle(con, stage_path, spec)
        if ck != want:
            loop.failed += 1
            ctx.log(f"query {index}: checksum {ck} != DuckDB {want}")
    return {
        "loop": loop,
        "rows": n_rows * len(loop.op_s),
        "stored_bytes_per_row": h.stored_bytes(stage_path) / n_rows,
        "layers": layers,
        "info": {"queries": len(results), "stage_rows": n_rows},
    }


def layer_metrics(tr, op: int, agg, rows_out: int) -> dict:
    call = {(s.layer, s.call): s for s in tr.spans if s.op == op}
    exec_span = call[("plans.filter_pipeline", "exec")]
    return {
        "parquet.read_s": call[("sources.parquet", "read_table")].seconds,
        "filter.build_ms": call[("plans.filter_pipeline", "build")].seconds * 1000,
        "filter.exec_ms": exec_span.seconds * 1000,
        "filter.rows_out": rows_out,
        "filter.files_read": h.scan_files(agg),
        "filter.bytes_read": exec_span.spark["input_bytes"],
        "filter.rows_read_per_row_out": exec_span.spark["input_records"] / max(1, rows_out),
    }

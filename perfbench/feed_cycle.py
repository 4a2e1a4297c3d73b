"""feed_cycle: back-to-back cron cycles of the reference job, closed loop,
one cycle at a time.

A cycle is ``cli.run_etl_from_config`` (fetch ~200 ``file://`` RSS feeds,
clean, SCD1-merge into the date-partitioned stage table) followed by
``cli.run_filter_from_config`` (append mode).  The cycles merge into a
pre-seeded history of about twenty batches over ~90 days.  This is the
write-heavy path: RSS parse + HTML clean in Python workers, the merge, and
the incremental partition writes.

With tracing on, every other cycle is rebuilt from the layer functions in
the order ``cli`` calls them, each boundary forced, each call in its own
span; the cycles in between run through ``cli`` untraced, so the run also
yields the tracing overhead.  Every cycle of either kind must leave tables
whose checksums equal the expected state.
"""

from __future__ import annotations

import os
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as papq

import gen
import harness as h

TS_STAGE = {"published"}
TS_FILTERED = {"published", "AS_OF_DT"}


def _write_inputs(spark, world: gen.FeedWorld, tables: str) -> None:
    from rss_feed_etl_spark.sources import parquet as pq

    cfg_dir = os.path.join(tables, "feeds_config")
    os.makedirs(cfg_dir)
    names = ["title", "reader", "time", "url", "worksheet_name", "job_title"]
    cols = list(zip(*world.config_rows()))
    papq.write_table(pa.table({n: list(c) for n, c in zip(names, cols)}), os.path.join(cfg_dir, "part-0.parquet"))

    src = os.path.join(os.path.dirname(tables), "history_src.parquet")  # no leading "_": Spark skips those
    rows = list(zip(*world.history))
    data = {c: list(v) for c, v in zip(gen.STAGE_COLS, rows)}
    data["published"] = pa.array(
        [gen.datetime.strptime(v, gen.TS_FMT) for v in data["published"]], pa.timestamp("us", tz="UTC")
    )
    papq.write_table(pa.table(data), src)
    # the program's own partitioned writer lays out the pre-seeded history
    pq.write_partitioned(spark.read.parquet(src), os.path.join(tables, "stage"), ts_col="published")
    os.remove(src)


def _config(tables: str):
    from rss_feed_etl_spark.config import parse_config

    spec = gen.FEED_CYCLE_FILTER
    return parse_config(
        {
            "etl": {"loading_strategy": "scd1"},
            "job_filter": {"loading_mode": "append", "add_as_of_dt": True, **spec.as_config()},
            "storage": {"root": tables},
        }
    )


def cli_cycle(spark, cfg, as_of: str) -> None:
    from rss_feed_etl_spark import cli

    cli.run_etl_from_config(spark, cfg, as_of=as_of)
    cli.run_filter_from_config(spark, cfg, as_of=as_of)


def traced_cycle(spark, cfg, as_of: str, tr) -> dict:
    """The cycle ``cli`` runs, rebuilt from the layer functions with every
    boundary forced.  Returns the per-cycle counts."""
    from pyspark.sql.utils import AnalysisException

    from rss_feed_etl_spark.operators.dedup import dedup_by_key
    from rss_feed_etl_spark.operators.filters import validate_keys
    from rss_feed_etl_spark.operators.merges import merge_scd1, sort_output
    from rss_feed_etl_spark.plans.filter_pipeline import run_filter_pipeline
    from rss_feed_etl_spark.schemas import FEEDS_CONFIG_SCHEMA, STAGE_SCHEMA
    from rss_feed_etl_spark.sources import parquet as pq
    from rss_feed_etl_spark.sources.rss import clean_entries, fetch_feeds, file_fetcher, read_feeders

    stor, filt = cfg.storage, cfg.job_filter
    stage_path = stor.table_path(cfg.etl.target_table)
    out_path = stor.table_path(filt.output_table)
    c: dict = {}
    with tr.span("cli", "etl"):
        config_df = spark.read.schema(FEEDS_CONFIG_SCHEMA).parquet(stor.table_path(cfg.etl.config_table))
        with tr.span("sources.parquet", "read_history"):
            history = pq.read_or_empty(spark, stage_path, STAGE_SCHEMA)
            history = history.localCheckpoint(eager=True)
        with tr.span("sources.rss", "fetch_feeds"):
            feeders = read_feeders(config_df)
            raw = fetch_feeds(spark, feeders, file_fetcher).localCheckpoint(eager=True)
        with tr.span("sources.rss", "clean_entries"):
            batch = clean_entries(raw, tz=cfg.etl.timezone, now=as_of).localCheckpoint(eager=True)
        with tr.span("operators.filters", "validate_keys"):
            valid = validate_keys(batch, "link").localCheckpoint(eager=True)
        with tr.span("operators.dedup", "dedup_by_key"):
            deduped = dedup_by_key(valid, "link", ["published"], keep="last").localCheckpoint(eager=True)
        with tr.span("operators.merges", "merge_scd1"):
            merged = sort_output(merge_scd1(deduped, history, key="link")).localCheckpoint(eager=True)
        n_history = history.count()
        changed = merged.exceptAll(history.select(*merged.columns))
        before = h.snapshot(stage_path)
        with tr.span("sources.parquet", "write_stage"):
            if n_history > 0:
                pq.write_partitioned_incremental(merged, changed, history, stage_path, ts_col="published")
            else:
                pq.write_partitioned(merged, stage_path, ts_col="published")
        w_stage = h.written(before, h.snapshot(stage_path))
    with tr.span("cli", "filter"):
        stage = spark.read.parquet(stage_path).drop("ingest_date")
        try:
            existing = spark.read.parquet(out_path).drop("ingest_date")
        except AnalysisException:
            existing = None
        with tr.span("plans.filter_pipeline", "build"):
            result = run_filter_pipeline(
                stage,
                existing=existing,
                as_of=as_of,
                days_back=filt.days_back,
                content_cols=filt.require_content,
                exclude_keywords=filt.exclude_by_column,
            )
        with tr.span("plans.filter_pipeline", "exec") as exec_span:
            checkpointed = result.localCheckpoint(eager=True)
        files_read = h.scan_files(result)
        before = h.snapshot(out_path)
        with tr.span("sources.parquet", "write_filtered"):
            if existing is not None:
                changed_out = checkpointed.exceptAll(existing.select(*checkpointed.columns))
                pq.write_partitioned_incremental(
                    checkpointed, changed_out, existing, out_path, ts_col=filt.date_column
                )
            else:
                pq.write_partitioned(checkpointed, out_path, ts_col=filt.date_column)
        w_out = h.written(before, h.snapshot(out_path))
    # counts, outside every span
    n_batch, n_deduped = batch.count(), deduped.count()
    inserted = deduped.join(history.select("link"), "link", "left_anti").count()
    n_out = checkpointed.count()
    c["rss.entries_out"] = n_batch
    c["rss.feeds_failed"] = len(feeders) - raw.select("feed_title").distinct().count()
    c["dedup.rows_dropped"] = n_batch - n_deduped
    c["merges.rows_inserted"] = inserted
    c["merges.rows_updated"] = n_deduped - inserted
    c["parquet.bytes_written"] = w_stage.bytes + w_out.bytes
    c["parquet.files_written"] = w_stage.files + w_out.files
    c["parquet.partitions_touched"] = len(w_stage.partitions) + len(w_out.partitions)
    c["parquet.bytes_written_per_entry"] = c["parquet.bytes_written"] / max(1, n_batch)
    c["filter.rows_out"] = n_out
    c["filter.files_read"] = files_read
    c["filter.bytes_read"] = exec_span.spark.get("input_bytes", 0)
    c["filter.rows_read_per_row_out"] = exec_span.spark.get("input_records", 0) / max(1, n_out)
    return c


def run(spark, ctx) -> dict:
    tables = os.path.join(ctx.run_dir, "tables")
    world = gen.FeedWorld(ctx.seed, ctx.run_dir)
    _write_inputs(spark, world, tables)
    cfg = _config(tables)
    stage_path = os.path.join(tables, "stage")
    out_path = os.path.join(tables, "filtered")
    model = gen.StageModel(world.history)
    fmodel = gen.FilteredModel()
    con = duckdb.connect()
    spec = gen.FEED_CYCLE_FILTER

    def check() -> bool:
        got_stage = h.duck_checksum(con, h.parquet_glob(stage_path), gen.STAGE_COLS, TS_STAGE)
        got_out = h.duck_checksum(con, h.parquet_glob(out_path), gen.FILTERED_COLS, TS_FILTERED)
        return got_stage == model.checksum() and got_out == fmodel.checksum()

    entries, layers, checks = [], [], []
    cycle = 0

    def one(traced: bool, index: int) -> tuple[float, bool]:
        nonlocal cycle
        ci = world.cycle(cycle)
        cycle += 1
        t0 = time.perf_counter()
        if traced:
            counts = traced_cycle(spark, cfg, ci.as_of, ctx.tracer)
        else:
            cli_cycle(spark, cfg, ci.as_of)
        dt = time.perf_counter() - t0
        model.apply(ci.batch)
        fmodel.apply(model, ci.as_of, spec)
        ok = check()
        checks.append({"cycle": ci.index, "traced": traced, "stage": model.checksum(),
                       "filtered": fmodel.checksum(), "ok": ok})
        if not ok:
            ctx.log(f"cycle {ci.index}: table checksums differ from the expected state")
        if traced:
            layers.append(layer_metrics(ctx.tracer, index, counts))
        elif index >= 0:
            entries.append(ci.entries_delivered)
        return dt, ok

    _, warm_ok = one(False, -1)  # warm-up: JIT, Python workers, creates the output table
    loop = h.closed_loop(ctx, one)
    loop.count_warm_up(warm_ok)
    live_rows = model.checksum()[0]
    stored = h.stored_bytes(stage_path) + h.stored_bytes(out_path)
    return {
        "loop": loop,
        "rows": sum(entries),
        "stored_bytes_per_row": stored / live_rows,
        "layers": layers,
        "info": {"live_stage_rows": live_rows, "history_rows": len(world.history), "cycles": checks},
    }


def layer_metrics(tr, op: int, counts: dict) -> dict:
    """The named per-layer metrics of one traced cycle."""
    call = {(s.layer, s.call): s for s in tr.spans if s.op == op}
    rss = [call[("sources.rss", "fetch_feeds")], call[("sources.rss", "clean_entries")]]
    rss_wall = sum(s.seconds for s in rss)
    return {
        **counts,
        "rss.fetch_parse_s": rss[0].seconds,
        "rss.clean_s": rss[1].seconds,
        "rss.core_util": sum(s.spark["executor_run_ms"] for s in rss) / 1000 / (rss_wall * tr.cores),
        "dedup.keep_last_s": call[("operators.dedup", "dedup_by_key")].seconds,
        "merges.scd1_s": call[("operators.merges", "merge_scd1")].seconds,
        "merges.shuffle_write_bytes": call[("operators.merges", "merge_scd1")].spark["shuffle_write_bytes"],
        "parquet.read_s": call[("sources.parquet", "read_history")].seconds,
        "parquet.write_s": call[("sources.parquet", "write_stage")].seconds
        + call[("sources.parquet", "write_filtered")].seconds,
        "filter.build_ms": call[("plans.filter_pipeline", "build")].seconds * 1000,
        "filter.exec_ms": call[("plans.filter_pipeline", "exec")].seconds * 1000,
        "cli.etl_s": call[("cli", "etl")].seconds,
        "cli.filter_s": call[("cli", "filter")].seconds,
    }

"""curation_funnel: the training-data curation capstone, run back to back
after warm-up.

A seeded ``documents.parquet`` / ``embeddings.parquet`` pair in the schema of
the engine's test data is written to a directory and run through the
registered ``curation_pipeline`` query, which plants exact and near
duplicates, eval leaks and semantic leaks before the funnel.  This is the
shuffle- and compute-heavy batch path: the dedup, sampling, textstats and
packing operators do nearly all the work; RSS, the table writes and the
filter plan do none.

Every funnel's scorecard must equal the registered DuckDB oracle's over the
same directory.
"""

from __future__ import annotations

import os
import threading
import time

import duckdb
import pyarrow.parquet as papq

import gen
import harness as h

# A funnel is ~60 small Spark jobs, so its time depends on how far the JIT
# has compiled the planner: it keeps falling over the first few funnels of a
# process.  Timing starts after it has mostly levelled off.
WARM_UPS = 3
STAGES = ["s1_quality", "s2_exact", "s3_near", "s4_decontam", "s5_semantic", "s5b_clean_tokens"]


def _rows(rows) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


def run(spark, ctx) -> dict:
    from rss_feed_etl_spark import driver_queries as dq
    from rss_feed_etl_spark.driver_queries_wave107 import _q_curation

    corpus = os.path.join(ctx.run_dir, "corpus")
    os.makedirs(corpus)
    docs, emb = gen.corpus_tables(ctx.seed)
    papq.write_table(docs, os.path.join(corpus, "documents.parquet"))
    papq.write_table(emb, os.path.join(corpus, "embeddings.parquet"))
    n_docs = docs.num_rows

    # The oracle runs in DuckDB while Spark warms up; neither is timed.
    expected: dict = {}

    def oracle() -> None:
        con = duckdb.connect()
        con.execute(f"SET threads = {max(1, ctx.box['nproc'] // 2)}")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
        expected["rows"] = _rows(con.execute(dq.oracle_sql()["curation_pipeline"]).fetchall())

    worker = threading.Thread(target=oracle)
    worker.start()
    query = dq.queries()["curation_pipeline"]
    warm = [_rows(query(spark, corpus).collect()) for _ in range(WARM_UPS)]
    worker.join()
    want = expected["rows"]

    def same(got: list[tuple]) -> bool:
        if len(got) != len(want):
            return False
        for g, w in zip(got, want):
            # mix_weight is rounded to 6 places on both sides; compare it
            # within one unit of that rounding, everything else exactly
            if g[:8] != w[:8] or g[9:] != w[9:] or abs(g[8] - w[8]) > 1.5e-6:
                return False
        return True

    layers = []

    def one(traced: bool, index: int) -> tuple[float, bool]:
        stage_s: dict = {}
        t0 = time.perf_counter()
        if traced:
            with ctx.tracer.span("plans.curation_pipeline", "curation_pipeline") as sp:
                rows = _q_curation(spark, corpus, stage_timings=stage_s).collect()
        else:
            rows = query(spark, corpus).collect()
        dt = time.perf_counter() - t0
        got = _rows(rows)
        ok = same(got)
        if not ok:
            ctx.log(f"funnel {index}: scorecard differs from the oracle")
        if traced:
            layers.append(layer_metrics(sp, stage_s, got))
        return dt, ok

    loop = h.closed_loop(ctx, one)
    for rows in warm:
        loop.count_warm_up(same(rows))
    n_raw = sum(r[1] for r in want)
    return {
        "loop": loop,
        "rows": n_raw * len(loop.op_s),
        "stored_bytes_per_row": sum(
            os.path.getsize(os.path.join(corpus, f)) for f in os.listdir(corpus)
        ) / n_docs,
        "layers": layers,
        "info": {"documents": n_docs, "funnel_input_rows": n_raw},
    }


def layer_metrics(span, stage_s: dict, scorecard: list[tuple]) -> dict:
    out = {f"curation.{k}_s": stage_s.get(k, 0.0) for k in STAGES}
    out["curation.s6_pack_scorecard_s"] = span.seconds - sum(stage_s.values())
    out["curation.kept_fraction"] = sum(r[6] for r in scorecard) / sum(r[1] for r in scorecard)
    out["curation.shuffle_write_bytes"] = span.spark["shuffle_write_bytes"]
    out["curation.spill_bytes"] = span.spark["memory_spill_bytes"] + span.spark["disk_spill_bytes"]
    return out

"""RSS source (stub fetcher), ETL pipeline, streaming foreachBatch merge,
multimodal stubs, enrichment operator."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from rss_feed_etl_spark.operators.enrichment import (
    deterministic_stub_client_factory,
    llm_match_scores,
)
from rss_feed_etl_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    decode_images,
    sample_frames,
)
from rss_feed_etl_spark.plans.enrichment_pipeline import run_enrichment
from rss_feed_etl_spark.plans.etl_pipeline import run_etl
from rss_feed_etl_spark.schemas import STAGE_SCHEMA
from rss_feed_etl_spark.sources.rss import (
    RAW_ENTRY_SCHEMA,
    clean_entries,
    fetch_feeds,
    parse_feed_xml,
    read_feeders,
)
from rss_feed_etl_spark.streaming.incremental import (
    incremental_scd1,
    read_stage_stream,
    windowed_event_counts,
)

RSS_XML = """<?xml version="1.0"?>
<rss version="2.0"><channel><title>Jobs Feed</title>
<item><title>Data Engineer</title><link>http://x/1</link>
<pubDate>Mon, 20 May 2024 10:00:00 +0000</pubDate>
<description>&lt;p&gt;Great &lt;b&gt;Spark&lt;/b&gt;   job&lt;/p&gt;</description></item>
<item><title>Analyst</title><link>http://x/2</link>
<pubDate>not a date</pubDate>
<description>SQL role</description></item>
</channel></rss>"""

ATOM_XML = """<?xml version="1.0"?>
<feed xmlns="http://www.w3.org/2005/Atom"><title>Atom Feed</title>
<entry><title>ML Engineer</title><link href="http://y/1"/>
<published>2024-05-21T08:00:00</published>
<summary>PyTorch job</summary></entry>
</feed>"""


def test_parse_feed_xml_rss_and_atom():
    rss = parse_feed_xml(RSS_XML)
    assert len(rss) == 2
    assert rss[0]["link"] == "http://x/1"
    atom = parse_feed_xml(ATOM_XML)
    assert len(atom) == 1
    assert atom[0]["entry_title"] == "ML Engineer"
    assert parse_feed_xml("not xml at all") == []


@pytest.fixture()
def config_df(spark):
    rows = [
        ("Jobs", "rss.app", "15min", "http://feed/rss", "StageData", "Engineer"),
        ("Atom", "rss.app", "15min", "http://feed/atom", "StageData", ""),
        ("Blank", "rss.app", "15min", "", "StageData", ""),  # skipped
    ]
    return spark.createDataFrame(
        rows, "title string, reader string, time string, url string, worksheet_name string, job_title string"
    )


def make_stub_fetcher():
    # defined as a closure so cloudpickle ships it by VALUE — module-level
    # test functions are pickled by reference to a module Spark's python
    # workers cannot import
    rss_xml, atom_xml = RSS_XML, ATOM_XML

    def stub_fetcher(url: str) -> str:
        if url.endswith("atom"):
            return atom_xml
        if url.endswith("rss"):
            return rss_xml
        raise OSError("unreachable feed")

    return stub_fetcher


def test_read_feeders_skips_blank(config_df):
    feeders = read_feeders(config_df)
    assert len(feeders) == 2
    assert feeders[0].effective_job_title == "Engineer"
    assert feeders[1].effective_job_title == "Atom"


def test_etl_pipeline_end_to_end(spark, config_df):
    history = spark.createDataFrame(
        [("Old", "http://x/1", "Data Engineer OLD", dt.datetime(2024, 5, 1), "Jobs Feed", "r", "t", "old summary", "keep-me")],
        STAGE_SCHEMA,
    )
    out = run_etl(
        spark, config_df, history, fetcher=make_stub_fetcher(), strategy="scd1",
        now="2024-05-22 00:00:00",
    )
    rows = {r["link"]: r.asDict() for r in out.collect()}
    assert set(rows) == {"http://x/1", "http://x/2", "http://y/1"}
    # HTML cleaned + whitespace collapsed
    assert rows["http://x/1"]["summary"] == "Great Spark job"
    # notes preserved from history on blank new notes
    assert rows["http://x/1"]["notes"] == "keep-me"
    # unparseable pubDate defaulted to now
    assert rows["http://x/2"]["published"] == dt.datetime(2024, 5, 22)
    # RFC-822 date parsed
    assert rows["http://x/1"]["published"] == dt.datetime(2024, 5, 20, 10, 0)


def test_rss_source_is_one_python_pass_per_core(spark, config_df):
    """Fetch, parse and HTML clean run in ONE Python stage whose task count
    follows the session's parallelism: no second Python stage for the
    summary clean and no shuffle ahead of the fetch."""
    batch = clean_entries(
        fetch_feeds(spark, read_feeders(config_df), make_stub_fetcher()),
        now="2024-05-22 00:00:00",
    )
    qe = batch._jdf.queryExecution()
    logical = qe.optimizedPlan().toString()
    assert sum("MapInPandas" in line for line in logical.splitlines()) == 1
    assert "ArrowEvalPython" not in logical
    assert "BatchEvalPython" not in logical
    assert "Exchange" not in qe.executedPlan().toString()
    assert batch.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism


def test_fetch_feeds_with_no_feeders_is_empty_and_keeps_history(spark):
    blank = spark.createDataFrame(
        [("Blank", "rss.app", "15min", " ", "StageData", "")],
        "title string, reader string, time string, url string, worksheet_name string, job_title string",
    )
    assert read_feeders(blank) == []
    raw = fetch_feeds(spark, [], make_stub_fetcher())
    assert raw.schema == RAW_ENTRY_SCHEMA
    assert raw.count() == 0
    history = spark.createDataFrame(
        [
            ("Old", "http://x/1", "Data Engineer", dt.datetime(2024, 5, 1), "Jobs Feed", "r", "t", "s1", "keep-me"),
            ("Old", "http://x/9", "Analyst", dt.datetime(2024, 5, 2), "Jobs Feed", "r", "t", "s2", ""),
        ],
        STAGE_SCHEMA,
    )
    out = run_etl(
        spark, blank, history, fetcher=make_stub_fetcher(), strategy="scd1",
        now="2024-05-22 00:00:00",
    )
    assert sorted(out.dtypes) == sorted(history.dtypes)
    assert sorted(out.select(*history.columns).collect()) == sorted(history.collect())


def test_streaming_incremental_scd1(spark, tmp_path):
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    batch1 = spark.createDataFrame(
        [("Eng", "L1", "t1", dt.datetime(2024, 5, 1), "f", "r", "w", "s1", "n1"),
         ("Eng", "L2", "t2", dt.datetime(2024, 5, 2), "f", "r", "w", "s2", "")],
        STAGE_SCHEMA,
    )
    batch1.write.mode("append").parquet(landing)
    stream = read_stage_stream(spark, landing, STAGE_SCHEMA)
    q = incremental_scd1(stream, target, ckpt)
    q.awaitTermination(120)
    t1 = {r["link"]: r.asDict() for r in spark.read.parquet(target).collect()}
    assert set(t1) == {"L1", "L2"}

    # second micro-batch: L2 updated (blank notes → none to preserve), L3 new
    batch2 = spark.createDataFrame(
        [("Eng", "L2", "t2-v2", dt.datetime(2024, 5, 3), "f", "r", "w", "s2b", ""),
         ("Eng", "L3", "t3", dt.datetime(2024, 5, 4), "f", "r", "w", "s3", "")],
        STAGE_SCHEMA,
    )
    batch2.write.mode("append").parquet(landing)
    q2 = incremental_scd1(read_stage_stream(spark, landing, STAGE_SCHEMA), target, ckpt)
    q2.awaitTermination(120)
    t2 = {r["link"]: r.asDict() for r in spark.read.parquet(target).collect()}
    assert set(t2) == {"L1", "L2", "L3"}
    assert t2["L2"]["entry_title"] == "t2-v2"
    assert t2["L1"]["notes"] == "n1"


def test_windowed_counts_batch_semantics(spark):
    # run the same aggregation expression in batch mode to pin semantics
    df = spark.createDataFrame(
        [("f1", dt.datetime(2024, 5, 1, 1)), ("f1", dt.datetime(2024, 5, 1, 23)),
         ("f2", dt.datetime(2024, 5, 2, 5))],
        "feed_title string, published timestamp",
    )
    out = (
        df.groupBy(F.window("published", "1 day"), "feed_title")
        .agg(F.count("*").alias("n_entries"))
        .collect()
    )
    got = {(r["feed_title"], r["window"]["start"].day): r["n_entries"] for r in out}
    assert got == {("f1", 1): 2, ("f2", 2): 1}


@pytest.fixture()
def media_df(spark):
    rows = [
        (1, "image", b"img-one-bytes", ("png", None, None, None)),
        (2, "image", b"img-two-bytes", ("jpg", None, None, None)),
        (3, "video", b"vid-bytes", ("mp4", None, None, 3500)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_images_stub(media_df):
    out = {r["media_id"]: r.asDict() for r in decode_images(media_df).collect()}
    assert set(out) == {1, 2}
    for r in out.values():
        assert 1 <= r["width"] <= 1920 and 1 <= r["height"] <= 1080
        assert len(r["embedding"]) == 16
    # deterministic: same input bytes → same fake decode
    again = {r["media_id"]: r.asDict() for r in decode_images(media_df).collect()}
    assert out == again


def test_decode_images_strict_raises(media_df):
    import pytest as _pytest

    with _pytest.raises(Exception, match="NotImplementedError|PIL"):
        decode_images(media_df, strict=True).collect()


def test_sample_frames_stub(media_df):
    frames = sample_frames(media_df, every_ms=1000).collect()
    assert len(frames) == 3  # 3500ms // 1000
    assert sorted(f["frame_idx"] for f in frames) == [0, 1, 2]


def test_enrichment_operator(spark):
    stage = spark.createDataFrame(
        [("Eng", "L1", "t", dt.datetime(2024, 5, 22, 10), "f", "r", "w", "spark join row", ""),
         ("Eng", "L2", "t", dt.datetime(2024, 5, 22, 11), "f", "r", "w", "cobol stuff", ""),
         ("Eng", "L3", "t", dt.datetime(2024, 5, 1), "f", "r", "w", "old row", "")],
        STAGE_SCHEMA,
    )
    factory = deterministic_stub_client_factory(
        lexicon=["spark", "join", "cobol"], resume_skills=["spark", "join"]
    )
    out = run_enrichment(
        stage, "resume text", factory, as_of="2024-05-23 00:00:00", hours_back=24
    )
    rows = {r["link"]: r.asDict() for r in out.collect()}
    assert set(rows) == {"L1", "L2"}  # L3 outside 24h window
    assert rows["L1"]["match_percentage"] == 100.0
    assert rows["L1"]["matched_skills"] == ["join", "spark"]
    assert rows["L2"]["match_percentage"] == 0.0
    assert rows["L2"]["missing_skills"] == ["cobol"]


def test_enrichment_batch_chunking(spark):
    # 7 rows with batch_size 3 → chunks of 3/3/1; results must still align
    rows = [("Eng", f"L{i}", "t", dt.datetime(2024, 5, 22, 10), "f", "r", "w",
             f"spark doc{i}", "") for i in range(7)]
    stage = spark.createDataFrame(rows, STAGE_SCHEMA).coalesce(1)
    factory = deterministic_stub_client_factory(["spark"], ["spark"])
    out = llm_match_scores(stage, "resume", factory, batch_size=3)
    assert out.count() == 7
    assert all(r["match_percentage"] == 100.0 for r in out.collect())


def test_csv_roundtrip_drops_blank_descriptions(spark, tmp_path):
    from rss_feed_etl_spark.sources.csvio import read_descriptions_csv, write_csv

    df = spark.createDataFrame(
        [("1", "desc one"), ("2", ""), ("3", "nan"), ("4", "real text")],
        "id string, description string",
    )
    path = str(tmp_path / "jobs_csv")
    write_csv(df, path)
    back = read_descriptions_csv(spark, path)
    assert {r.id for r in back.collect()} == {"1", "4"}


def test_jsonl_roundtrip_quarantines_corrupt_lines(spark, tmp_path):
    import os

    from pyspark.sql import types as T

    from rss_feed_etl_spark.sources.jsonio import (
        CORRUPT_COL,
        jsonl_to_parquet,
        read_jsonl,
        write_jsonl,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame([(1, "alpha", 0.5), (2, "beta", 1.5)], schema)
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(df, path, compression=None)

    # drop a corrupt line into the directory as its own file (appending to
    # an existing part-file would invalidate its Hadoop .crc sidecar)
    with open(os.path.join(path, "part-corrupt.json"), "w") as fh:
        fh.write('{"id": 3, "text": "gamma", "score": NOT_JSON}\n')

    clean = read_jsonl(spark, path, schema)
    assert {r.id for r in clean.collect()} == {1, 2}
    assert CORRUPT_COL not in clean.columns

    kept = read_jsonl(spark, path, schema, keep_corrupt=True)
    bad = kept.filter(kept[CORRUPT_COL].isNotNull()).collect()
    assert len(bad) == 1 and "NOT_JSON" in bad[0][CORRUPT_COL]

    dest = str(tmp_path / "docs_parquet")
    jsonl_to_parquet(spark, path, dest, schema)
    back = spark.read.parquet(dest)
    assert sorted((r.id, r.text, r.score) for r in back.collect()) == [
        (1, "alpha", 0.5),
        (2, "beta", 1.5),
    ]


def test_streaming_watermark_drops_late_rows_across_restart(spark, tmp_path):
    """Append-mode windowed counts with a 1h watermark: a row arriving
    below the checkpointed watermark in a later run must NOT reopen its
    (already finalized) window."""
    from datetime import datetime

    from pyspark.sql import types as T

    from rss_feed_etl_spark.streaming.incremental import windowed_event_counts

    schema = T.StructType(
        [
            T.StructField("published", T.TimestampType()),
            T.StructField("feed_title", T.StringType()),
        ]
    )
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_batch(rows, batch_name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        stream = spark.readStream.format("parquet").schema(schema).load(landing)
        q = (
            windowed_event_counts(stream, ts_col="published", watermark="1 hour",
                                  window_len="1 hour", group_col="feed_title")
            .select("window.start", "n_entries")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    d = datetime
    # batch 1: two rows in the 10:00 window; 12:30 pushes watermark to 11:30
    run_batch(
        [
            (d(2024, 1, 1, 10, 0), "f"),
            (d(2024, 1, 1, 10, 30), "f"),
            (d(2024, 1, 1, 12, 30), "f"),
        ],
        "b1",
    )
    # batch 2: 10:15 is below the checkpointed watermark (late → dropped);
    # 14:30 moves the watermark to 13:30, past the 12:00 window's end, so
    # that window finalizes
    run_batch([(d(2024, 1, 1, 10, 15), "f"), (d(2024, 1, 1, 14, 30), "f")], "b2")

    got = {
        (r.start.hour, r.n_entries) for r in spark.read.parquet(out).collect()
    }
    assert (10, 2) in got          # finalized with only the on-time rows
    assert (10, 3) not in got      # the late row must not be counted
    assert (12, 1) in got          # later window finalized by batch 2


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Re-delivered keys inside the watermark horizon are suppressed,
    including across micro-batch runs sharing a checkpoint."""
    from datetime import datetime

    from pyspark.sql import types as T

    from rss_feed_etl_spark.streaming.incremental import dedup_stream

    schema = T.StructType(
        [
            T.StructField("link", T.StringType()),
            T.StructField("published", T.TimestampType()),
        ]
    )
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        stream = spark.readStream.format("parquet").schema(schema).load(landing)
        q = (
            dedup_stream(stream, key="link", ts_col="published", watermark="1 hour")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    d = datetime
    run_batch(
        [
            ("L1", d(2024, 1, 1, 10, 0)),
            ("L1", d(2024, 1, 1, 10, 20)),  # dup within batch → dropped
            ("L2", d(2024, 1, 1, 10, 30)),
        ]
    )
    # L1 re-delivered within the horizon in a LATER run → still dropped
    run_batch([("L1", d(2024, 1, 1, 10, 40)), ("L3", d(2024, 1, 1, 10, 50))])

    got = sorted(r.link for r in spark.read.parquet(out).collect())
    assert got == ["L1", "L2", "L3"]


def test_streaming_three_microbatches_equals_batch_fold(spark, tmp_path):
    """VERDICT r1 #9: ≥3 micro-batches through the foreachBatch SCD1 sink
    must land exactly where the batch merge_scd1 fold lands — closing the
    loop between §2.9 streaming and the oracle-checked batch merge."""
    from rss_feed_etl_spark.operators.dedup import dedup_by_key
    from rss_feed_etl_spark.operators.merges import merge_scd1

    landing = str(tmp_path / "landing")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")

    batches = [
        # batch 1: two keys, duplicate L1 within the batch (keep-last wins)
        [("Eng", "L1", "t1-a", dt.datetime(2024, 5, 1, 9), "f", "r", "w", "s1a", ""),
         ("Eng", "L1", "t1-b", dt.datetime(2024, 5, 1, 10), "f", "r", "w", "s1b", "note-1"),
         ("Eng", "L2", "t2", dt.datetime(2024, 5, 1, 11), "f", "r", "w", "s2", "")],
        # batch 2: L2 updated with blank notes, L3 new
        [("Eng", "L2", "t2-v2", dt.datetime(2024, 5, 2, 9), "f", "r", "w", "s2b", ""),
         ("Eng", "L3", "t3", dt.datetime(2024, 5, 2, 10), "f", "r", "w", "s3", "n3")],
        # batch 3: L1 updated (blank notes → history notes preserved),
        # L3 updated with new notes (new wins), L4 new
        [("Eng", "L1", "t1-v2", dt.datetime(2024, 5, 3, 9), "f", "r", "w", "s1c", ""),
         ("Eng", "L3", "t3-v2", dt.datetime(2024, 5, 3, 10), "f", "r", "w", "s3b", "n3-v2"),
         ("Eng", "L4", "t4", dt.datetime(2024, 5, 3, 11), "f", "r", "w", "s4", "")],
    ]

    for rows in batches:
        spark.createDataFrame(rows, STAGE_SCHEMA).write.mode("append").parquet(landing)
        q = incremental_scd1(read_stage_stream(spark, landing, STAGE_SCHEMA), target, ckpt)
        q.awaitTermination(120)

    streamed = spark.read.parquet(target)

    fold = None
    for rows in batches:
        b = dedup_by_key(
            spark.createDataFrame(rows, STAGE_SCHEMA), "link", ["published"], keep="last"
        )
        fold = b if fold is None else merge_scd1(b, fold, key="link")

    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, fold.collect()))
    got = {r["link"]: r.asDict() for r in streamed.collect()}
    assert got["L1"]["entry_title"] == "t1-v2"
    assert got["L1"]["notes"] == "note-1"  # preserved through TWO updates
    assert got["L3"]["notes"] == "n3-v2"  # new notes win over history
    assert set(got) == {"L1", "L2", "L3", "L4"}


def test_streaming_partitioned_sink_touches_only_batch_dates(spark, tmp_path):
    """partitioned=True foreachBatch sink: a micro-batch rewrites only the
    ingest-date partitions it touches, never the whole history."""
    landing = str(tmp_path / "landing")
    target = tmp_path / "target"
    ckpt = str(tmp_path / "ckpt")

    b1 = spark.createDataFrame(
        [("Eng", "L1", "t1", dt.datetime(2024, 5, 1, 9), "f", "r", "w", "s1", ""),
         ("Eng", "L2", "t2", dt.datetime(2024, 5, 2, 9), "f", "r", "w", "s2", "")],
        STAGE_SCHEMA,
    )
    b1.write.mode("append").parquet(landing)
    q = incremental_scd1(
        read_stage_stream(spark, landing, STAGE_SCHEMA), str(target), ckpt,
        partitioned=True,
    )
    q.awaitTermination(120)
    day1 = target / "ingest_date=2024-05-01"
    before = {f.name: f.stat().st_mtime_ns for f in day1.glob("*.parquet")}

    # batch 2: new key on a new date only
    b2 = spark.createDataFrame(
        [("Eng", "L3", "t3", dt.datetime(2024, 5, 3, 9), "f", "r", "w", "s3", "")],
        STAGE_SCHEMA,
    )
    b2.write.mode("append").parquet(landing)
    q2 = incremental_scd1(
        read_stage_stream(spark, landing, STAGE_SCHEMA), str(target), ckpt,
        partitioned=True,
    )
    q2.awaitTermination(120)

    out = spark.read.parquet(str(target))
    assert {r.link for r in out.collect()} == {"L1", "L2", "L3"}
    after = {f.name: f.stat().st_mtime_ns for f in day1.glob("*.parquet")}
    assert after == before  # untouched partition not rewritten


def test_resize_images_stub(media_df):
    from rss_feed_etl_spark.operators.multimodal import decode_images, resize_images

    dims = {r.media_id: (r.width, r.height) for r in decode_images(media_df).collect()}
    out = {r.media_id: r for r in resize_images(media_df, max_side=100).collect()}
    assert set(out) == {1, 2}
    for mid, r in out.items():
        w, h = dims[mid]
        scale = min(1.0, 100 / max(w, h))
        assert (r.width, r.height) == (max(1, int(w * scale)), max(1, int(h * scale)))
        assert max(r.width, r.height) <= 100
        assert isinstance(r.content, (bytes, bytearray)) and len(r.content) == 16


def test_resize_images_strict_raises(media_df):
    from rss_feed_etl_spark.operators.multimodal import resize_images

    with pytest.raises(Exception, match="NotImplementedError|PIL"):
        resize_images(media_df, strict=True).collect()


def test_streaming_dedup_ingest_equals_batch_dedup(spark, tmp_path):
    """foreachBatch deduped corpus ingest: three micro-batches with
    in-batch, cross-batch, and re-delivered duplicates must land exactly
    the batch-mode dedup_exact of the union (ids increase with arrival, so
    first-arrival == smallest-id and the two folds agree)."""
    from pyspark.sql import types as T

    from rss_feed_etl_spark.operators.dedup import dedup_exact
    from rss_feed_etl_spark.streaming.incremental import (
        incremental_dedup_ingest,
        read_stage_stream,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    batches = [
        [(1, "alpha body"), (2, "Alpha  body"), (3, "beta body")],  # in-batch dup
        [(4, "ALPHA BODY"), (5, "gamma body")],  # cross-batch dup vs corpus
        [(6, "beta body"), (5, "gamma body"), (7, "delta body")],  # re-delivery
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).write.mode("append").parquet(landing)
        q = incremental_dedup_ingest(
            read_stage_stream(spark, landing, schema), corpus, ckpt
        )
        q.awaitTermination(120)

    streamed = spark.read.parquet(corpus)
    union = None
    for rows in batches:
        b = spark.createDataFrame(rows, schema)
        union = b if union is None else union.unionByName(b)
    batch_mode = dedup_exact(union)

    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch_mode.collect())
    )
    assert sorted(r.doc_id for r in streamed.collect()) == [1, 3, 5, 7]


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """Watermarked stream-stream join: clicks joined to purchases within
    the window, fed as file micro-batches, must equal the same join run in
    batch mode once all data has arrived."""
    from pyspark.sql import types as T

    from rss_feed_etl_spark.streaming.joins import interval_stream_join

    c_schema = T.StructType(
        [
            T.StructField("user", T.LongType()),
            T.StructField("click_ts", T.TimestampType()),
            T.StructField("click_id", T.LongType()),
        ]
    )
    p_schema = T.StructType(
        [
            T.StructField("user", T.LongType()),
            T.StructField("buy_ts", T.TimestampType()),
            T.StructField("buy_id", T.LongType()),
        ]
    )
    t0 = dt.datetime(2024, 7, 1, 12, 0)
    clicks = [
        (1, t0, 100),
        (1, t0 + dt.timedelta(minutes=50), 101),
        (2, t0, 102),
        (3, t0, 103),
    ]
    buys = [
        (1, t0 + dt.timedelta(minutes=30), 200),  # joins click 100
        (1, t0 + dt.timedelta(minutes=70), 201),  # joins clicks 100(!)>60m? no: 70m>60m → only 101
        (2, t0 + dt.timedelta(minutes=90), 202),  # outside window for click 102
    ]
    cdir, pdir = str(tmp_path / "c"), str(tmp_path / "p")
    spark.createDataFrame(clicks, c_schema).write.parquet(cdir)
    spark.createDataFrame(buys, p_schema).write.parquet(pdir)

    cs = spark.readStream.schema(c_schema).parquet(cdir)
    ps = spark.readStream.schema(p_schema).parquet(pdir)
    joined = interval_stream_join(
        cs, ps, on="user", left_ts="click_ts", right_ts="buy_ts", max_delta_s=3600
    )
    out = str(tmp_path / "out")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        (r["click_id"], r["buy_id"]) for r in spark.read.parquet(out).collect()
    }
    cb = spark.createDataFrame(clicks, c_schema)
    pb = spark.createDataFrame(buys, p_schema)
    batch = cb.join(
        pb,
        (cb["user"] == pb["user"])
        & (pb["buy_ts"] >= cb["click_ts"])
        & (pb["buy_ts"] <= cb["click_ts"] + F.expr("INTERVAL 3600 SECONDS")),
    )
    expected = {(r["click_id"], r["buy_id"]) for r in batch.collect()}
    assert streamed == expected
    assert (100, 200) in streamed and (101, 201) in streamed
    assert all(b != 202 for _, b in streamed)


def test_incremental_stats_sink_folds_to_batch_equivalence(spark, tmp_path):
    import math

    from pyspark.sql import functions as F

    from rss_feed_etl_spark.streaming.incremental import incremental_stats_sink

    landing = tmp_path / "stats_landing"
    schema = "event_id long, event_type string, value double"
    batches = [
        [(1, "a", 10.25), (2, "a", 4.5), (3, "b", 7.0)],
        [(4, "a", 1.75), (5, "c", 2.0)],
        [(6, "b", 100.5), (7, "c", 3.25), (8, "c", 0.5)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(landing / f"b{i}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(landing / "*"))
    )
    agg_path = str(tmp_path / "stats_agg")
    q = incremental_stats_sink(
        stream, agg_path, str(tmp_path / "stats_ckpt")
    )
    q.awaitTermination(120)

    got = {r["event_type"]: r for r in spark.read.parquet(agg_path).collect()}
    union = spark.createDataFrame(
        [r for rows in batches for r in rows], schema
    )
    want = {
        r["event_type"]: r
        for r in union.groupBy("event_type").agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.round(F.sum("value") / F.count("*"), 6).alias("mean"),
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k]["n"] == want[k]["n"]
        assert math.isclose(got[k]["total"], want[k]["total"], abs_tol=0.011)
        assert got[k]["vmin"] == want[k]["vmin"]
        assert got[k]["vmax"] == want[k]["vmax"]


def test_incremental_stats_sink_skips_replayed_epoch(spark, tmp_path):
    """foreachBatch is at-least-once: a batch redelivered after a failure
    between the overwrite and the checkpoint commit must not double-fold."""
    from rss_feed_etl_spark.streaming.incremental import fold_stats_batch

    schema = "event_id long, event_type string, value double"
    agg_path = str(tmp_path / "agg")
    b1 = spark.createDataFrame([(1, "a", 10.0)], schema)
    b2 = spark.createDataFrame([(2, "a", 5.0), (3, "b", 2.0)], schema)
    assert fold_stats_batch(spark, b1, 0, agg_path)
    assert fold_stats_batch(spark, b2, 1, agg_path)
    # redelivery of epoch 1 is a no-op — the stored aggregate is unchanged
    assert not fold_stats_batch(spark, b2, 1, agg_path)
    got = {r["event_type"]: r for r in spark.read.parquet(agg_path).collect()}
    assert got["a"]["n"] == 2 and got["a"]["total"] == 15.0
    assert got["b"]["n"] == 1 and got["b"]["total"] == 2.0
    # empty batch is also a no-op
    assert not fold_stats_batch(spark, b1.limit(0), 2, agg_path)


def test_fold_stats_batch_no_rounding_drift_over_epochs(spark, tmp_path):
    """The fold input is the EXACT decimal total, not the 2dp display
    value: 2dp-boundary values (x.005) folded one epoch at a time must
    equal the one-shot aggregate exactly, even after many epochs.  Folding
    the rounded display total instead accumulates ±0.005 per epoch, which
    this catches by epoch ~3 (6 epochs = the failure point plus margin;
    the previous 12 doubled the runtime without adding coverage)."""
    from rss_feed_etl_spark.streaming.incremental import fold_stats_batch

    from rss_feed_etl_spark.operators import sketches

    schema = "event_id long, event_type string, value double"
    agg_path = str(tmp_path / "agg")
    vals = [0.005 + i * 0.01 for i in range(6)]  # every value a 2dp boundary
    for epoch, v in enumerate(vals):
        assert fold_stats_batch(
            spark, spark.createDataFrame([(epoch, "a", v)], schema), epoch, agg_path
        )
    got = spark.read.parquet(agg_path).collect()[0]
    empty = spark.createDataFrame(
        [], "event_type string, n bigint, total double, vmin double, vmax double"
    )
    union = spark.createDataFrame(list(enumerate(["a"] * len(vals))), "event_id long, event_type string").join(
        spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "event_id long, value double"),
        "event_id",
    )
    want = sketches.combine_aggregates(empty, union, "event_type", "value").collect()[0]
    for field in ("n", "total", "vmin", "vmax", "mean", "total_exact"):
        assert got[field] == want[field], (field, got[field], want[field])

def test_fold_stats_batch_migrates_legacy_snapshot_without_total_exact(
    spark, tmp_path
):
    """ADVICE r5 (medium): a snapshot written BEFORE the exact accumulator
    existed has no total_exact parquet column, so the forced read schema
    materializes it as NULL — an unguarded fold would coalesce it to 0 and
    silently reset the running total/mean while n keeps growing.  The fold
    must fall back to the rounded display total once and persist the exact
    column from then on."""
    from rss_feed_etl_spark.streaming.incremental import fold_stats_batch

    schema = "event_id long, event_type string, value double"
    agg_path = str(tmp_path / "agg")
    # hand-write a legacy-layout snapshot: n=3/total=30.0 for key a, epoch 0
    legacy = spark.createDataFrame(
        [("a", 3, 30.0, 5.0, 15.0, 10.0, 0)],
        "event_type string, n bigint, total double, vmin double, "
        "vmax double, mean double, __epoch long",
    )
    legacy.write.mode("overwrite").parquet(agg_path)
    batch = spark.createDataFrame([(9, "a", 6.0)], schema)
    assert fold_stats_batch(spark, batch, 1, agg_path)
    got = {r["event_type"]: r for r in spark.read.parquet(agg_path).collect()}
    assert got["a"]["n"] == 4
    assert got["a"]["total"] == 36.0  # NOT 6.0 (the reset the guard prevents)
    assert got["a"]["mean"] == 9.0
    # the migrated snapshot now carries the exact column for future folds
    assert float(got["a"]["total_exact"]) == 36.0
    # and a second fold keeps compounding from it
    assert fold_stats_batch(spark, spark.createDataFrame([(10, "a", 4.0)], schema), 2, agg_path)
    got2 = {r["event_type"]: r for r in spark.read.parquet(agg_path).collect()}
    assert got2["a"]["n"] == 5 and got2["a"]["total"] == 40.0

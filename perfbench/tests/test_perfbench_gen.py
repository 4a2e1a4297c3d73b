"""Generator determinism and the expected-state models (no Spark)."""

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as papq

import gen
import harness as h


def _feed_files(world):
    out = {}
    for f in world.feeds:
        if os.path.exists(f.path):
            with open(f.path, encoding="utf-8") as fh:
                out[os.path.basename(f.path)] = fh.read()
    return out


def _world_trace(seed, root):
    w = gen.FeedWorld(seed, str(root), n_feeds=30)
    cycles = []
    for c in range(3):
        ci = w.cycle(c)
        cycles.append((ci.as_of, ci.entries_delivered, ci.feeds_failed, ci.batch, _feed_files(w)))
    return w.history, cycles


def test_feed_world_is_a_function_of_the_seed(tmp_path):
    a = _world_trace(7, tmp_path / "a")
    b = _world_trace(7, tmp_path / "b")
    assert a == b
    assert _world_trace(8, tmp_path / "c")[0] != a[0]


def test_table_generators_are_functions_of_the_seed():
    assert gen.stage_table(3, n_rows=2000).equals(gen.stage_table(3, n_rows=2000))
    assert not gen.stage_table(3, n_rows=2000).equals(gen.stage_table(4, n_rows=2000))
    assert gen.user_filter_specs(3, 20) == gen.user_filter_specs(3, 20)
    assert gen.user_filter_specs(3, 20) != gen.user_filter_specs(4, 20)
    d1, e1 = gen.corpus_tables(3, n_docs=50)
    d2, e2 = gen.corpus_tables(3, n_docs=50)
    assert d1.equals(d2) and e1.equals(e2)
    assert not d1.equals(gen.corpus_tables(4, n_docs=50)[0])


def test_feed_xml_cleans_to_the_expected_rows(tmp_path):
    """The engine's own parser and HTML cleaner turn the generated XML into
    exactly the text the expected rows carry."""
    from rss_feed_etl_spark.functions.text import html_to_text
    from rss_feed_etl_spark.sources.rss import parse_feed_xml

    w = gen.FeedWorld(11, str(tmp_path), n_feeds=40, broken_share=0.2)
    ci = w.cycle(0)
    expected = {(r[1], r[4]): r for r in ci.batch if r[1].strip()}
    parsed, failed = 0, 0
    for f in w.feeds:
        entries = []
        if os.path.exists(f.path):
            with open(f.path, encoding="utf-8") as fh:
                entries = parse_feed_xml(fh.read())
        if not entries:
            failed += 1
        for e in entries:
            parsed += 1
            if not e["link"]:
                continue  # blank key, dropped downstream
            row = expected[(e["link"], e["feed_title"])]
            assert e["feed_title"] == f.title
            assert html_to_text(e["summary"]) == row[7]
            assert " ".join(e["entry_title"].split()) == row[2]
    assert failed == ci.feeds_failed > 0
    assert parsed == len(ci.batch) == ci.entries_delivered


def _row(link, published, title="t", notes=""):
    return ("job", link, title, published, "feed", "r", "24h", "text", notes)


def test_scd1_model_on_a_hand_checked_case():
    m = gen.StageModel([
        _row("a", "2024-01-01 00:00:00", notes="keep me"),
        _row("b", "2024-01-01 00:00:00"),
    ])
    stats = m.apply([
        _row("a", "2024-01-02 00:00:00", title="a2"),  # update: blank notes keep history's
        _row("c", "2024-01-03 00:00:00", title="c-early"),
        _row("c", "2024-01-03 01:00:00", title="c-late"),  # keep-last by published
        _row("   ", "2024-01-03 00:00:00"),  # blank key dropped
    ])
    assert stats == {"rows_in": 4, "rows_out": 2, "updated": 1, "inserted": 1}
    assert m.rows == {
        "a": _row("a", "2024-01-02 00:00:00", title="a2", notes="keep me"),
        "b": _row("b", "2024-01-01 00:00:00"),
        "c": _row("c", "2024-01-03 01:00:00", title="c-late"),
    }
    assert m.checksum() == gen.checksum(m.rows.values())


def test_filtered_model_appends_and_new_rows_win():
    spec = gen.FilterSpec(days_back=7, content_cols=["summary"], exclude={"entry_title": ["Manager"]})
    stage = gen.StageModel([
        _row("old", "2024-01-01 00:00:00"),
        _row("new", "2024-01-09 00:00:00"),
        _row("mgr", "2024-01-09 00:00:00", title="Engineering MANAGER"),
    ])
    f = gen.FilteredModel()
    assert f.apply(stage, "2024-01-10 00:00:00", spec) == 1
    stage.apply([_row("new2", "2024-01-10 12:00:00")])
    assert f.apply(stage, "2024-01-11 00:00:00", spec) == 2
    assert sorted(f.rows) == ["new", "new2"]
    assert f.rows["new"][-1] == "2024-01-11 00:00:00"


def test_duckdb_checksum_matches_the_python_digest(tmp_path):
    rows = [_row("a", "2024-01-01 10:00:00"), _row("b", "2024-01-02 11:30:05", notes=None)]
    data = {c: [r[i] for r in rows] for i, c in enumerate(gen.STAGE_COLS)}
    data["published"] = pa.array(
        [gen.datetime.strptime(v, gen.TS_FMT) for v in data["published"]], pa.timestamp("us", tz="UTC")
    )
    os.makedirs(tmp_path / "t" / "p=1")
    papq.write_table(pa.table(data), str(tmp_path / "t" / "p=1" / "part-0.parquet"))
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    got = h.duck_checksum(con, h.parquet_glob(str(tmp_path / "t")), gen.STAGE_COLS, {"published"})
    assert got == gen.checksum(rows)

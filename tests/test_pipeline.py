"""End-to-end pipeline: extraction invariant, checkpoint/resume, retention DAG."""

from __future__ import annotations

import datetime as dt
import shutil

import pytest
from pyspark.sql import functions as F

from influxer_spark.catalog import TableCatalog
from influxer_spark.datagen import generate_pages
from influxer_spark.extract import extract_text_bytes, with_extracted
from influxer_spark.operators.retention import RetentionPolicy, apply_retention
from influxer_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("pages")
    return generate_pages(str(d), n_rows=5000, seed=42, days=3)


def test_extraction_invariant_whole_table(spark, pages_path):
    """North-rule per-row invariant: extracted text byte-identical per url."""
    pages = spark.read.parquet(pages_path)
    df = with_extracted(pages, validate=True)
    assert df.filter(~F.col("text_ok")).count() == 0


def test_extraction_is_deterministic_bytes():
    html = '<html><head><title>x</title></head><body> <p> a  b </p>\t<p>c</p> </body></html>'.encode()
    assert extract_text_bytes(html) == "a b c"
    assert extract_text_bytes(html) == extract_text_bytes(html)


def test_pipeline_end_to_end_and_resume(spark, pages_path, tmp_path):
    root = str(tmp_path / "cat")
    res1 = run_pipeline(spark, pages_path, root, validate_extraction=True)
    assert len(res1.days_processed) >= 3  # 3-day span (may straddle 4 dates)
    cat = TableCatalog(root)
    for tbl in ["raw_points", "rollup_1m", "rollup_1h", "rollup_1d",
                "rollup_1m_gorilla", "rollup_1m_counts"]:
        assert cat.exists(tbl), tbl
        assert len(cat.committed_partitions(tbl)) == len(res1.days_processed)

    # the integer-codec counts table round-trips to the committed 1m tier
    from influxer_spark.operators.intcodec import decode_int_series_df
    from pyspark.sql import functions as F

    dec = decode_int_series_df(
        cat.read_committed(spark, "rollup_1m_counts").drop("day")
    )
    got = {
        (tuple(r["series_keys"]), r["ts"]): r["value"] for r in dec.collect()
    }
    t1m = cat.read_committed(spark, "rollup_1m")
    want = {
        ((r["day"], r["url"], r["metric"]), r["bucket"]): r["cnt"]
        for r in t1m.select(
            F.date_format("bucket", "yyyy-MM-dd").alias("day"),
            "url", "metric", "bucket", "cnt",
        ).collect()
    }
    assert got == want
    # and the counters carry the storage metric
    mi = cat.read_manifest("rollup_1m_counts")
    assert res1.counters[res1.days_processed[0]]["int_bytes_per_point"] > 0
    assert mi["partitions"]

    # counters + lineage recorded per partition
    m = cat.read_manifest("rollup_1m")
    day0 = res1.days_processed[0]
    assert m["partitions"][day0]["counters"]["rows_in"] > 0
    assert m["partitions"][day0]["lineage"]["source"] == pages_path

    # full rerun: everything skipped, nothing recomputed
    res2 = run_pipeline(spark, pages_path, root)
    assert res2.days_processed == []
    assert sorted(res2.days_skipped) == sorted(res1.days_processed)


def test_resume_after_partial_run_matches_oneshot(spark, pages_path, tmp_path):
    """Kill after day 1 → resume → identical final tables vs one-shot run."""
    root_a = str(tmp_path / "a")
    root_b = str(tmp_path / "b")

    # one-shot
    run_pipeline(spark, pages_path, root_a)

    # partial: process only the first day, then "crash"
    from influxer_spark.pipeline import _distinct_days, process_days

    pages = spark.read.parquet(pages_path)
    days = _distinct_days(pages)
    cat_b = TableCatalog(root_b)
    process_days(spark, pages, cat_b, [days[0]], source=pages_path)
    # resume the rest
    res = run_pipeline(spark, pages_path, root_b)
    assert days[0] in res.days_skipped

    a, b = TableCatalog(root_a), TableCatalog(root_b)
    for tbl in ["rollup_1m", "rollup_1h", "rollup_1d"]:
        da = a.read_committed(spark, tbl).orderBy("bucket", "url", "metric")
        db = b.read_committed(spark, tbl).orderBy("bucket", "url", "metric")
        ra = [tuple(r) for r in da.select("bucket", "url", "metric", "cnt", "min_v", "max_v").collect()]
        rb = [tuple(r) for r in db.select("bucket", "url", "metric", "cnt", "min_v", "max_v").collect()]
        assert ra == rb, tbl


def test_rollup_matches_duckdb_oracle(spark, pages_path, tmp_path):
    """1m tier equals an independent DuckDB rollup over the same pages."""
    import duckdb

    root = str(tmp_path / "cat")
    run_pipeline(spark, pages_path, root, encode_gorilla=False)
    cat = TableCatalog(root)
    got = {
        (r["bucket"], r["url"], r["metric"]): (r["cnt"], r["min_v"], r["max_v"])
        for r in cat.read_committed(spark, "rollup_1m")
        .filter(F.col("metric") == "text_chars")
        .collect()
    }
    want_rows = duckdb.sql(
        f"""
        SELECT date_trunc('minute', warc_ts) AS bucket, url,
               count(*) AS cnt, min(length(text)) AS mn, max(length(text)) AS mx
        FROM read_parquet('{pages_path}') GROUP BY 1, 2
        """
    ).fetchall()
    assert len(want_rows) == len(got)
    for bucket, url, cnt, mn, mx in want_rows:
        k = (bucket, url, "text_chars")
        assert k in got
        assert got[k] == (cnt, float(mn), float(mx))


def test_retention_dag_blocks_until_dependent_committed(tmp_path, spark, pages_path):
    root = str(tmp_path / "cat")
    run_pipeline(spark, pages_path, root, encode_gorilla=False)
    cat = TableCatalog(root)
    days = sorted(cat.committed_partitions("raw_points"))
    now = dt.date.fromisoformat(days[-1]) + dt.timedelta(days=1)

    # raw TTL 1 day → all but the last day are overdue; 1m has them → dropped
    pols = [RetentionPolicy("raw_points", ttl_days=1, depends_on="rollup_1m")]
    report = apply_retention(cat, pols, now=now)
    assert set(report["raw_points"]) == set(days[:-1])
    assert set(cat.committed_partitions("raw_points")) == {days[-1]}

    # but if the dependent tier lacks the partition, expiry is blocked
    cat.drop_partition("rollup_1m", days[-1], reason="test")
    pols = [RetentionPolicy("raw_points", ttl_days=0, depends_on="rollup_1m")]
    report = apply_retention(cat, pols, now=now)
    assert report.get("blocked:raw_points") == [days[-1]]
    assert set(cat.committed_partitions("raw_points")) == {days[-1]}


def test_catalog_staging_invisible_until_commit(tmp_path, spark):
    cat = TableCatalog(str(tmp_path / "c"))
    df = spark.range(5).withColumn("v", F.col("id") * 2)
    cat.write_partition(df, "t", "2024-01-01")
    assert cat.read_committed(spark, "t").count() == 5
    # simulate crash: data dir exists but manifest unaware
    import os
    os.makedirs(os.path.join(cat.table_path("t"), "p=2024-01-02.staging-dead"), exist_ok=True)
    assert cat.read_committed(spark, "t").count() == 5
    shutil.rmtree(str(tmp_path / "c"))


def test_wave_commit_crash_preserves_committed_snapshot(tmp_path, spark, monkeypatch):
    """Crash anywhere inside write_partitions must leave the previous
    SNAPSHOT fully intact: data dirs are immutable (a rewrite lands in a new
    v= dir) and the snapshot-pointer flip is the only visibility point
    (ADVICE r1, medium)."""
    import os

    cat = TableCatalog(str(tmp_path / "c"))
    df1 = spark.range(10).select(
        F.col("id"), F.when(F.col("id") < 5, "2024-01-01").otherwise("2024-01-02").alias("day")
    )
    cat.write_partitions(df1, "t", ["2024-01-01", "2024-01-02"])
    assert cat.read_committed(spark, "t").count() == 10

    # crash between data staging and the snapshot-pointer flip
    def boom(name, manifest, **kwargs):
        raise RuntimeError("simulated crash before snapshot commit")

    monkeypatch.setattr(cat, "_commit_manifest", boom)
    df2 = df1.filter(F.col("id") < 8)  # would rewrite both days
    with pytest.raises(RuntimeError):
        cat.write_partitions(df2, "t", ["2024-01-01", "2024-01-02"])
    monkeypatch.undo()

    # readers still see EXACTLY the old snapshot — not a torn mix
    assert cat.read_committed(spark, "t").count() == 10
    for pv in cat.committed_partitions("t"):
        assert cat.read_partition(spark, "t", pv).count() == 5

    # resume: the wave is idempotently redone; vacuum reclaims orphans
    cat.write_partitions(df2, "t", ["2024-01-01", "2024-01-02"])
    assert cat.read_committed(spark, "t").count() == 8
    cat.vacuum("t")
    leftovers = [
        d for d in os.listdir(cat.table_path("t")) if d.startswith(".wave-")
    ]
    assert leftovers == []
    # after vacuum each partition holds exactly its one live data version
    for pv in ("2024-01-01", "2024-01-02"):
        vs = os.listdir(os.path.join(cat.table_path("t"), f"p={pv}"))
        assert len([v for v in vs if v.startswith("v=")]) == 1


def test_snapshot_time_travel_and_expiry(tmp_path, spark):
    """Iceberg-model semantics on the parquet catalog: every commit is a new
    snapshot, as_of reads history (incl. across a retention drop), and
    expire_snapshots deletes exactly the unreferenced data versions."""
    import os

    cat = TableCatalog(str(tmp_path / "c"))
    df1 = spark.range(6).select(F.col("id"), F.lit("2024-01-01").alias("day"))
    cat.write_partitions(df1, "t", ["2024-01-01"])
    s1 = cat.current_snapshot("t")
    df2 = spark.range(3).select(F.col("id"), F.lit("2024-01-01").alias("day"))
    cat.write_partitions(df2, "t", ["2024-01-01"])
    s2 = cat.current_snapshot("t")
    assert cat.snapshots("t") == [s1, s2] and s2 == s1 + 1

    # time travel: VERSION AS OF
    assert cat.read_committed(spark, "t", as_of=s1).count() == 6
    assert cat.read_committed(spark, "t").count() == 3

    # metadata-only drop; history still readable
    assert cat.drop_partition("t", "2024-01-01", reason="ttl")
    assert cat.committed_partitions("t") == {}
    assert cat.read_committed(spark, "t", as_of=s2).count() == 3

    # expiry: keep only the latest snapshot → old manifests + all data gone
    res = cat.expire_snapshots("t", keep_last=1)
    assert res["manifests"] == 2 and res["data_dirs"] == 2
    with pytest.raises(ValueError):
        cat.read_manifest("t", as_of=s1)
    assert not any(
        d.startswith("p=") and os.listdir(os.path.join(cat.table_path("t"), d))
        for d in os.listdir(cat.table_path("t"))
        if os.path.isdir(os.path.join(cat.table_path("t"), d))
    )


def test_delete_where_copy_on_write(tmp_path, spark):
    """Row-level COW delete: one atomic snapshot rewrites only the affected
    partitions, drops fully-emptied ones, leaves untouched partitions'
    data dirs byte-identical, and keeps history time-travelable."""
    cat = TableCatalog(str(tmp_path / "c"))
    rows = [(i, f"url-{i % 5}", f"2024-01-0{1 + i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, ["id", "url", "day"])
    days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    cat.write_partitions(df, "t", days)
    s1 = cat.current_snapshot("t")
    dirs_before = {d: cat._partition_dir("t", d, e)
                   for d, e in cat.committed_partitions("t").items()}

    # takedown: url-2 appears in every partition → all three rewritten
    res = cat.delete_where(spark, "t", "url = 'url-2'", reason="takedown")
    assert res == {"partitions_rewritten": 3, "partitions_dropped": 0,
                   "rows_deleted": 6}
    assert cat.current_snapshot("t") == s1 + 1  # ONE snapshot for the whole op
    cur = cat.read_committed(spark, "t")
    assert cur.count() == 24
    assert cur.filter("url = 'url-2'").count() == 0
    # history intact: the pre-delete snapshot still shows the deleted rows
    assert cat.read_committed(spark, "t", as_of=s1).count() == 30

    # partition-aligned predicate: only that partition changes; the other
    # two keep their v= dirs BYTE-IDENTICAL (no spurious rewrite)
    s2 = cat.current_snapshot("t")
    res = cat.delete_where(spark, "t", "p = '2024-01-02' AND id < 100")
    assert res["partitions_dropped"] == 1 and res["partitions_rewritten"] == 0
    live = cat.committed_partitions("t")
    assert sorted(live) == ["2024-01-01", "2024-01-03"]
    for d in live:
        assert cat._partition_dir("t", d, live[d]) == \
            cat._partition_dir("t", d, cat.committed_partitions("t", as_of=s2)[d])
    assert "2024-01-02" in cat.dropped_partitions("t")
    # lineage carries the audit counter
    deleted_events = [e for e in cat.read_manifest("t")["lineage"]
                      if e.get("rows_deleted")]
    assert sum(e["rows_deleted"] for e in deleted_events) == 6 + 8

    # idempotent: re-running the takedown matches zero rows, commits nothing
    s3 = cat.current_snapshot("t")
    assert cat.delete_where(spark, "t", "url = 'url-2'") == {
        "partitions_rewritten": 0, "partitions_dropped": 0, "rows_deleted": 0}
    assert cat.current_snapshot("t") == s3

    # NULL predicate rows survive (SQL DELETE deletes only TRUE)
    res = cat.delete_where(
        spark, "t", "CASE WHEN id % 2 = 0 THEN NULL ELSE id % 3 = 0 END")
    back = cat.read_committed(spark, "t")
    assert back.filter("id % 2 = 0").count() > 0
    assert back.filter("id % 2 = 1 AND id % 3 = 0").count() == 0

    # untouched partitions stay byte-identical vs the ORIGINAL write when
    # never hit: 2024-01-01's dir changed only on deletes that matched it
    assert dirs_before["2024-01-01"] != cat._partition_dir(
        "t", "2024-01-01", cat.committed_partitions("t")["2024-01-01"])

    # a crashed delete's staging dir is swept by expire_snapshots
    import os
    orphan = os.path.join(cat.table_path("t"), ".delete-deadbeef")
    os.makedirs(orphan)
    cat.expire_snapshots("t", keep_last=1)
    assert not os.path.exists(orphan)


def test_update_where_copy_on_write(tmp_path, spark):
    """UPDATE semantics: matching rows get the SET expressions (evaluated
    on the OLD row — simultaneous assignment), others pass through; one
    snapshot; only affected partitions rewritten; new columns rejected."""
    cat = TableCatalog(str(tmp_path / "c"))
    rows = [(i, 10 * i, 100 + i, f"2024-01-0{1 + i % 2}") for i in range(8)]
    df = spark.createDataFrame(rows, ["id", "a", "b", "day"])
    cat.write_partitions(df, "t", ["2024-01-01", "2024-01-02"])
    s1 = cat.current_snapshot("t")
    dirs_before = {d: cat._partition_dir("t", d, e)
                   for d, e in cat.committed_partitions("t").items()}

    # swap test: SET a = b, b = a must see OLD values on both sides
    res = cat.update_where(
        spark, "t", "id = 3", {"a": "b", "b": "a"}, reason="swap"
    )
    assert res == {"partitions_rewritten": 1, "rows_updated": 1}
    assert cat.current_snapshot("t") == s1 + 1
    got = {r["id"]: (r["a"], r["b"])
           for r in cat.read_committed(spark, "t").collect()}
    assert got[3] == (103, 30)   # swapped from (30, 103)
    assert got[1] == (10, 101)   # untouched row intact
    # id=3 is day 2024-01-02: day 01 keeps its dir byte-identical
    live = cat.committed_partitions("t")
    assert cat._partition_dir("t", "2024-01-01", live["2024-01-01"]) == \
        dirs_before["2024-01-01"]
    assert cat._partition_dir("t", "2024-01-02", live["2024-01-02"]) != \
        dirs_before["2024-01-02"]
    # history: the pre-update snapshot still shows the old values
    old = {r["id"]: (r["a"], r["b"])
           for r in cat.read_committed(spark, "t", as_of=s1).collect()}
    assert old[3] == (30, 103)

    # redaction-style expression update: even ids all live in day 01
    # (day = 1 + i % 2), so exactly one partition is rewritten
    res = cat.update_where(spark, "t", "id % 2 = 0", {"a": "a * 100"})
    assert res["rows_updated"] == 4 and res["partitions_rewritten"] == 1
    got = {r["id"]: r["a"] for r in cat.read_committed(spark, "t").collect()}
    assert got[2] == 2000 and got[1] == 10

    # SET on a column that doesn't exist is an error, not schema evolution
    with pytest.raises(ValueError, match="not columns"):
        cat.update_where(spark, "t", "id = 0", {"nope": "1"})

    # no matches → no new snapshot
    s = cat.current_snapshot("t")
    assert cat.update_where(spark, "t", "id = 999", {"a": "0"}) == {
        "partitions_rewritten": 0, "rows_updated": 0}
    assert cat.current_snapshot("t") == s


def test_merge_into_upsert(tmp_path, spark):
    """MERGE semantics: matched keys replaced, unmatched inserted, one
    atomic snapshot, untouched partitions byte-identical, duplicate source
    keys rejected up front."""
    cat = TableCatalog(str(tmp_path / "c"))
    rows = [(i, f"text-{i}", f"2024-01-0{1 + i % 3}") for i in range(12)]
    df = spark.createDataFrame(rows, ["id", "text", "day"])
    days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    cat.write_partitions(df, "t", days)
    s1 = cat.current_snapshot("t")
    dirs_before = {d: cat._partition_dir("t", d, e)
                   for d, e in cat.committed_partitions("t").items()}

    # re-crawl: ids 3 and 9 updated (both day 2024-01-01), id 100 inserted
    # into day 2024-01-02 → days 01 and 02 rewritten, day 03 untouched
    src = spark.createDataFrame(
        [(3, "NEW-3", "2024-01-01"), (9, "NEW-9", "2024-01-01"),
         (100, "text-100", "2024-01-02")],
        ["id", "text", "day"],
    )
    res = cat.merge_into(spark, "t", src, ["id"], reason="recrawl")
    assert res == {"rows_updated": 2, "rows_inserted": 1,
                   "partitions_written": 2}
    assert cat.current_snapshot("t") == s1 + 1  # ONE snapshot
    cur = cat.read_committed(spark, "t")
    assert cur.count() == 13
    got = {r["id"]: r["text"] for r in cur.collect()}
    assert got[3] == "NEW-3" and got[9] == "NEW-9" and got[100] == "text-100"
    assert got[0] == "text-0"  # unmatched target rows survive
    live = cat.committed_partitions("t")
    assert cat._partition_dir("t", "2024-01-03", live["2024-01-03"]) == \
        dirs_before["2024-01-03"]
    assert cat._partition_dir("t", "2024-01-01", live["2024-01-01"]) != \
        dirs_before["2024-01-01"]
    # history: pre-merge snapshot still shows the old rows
    old = {r["id"]: r["text"]
           for r in cat.read_committed(spark, "t", as_of=s1).collect()}
    assert old[3] == "text-3" and 100 not in old

    # a brand-new partition value inserts cleanly
    res = cat.merge_into(
        spark, "t",
        spark.createDataFrame([(200, "t200", "2024-01-09")],
                              ["id", "text", "day"]),
        ["id"],
    )
    assert res["rows_inserted"] == 1 and res["rows_updated"] == 0
    assert "2024-01-09" in cat.committed_partitions("t")

    # duplicate source keys within one partition are an ERROR (Iceberg
    # MERGE contract: at most one update per target row)
    bad = spark.createDataFrame(
        [(3, "x", "2024-01-01"), (3, "y", "2024-01-01")],
        ["id", "text", "day"],
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        cat.merge_into(spark, "t", bad, ["id"])


def test_write_audit_publish(tmp_path, spark):
    """WAP: staged waves are invisible to readers, auditable through the
    token, published in one snapshot, or abandoned (swept by expire)."""
    cat = TableCatalog(str(tmp_path / "c"))
    cat.write_partitions(
        spark.createDataFrame([(1, "d1")], ["id", "day"]), "t", ["d1"]
    )
    s1 = cat.current_snapshot("t")
    tok = cat.stage_partitions(
        spark.createDataFrame([(2, "d2"), (3, "d2")], ["id", "day"]),
        "t", ["d2"],
    )
    # invisible: current snapshot unchanged, reads see only d1
    assert cat.current_snapshot("t") == s1
    assert cat.read_committed(spark, "t").count() == 1
    # auditable: the staged wave reads through the token
    staged = cat.read_staged(spark, tok)
    assert sorted(r["id"] for r in staged.collect()) == [2, 3]
    # publish: one snapshot, wave visible
    s2 = cat.publish_staged(tok, reason="audit passed")
    assert s2 == s1 + 1 and cat.read_committed(spark, "t").count() == 3

    # an ABANDONED stage is swept by expire and never becomes visible
    tok2 = cat.stage_partitions(
        spark.createDataFrame([(9, "d3")], ["id", "day"]), "t", ["d3"]
    )
    cat.expire_snapshots("t", keep_last=5)
    assert "d3" not in cat.committed_partitions("t")
    import os
    assert not any(os.path.exists(p) for p in tok2["paths"])
    assert cat.read_committed(spark, "t").count() == 3


def test_read_increment_added_and_changed(tmp_path, spark):
    """Incremental read: rows of partitions added or changed since a
    snapshot, at the target snapshot — empty increments keep the schema,
    later commits don't leak into a pinned to_snapshot."""
    cat = TableCatalog(str(tmp_path / "c"))

    def _w(ids, day):
        cat.write_partitions(
            spark.createDataFrame([(i, day) for i in ids], ["id", "day"]),
            "t", [day],
        )

    _w([1, 2], "d1")
    _w([3], "d2")
    s1 = cat.current_snapshot("t")
    _w([30, 31], "d2")   # changed partition
    _w([9], "d3")        # added partition
    s2 = cat.current_snapshot("t")
    inc = cat.read_increment(spark, "t", s1)
    got = sorted((r["id"], r["p"]) for r in inc.collect())
    assert got == [(9, "d3"), (30, "d2"), (31, "d2")]  # d1 untouched: absent
    # empty increment keeps the recorded schema
    empty = cat.read_increment(spark, "t", s2)
    assert empty.count() == 0 and empty.columns == ["id", "p"]
    # pinned to_snapshot: a later commit must not leak in
    _w([99], "d4")
    again = sorted(
        (r["id"], r["p"])
        for r in cat.read_increment(spark, "t", s1, to_snapshot=s2).collect()
    )
    assert again == got


def test_data_column_named_v_survives_partition_reads(tmp_path, spark):
    """The internal v=<uuid> data-version dirs must never shadow a DATA
    column named v: partition discovery would read the uuid string in its
    place (observed before the path-extraction fix), corrupting any
    delete/merge rewrite of such a table."""
    cat = TableCatalog(str(tmp_path / "c"))
    df = spark.createDataFrame(
        [(1, 2.5, "d1"), (2, 7.5, "d1"), (3, 9.0, "d2")], ["id", "v", "day"]
    )
    cat.write_partitions(df, "t", ["d1", "d2"])
    back = cat.read_partitions_with_key(spark, "t", ["d1", "d2"])
    got = {r["id"]: (r["v"], r["p"]) for r in back.collect()}
    assert got == {1: (2.5, "d1"), 2: (7.5, "d1"), 3: (9.0, "d2")}
    # and a COW delete over it keeps the column's values
    cat.delete_where(spark, "t", "id = 2")
    vals = {r["id"]: r["v"] for r in cat.read_committed(spark, "t").collect()}
    assert vals == {1: 2.5, 3: 9.0}


def test_schema_evolution_add_column(tmp_path, spark):
    """Iceberg schema tracking: the snapshot records the writer's schema,
    readers PROJECT it (old partitions return NULL for added columns, no
    footer sampling), time travel keeps each snapshot's own shape, and
    MERGE widens the schema when the source carries a new column."""
    cat = TableCatalog(str(tmp_path / "c"))
    cat.write_partitions(
        spark.createDataFrame([(1, "a", "d1")], ["id", "text", "day"]),
        "t", ["d1"],
    )
    s1 = cat.current_snapshot("t")
    # a later wave adds a column: the new snapshot's schema carries it
    cat.write_partitions(
        spark.createDataFrame([(2, "b", 0.5, "d2")],
                              ["id", "text", "lang_score", "day"]),
        "t", ["d2"],
    )
    cur = cat.read_committed(spark, "t")
    assert cur.columns == ["id", "text", "lang_score"]
    got = {r["id"]: r["lang_score"] for r in cur.collect()}
    assert got[1] is None and got[2] == 0.5  # old partition projects NULL
    # time travel: the pre-evolution snapshot keeps its original shape
    assert cat.read_committed(spark, "t", as_of=s1).columns == ["id", "text"]

    # COW delete of the OLD partition must not lose the new column
    cat.delete_where(spark, "t", "id = -1 OR text = 'never'")  # no-op
    cat.merge_into(
        spark, "t",
        spark.createDataFrame([(1, "a2", "d1")], ["id", "text", "day"]),
        ["id"],
    )
    back = {r["id"]: (r["text"], r["lang_score"])
            for r in cat.read_committed(spark, "t").collect()}
    assert back[1] == ("a2", None) and back[2] == ("b", 0.5)

    # MERGE with a source that carries a brand-new column widens the schema
    cat.merge_into(
        spark, "t",
        spark.createDataFrame([(3, "c", "quality-ok", "d2")],
                              ["id", "text", "audit", "day"]),
        ["id"],
    )
    cur = cat.read_committed(spark, "t")
    assert "audit" in cur.columns
    got = {r["id"]: r["audit"] for r in cur.collect()}
    assert got[3] == "quality-ok" and got[2] is None
    assert got[1] is None  # d1 untouched by this merge: projected NULL


def test_wave_commit_skips_empty_partition_values(tmp_path, spark):
    """A requested partition value with zero staged rows must NOT get a
    manifest entry (read_partition on it would throw)."""
    cat = TableCatalog(str(tmp_path / "c"))
    df = spark.range(5).select(F.col("id"), F.lit("2024-01-01").alias("day"))
    cat.write_partitions(df, "t", ["2024-01-01", "2024-01-02"])
    assert sorted(cat.committed_partitions("t")) == ["2024-01-01"]


def test_resume_after_partial_tier_commit(spark, pages_path, tmp_path):
    """Crash AFTER raw+1m commit but BEFORE 1d (the wave's pending set keys
    off rollup_1d): resume must reprocess the day and leave every tier
    coherent with a one-shot run."""
    import shutil as _shutil
    import os as _os

    root = str(tmp_path / "c")
    run_pipeline(spark, pages_path, root)
    cat = TableCatalog(root)
    days = sorted(cat.committed_partitions("rollup_1d"))
    victim = days[1]

    # simulate the torn state: 1d (and 1h) lost their commit for one day
    for tbl in ("rollup_1d", "rollup_1h"):
        cat.drop_partition(tbl, victim, reason="simulated crash")
    # and the 1m data dir is half-written garbage
    p1m = _os.path.join(cat.table_path("rollup_1m"), f"p={victim}")
    _shutil.rmtree(p1m)
    _os.makedirs(p1m)

    res = run_pipeline(spark, pages_path, root)
    assert res.days_processed == [victim]

    # coherence: every tier re-committed and 1d == cascade of 1m
    for tbl in ("raw_points", "rollup_1m", "rollup_1h", "rollup_1d"):
        assert victim in cat.committed_partitions(tbl), tbl
    from influxer_spark.operators import rollup as R

    t1m = cat.read_partition(spark, "rollup_1m", victim)
    t1d = cat.read_partition(spark, "rollup_1d", victim)
    want = {
        (r["bucket"], r["url"], r["metric"]): r["cnt"]
        for r in R.cascade(R.cascade(t1m, ["url", "metric"], "1h"), ["url", "metric"], "1d").collect()
    }
    got = {(r["bucket"], r["url"], r["metric"]): r["cnt"] for r in t1d.collect()}
    assert got == want


def test_extraction_matches_spec():
    """The optimized byte-find extraction is byte-identical to the regex
    spec on generated pages and adversarial html shapes."""
    import pyarrow.parquet as pq

    from influxer_spark.extract import _extract_text_bytes_spec, extract_text_bytes

    adversarial = [
        b"no body at all <p>x</p>",
        b"<body>unclosed",
        b"<bodyx y><body class=z> a </body>",
        b"<body a>inner<body b>deep</body></body>",
        b"pre<body>\t a \x0b b \x0c</body>post",
        b"",
        b"<body><>empty tags<></body>",
    ]
    for h in adversarial:
        assert extract_text_bytes(h) == _extract_text_bytes_spec(h), h


def test_extraction_matches_spec_on_corpus(pages_path):
    import pyarrow.parquet as pq

    from influxer_spark.extract import _extract_text_bytes_spec, extract_text_bytes

    htmls = pq.read_table(pages_path, columns=["html"])["html"].to_pylist()
    assert all(
        extract_text_bytes(h) == _extract_text_bytes_spec(h) for h in htmls
    )


def test_compaction_binpacks_files_preserving_data(tmp_path, spark):
    """compact_partition = Iceberg rewrite_data_files binpack: fewer files,
    identical rows, snapshot-isolated (pre-compaction snapshot still
    readable until expiry), counters preserved in the manifest entry."""
    import os

    cat = TableCatalog(str(tmp_path / "c"))
    # write_partition writes the frame as given: one file per task (the
    # wave writes cluster each partition into one file, nothing to binpack)
    df = spark.range(1000).select(F.col("id")).repartition(16)
    cat.write_partition(df, "t", "2024-01-01")
    s1 = cat.current_snapshot("t")
    pdir = os.path.join(cat.table_path("t"), "p=2024-01-01")
    before = cat.committed_partitions("t")["2024-01-01"]["dir"]
    n_files = len([
        f for f in os.listdir(os.path.join(pdir, before)) if f.endswith(".parquet")
    ])
    assert n_files == 16

    res = cat.compact_partition(spark, "t", "2024-01-01", target_file_mb=128)
    assert res["compacted"] and res["files_before"] == 16 and res["files_after"] == 1

    entry = cat.committed_partitions("t")["2024-01-01"]
    assert entry["dir"] != before
    assert entry["compaction"]["files_before"] == 16
    live = os.path.join(pdir, entry["dir"])
    assert len([f for f in os.listdir(live) if f.endswith(".parquet")]) == 1
    # identical data, and the pre-compaction snapshot still time-travels
    assert sorted(
        r["id"] for r in cat.read_committed(spark, "t").collect()
    ) == list(range(1000))
    assert cat.read_committed(spark, "t", as_of=s1).count() == 1000
    # second compact is a no-op; expiry reclaims exactly the old version
    assert not cat.compact_partition(spark, "t", "2024-01-01")["compacted"]
    cat.expire_snapshots("t", keep_last=1)
    assert sorted(os.listdir(pdir)) == [entry["dir"]]
    assert cat.read_committed(spark, "t").count() == 1000


def test_wave_commits_one_sorted_file_per_table_day(spark, tmp_path):
    """Every catalog commit clusters rows by day and sorts them by the
    table's recorded order: after a wave (Gorilla on) each committed
    partition of each pipeline table is ONE parquet file in that order,
    binpack compaction has nothing left to do, and a delete_where rewrite
    of one day keeps the layout."""
    import glob
    import os

    import pyarrow.parquet as pq

    from influxer_spark.catalog import SORT_ORDER
    from influxer_spark.tiers import FAMILIES

    pages = generate_pages(str(tmp_path / "pg"), n_rows=1500, seed=11, days=3)
    root = str(tmp_path / "cat")
    run_pipeline(spark, pages, root, resume=False, encode_gorilla=True)
    cat = TableCatalog(root)

    def assert_one_sorted_file(table, pv):
        live = cat.partition_paths(table, [pv])[0]
        files = glob.glob(os.path.join(live, "*.parquet"))
        assert len(files) == 1, (table, pv, files)
        order = cat.table_property(table, SORT_ORDER)
        assert order, table
        rows = pq.read_table(files[0], columns=order).to_pylist()
        keys = [tuple(r[c] for c in order) for r in rows]
        assert keys == sorted(keys), (table, pv, order)

    for table in FAMILIES["pipeline"].tables:
        pvs = sorted(cat.committed_partitions(table))
        assert len(pvs) >= 3, table
        for pv in pvs:
            assert_one_sorted_file(table, pv)
        assert cat.compact(spark, table)["rewritten"] == 0, table

    day = sorted(cat.committed_partitions("rollup_1m"))[0]
    res = cat.delete_where(
        spark, "rollup_1m", f"p = '{day}' AND metric = 'n_tokens'"
    )
    assert res["partitions_rewritten"] == 1 and res["rows_deleted"] > 0
    assert_one_sorted_file("rollup_1m", day)


def test_hist_bounds_fixed_at_catalog_creation(spark, tmp_path):
    """Flipping the histogram config mid-catalog would mix tier schemas and
    silently corrupt quantile reads — the pipeline must refuse."""
    import pytest as _pytest

    from influxer_spark.datagen import generate_pages
    from influxer_spark.operators.rollup import log2_bounds
    from influxer_spark.pipeline import run_pipeline

    bounds = log2_bounds(1.0, 2.0**21)
    pages = generate_pages(str(tmp_path / "pg"), n_rows=600, seed=5, days=2)
    root = str(tmp_path / "cat")
    run_pipeline(spark, pages, root, encode_gorilla=False, hist_bounds=bounds)
    # same bounds resume: fine (no pending days -> also fine)
    run_pipeline(spark, pages, root, encode_gorilla=False, hist_bounds=bounds)
    more = generate_pages(str(tmp_path / "pg2"), n_rows=600, seed=6, days=4)
    with _pytest.raises(ValueError, match="hist_bounds mismatch"):
        run_pipeline(spark, more, root, encode_gorilla=False)  # hist dropped
    with _pytest.raises(ValueError, match="hist_bounds mismatch"):
        run_pipeline(
            spark, more, root, encode_gorilla=False,
            hist_bounds=bounds[:-1],  # different list
        )


def test_rollup_1d_commits_last(spark, pages_path, tmp_path, monkeypatch):
    """rollup_1d is the wave's resume marker: with concurrent sink jobs, its
    snapshot commit must still be the LAST — otherwise a crash between
    commits could mark a day done while sibling tables never landed."""
    from influxer_spark.catalog import TableCatalog
    from influxer_spark.pipeline import run_pipeline

    order: list[str] = []
    orig = TableCatalog.write_partitions

    def spy(self, df, name, days, **kw):
        r = orig(self, df, name, days, **kw)
        order.append(name)  # list.append is GIL-atomic across sink threads
        return r

    monkeypatch.setattr(TableCatalog, "write_partitions", spy)
    run_pipeline(spark, pages_path, str(tmp_path / "cat"), resume=False)
    assert order[-1] == "rollup_1d", order
    assert set(order) == {
        "raw_points", "rollup_1m", "rollup_1h", "rollup_1d",
        "rollup_1m_gorilla", "rollup_1m_counts",
    }


def test_snapshot_diff_reports_changelog(tmp_path, spark):
    """snapshot_diff is the metadata-only changelog between two retained
    snapshots: added / removed / changed (re-committed dir) partitions
    and the rows_in delta when counters were recorded."""
    cat = TableCatalog(str(tmp_path / "c"))

    def _write(days_rows: dict[str, int]):
        frames = None
        for day, n in days_rows.items():
            f = spark.range(n).select(F.col("id"), F.lit(day).alias("day"))
            frames = f if frames is None else frames.unionByName(f)
        cat.write_partitions(
            frames, "t", list(days_rows),
            counters_by_partition={
                d: {"rows_in": n} for d, n in days_rows.items()
            },
        )

    _write({"2024-01-01": 6, "2024-01-02": 4})
    s1 = cat.current_snapshot("t")
    _write({"2024-01-02": 9, "2024-01-03": 5})  # change 02, add 03
    cat.drop_partition("t", "2024-01-01", reason="ttl")  # remove 01
    s3 = cat.current_snapshot("t")

    d = cat.snapshot_diff("t", s1)  # to = current
    assert d["from_snapshot"] == s1 and d["to_snapshot"] == s3
    assert d["added"] == ["2024-01-03"]
    assert d["removed"] == ["2024-01-01"]
    assert d["changed"] == ["2024-01-02"]
    # gained: 03(5) + 02-new(9); lost: 01(6) + 02-old(4) → +4
    assert d["rows_delta"] == 4

    # identity diff: nothing changed
    same = cat.snapshot_diff("t", s3, s3)
    assert same["added"] == same["removed"] == same["changed"] == []
    assert same["rows_delta"] == 0


def test_series_cardinality_guard(spark, pages_path, tmp_path):
    """max_series_per_day fails the wave LOUDLY before any tier commits —
    the InfluxDB max-series wall: a tag explosion must not reach the
    catalog.  A generous limit passes untouched."""
    from influxer_spark.pipeline import run_pipeline

    with pytest.raises(ValueError, match="series cardinality guard"):
        run_pipeline(
            spark, pages_path, str(tmp_path / "c1"),
            encode_gorilla=False, max_series_per_day=3,
        )
    # nothing committed by the failed wave
    assert TableCatalog(str(tmp_path / "c1")).committed_partitions("rollup_1m") == {}
    res = run_pipeline(
        spark, pages_path, str(tmp_path / "c2"),
        encode_gorilla=False, max_series_per_day=10_000_000,
    )
    assert res.days_processed


def test_compaction_sort_strategy_clusters_rows(tmp_path, spark):
    """sort_cols compaction (Iceberg rewrite_data_files SORT strategy):
    rows cluster by the sort key within each output file so parquet
    min/max row-group stats become selective; data survives as an exact
    multiset, the manifest records the strategy, and a sort rewrite runs
    even when the file count is already at target."""
    import glob
    import os

    import pyarrow.parquet as pq

    cat = TableCatalog(str(tmp_path / "c"))
    # one wave write with no sort order → a one-file partition whose
    # metrics stay interleaved
    df = spark.range(2000).select(
        F.col("id"),
        F.concat(F.lit("m"), (F.col("id") % 7).cast("string")).alias("metric"),
        F.lit("2024-01-01").alias("day"),
    ).repartition(4)
    cat.write_partitions(df, "t", ["2024-01-01"])
    before = sorted(
        tuple(r) for r in cat.read(spark, "t").select("id", "metric").collect()
    )

    res = cat.compact_partition(
        spark, "t", "2024-01-01", target_file_mb=128, sort_cols=["metric", "id"]
    )
    assert res["compacted"]
    after_df = cat.read(spark, "t")
    assert sorted(
        tuple(r) for r in after_df.select("id", "metric").collect()
    ) == before

    entry = cat.committed_partitions("t")["2024-01-01"]
    assert entry["compaction"]["strategy"] == "sort"
    assert entry["compaction"]["sort_cols"] == ["metric", "id"]

    # every output file is internally sorted by the key → min/max stats
    # are selective per row group
    pdir = cat._partition_dir("t", "2024-01-01", entry)
    for fn in glob.glob(os.path.join(pdir, "*.parquet")):
        col = pq.read_table(fn, columns=["metric"]).column("metric").to_pylist()
        assert col == sorted(col), fn

    # already at target file count: binpack would skip, sort must rewrite
    res2 = cat.compact_partition(
        spark, "t", "2024-01-01", target_file_mb=128, sort_cols=["metric"]
    )
    assert res2["compacted"]
    res3 = cat.compact_partition(spark, "t", "2024-01-01", target_file_mb=128)
    assert not res3["compacted"]  # binpack path still skips when compact


def test_storage_backed_wave_matches_cache_mode(spark, pages_path, tmp_path):
    """wave_reuse='storage' (commit raw_points first, build tiers from the
    committed read-back — the 100×-scale posture where a wave's pages
    cannot live in a Spark cache) must produce bit-identical tiers,
    archives, and counters vs the default cache mode."""
    root_c = str(tmp_path / "cache")
    root_s = str(tmp_path / "storage")
    res_c = run_pipeline(spark, pages_path, root_c)
    res_s = run_pipeline(spark, pages_path, root_s, wave_reuse="storage")
    assert sorted(res_s.days_processed) == sorted(res_c.days_processed)

    a, b = TableCatalog(root_c), TableCatalog(root_s)
    for tbl in ["raw_points", "rollup_1m", "rollup_1h", "rollup_1d"]:
        cols = (
            ["url", "warc_ts", "html_bytes", "text_chars", "n_tokens"]
            if tbl == "raw_points"
            else ["bucket", "url", "metric", "cnt", "sum_v", "min_v", "max_v"]
        )
        ra = sorted(tuple(r) for r in a.read_committed(spark, tbl).select(cols).collect())
        rb = sorted(tuple(r) for r in b.read_committed(spark, tbl).select(cols).collect())
        assert ra == rb, tbl

    # archive blobs identical too (same series order, same codecs)
    for tbl in ["rollup_1m_gorilla", "rollup_1m_counts"]:
        ra = sorted(
            (tuple(r["series_keys"]), bytes(r["blob"]))
            for r in a.read_committed(spark, tbl).collect()
        )
        rb = sorted(
            (tuple(r["series_keys"]), bytes(r["blob"]))
            for r in b.read_committed(spark, tbl).collect()
        )
        assert ra == rb, tbl

    # raw_points counters amended post-commit — refresh invalidation intact
    mc = a.read_manifest("raw_points")["partitions"]
    ms = b.read_manifest("raw_points")["partitions"]
    for d in res_s.days_processed:
        assert ms[d]["counters"]["rows_in"] == mc[d]["counters"]["rows_in"]
        assert ms[d]["counters"]["points_out"] == mc[d]["counters"]["points_out"]
        assert ms[d]["lineage"]["source"] == pages_path

    # resume semantics unchanged: a completed storage-mode run skips whole
    res3 = run_pipeline(spark, pages_path, root_s, wave_reuse="storage")
    assert res3.days_processed == []


def test_wave_reuse_rejects_unknown_mode(spark, pages_path, tmp_path):
    with pytest.raises(ValueError, match="wave_reuse"):
        run_pipeline(
            spark, pages_path, str(tmp_path / "x"), wave_reuse="mmap"
        )


def test_wave_reuse_auto_picks_mode_by_wave_size(
    spark, pages_path, tmp_path, monkeypatch
):
    """Default wave_reuse is 'auto': the engine sizes the pending wave and
    flips to storage at the measured cache/storage crossover
    (WAVE_REUSE_AUTO_POINTS) instead of just documenting it.  The resolved
    mode is recorded in raw_points lineage.  Both sides of the threshold
    are exercised by moving the threshold across this fixture's size."""
    from influxer_spark import pipeline as P

    # small wave (fixture ≪ 8M points) → cache
    root_c = str(tmp_path / "auto_cache")
    res = run_pipeline(spark, pages_path, root_c)
    assert res.days_processed
    mc = TableCatalog(root_c).read_manifest("raw_points")["partitions"]
    assert all(
        mc[d]["lineage"]["wave_reuse"] == "cache" for d in res.days_processed
    )

    # same wave with the threshold lowered beneath it → storage
    monkeypatch.setattr(P, "WAVE_REUSE_AUTO_POINTS", 1)
    root_s = str(tmp_path / "auto_storage")
    res2 = run_pipeline(spark, pages_path, root_s)
    assert res2.days_processed
    ms = TableCatalog(root_s).read_manifest("raw_points")["partitions"]
    assert all(
        ms[d]["lineage"]["wave_reuse"] == "storage"
        for d in res2.days_processed
    )
    # and the two modes' tiers agree (bit-identical math either way)
    a, b = TableCatalog(root_c), TableCatalog(root_s)
    cols = ["bucket", "url", "metric", "cnt", "sum_v"]
    ra = sorted(
        tuple(r) for r in a.read_committed(spark, "rollup_1d").select(cols).collect()
    )
    rb = sorted(
        tuple(r) for r in b.read_committed(spark, "rollup_1d").select(cols).collect()
    )
    assert ra == rb and len(ra) > 0

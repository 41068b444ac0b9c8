"""JDBC parity tests (SURVEY.md §2.1 S4/S7/S8 over a real database).

Embedded Derby ships in Spark's jars, so these exercise the actual
JDBC code path — server-side query pushdown and the insert-if-absent
sink contract — without a network database. A
Postgres deployment swaps the URL/driver and keeps the same calls.
"""

import uuid

import pytest

from frontpage_spark import jdbc


def _read(spark, url, table):
    return spark.read.format("jdbc").option("url", url).option("dbtable", table).load()


@pytest.fixture()
def derby_url():
    # one in-memory database per test; create=true materializes it
    return f"jdbc:derby:memory:t{uuid.uuid4().hex[:12]};create=true"


def test_jdbc_roundtrip_and_insert_if_absent(spark, derby_url):
    df = spark.createDataFrame(
        [("k1", "a", 1), ("k2", "b", 2), ("k2", "b", 2)], ["uniq_id", "val", "n"]
    )
    # first write: in-batch dup collapses -> 2 rows land
    jdbc.insert_if_absent(df, derby_url, "ads")
    back = _read(spark, derby_url, "ads")
    assert back.count() == 2
    # replay the same batch -> idempotent, nothing new lands
    jdbc.insert_if_absent(df, derby_url, "ads")
    assert _read(spark, derby_url, "ads").count() == 2
    # a new key lands, existing keys skipped
    df2 = spark.createDataFrame([("k2", "x", 9), ("k3", "c", 3)], ["uniq_id", "val", "n"])
    jdbc.insert_if_absent(df2, derby_url, "ads")
    rows = {r["uniq_id"]: r["val"] for r in _read(spark, derby_url, "ads").collect()}
    assert rows == {"k1": "a", "k2": "b", "k3": "c"}  # k2 kept its FIRST value


def test_jdbc_pushdown_query_and_delta_scan(spark, derby_url):
    raw = spark.createDataFrame(
        [(f"k{i}", i) for i in range(10)], ["uniq_id", "n"]
    )
    clean = spark.createDataFrame([(f"k{i}",) for i in range(6)], ["uniq_id"])
    jdbc.write_jdbc(raw, derby_url, "raw_ads")
    jdbc.write_jdbc(clean, derby_url, "clean_ads")

    # server-side aggregate: only one row crosses the wire
    agg = jdbc.pushdown_query(
        spark, derby_url, 'SELECT MAX("n") AS max_n FROM raw_ads'
    )
    assert agg.collect()[0]["MAX_N" if "MAX_N" in agg.columns else "max_n"] == 9

    # delta scan: NOT IN evaluated by the database (etl_process.py:297-301)
    delta = jdbc.jdbc_delta_scan(spark, derby_url, "raw_ads", "clean_ads")
    assert sorted(r["uniq_id"] for r in delta.collect()) == ["k6", "k7", "k8", "k9"]
    limited = jdbc.jdbc_delta_scan(spark, derby_url, "raw_ads", "clean_ads", limit=2)
    assert limited.count() == 2


def test_streaming_foreachbatch_into_jdbc(spark, tmp_path, derby_url):
    """End-to-end: a file stream drains micro-batches through
    insert_if_absent into the JDBC warehouse — the reference's
    poll-ETL-insert loop (etl_process.py:346-347, scraper.py:153-156)
    as Structured Streaming + a real database sink. Exactly-once-ish:
    replays and cross-batch duplicate keys both collapse server-side."""
    from frontpage_spark.incremental import stream_pipeline

    src = tmp_path / "src"
    src.mkdir()
    b1 = spark.createDataFrame([("k1", 1), ("k2", 2)], ["uniq_id", "n"])
    b2 = spark.createDataFrame([("k2", 2), ("k3", 3)], ["uniq_id", "n"])  # k2 repeats
    b1.coalesce(1).write.mode("append").parquet(str(src))
    b2.coalesce(1).write.mode("append").parquet(str(src))

    def body(df, epoch_id):
        jdbc.insert_if_absent(df, derby_url, "stream_ads")

    q = stream_pipeline(
        spark,
        str(src),
        str(tmp_path / "ckpt"),
        body,
        schema=b1.schema,
        max_files_per_trigger=1,  # force multiple micro-batches
    )
    q.awaitTermination(120)
    rows = {r["uniq_id"]: r["n"] for r in _read(spark, derby_url, "stream_ads").collect()}
    assert rows == {"k1": 1, "k2": 2, "k3": 3}

    # a restart over the same checkpoint re-reads nothing -> still 3 rows
    q2 = stream_pipeline(
        spark, str(src), str(tmp_path / "ckpt"), body, schema=b1.schema
    )
    q2.awaitTermination(120)
    assert _read(spark, derby_url, "stream_ads").count() == 3


def test_postgres_dialect_is_selected_by_url(spark):
    pg_url = "jdbc:postgresql://localhost:5432/frontpage"
    d = spark._jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(pg_url)
    assert "Postgres" in d.toString()
    # Derby URL must NOT pick the Postgres dialect (regression guard for
    # the CLOB workarounds the Derby tests rely on)
    d2 = spark._jvm.org.apache.spark.sql.jdbc.JdbcDialects.get("jdbc:derby:memory:x")
    assert "Postgres" not in d2.toString()

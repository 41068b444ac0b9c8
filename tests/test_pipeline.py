"""Pipeline parity tests (SURVEY.md §5.4): raw→clean end-to-end on
synthetic ad records shaped per FIXTURES.md §A1."""

import pytest
from pyspark.sql import functions as F

from frontpage_spark.pipeline import (
    clean_projection,
    dedup_new_keys,
    enrich,
    run_batch,
    to_compat,
)
from frontpage_spark.conform import conform, referential_conform, temporal_conform
from frontpage_spark.schemas import RAW_SCHEMA, SITE_MAP_SCHEMA

HTML = (
    '<html><div class="adInfo">\r\n Posted: Tuesday, May 2, 2017 11:28 PM </div>'
    '<div id="postingTitle"><h1>Great deal Report Ad</h1></div>'
    '<div class="postingBody">call 555-123-4567 or five55 987 6543</div>'
    "<p class=\"metaInfoDisplay\">Poster's age: 25</p>"
    "<div>Location: midtown, uptown</div>"
    '<div id="OtherAdsByThisUser"><div class="cat"><a href="/u/1"></a></div>'
    '<div class="cat"><a href="/u/2"></a></div></div></html>'
)


@pytest.fixture(scope="module")
def raw(spark):
    rows = [
        (1, "k1", ("2017-05-03 10:00:00", 200, "http://nyc.example.com/cats/x/111", HTML, "k1")),
        (2, "k2", ("2017-05-03 10:01:00", 200, "http://sfo.example.com/dogs/x/222", HTML, "k2")),
        # malformed html → extractors NULL out
        (3, "k3", ("2017-05-03 10:02:00", 200, "http://nyc.example.com/cats/x/333", "<html></html>", "k3")),
    ]
    return spark.createDataFrame(rows, RAW_SCHEMA)


@pytest.fixture(scope="module")
def site_map(spark):
    rows = [
        ("nyc", "New York", "NY", "Northeast", "Mid-Atlantic", "http://nyc"),
        ("sfo", "San Francisco", "CA", "West", "Pacific", "http://sfo"),
        ("unused", "Nowhere", "ZZ", "None", "None", "http://zz"),
    ]
    return spark.createDataFrame(rows, SITE_MAP_SCHEMA)


def test_clean_projection_fields(spark, raw):
    row = clean_projection(raw).filter(F.col("uniq_id") == "k1").first()
    assert row["ad_id"] == "111"
    assert row["category"] == "cats"
    assert row["site_id"] == "nyc"
    assert row["post_title"] == "Great deal"
    assert row["poster_age"] == "25"
    assert row["locations"] == "midtown, uptown"
    assert row["other_ads"] == ["/u/1", "/u/2"]
    assert row["phone"] == ["5551234567", "5559876543"]  # spelled 'five55' branch
    assert str(row["post_date"]) == "2017-05-02 23:28:00"
    assert "call 555-123-4567" in row["post_body"]


def test_clean_projection_malformed_html_nulls(spark, raw):
    row = clean_projection(raw).filter(F.col("uniq_id") == "k3").first()
    assert row["post_title"] is None and row["post_body"] is None
    assert row["post_date"] is None
    # but URL-derived fields still populate
    assert row["ad_id"] == "333"


def test_to_compat_boundary(spark, raw):
    row = to_compat(clean_projection(raw)).filter(F.col("uniq_id") == "k3").first()
    assert row["post_title"] == ""  # NULL → '' (SURVEY.md §1.4)
    assert row["other_ads"] == ""  # NULL array → ''
    row1 = to_compat(clean_projection(raw)).filter(F.col("uniq_id") == "k1").first()
    assert row1["phone"] == "5551234567;5559876543"


def test_enrich_inner_semantics(spark, raw, site_map):
    clean = clean_projection(raw)
    got = enrich(clean, site_map)
    rows = {r["uniq_id"]: r for r in got.collect()}
    assert rows["k1"]["city"] == "New York" and rows["k1"]["region"] == "Northeast"
    assert rows["k2"]["state"] == "CA"
    # the inner join drops nothing here (all sites known); unknown site drops out
    clean_bad = clean.withColumn(
        "site_id", F.when(F.col("uniq_id") == "k1", "nope").otherwise(F.col("site_id"))
    )
    assert enrich(clean_bad, site_map).count() == 2


def test_dedup_idempotent(spark, raw):
    clean = clean_projection(raw)
    existing = spark.createDataFrame([("k2",)], ["uniq_id"])
    out = dedup_new_keys(clean, existing)
    assert sorted(r["uniq_id"] for r in out.collect()) == ["k1", "k3"]
    # run twice ⇒ same keys (in-batch dups collapse)
    doubled = clean.union(clean)
    out2 = dedup_new_keys(doubled, existing)
    assert sorted(r["uniq_id"] for r in out2.collect()) == ["k1", "k3"]


def test_run_batch_quarantine(spark, raw, site_map):
    existing = spark.createDataFrame([("none",)], ["uniq_id"])
    quarantine = spark.createDataFrame([("k3",)], ["uniq_id"])
    out = run_batch(raw, site_map, existing, quarantine)
    assert sorted(r["uniq_id"] for r in out.collect()) == ["k1", "k2"]


def test_conform_invariants(spark):
    clean = spark.createDataFrame(
        [
            ("a", "2017-05-01 00:00:00", "2017-05-02 00:00:00"),  # posted before first scrape
            ("b", "2017-05-03 00:00:00", "2017-05-02 00:00:00"),
            ("zombie", "2017-05-04 00:00:00", "2017-05-02 00:00:00"),  # not in raw
        ],
        ["uniq_id", "post_date", "scrape_date"],
    ).select(
        "uniq_id",
        F.to_timestamp("post_date").alias("post_date"),
        F.to_timestamp("scrape_date").alias("scrape_date"),
    )
    raw = spark.createDataFrame([("a",), ("b",)], ["uniq_id"])
    assert sorted(r["uniq_id"] for r in temporal_conform(clean).collect()) == ["b", "zombie"]
    assert sorted(r["uniq_id"] for r in referential_conform(clean, raw).collect()) == ["a", "b"]
    assert [r["uniq_id"] for r in conform(clean, raw).collect()] == ["b"]


def test_validate_batch_quarantines_with_reason(spark, raw, site_map, tmp_path):
    from frontpage_spark.pipeline import quarantine_append, validate_batch

    clean = clean_projection(raw)
    # make k2's site unknown → unknown_site_id; k3 has malformed HTML → no post_date
    clean_bad = clean.withColumn(
        "site_id", F.when(F.col("uniq_id") == "k2", "nowhere").otherwise(F.col("site_id"))
    )
    good, bad = validate_batch(clean_bad, site_map)
    assert sorted(r["uniq_id"] for r in good.collect()) == ["k1"]
    reasons = {r["uniq_id"]: r["reason"] for r in bad.collect()}
    assert reasons == {"k2": "unknown_site_id", "k3": "unparseable_post_date"}

    # durable channel round-trips through parquet
    qpath = str(tmp_path / "quarantine")
    quarantine_append(bad, qpath)
    back = spark.read.parquet(qpath)
    assert back.count() == 2 and set(back.columns) == {"uniq_id", "reason", "quarantined_at"}
    # and feeds straight back into the batch's P2 exclusion
    empty_sink = spark.createDataFrame([], "uniq_id string")
    out = run_batch(raw, site_map, empty_sink, quarantine_keys=back)
    assert [r["uniq_id"] for r in out.collect()] == ["k1"]


def test_merge_upsert_idempotent_and_inserts(spark):
    from frontpage_spark.pipeline import merge_upsert

    tgt = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["k", "name", "v"]
    )
    upd = spark.createDataFrame(
        [(2, "b2", 99), (4, "d", 40), (2, "b2", 99)], ["k", "name", "v"]  # dup in batch
    )
    once = merge_upsert(tgt, upd, "k")
    got = {r.k: (r.name, r.v) for r in once.collect()}
    assert got == {1: ("a", 10), 2: ("b2", 99), 3: ("c", 30), 4: ("d", 40)}
    # applying the same batch to the merged result changes nothing
    twice = merge_upsert(once, upd, "k")
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, once.collect()))


def test_observed_batch_metrics_single_pass(spark):
    """observe() metrics surface through the consuming job itself —
    row/null/distinct counters with NO second scan of the batch."""
    from pyspark.sql import Observation
    from frontpage_spark.pipeline import observed_batch

    raw = spark.createDataFrame(
        [("k1", "2024-01-01 00:00:00"), ("k2", "2024-01-02 00:00:00"),
         (None, "2024-01-03 00:00:00"), ("k2", "2024-01-04 00:00:00")],
        ["uniq_id", "scrape_date"],
    )
    ob = Observation("etl_metrics")
    observed = observed_batch(raw, ob)
    assert observed.count() == 4  # the one consuming action
    m = ob.get
    assert m["n_rows"] == 4
    assert m["n_null_keys"] == 1
    assert m["approx_keys"] == 2
    assert m["max_scrape_date"] == "2024-01-04 00:00:00"

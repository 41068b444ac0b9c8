"""Raw→clean pipeline (SURVEY.md §3 EP2): the reference's per-row
`clean_data` loop (etl_process.py:203-224) + dimension enrichment
(etl_process.py:320-323) + dedup-write (scraper.py:211-218), as one
declarative Catalyst plan.

Plan shape: scan(raw) → pandas-UDF HTML extraction (one stage) →
native column exprs → broadcast join (dim) → anti-join against sink
keys → append. The only wide operation is the sink anti-join; the
dimension join is a broadcast (≤479-row class table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import functions as FF, html


def derive_clean(with_h: DataFrame) -> DataFrame:
    """P1's derivation layer — everything DOWNSTREAM of HTML extraction,
    as native Catalyst expressions only. Input columns: (uniq_id, __url,
    __scrape_date, __h struct<post_date_raw, post_title, post_body,
    poster_age, locations, other_ads>). Split out from
    ``clean_projection`` so the derivation (F1-F4 URL/date parsing, F6
    phone mining, array/compat shaping) is independently hash-checkable
    against a SQL oracle with synthetic extractor outputs
    (`clean_derivation_layer`), while UDF extraction itself stays
    rows-only (VERDICT r4 item 7)."""
    h = F.col("__h")
    url = F.col("__url")
    body = h["post_body"]
    return with_h.select(
        F.col("uniq_id"),
        FF.ad_id_from_url(url).alias("ad_id"),
        url.alias("ad_url"),
        FF.category_from_url(url).alias("category"),
        h["locations"].alias("locations"),
        F.split(h["other_ads"], ";").alias("other_ads"),
        FF.phone_candidates(body).alias("phone"),
        body.alias("post_body"),
        FF.parse_verbose_date(h["post_date_raw"]).alias("post_date"),
        h["poster_age"].alias("poster_age"),
        h["post_title"].alias("post_title"),
        F.to_timestamp(F.col("__scrape_date")).alias("scrape_date"),
        FF.site_id_from_url(url).alias("site_id"),
    )


def clean_projection(raw: DataFrame) -> DataFrame:
    """P1 — 13-field projection of a raw ad DataFrame with columns
    (uniq_id, ad: struct(scrape_date, code, url, read, uniq_id)).

    Matches etl_process.py:203-224 field-for-field; NULL where the
    reference produced '' (apply ``to_compat`` for exact parity).
    """
    # one Arrow round trip extracts all six HTML fields (struct column);
    # everything downstream is native Catalyst expressions (derive_clean)
    with_h = raw.select(
        F.col("uniq_id"),
        F.col("ad.url").alias("__url"),
        F.col("ad.scrape_date").alias("__scrape_date"),
        html.extract_fields(F.col("ad.read")).alias("__h"),
    )
    return derive_clean(with_h)


def enrich(clean: DataFrame, site_map: DataFrame) -> DataFrame:
    """J2 — broadcast dimension join on site_id.

    The reference KeyErrors on unknown site_ids (etl_process.py:320-323)
    — inner-join semantics: rows with unknown sites drop out and belong
    in the dead-letter channel.
    """
    dim = F.broadcast(site_map.select("site_id", "city", "state", "region", "division"))
    return clean.join(dim, "site_id", "inner")


def to_compat(df: DataFrame) -> DataFrame:
    """Reference-compatibility boundary (SURVEY.md §1.4): arrays become
    ';'-joined strings, NULL strings become ''. Timestamps stay typed.
    One projection, so the analyzer sees one Project, not one per column."""

    def compat(c: str, t: str):
        if t.startswith("array"):
            return FF.compat_join_array(c).alias(c)
        if t == "string":
            return FF.empty_on_null(c).alias(c)
        return F.col(c)

    return df.select(*[compat(c, t) for c, t in df.dtypes])


def dedup_new_keys(batch: DataFrame, existing: DataFrame, key: str = "uniq_id") -> DataFrame:
    """S4/A6 — insert-if-absent semantics of the UNIQUE(uniq_id) index:
    in-batch dedup + anti-join against keys already in the sink."""
    deduped = batch.dropDuplicates([key])
    return deduped.join(existing.select(key), key, "left_anti")


def write_append(df: DataFrame, path: str) -> None:
    """S7 — typed warehouse sink. Parquet append, partitioned by nothing
    here (testdata-scale); at 100 TB partition by a date column."""
    df.write.mode("append").parquet(path)


def run_batch(
    raw: DataFrame,
    site_map: DataFrame,
    existing_keys: DataFrame,
    quarantine_keys: DataFrame | None = None,
) -> DataFrame:
    """One ETL micro-batch (EP2 body): dead-letter exclusion (P2) →
    projection (P1) → enrichment (J2) → dedup against sink (S4)."""
    batch = raw
    if quarantine_keys is not None:
        batch = batch.join(quarantine_keys.select("uniq_id"), "uniq_id", "left_anti")
    cleaned = clean_projection(batch)
    enriched = enrich(cleaned, site_map)
    return dedup_new_keys(enriched, existing_keys)


def validate_batch(clean: DataFrame, site_map: DataFrame) -> tuple[DataFrame, DataFrame]:
    """ST4 — split a projected batch into (good, dead_letter).

    The reference dead-lettered rows that raised during transform/insert
    (etl_process.py:332-335) into a volatile in-memory set. Here failure
    is a *validation predicate* (the NULL-based extractors never throw):
    rows with an unknown site_id (the reference's KeyError) or an
    unparseable post_date are quarantined WITH a reason column, so the
    channel is durable, inspectable, and replayable.
    """
    known = F.broadcast(site_map.select("site_id").distinct().withColumn("__known", F.lit(1)))
    flagged = clean.join(known, "site_id", "left").withColumn(
        "__reason",
        F.when(F.col("__known").isNull(), F.lit("unknown_site_id")).when(
            F.col("post_date").isNull(), F.lit("unparseable_post_date")
        ),
    )
    good = flagged.filter(F.col("__reason").isNull()).drop("__known", "__reason")
    bad = (
        flagged.filter(F.col("__reason").isNotNull())
        .select("uniq_id", F.col("__reason").alias("reason"))
    )
    return good, bad


def quarantine_append(bad: DataFrame, path: str) -> None:
    """Durable dead-letter sink (vs the reference's session-scoped set,
    etl_process.py:292): (uniq_id, reason, quarantined_at) parquet."""
    bad.select(
        "uniq_id", "reason", F.current_timestamp().alias("quarantined_at")
    ).write.mode("append").parquet(path)


def merge_upsert(target: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """MERGE (SCD1 / update-wins upsert): rows of ``updates`` replace
    target rows with the same key; unmatched update rows insert.

    Expressed as one anti-join (target rows whose key is NOT updated)
    plus a union — a single shuffle on the key, no window, no full
    outer join carrying doubled columns. ``updates`` is deduplicated on
    the key first so the operation is deterministic and idempotent
    (applying the same update batch twice is a no-op — asserted in
    tests). At 100 TB this is the logical form of a Delta/Iceberg
    MERGE INTO: the physical variant rewrites only the files whose key
    ranges intersect the update set (see ``plans.write_zordered`` /
    ``write_partitioned`` for the layouts that make that cheap).
    """
    upd = updates.dropDuplicates([key])
    kept = target.join(upd.select(key), key, "left_anti")
    return kept.unionByName(upd)


def observed_batch(raw: DataFrame, observation=None) -> DataFrame:
    """Attach single-pass pipeline observability to a raw batch via
    ``DataFrame.observe`` — the Spark-native replacement for the
    reference's print-style progress logging (`etl_process.py:337-341`
    counts a batch by iterating it a second time in Python).

    The returned frame is semantically IDENTICAL to the input; the
    metrics (row count, null-key count, distinct-ish key floor via
    approx_count_distinct, max scrape_date) are computed by the SAME
    job that consumes the frame — zero extra scans, zero extra
    shuffles, read on the driver via ``Observation.get`` (batch) or a
    ``QueryExecutionListener``, and in Structured Streaming through
    each micro-batch's progress event. At 100 TB an extra .count() for
    logging re-reads the table; an observation is free.

    ``observation``: a ``pyspark.sql.Observation`` for driver-side
    ``.get`` access (batch), or None to attach a named observation
    (streaming — metrics ride each progress event)."""
    return raw.observe(
        observation if observation is not None else "etl_metrics",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("uniq_id").isNull().cast("long")).alias("n_null_keys"),
        F.approx_count_distinct("uniq_id").alias("approx_keys"),
        F.max("scrape_date").alias("max_scrape_date"),
    )


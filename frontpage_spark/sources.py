"""Source adapters (SURVEY.md §2.1).

The reference reads: Postgres tables (S4/S7/S8), a CSV dimension file
(S5, etl_process.py:185-200), newline parameter files (S6,
scraper.py:159-160), and live HTTP (S1-S2 — out of engine scope; the
correctness harness substitutes the parquet testdata). Here every
source is a DataFrame reader so Catalyst sees the whole plan: column
pruning and predicate pushdown reach the parquet scan.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from .session import session_cache

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Timestamp columns whose physical parquet encoding has varied across
# testdata generations: TIMESTAMP(NANOS) (read as bigint under
# legacy.parquet.nanosAsLong, which session.RUNTIME_CONF sets), or
# TIMESTAMP(MICROS, isAdjustedToUTC=false) (Spark reads timestamp_ntz).
# Either way we normalize to TimestampType; the session time zone is
# UTC, so the wall-clock values match DuckDB's naive read and oracle
# parity holds.
NORMALIZE_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


# Table scans are cached in the session's cache (session.session_cache)
# under ("table", sf_dir, name): spark.read.parquet pays file listing +
# footer schema inference (~0.1s/table) at PLAN time, every call. The
# testdata dirs are immutable and DataFrame plans are immutable values,
# so reusing the logical plan is semantics-free — it removes a per-query
# constant that a long-lived production session would never pay either
# (tables would live in a catalog).


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One testdata parquet table. Vectorized reader; pruning/pushdown free.

    The scan is cached per SESSION, not per application (r11): a cached
    frame belongs to the session that built it, and a temp view
    registered from it lands in THAT session's catalog — an app-level
    key handed a cloned session (``spark.newSession()``, the scoped-conf
    idiom) a default-session frame, so ``register_views`` silently
    registered views the clone could not resolve (sf1 bench:
    TABLE_OR_VIEW_NOT_FOUND on `customer`)."""
    return session_cache(spark).get_or_put(
        ("table", sf_dir, name), lambda: _load_table_uncached(spark, sf_dir, name)
    )


def table_files(sf_dir: str, name: str) -> list[str]:
    """The parquet files of table ``name`` under ``sf_dir``: the table
    itself when it is one file, else the part files of the directory
    Spark writes for a table."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.isdir(path):
        return [path]
    return [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".parquet")]


def _measured(what: str, measure) -> int | None:
    """``measure()``, or None when the input cannot be read. The except
    is NARROW (missing pyarrow, missing path, unreadable footer —
    pyarrow's ArrowInvalid subclasses ValueError) and LOGGED: a silent
    broad except once let an environment hiccup route a size-gated
    operator onto a branch nobody asked for; anything unexpected raises
    instead of mispicking a branch."""
    try:
        return measure()
    except (ImportError, OSError, ValueError) as e:
        msg = f"{what}: unreadable ({type(e).__name__}: {e}); size gates take the scale branch"
        warnings.warn(msg, RuntimeWarning, stacklevel=3)
        return None


def table_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count of a table from its parquet FOOTERS — driver-side
    metadata, no Spark job; the same statistic Spark's own count-star
    metadata optimization reads. A footer read costs well under a
    millisecond and runs only at build time, which a prepared-plan
    cache hit skips. None when unreadable."""

    def rows() -> int:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows for f in table_files(sf_dir, name))

    return _measured(f"table_rows({sf_dir}, {name})", rows)


def corpus_bytes(sf_dir: str) -> int | None:
    """Bytes of every parquet table under ``sf_dir``, part files
    included, by stat alone (no footer read). None when unreadable."""

    def size() -> int:
        tables = [f.removesuffix(".parquet") for f in os.listdir(sf_dir) if f.endswith(".parquet")]
        return sum(os.path.getsize(f) for t in tables for f in table_files(sf_dir, t))

    return _measured(f"corpus_bytes({sf_dir})", size)


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ts_cols = NORMALIZE_TS_COLUMNS.get(name, ())
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in ts_cols:
        dt = dict(df.dtypes).get(c)
        if dt == "bigint":  # raw nanos
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dt == "timestamp_ntz":  # micros, no zone — UTC session makes this exact
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def paginated_scan(
    fetch_page,
    max_pages: int = 49,
    is_last=None,
) -> DataFrame | None:
    """S1/P4 — bounded pagination with data-driven termination
    (scraper.py:43-83: pages 1..49, stop at 'No matches found.').

    ``fetch_page(n) -> DataFrame`` produces page n; iteration stops at
    the first page for which ``is_last`` (default: DataFrame.isEmpty)
    is true, or after ``max_pages``. The emptiness probe is a job per
    page — inherent to data-driven termination, exactly as the
    reference had to fetch a page to see it was empty. Returns the
    union of fetched pages, or None if page 1 was already empty.
    """
    from functools import reduce

    pages: list[DataFrame] = []
    for n in range(1, max_pages + 1):
        page = fetch_page(n)
        if is_last(page) if is_last is not None else page.isEmpty():
            break
        pages.append(page)
    return reduce(DataFrame.unionByName, pages) if pages else None


FETCHED_SCHEMA = (
    "scrape_date string, code int, url string, read string, post_date_raw string, error string"
)


def fetch_documents(
    urls: DataFrame,
    fetcher,
    max_retries: int = 3,
    backoff_s: float = 0.0,
    on_retry=None,
    clock=None,
    url_col: str = "url",
) -> DataFrame:
    """S2/ST5 — per-document fetch as a distributed operator with
    injectable I/O (scraper.py:86-91 ``open_url`` + the except-path
    sleep/rotate loop at scraper.py:220-226).

    ``fetcher(url) -> (code, body)`` does the actual I/O and raises on
    failure; it is injectable, so the engine's dataflow is testable
    without a network (the same pattern ``paginated_scan`` uses for
    pages). On failure the partition sleeps ``backoff_s * 2**attempt``
    and calls ``on_retry(url, attempt)`` — the reference's enable_tor()
    identity-rotation hook — before retrying; after ``max_retries`` the
    row is emitted with code NULL and the error message, feeding the
    durable dead-letter channel (ST4) instead of being dropped.

    Scale notes: one fetcher call per URL, Arrow-batched via
    ``mapInPandas``; repartition the URL frame to set fetch concurrency
    (politeness throttling = fewer partitions + backoff, the Spark
    equivalent of the reference's sleep_time). Output:
    (scrape_date, code, url, read, post_date_raw, error).

    ``post_date_raw`` (F4's 'Posted:' text, NULL for a failed fetch or
    a page without one) is read in this same pass, while the page is
    already in Python: record assembly keys on it, and a second Arrow
    UDF over ``read`` would ship every page to Python again.
    """
    from time import sleep

    from . import html

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for url in pdf[url_col]:
                body, code, err = None, None, None
                for attempt in range(max_retries + 1):
                    try:
                        code, body = fetcher(url)
                        err = None
                        break
                    except Exception as e:  # noqa: BLE001 - fetch errors are data
                        err = f"{type(e).__name__}: {e}"
                        if attempt < max_retries:
                            if backoff_s:
                                sleep(backoff_s * (2 ** attempt))
                            if on_retry is not None:
                                on_retry(url, attempt)
                scrape_date = (
                    clock() if clock is not None
                    else __import__("datetime").datetime.now().strftime("%Y-%m-%d %H:%M:%S")
                )
                out.append(
                    (scrape_date, code, url, body, html._extract(body, "post_date_raw"), err)
                )
            yield pd.DataFrame(
                out, columns=["scrape_date", "code", "url", "read", "post_date_raw", "error"]
            )

    return urls.select(F.col(url_col)).mapInPandas(run, FETCHED_SCHEMA)


def assemble_raw(fetched: DataFrame) -> DataFrame:
    """S3 — record assembly: fetched documents → RAW_SCHEMA rows with the
    composite uniq_id (scraper.py:94-102,105-119,205). Failed fetches
    (code NULL) are excluded — they belong to the dead-letter channel.
    Narrow per-row expressions only: the post date comes from the
    ``post_date_raw`` column ``fetch_documents`` extracts, so no Python
    runs here.
    """
    from . import functions as FF

    ok = fetched.filter(F.col("error").isNull() & F.col("code").isNotNull())
    with_key = ok.withColumn(
        "uniq_id",
        FF.uniq_id(
            FF.format_ts(FF.parse_verbose_date(F.col("post_date_raw"))),
            FF.ad_id_from_url(F.col("url")),
            FF.site_id_from_url(F.col("url")),
            FF.category_from_url(F.col("url")),
        ),
    )
    return with_key.select(
        F.monotonically_increasing_id().alias("id"),
        F.col("uniq_id"),
        F.struct(
            F.col("scrape_date"), F.col("code"), F.col("url"), F.col("read"), F.col("uniq_id")
        ).alias("ad"),
    )


def csv_dimension(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """S5 — CSV dimension source (reference: dict keyed on site_id,
    etl_process.py:185-200). Small table; callers wrap in broadcast().

    Columns bind to ``schema`` by position, so the CSV must hold the
    schema's columns in its order, and no job is spent inferring them.
    ``enforceSchema=false`` checks the header by name: a reordered or
    inserted column fails the read instead of binding the wrong
    values."""
    return (
        spark.read.option("header", True)
        .schema(schema)
        .option("enforceSchema", False)
        .csv(path)
    )


def text_params(spark: SparkSession, path: str) -> DataFrame:
    """S6 — newline param file → normalized distinct one-column DataFrame
    (reference: set(line.lower().strip()), scraper.py:159-160)."""
    from .functions import normalize_param

    return (
        spark.read.text(path)
        .select(normalize_param(F.col("value")).alias("value"))
        .filter(F.col("value") != "")
        .distinct()
    )


def jsonl_source(
    spark: SparkSession,
    path: str,
    schema,
    quarantine_path: str | None = None,
    ingest_token: str | None = None,
) -> DataFrame:
    """JSON-lines ingestion with a DURABLE corrupt-record channel — the
    third-party-feed flavor of the pipeline's dead-letter design (ST4):
    rows that fail to parse against the declared schema are never
    silently nulled OR silently dropped; they are either written to a
    quarantine sink (raw line + ingest timestamp) or surfaced to the
    caller under ``_corrupt_record``. The one deliberate exception:
    blank / whitespace-only lines are treated as line separators and
    dropped before the parse (see ``_jsonl_parse``) — they are not
    records, so they belong to neither channel.

    Shape: a line-splittable TEXT scan + ``from_json`` in PERMISSIVE
    mode with a ``_corrupt_record`` column (NOT the json reader — Spark
    forbids projecting only the corrupt column from a raw JSON scan,
    and the text form keeps the byte-exact raw line for the quarantine
    sink for free). One record per line is also the layout that stays
    splittable at 100 TB; multiLine JSON parses one task per FILE. The
    declared schema is mandatory, so Spark never runs its sampling
    inference pass (a whole extra scan) over the input.

    Without ``quarantine_path`` this is a pure LAZY source: the parsed
    frame comes back with ``_corrupt_record`` retained so the caller
    does its own split (``_corrupt_record IS NULL`` = clean) and
    commits both channels however it likes (``jsonl_stream`` +
    ``foreachBatch`` is the streaming shape of exactly that contract).

    With ``quarantine_path`` set, the call is an INGEST COMMIT — it
    delegates to :func:`jsonl_ingest`, which runs ONE job now (see
    there for the single-scan contract). Callers that want no action
    at call time must pass no quarantine_path.

    Scale: the parse is JVM-side Jackson (no Python), the clean/bad
    split is one narrow filter each. Filters on parsed columns push
    into the scan as row-group skipping once the clean frame lands in
    parquet.
    """
    if quarantine_path is not None:
        return jsonl_ingest(spark, path, schema, quarantine_path, ingest_token)
    return _jsonl_parse(spark.read.text(path), schema)


def jsonl_ingest(
    spark: SparkSession,
    path: str,
    schema,
    quarantine_path: str,
    ingest_token: str | None = None,
) -> DataFrame:
    """One-pass ingest COMMIT for a JSON-lines feed: scans the feed
    ONCE, appends the bad raws to ``quarantine_path`` as
    (raw, quarantined_at) parquet — the same replayable channel shape
    as ``pipeline.quarantine_append`` — and returns the clean rows
    with exactly the caller's columns, served from the SAME
    materialization.

    Single-scan contract (closes the r8 two-scan/eager-surprise
    finding): the parsed frame is pinned with ``plans.keep()`` before
    the quarantine write, so the write job populates the cache and the
    returned clean frame reads ``InMemoryTableScan``, not the text
    files — one text-scan job per ingest. The function name says what
    happens at call time: this is an action, not a lazy source —
    ``jsonl_source`` (no quarantine) is the lazy form.

    Snapshot contract (r10, ADVICE r9): snapshot identity does NOT
    rest on the cache. The path glob is resolved to its concrete file
    list ONCE, before anything runs, and the lineage reads that list —
    so even if keep()'s FIFO evicts the cached parse before the caller
    consumes the clean frame (8 later keep() calls anywhere in the
    session), the fallback re-scan reads the IDENTICAL files: feed
    drops landing after the call are invisible to both channels, never
    parsed-but-unquarantined. (Files are assumed immutable once
    dropped — the same assumption Spark itself makes within a job; a
    deleted source file still fails loudly rather than silently.)

    Retry / chaos contract (r10, VERDICT r9 item 5): the quarantine
    write runs BEFORE the caller sees the clean frame, so a caller that
    dies between the two and retries the whole call re-appends the same
    bad raws — the channel is AT-LEAST-ONCE by default (replayable:
    rows are deduplicable on ``raw``, the byte-exact line). Pass
    ``ingest_token`` (any stable per-attempt id — a batch date, a file
    manifest hash) to make the commit IDEMPOTENT instead: the bad rows
    land under an ``ingest_token=<token>`` partition via dynamic
    partition overwrite, so a retry REPLACES its own partition
    byte-for-byte and other tokens' partitions are untouched — the
    exact Spark idiom for exactly-once-per-token file sinks (and the
    same run-id-partition shape Structured Streaming's foreachBatch
    idempotence uses with batchId).

    Scale: the file-list resolution is a driver-side listing (pure
    metadata — the same listing the scan does anyway), the cached
    parse holds only the declared columns + ``_corrupt_record`` (NULL
    for the clean majority), MEMORY_AND_DISK by keep()'s policy, and
    the quarantine write ships the (typically tiny) bad fraction.
    """
    from . import plans

    # Layout guard (ADVICE r10): the two commit modes write INCOMPATIBLE
    # layouts — flat appended part files vs ingest_token=<v> partition
    # dirs — and mixing them on one path breaks later partition
    # discovery (or silently drops the partition column). A quarantine
    # path must stick to one mode for its lifetime; fail loudly here
    # instead of corrupting the channel.
    existing = _quarantine_layout(spark, quarantine_path)
    if existing is not None and existing != (ingest_token is not None):
        raise ValueError(
            f"jsonl_ingest: quarantine_path {quarantine_path!r} already "
            f"holds a {'partitioned (ingest_token=...)' if existing else 'flat appended'} "
            f"layout, but this call is in "
            f"{'token' if ingest_token is not None else 'flat append'} mode — "
            "a quarantine dir must stick to one mode; use a fresh path or "
            "the matching mode"
        )

    text = spark.read.text(path)
    files = text.inputFiles()
    if files:
        text = spark.read.text(files)
    parsed = plans.keep(_jsonl_parse(text, schema))
    cols = [F.col(f.name) for f in schema.fields]
    bad = parsed.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw"),
        F.current_timestamp().alias("quarantined_at"),
    )
    if ingest_token is None:
        bad.write.mode("append").parquet(quarantine_path)
    else:
        bad.withColumn("ingest_token", F.lit(ingest_token)).write.partitionBy(
            "ingest_token"
        ).option("partitionOverwriteMode", "dynamic").mode("overwrite").parquet(
            quarantine_path
        )
    return parsed.filter(F.col("_corrupt_record").isNull()).select(*cols)


def _quarantine_layout(spark: SparkSession, path: str) -> bool | None:
    """Existing layout of a quarantine dir: True = ``ingest_token=``
    partition dirs, False = flat appended data files, None = absent/
    empty/undecidable. Hadoop FileSystem API so any scheme the session
    can write to can also be inspected; a listing failure returns None
    (the write itself will then surface the real error)."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return None
        for st in fs.listStatus(hpath):
            name = st.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue  # _SUCCESS / hidden commit metadata
            if name.startswith("ingest_token="):
                return True
            return False
    except Exception:
        return None
    return None


def _jsonl_parse(text_df: DataFrame, schema) -> DataFrame:
    """Shared batch/streaming parse: text lines -> declared columns +
    ``_corrupt_record`` (the byte-exact raw line on failure, NULL when
    clean). Works identically on ``spark.read.text`` and
    ``spark.readStream.text`` inputs — the from_json projection is
    stateless, so the streaming planner accepts it unchanged."""
    from pyspark.sql.types import StringType, StructField, StructType

    if not isinstance(schema, StructType):
        raise TypeError("jsonl_source: schema must be a StructType")
    if "_corrupt_record" in schema.fieldNames():
        raise ValueError("jsonl_source: schema must not declare _corrupt_record")
    parse_schema = StructType(
        list(schema.fields) + [StructField("_corrupt_record", StringType())]
    )
    # Blank / whitespace-only lines are LINE SEPARATORS, not records
    # (the JSON-lines convention allows them): dropped before the
    # parse, so they reach neither channel. Everything else that
    # from_json cannot produce a struct for — including inputs where
    # PERMISSIVE mode returns a NULL struct with no _corrupt_record
    # (e.g. a bare JSON `null` on some Spark versions) — is CORRUPT
    # with the byte-exact raw line, never a silently-invented all-NULL
    # clean row (ADVICE r8 medium).
    # btrim with an explicit set: trim() strips only ' ', and a
    # tab-only line is just as blank
    p = text_df.filter(F.btrim(F.col("value"), F.lit(" \t\r\x0b\x0c")) != "").select(
        F.col("value"),
        F.from_json(
            "value",
            parse_schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("__p"),
    )
    return p.select(
        *[F.col(f"__p.{f.name}").alias(f.name) for f in schema.fields],
        F.when(F.col("__p").isNull(), F.col("value"))
        .otherwise(F.col("__p._corrupt_record"))
        .alias("_corrupt_record"),
    )


def jsonl_stream(spark: SparkSession, path: str, schema) -> DataFrame:
    """Streaming flavor of ``jsonl_source``: a file-discovery text
    stream over a feed DIRECTORY, parsed with the same shared
    projection. Returns the streaming frame with ``_corrupt_record``
    retained; a ``foreachBatch`` body splits it and appends the bad
    raws to a durable quarantine (see ``pipeline.quarantine_append``'s
    channel shape) — exactly the micro-batch form the polled reference
    loop uses (ST1/ST4)."""
    return _jsonl_parse(spark.readStream.text(path), schema)

"""JDBC source/sink parity (SURVEY.md §2.1 S4/S7/S8 as JDBC).

The reference's actual warehouse is Postgres: raw ads land in
``backpage_raw`` with a UNIQUE(uniq_id) index (scraper.py:153-156,
211-218), the typed clean table is created/loaded over a psycopg2
connection (etl_process.py:271-289), and the incremental delta scan is
a server-side query (etl_process.py:297-301). This module re-expresses
those over Spark's JDBC data source so the SAME pipeline semantics
(``dedup_new_keys``, ``write_append``) run against a real database:

- reads go through ``spark.read.format("jdbc")`` so the database does
  projection/filter work server-side (``pushdown_query``); the reader's
  own ``partitionColumn``/``lowerBound``/``upperBound``/``numPartitions``
  options split big tables into range-partitioned parallel reads — the
  shape a 1000-executor cluster needs (one JDBC cursor per partition,
  not one giant serialized result).
- writes use mode("append"); insert-if-absent is the anti-join against
  the sink's key set (the UNIQUE-index semantics), exactly like the
  parquet path. A real Postgres deployment at scale would stage + MERGE
  server-side; the anti-join is the engine-side equivalent and is what
  keeps the operation idempotent under replay.

Tests run against embedded Derby (bundled with Spark's distribution),
so the JDBC round trip is real — same code path a Postgres URL takes,
minus the network.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"

# Table identifiers are interpolated into DDL/DML below. Quoting them
# would CHANGE semantics (an unquoted name case-folds per dialect —
# Derby's round-trip tests depend on that), so instead names that come
# from config/data are validated against the safe shape: dot-qualified
# word characters only. Anything else (quotes, spaces, semicolons) is
# an injection attempt or a bug either way (ADVICE r4).
_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_$]*(\.[A-Za-z_][A-Za-z0-9_$]*)*\Z")


def _check_ident(name: str, what: str = "identifier") -> str:
    if not _IDENT_RE.match(name):
        raise ValueError(f"unsafe SQL {what}: {name!r}")
    return name


def _pg_quote(name: str) -> str:
    """Double-quote an identifier for Postgres, escaping embedded
    quotes — the case-preserving form psycopg2 writers should use."""
    return '"' + name.replace('"', '""') + '"'


def _opts(url: str, properties: dict[str, str] | None) -> dict[str, str]:
    out = {"url": url}
    if properties:
        out.update(properties)
    return out


def pushdown_query(
    spark: SparkSession,
    url: str,
    query: str,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """S8 — run ``query`` SERVER-side and scan only its result (the
    reference's delta scan, etl_process.py:297-301: new-URL selection
    with NOT IN + LIMIT executed by Postgres, not the client)."""
    return (
        spark.read.format("jdbc")
        .options(**_opts(url, properties))
        .option("query", query)
        .load()
    )


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    column_types: str | None = None,
    properties: dict[str, str] | None = None,
) -> None:
    """S7 — typed warehouse sink: one INSERT batch per partition.
    Repartition before calling to size the write parallelism (each
    partition holds one connection). ``column_types`` is a DDL fragment
    (e.g. ``"uniq_id VARCHAR(128), n INT"``) overriding the dialect's
    default type mapping at table creation — the reference's typed DDL
    (etl_process.py:271-289); without it some dialects map strings to
    CLOB/TEXT, which e.g. Derby cannot compare server-side."""
    w = df.write.format("jdbc").options(**_opts(url, properties)).option("dbtable", table)
    if column_types:
        w = w.option("createTableColumnTypes", column_types)
    w.mode(mode).save()


def insert_if_absent(
    df: DataFrame,
    url: str,
    table: str,
    key: str = "uniq_id",
    properties: dict[str, str] | None = None,
) -> None:
    """S4 — the UNIQUE(uniq_id) insert-or-skip semantics of the
    reference's raw sink (scraper.py:211-218) over JDBC: in-batch
    dedup + anti-join against the sink's key set (projected
    server-side), then append. Idempotent under replay — the exact
    contract ``dedup_new_keys`` gives the parquet sink."""
    from .pipeline import dedup_new_keys

    spark = df.sparkSession
    try:
        existing = pushdown_query(spark, url, f'SELECT "{key}" FROM {table}', properties)
        # schema resolution runs eagerly, so a missing sink table raises
        # HERE, not at write time
        existing.schema
    except Exception:
        # first batch: no sink table yet — JDBC append creates it
        existing = spark.createDataFrame([], f"{key} string")
    dedup_new_keys(df, existing, key=key).write.format("jdbc").options(
        **_opts(url, properties)
    ).option("dbtable", table).mode("append").save()


def jdbc_delta_scan(
    spark: SparkSession,
    url: str,
    raw_table: str,
    clean_table: str,
    key: str = "uniq_id",
    limit: int | None = None,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """S8 — incremental delta scan with the set-difference pushed to the
    database (etl_process.py:297-301: ``SELECT ... FROM raw WHERE url
    NOT IN (SELECT url FROM clean) LIMIT n``). Only the delta crosses
    the wire."""
    # Column identifiers are quoted: the JDBC writer creates them quoted
    # (case-preserved), while bare names fold to the dialect's default
    # case. The key is cast to VARCHAR so the set-difference works even
    # when the dialect stored it as CLOB/TEXT (Derby can't compare CLOBs).
    k = f'CAST({_pg_quote(key)} AS VARCHAR(512))'
    q = (
        f"SELECT * FROM {_check_ident(raw_table, 'table name')} WHERE {k} NOT IN "
        f"(SELECT {k} FROM {_check_ident(clean_table, 'table name')})"
    )
    if limit is not None:
        # standard row-limit syntax (Derby/Postgres); MySQL would use LIMIT
        q += f" FETCH FIRST {int(limit)} ROWS ONLY"
    return pushdown_query(spark, url, q, properties)

"""Pure-SQL API surface: temp views for every table + the §2.5 scalar
library as SQL scalar UDFs (``CREATE TEMPORARY FUNCTION … RETURN
<expr>``), so a user can drive the whole engine from ``spark.sql``.

These are Catalyst SQL functions, NOT Python UDFs — the body is an
expression the optimizer inlines into the caller's plan, so a query
written against ``get_phone_candidates(body)`` compiles to the exact
same whole-stage-codegen plan as the Column-builder form in
``functions.py``. Zero Python in the hot path; filter pushdown and
constant folding still apply through the function boundary.

Drift control: every SQL body here is differential-tested against its
``functions.py`` Column twin in ``tests/test_sql_api.py`` — the two
surfaces cannot silently diverge.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .functions import (
    PHONE_MAX_LEN,
    PHONE_MIN_LEN,
    PUNCT_NO_DOLLAR,
    TS_FMT_SPARK,
    WORD_DIGITS,
)
from .schemas import TESTDATA_TABLES
from .sources import load_table


def _lit(s: str) -> str:
    """Spark SQL single-quoted string literal (backslash escaping on)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _phone_norm_expr(col: str) -> str:
    x = f"replace(translate(lower({col}), {_lit(PUNCT_NO_DOLLAR)}, ''), ' ', '')"
    for word, digit in WORD_DIGITS:
        x = f"replace({x}, '{word}', '{digit}')"
    return x


def _phone_cand_expr(col: str) -> str:
    return (
        f"array_sort(array_distinct(filter("
        f"regexp_extract_all({_phone_norm_expr(col)}, '\\\\d+', 0), "
        f"e -> length(e) BETWEEN {PHONE_MIN_LEN} AND {PHONE_MAX_LEN})))"
    )


# name -> (signature, return type, SQL body). Bodies mirror functions.py
# (reference citations live there); tests pin the equivalence.
SQL_FUNCTIONS: dict[str, tuple[str, str, str]] = {
    "get_ad_id": ("url STRING", "STRING", "get(split(url, '/'), 5)"),
    "get_category": ("url STRING", "STRING", "get(split(url, '/'), 3)"),
    "get_site_id": ("url STRING", "STRING", "get(split(get(split(url, '/'), 2), '\\\\.'), 0)"),
    "parse_verbose_date": (
        "s STRING",
        "TIMESTAMP",
        "try_to_timestamp(regexp_replace(s, '^[A-Za-z]+, ', ''), 'MMMM d, yyyy h:mm a')",
    ),
    "format_ts": ("ts TIMESTAMP", "STRING", f"date_format(ts, '{TS_FMT_SPARK}')"),
    "strip_crlf": ("s STRING", "STRING", "trim(regexp_replace(s, '[\\\\r\\\\n]', ''))"),
    "get_phone_candidates": ("body STRING", "ARRAY<STRING>", _phone_cand_expr("body")),
    "phone_extract": ("body STRING", "STRING", f"array_join({_phone_cand_expr('body')}, ';')"),
    "make_uniq_id": (
        "post_date STRING, ad_id STRING, site_id STRING, category STRING",
        "STRING",
        "concat_ws('-', post_date, ad_id, site_id, category)",
    ),
    "ascii_sanitize": ("s STRING", "STRING", "regexp_replace(s, '[^\\\\x00-\\\\x7F]', '')"),
    "normalize_param": (
        "s STRING",
        "STRING",
        "lower(btrim(s, ' \\t\\r\\n\\f" + "\\u000b'))",
    ),
    "json_get": ("j STRING, f STRING", "STRING", "get_json_object(j, concat('$.', f))"),
    "empty_on_null": ("s STRING", "STRING", "coalesce(s, '')"),
}


def register_functions(spark: SparkSession) -> list[str]:
    """CREATE OR REPLACE every SQL scalar function; returns the names."""
    for name, (sig, ret, body) in SQL_FUNCTIONS.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({sig}) "
            f"RETURNS {ret} RETURN {body}"
        )
    return list(SQL_FUNCTIONS)


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Temp view per testdata table (same pruned/pushdown scans as the
    DataFrame path — a view is just a named logical plan)."""
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return list(TESTDATA_TABLES)


class ChunkTokens:
    """Python UDTF (Spark 3.5+ table function): overlapping token-window
    chunker as a LATERAL-joinable table function —

        SELECT d.doc_id, c.* FROM docs d,
        LATERAL chunk_tokens(d.text, 128, 32) c

    One emitted row per chunk (chunk_no, chunk, n_tokens). The
    expression-based twin (`queries.chunk_documents`) is the codegen
    fast path; the UDTF form exists for the API surface — users who
    need imperative per-row fan-out logic SQL-side — and is
    differential-tested against a Python model. Stateless eval:
    embarrassingly parallel, no shuffle."""

    def eval(self, text: str, size: int = 128, overlap: int = 32):
        if text is None or size <= 0 or overlap >= size:
            return
        toks = text.split(" ")
        step = size - overlap
        no = 0
        for i in range(0, max(len(toks) - overlap, 1), step):
            chunk = toks[i : i + size]
            yield no, " ".join(chunk), len(chunk)
            no += 1


def register_udtfs(spark: SparkSession) -> list[str]:
    from pyspark.sql.functions import udtf

    spark.udtf.register(
        "chunk_tokens",
        udtf(ChunkTokens, returnType="chunk_no int, chunk string, n_tokens int"),
    )
    return ["chunk_tokens"]

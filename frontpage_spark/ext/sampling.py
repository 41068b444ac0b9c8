"""Deterministic sampling operators for training-data pipelines.

`df.sample()` is seed-dependent *per partition layout*: the same seed
over a different file split yields a different sample, which breaks
reproducibility guarantees across reruns and cluster sizes. These
operators derive the keep/drop decision from a content hash of a key
column instead, so the sample is a pure function of the data:

- ``hash_sample``       keep rows whose md5(key) prefix falls under a
  threshold — stable across partitioning, cluster size, and engine
  (md5 is identical in Spark and DuckDB, so it is oracle-checkable).
- ``stratified_sample`` exact top-n-per-stratum by md5(key) order — a
  deterministic quota sample (e.g. "at most N docs per source/lang").

Scale notes (100 TB):
- ``hash_sample`` is a narrow filter — no shuffle, pushed into the
  scan's codegen stage; sampling 1% of 100 TB reads all rows but
  materializes ~1 TB downstream, which is exactly what you want before
  an expensive stage (near-dup verify, embedding, human eval).
- ``stratified_sample`` shuffles once on the stratum key (the
  row_number window); skewed strata are bounded because only n rows
  per stratum survive the window filter — partial TakeOrdered-style
  pruning would need a custom physical op, so keep n small relative
  to stratum size. For monster strata, pre-filter with ``hash_sample``
  at a rate that overshoots n, then apply the window to the survivors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def hash_bucket(key: Column | str, hex_digits: int = 4) -> Column:
    """Lowercase hex prefix of md5(key) — a uniform label in
    [0, 16^hex_digits) ordered lexicographically, engine-portable."""
    c = F.col(key) if isinstance(key, str) else key
    return F.substring(F.md5(c.cast("string")), 1, hex_digits)


def hash_sample(
    df: DataFrame, key: str, rate: float, hex_digits: int = 4
) -> DataFrame:
    """Deterministic ~``rate`` sample: keep rows where the md5 prefix of
    ``key`` sorts below the rate threshold. Same rows survive on any
    partitioning, any engine, any run. Rate granularity is
    16^-hex_digits (1/65536 at the default)."""
    space = 16 ** hex_digits
    thresh = format(int(rate * space), f"0{hex_digits}x")
    return df.filter(hash_bucket(key, hex_digits) < F.lit(thresh))


def stratified_sample(
    df: DataFrame, stratum: str, key: str, n_per_stratum: int
) -> DataFrame:
    """Deterministic quota sample: the ``n_per_stratum`` rows of each
    stratum whose md5(key) sorts first. One shuffle (window on the
    stratum); ties broken by the key itself so the result is total-order
    stable even under md5 collisions."""
    w = Window.partitionBy(stratum).orderBy(F.md5(F.col(key).cast("string")), F.col(key))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def weighted_sample(df: DataFrame, key: str, weight: str, k: int) -> DataFrame:
    """Efraimidis–Spirakis A-Res weighted sampling, derandomized: each
    row's priority is -ln(u)/w with u an md5-derived uniform in (0,1),
    and the k smallest priorities win — inclusion probability is
    proportional to ``weight``, yet the sample is a pure function of
    the data (same rows on any partitioning, engine, or rerun, like
    ``hash_sample``).

    Scale: priority is a narrow codegen'd expression; top-k by
    (priority, key) compiles to TakeOrderedAndProject — per-partition
    heaps merged on the driver, no global sort, no shuffle. Priorities
    are rounded to 9 decimals before ranking and tied on the key so
    cross-engine ULP noise in ln() cannot reorder the cut."""
    kc = F.col(key)
    u = (
        F.conv(F.substring(F.md5(kc.cast("string")), 1, 8), 16, 10).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    pri = F.round(-F.log(u) / F.col(weight).cast("double"), 9)
    return (
        df.withColumn("priority", pri)
        .orderBy("priority", key)
        .limit(k)
    )


def assign_split(
    key: Column | str,
    ratios: tuple[float, float] = (0.8, 0.1),
    hex_digits: int = 4,
) -> Column:
    """Deterministic train/val/test label from the md5 prefix of
    ``key``: (train, val) get ``ratios`` of the hash space, test gets
    the remainder. Pure function of the data — the split survives
    repartitioning, reruns, and engine changes, and a row can never
    migrate between splits (the leakage bug seed-based splits invite
    when the partition layout shifts)."""
    b = hash_bucket(key, hex_digits)
    space = 16 ** hex_digits
    t1 = format(int(ratios[0] * space), f"0{hex_digits}x")
    t2 = format(int((ratios[0] + ratios[1]) * space), f"0{hex_digits}x")
    return (
        F.when(b < F.lit(t1), "train").when(b < F.lit(t2), "val").otherwise("test")
    )


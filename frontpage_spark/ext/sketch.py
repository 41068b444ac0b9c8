"""Count-min sketch: mergeable frequency estimation for heavy-hitter
audits over unbounded key spaces (token/URL/user frequencies at 100 TB
where an exact groupBy's key cardinality is itself the problem).

Spark ships `count_min_sketch` as an opaque binary with no SQL probe
function, so — like `plans.bloom_prune` — the sketch is built from
first principles with the same partial-combine shape as
`similarity.mean_pool`:

- hash positions are Spark expressions (md5-derived — the
  engine-portable hash this repo uses everywhere a DuckDB oracle must
  replay the pipeline), one position per depth row, so build and
  probe share semantics;
- each task folds ITS rows into one depth×width int64 counter matrix
  (`mapInPandas`), so the shuffle carries (tasks × d·w) counters, not
  keys — the d·w grid is the whole memory story, independent of
  cardinality;
- partial matrices reduce with an elementwise zip_with sum; integer
  adds commute, so the sketch is bit-identical for any partitioning.

Estimates are the classic min over depth rows: overcount-only
(estimate ≥ true count always; ≤ true + εN with prob 1−δ for
width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

CMS_DEPTH = 5
CMS_WIDTH = 2048


def _cms_cells(key: Column, width: int, depth: int) -> Column:
    """One flattened cell index per depth row: row j probes position
    j·width + (h(key, j) mod width). h is the first 8 hex chars of
    md5('j:' || key) — 32 uniform bits, bit-identical in any engine
    with md5 (the DuckDB oracle for `cms_heavy_hitters` rebuilds the
    same grid)."""
    return F.array(
        *[
            F.lit(j * width)
            + F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{j}:"), key.cast("string"))), 1, 8),
                16,
                10,
            ).cast("long")
            % width
            for j in range(depth)
        ]
    )


def cms_build(
    df: DataFrame,
    key_col: str,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
) -> DataFrame:
    """One-row DataFrame holding the counter matrix (flattened
    array<bigint> of length depth·width) as column ``cms``."""
    import numpy as np
    import pandas as pd

    n_cells = depth * width

    def build(batches):
        m = np.zeros(n_cells, dtype="int64")
        seen = False
        for pdf in batches:
            for cells in pdf["__cells"]:
                seen = True
                np.add.at(m, np.asarray(cells, dtype="int64"), 1)
        if seen:
            yield pd.DataFrame({"pm": [m.tolist()]})

    partial = df.select(
        _cms_cells(F.col(key_col), width, depth).alias("__cells")
    ).mapInPandas(build, schema="pm array<bigint>")
    zeros = F.array_repeat(F.lit(0).cast("long"), n_cells)
    return partial.agg(
        F.aggregate(
            F.collect_list("pm"),
            zeros,
            lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
        ).alias("cms")
    )


def cms_estimate(
    candidates: DataFrame,
    sketch: DataFrame,
    key_col: str,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
    out_col: str = "est",
) -> DataFrame:
    """Join the broadcast 1-row sketch onto a candidate-key DataFrame
    and add the min-over-depth estimate (O(depth) array probes/row)."""
    probes = F.transform(
        _cms_cells(F.col(key_col), width, depth),
        lambda c: F.element_at(F.col("cms"), c.cast("int") + 1),
    )
    return (
        candidates.join(F.broadcast(sketch))
        .withColumn(out_col, F.array_min(probes))
        .drop("cms")
    )

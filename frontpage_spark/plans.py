"""Physical-plan utilities for the 100 TB path: skew mitigation and
shuffle elimination.

AQE's skew-join splitting handles most skew at runtime; these are for
the cases it can't see (pre-aggregated monster keys, deliberate
co-location across many jobs):

- ``salted_join``     static key salting: the skewed side fans a key
  out over n sub-keys, the other side is replicated n×. Turns one
  monster partition into n even ones at the cost of replicating the
  (small) build side.
- ``write_bucketed``  hash-bucketed tables on the join/agg key (read
  back with ``spark.table``): every later join or aggregation on
  that key runs shuffle-FREE (verified in tests by asserting no
  Exchange in the plan). This is how a 100 TB fact table amortizes
  its one shuffle across every downstream query.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession, functions as F

SALT_COL = "__salt"

# ---- bounded query-scoped caching ------------------------------------------
# Query builders persist() shared intermediates (a shingle table read by
# both sides of a verify join, an edge list fed to a fixpoint).  A bare
# persist() parks blocks in the CacheManager FOREVER unless someone
# remembers to unpersist — harmless in a bench that clearCache()s per
# query, a real leak in a long-lived session running hundreds of queries
# (VERDICT r3).  keep() is persist() with a bounded lifetime: a FIFO of
# the most recent _KEPT_MAX cached frames; registering a new one evicts
# the oldest beyond the cap.  Eviction is always SAFE — an unpersisted
# frame silently recomputes from lineage (unlike a checkpoint, whose
# block loss is fatal) — so the cap trades at worst a recompute of a
# long-finished query's intermediate for a hard bound on cache growth.
# Re-keep()ing an already-registered frame LRU-touches it (moves it to
# the young end instead of double-registering), so a frame a query
# keeps re-using — bpe_train's per-round keep plus nested keeps from
# dedup helpers — isn't evicted mid-use by its own later registrations
# (ADVICE r4).  The FIFO is process-global on purpose, unlike the
# per-session cache (session.session_cache): every session of a
# SparkContext shares one CacheManager, and that is what the cap bounds.
_KEPT: list[DataFrame] = []
_KEPT_MAX = 8
_KEPT_LOCK = threading.Lock()

# Thread-local capture: the prepared-plan cache must know which frames
# its build kept and which branch each size gate took, and only ITS
# build's: a concurrent build on another thread keeps its own frames.
# Each open capture is a namespace on this thread's stack; keep() and
# size_gate() append to every one of them, so an outer capture also
# sees the keeps and gates of a build nested inside it.
_CAPTURES = threading.local()


@contextmanager
def keep_capture():
    """Collect, into the yielded namespace, every frame keep() registers
    (``kept``) and every record size_gate() makes (``gates``) on this
    thread inside the ``with`` block."""
    stack = _CAPTURES.__dict__.setdefault("stack", [])
    captured = SimpleNamespace(kept=[], gates=[])
    stack.append(captured)
    try:
        yield captured
    finally:
        stack.pop()


def size_gate(name: str, measured: int | None, limit: int) -> bool:
    """The one size-gate decision: True (the small branch) iff the
    input's ``measured`` size is known and at most ``limit``. An
    unknown size (None) takes the scale branch. Records ``{gate,
    measured, limit, branch}`` in the open captures, so a run record
    names the branch every gate took. A test or tool forces a branch
    by setting the gate's module limit."""
    small = measured is not None and measured <= limit
    record = dict(gate=name, measured=measured, limit=limit, branch="small" if small else "scale")
    for captured in getattr(_CAPTURES, "stack", ()):
        captured.gates.append(record)
    return small


def keep(df: DataFrame) -> DataFrame:
    """Persist ``df`` for reuse across plan branches / fixpoint rounds,
    with a bounded cache lifetime (see module comment). Returns the
    persisted frame."""
    df = df.persist()
    evict: list[DataFrame] = []
    for captured in getattr(_CAPTURES, "stack", ()):
        captured.kept.append(df)
    with _KEPT_LOCK:
        # identity scan, not list.remove(): DataFrame.__eq__ builds a
        # Column, so equality-based membership would be nonsense here
        for i, ex in enumerate(_KEPT):
            if ex is df:
                del _KEPT[i]
                break
        _KEPT.append(df)
        while len(_KEPT) > _KEPT_MAX:
            evict.append(_KEPT.pop(0))
    for old in evict:
        try:
            old.unpersist()
        except Exception:  # session already stopped — nothing to release
            pass
    return df


def release_kept() -> int:
    """Unpersist every keep()-registered frame (harness/test hook for
    deterministic teardown); returns how many were released."""
    with _KEPT_LOCK:
        dfs = list(_KEPT)
        _KEPT.clear()
    n = 0
    for df in dfs:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def _resolve_ckpt_dir(master: str, app_id: str) -> str:
    """Checkpoint-dir policy for :func:`pin` (ADVICE r9 low): a
    node-local tempdir is only a RELIABLE checkpoint when every
    executor shares the driver's filesystem — true for ``local[*]``
    and ``local-cluster[...]`` (one box), false for any real cluster,
    where the files land on whichever node wrote them and the
    executor-loss guarantee pin is named for silently does not hold
    (Spark merely logs a warning). Fail fast there and demand a
    shared dir via $SPARK_GRAFT_CKPT_DIR."""
    import tempfile

    ckpt = os.environ.get("SPARK_GRAFT_CKPT_DIR")
    if ckpt is not None:
        return ckpt
    if not master.startswith("local"):
        raise RuntimeError(
            "plans.pin: reliable checkpointing on a non-local master "
            f"({master!r}) needs a SHARED checkpoint dir (HDFS/S3/NFS) — "
            "set $SPARK_GRAFT_CKPT_DIR or call sc.setCheckpointDir() with "
            "a DFS path; a node-local tempdir would not survive executor "
            "loss."
        )
    return os.path.join(tempfile.gettempdir(), f"fps-ckpt-{app_id}")


def pin(df: DataFrame) -> DataFrame:
    """Eager lineage cut that SURVIVES executor loss — the fixpoint-
    state counterpart to :func:`keep`.

    ``localCheckpoint`` stores its blocks only on the executors that
    computed them AND truncates lineage, so losing one executor
    mid-fixpoint is fatal to every consumer: the block is gone and the
    truncated lineage cannot recompute it (observed under
    local-cluster: ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``;
    tools/fault_probe.py demonstrates it, and Spark's own error text
    recommends reliable checkpointing). ``pin`` is a RELIABLE
    checkpoint: the cut state lands as files under the session
    checkpoint dir, re-readable by ANY executor — on a real cluster
    point ``$SPARK_GRAFT_CKPT_DIR`` at DFS (HDFS/S3) and a lost
    executor costs a re-read, not the job. Iterative operators cut
    per-round state with this (pair lists, rank tables, contracted
    edge sets — all SMALL by design, so the file write is a constant,
    not a data-sized cost); plain shared intermediates that can keep
    their lineage should use ``keep`` instead.

    The input is persisted around the cut so the relation computes
    ONCE (RDD reliable checkpointing otherwise recomputes the lineage
    a second time for the write job), then released — the returned
    frame reads the checkpoint files, not the cache. The checkpoint
    dir is established lazily per application ($SPARK_GRAFT_CKPT_DIR,
    else a per-app tmpdir on local/local-cluster masters ONLY — any
    other master without the env var raises, because a node-local
    tempdir is not reliable there); files are GC-reclaimed when
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on
    (session.get_spark sets it), otherwise they live until the app's
    tmpdir is removed."""
    spark = df.sparkSession
    sc = spark.sparkContext
    try:
        has_dir = sc.getCheckpointDir() is not None
    except Exception:
        has_dir = False
    if not has_dir:
        sc.setCheckpointDir(_resolve_ckpt_dir(sc.master or "", sc.applicationId))
    df = df.persist()
    try:
        return df.checkpoint(eager=True)
    finally:
        df.unpersist()


def take_wide(df: DataFrame, n: int):
    """The first ``n`` rows of ``df`` as a ``pyarrow.Table``, scanning
    every partition in ONE job.

    ``df.limit(n).collect()`` runs ``executeTake``, which ramps
    incrementally (1 partition, then ``spark.sql.limit.scaleUpFactor``x
    more per retry) — the right trade when a head probably fits in the
    first partition, but a size-GATE probe (limit(cap+1) over a table
    expected to be near or under the cap) almost always exhausts the
    input, so the ramp pays 2-3 job-scheduling floors for the same
    scan. ``toArrow`` runs ``CollectLimitExec.execute()`` instead: a
    per-partition local limit over all partitions, then one
    single-partition global limit, all in one job. No conf is touched,
    so concurrent queries on the session are unaffected. Driver
    traffic stays bounded by ``n``."""
    return df.limit(n).toArrow()


# fan_out width for a Python (Arrow) stage whose per-row cost is
# microseconds — the synthetic media codecs and the LSH signature pass.
# At full default parallelism the per-task fixed cost (worker fork +
# Arrow handshake) dominates: a media query at sf0.1, measured when
# synthesis and decode were still two chained Arrow stages, took 1.7 s
# 64-way vs 0.65 s 8-way for the same result. On real multi-MB payloads
# per-row cost dominates instead and the scan is already wide (fan_out
# is a no-op).
PY_STAGE_WIDTH = 8


def fan_out(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Input-split compensation for CPU-bound narrow stages.

    A Parquet file is only splittable at row-group boundaries; the
    local testdata files are single row groups, so every scan yields
    ONE task and a per-row-heavy stage (regex shingling, md5 minhash,
    Arrow UDFs) runs single-threaded no matter how many cores exist.
    On a production table the scan produces thousands of splits and
    this helper is a no-op; locally it round-robins the rows across
    the default parallelism so the expensive narrow work that follows
    actually uses the machine.

    Only worth the shuffle when downstream per-row CPU >> one pass of
    the rows over the wire — text/vector pipelines yes, plain
    aggregations usually no (their map side is one cheap pass).
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    # Probe width via the scan's file list — cheap metadata, unlike
    # df.rdd.getNumPartitions() which forces full physical planning +
    # RDD lineage materialization on every call. Files under-count
    # splits for multi-row-group files, which only makes the check
    # conservative (a no-op repartition of an already-wide scan).
    try:
        width = len(df.inputFiles())
    except Exception:
        width = df.rdd.getNumPartitions()
    if width >= max(2, target // 2):
        return df
    return df.repartition(target)


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    key: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``skewed``'s hot keys are spread over ``n_salt``
    sub-partitions and ``other`` is replicated once per salt value.

    The salt is a deterministic hash of the whole skewed row (xxhash64),
    so repeated runs produce identical partition assignments. Valid for
    inner/left joins keyed on ``key``; the replicated side should be the
    smaller one (its shuffle volume grows n_salt×).
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(n_salt))
    left = skewed.withColumn(SALT_COL, salt)
    right = other.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).withColumn(SALT_COL, F.col(SALT_COL).cast("bigint"))
    return left.join(right, [key, SALT_COL], how).drop(SALT_COL)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 16,
    sort: bool = True,
) -> None:
    """Persist ``df`` hash-bucketed (and optionally sorted) on ``key``.

    Joins/aggregations between tables bucketed identically on the join
    key need no Exchange — the bucketing IS the shuffle, paid once at
    write time. (Bucket pruning also applies to key-equality filters.)
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def write_partitioned(df: DataFrame, path: str, *cols: str) -> None:
    """Persist hive-style directory-partitioned parquet on ``cols``
    (low-cardinality keys: date, source, category). Reads filtered on a
    partition column prune whole directories BEFORE any I/O — the scan's
    PartitionFilters (asserted in tests) — which is the first-line
    pruning mechanism for a 100 TB date-partitioned fact table (S7's
    'partition by a date column at scale' made concrete)."""
    df.write.mode("overwrite").partitionBy(*cols).parquet(path)


def compact(spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024) -> int:
    """Small-file compaction for append-mode parquet sinks.

    Streaming foreachBatch appends one-file-per-partition-per-batch;
    after days of micro-batches a 100 TB sink is millions of KB-sized
    files and every scan pays per-file open/footer costs. Rewrite the
    directory into ``ceil(bytes / target)`` files via coalesce (no
    shuffle — coalesce only merges read splits) and an atomic-ish
    temp-dir swap. Returns the new file count. At cluster scale this
    runs per partition directory (date=...) so compaction is
    incremental and parallel across partitions."""
    import math
    import shutil

    df = spark.read.parquet(path)
    total = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    tmp = path.rstrip("/") + "__compact_tmp"
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return len([f for f in os.listdir(path) if f.endswith(".parquet")])


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange nodes in the executed plan — the unit
    tests' scalability assertion."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line or "Exchange rangepartitioning" in line
    )


def zorder_key(a, b, bits: int = 10):
    """Morton (Z-order) key: interleave the low ``bits`` of two
    non-negative integer columns with pure shift/mask expressions —
    whole-stage codegen'd, no UDF.

    Sorting/range-partitioning a table by this key clusters rows that
    are close in BOTH dimensions into the same files, so parquet
    footer min/max stats prune multi-dimensional box predicates — the
    data-skipping layout a 100 TB fact table wants when queries filter
    on two independent columns (customer AND date) and a single-column
    sort can only serve one of them. ``write_zordered`` below pays one
    range shuffle at write time; every subsequent scan skips files.
    """
    az, bz = a.cast("long"), b.cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(F.shiftleft(F.shiftright(az, i).bitwiseAND(F.lit(1)), 2 * i))
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(bz, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    xcol: str,
    ycol: str,
    n_files: int = 16,
    bits: int = 10,
) -> None:
    """Persist parquet clustered on the Morton key of (xcol, ycol):
    range-partition into ``n_files`` z-runs (one range shuffle — AQE
    samples the key), sort within each, drop the helper column. Each
    output file then covers a compact z-range, i.e. a small rectangle
    in (x, y) space, so its footer min/max for BOTH columns is tight
    and box predicates skip whole files (asserted in test_plans)."""
    (
        df.withColumn("__z", zorder_key(F.col(xcol), F.col(ycol), bits))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def _bloom_positions(key, num_bits: int, num_hashes: int):
    """k bit positions for a key: xxhash64(key, seed) mod m — computed
    as Spark expressions so build and probe share hash semantics."""
    return F.array(
        *[
            F.pmod(F.xxhash64(key, F.lit(j)), F.lit(num_bits))
            for j in range(num_hashes)
        ]
    )


def bloom_prune(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str | None = None,
    num_bits: int = 1 << 20,
    num_hashes: int = 3,
) -> DataFrame:
    """Semi-join reduction with a Bloom filter (the sketch Spark's
    runtime row-level filtering injects; `bloom_filter_agg` is not a
    public SQL routine in this build, so the sketch is built here from
    first principles).

    Build: each small-side key sets k = ``num_hashes`` bit positions
    (xxhash64 mod m, computed as Spark expressions); ``mapInPandas``
    folds each task's positions into ONE packed uint64 bitmap row, and
    a zip_with bitwise-OR reduces the per-task bitmaps — the shuffle
    carries (tasks × m/8) bytes, never the keys. Probe: the one-row
    bitmap broadcasts and the big side keeps rows whose k positions
    are all set (O(k) array index + mask tests per row, before any
    shuffle of the big side).

    Use when the big side must shuffle anyway and the join is
    selective: non-matching rows die at scan time for the cost of a
    ~m/8-byte broadcast. False positives only let extra rows through —
    the exact join that follows is unchanged, so the transform is
    result-invariant (the oracle for `bloom_prune_join` is the PLAIN
    join). Returns the pruned big side (same schema)."""
    import numpy as np
    import pandas as pd

    sk = small_key or big_key
    n_words = (num_bits + 63) // 64

    def build(batches):
        bm = np.zeros(n_words, dtype="uint64")
        seen = False
        for pdf in batches:
            for positions in pdf["__pos"]:
                seen = True
                p = np.asarray(positions, dtype="int64")
                np.bitwise_or.at(
                    bm, p >> 6, np.uint64(1) << (p & 63).astype("uint64")
                )
        if seen:
            yield pd.DataFrame({"pb": [bm.view("int64").tolist()]})

    partial = small.select(
        _bloom_positions(F.col(sk), num_bits, num_hashes).alias("__pos")
    ).mapInPandas(build, schema="pb array<bigint>")
    zeros = F.array_repeat(F.lit(0).cast("long"), n_words)
    bitmap = partial.agg(
        F.aggregate(
            F.collect_list("pb"),
            zeros,
            lambda acc, v: F.zip_with(acc, v, lambda a, b: a.bitwiseOR(b)),
        ).alias("__bm")
    )

    probe = _bloom_positions(F.col(big_key), num_bits, num_hashes)
    # SQL expr: the Python shiftleft() only takes literal shift amounts
    hit = F.expr(
        "forall(__pp, p -> (element_at(__bm, CAST(shiftright(p, 6) AS INT) + 1)"
        " & shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))) != 0)"
    )
    return (
        big.withColumn("__pp", probe)
        .join(F.broadcast(bitmap))
        .filter(hit)
        .drop("__bm", "__pp")
    )


def _sort_pairs(order_cols):
    """Normalize ``order_cols`` entries into (Column, ascending) pairs.

    Entries are a plain ``Column`` (ascending) or a ``(Column, "desc")``
    / ``(Column, "asc")`` tuple. Sort-order Columns (``F.desc(c)``)
    are rejected with a pointer to the tuple form: the helper needs the
    BASE expression (to sample boundary values and build the bucket
    comparator), and classic PySpark 4 exposes no way to decompose a
    SortOrder Column back into (child, direction)."""
    pairs = []
    for c in order_cols:
        if isinstance(c, tuple):
            col, d = c
            pairs.append((col, str(d).lower() != "desc"))
            continue
        r = repr(c)
        if " DESC NULLS" in r or " ASC NULLS" in r:
            raise TypeError(
                "global_prefix_stats: pass (column, 'desc') tuples, not "
                f"F.desc(...) sort-order columns (got {r}) — the helper "
                "needs the base expression to sample range boundaries"
            )
        pairs.append((c, True))
    return pairs


def _cmp_factory(ascs):
    """Driver-side comparator for sampled key tuples under the total
    order: per-column asc/desc with Spark's default null placement
    (ASC NULLS FIRST / DESC NULLS LAST) and Spark's float total order
    (NaN equals NaN and ranks greater than every other double — Python's
    NaN compares false both ways, which would break totality and let the
    boundary sort disagree with the SQL binary search, ADVICE r7)."""

    def _cmp(a, b):
        for i, asc in enumerate(ascs):
            x, y = a[i], b[i]
            if x is None and y is None:
                continue
            if x is None:
                return -1 if asc else 1
            if y is None:
                return 1 if asc else -1
            x_nan = isinstance(x, float) and x != x
            y_nan = isinstance(y, float) and y != y
            if x_nan or y_nan:
                if x_nan and y_nan:
                    continue
                lt = y_nan  # the non-NaN side is the smaller one
                return (-1 if lt else 1) if asc else (1 if lt else -1)
            if x == y:
                continue
            lt = x < y
            return (-1 if lt else 1) if asc else (1 if lt else -1)
        return 0

    return _cmp


def _pick_bounds(samp, nb, cmp):
    """Sort the sampled key tuples in the total order and pick nb-1
    evenly-spaced, strictly-increasing boundary tuples."""
    import functools

    samp = sorted(samp, key=functools.cmp_to_key(cmp))
    bounds: list[tuple] = []
    m = len(samp)
    if m:
        for j in range(1, nb):
            cand = samp[min(m - 1, (j * m) // nb)]
            if not bounds or cmp(bounds[-1], cand) < 0:
                bounds.append(cand)
    return bounds


def _sql_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_lit(v, sql_type: str) -> str:
    """Render a sampled boundary value as a Spark SQL literal of the
    key column's exact type (explicit CASTs keep struct field types
    uniform across boundaries and avoid coercion surprises). Strings go
    through unhex(hex(utf8)) so arbitrary content (quotes, backslashes,
    newlines) round-trips byte-exact regardless of parser escaping."""
    import datetime
    import decimal

    if v is None:
        return f"CAST(NULL AS {sql_type})"
    if sql_type in ("tinyint", "smallint", "int", "bigint"):
        return f"CAST({int(v)} AS {sql_type})"
    if sql_type in ("float", "double"):
        f = float(v)
        if f != f:
            s = "NaN"
        elif f == float("inf"):
            s = "Infinity"
        elif f == float("-inf"):
            s = "-Infinity"
        else:
            s = repr(f)
        return f"CAST('{s}' AS {sql_type})"
    if sql_type == "string":
        return f"CAST(unhex('{v.encode('utf-8').hex()}') AS STRING)"
    if sql_type == "date":
        return f"DATE '{v.isoformat()}'"
    if sql_type.startswith("timestamp"):
        if isinstance(v, datetime.datetime):
            return f"CAST('{v.isoformat(sep=' ')}' AS {sql_type})"
        return f"CAST('{v}' AS {sql_type})"
    if sql_type.startswith("decimal"):
        return f"CAST('{decimal.Decimal(v)}' AS {sql_type})"
    if sql_type == "boolean":
        return "TRUE" if v else "FALSE"
    raise TypeError(
        f"global_prefix_stats: unsupported order-key type {sql_type} "
        f"for boundary value {v!r}"
    )


def _bucket_search_sql(names, ascs, types, bounds) -> str:
    """Deterministic range-bucket id as a SQL branchless binary search:
    bucket(x) = #boundaries <= x over the sorted boundary literals.

    Shape matters twice over: the boundaries live in ONE array<struct>
    literal (constant-folded once, bound to a lambda variable via a
    1-element ``transform`` so the array is not re-inlined per field
    reference), and the search is ``aggregate`` over the bit steps
    [2^m..1] — O(log #buckets) comparisons per row with an expression
    tree of O(log + #boundaries) nodes. The round-7 first cut was a
    nested CASE WHEN tree: same O(log) runtime but O(#buckets)
    DUPLICATED comparison subtrees, whose whole-stage codegen cost
    ~3-5 s of one-time JIT per plan. A flat CASE chain or literal-map
    scan would be O(#buckets) per ROW — the cost the round-5
    literal-map review flagged. Because the id is a pure function of
    the row, every job that evaluates it agrees on placement (no
    checkpoint needed to pin boundaries).

    ``names``: SQL identifiers of the key columns; ``ascs``: per-key
    ascending flag (Spark default null placement: ASC NULLS FIRST /
    DESC NULLS LAST); ``types``: per-key Spark SQL type strings;
    ``bounds``: sorted list of boundary value tuples."""
    K = len(bounds)
    if K == 0:
        return "0"
    arr = "array(" + ",".join(
        "named_struct("
        + ",".join(
            f"'c{i}', {_sql_lit(b[i], types[i])}" for i in range(len(names))
        )
        + ")"
        for b in bounds
    ) + ")"
    # key < e (lexicographic, strict booleans; e = the boundary struct)
    lt = "FALSE"
    for name, asc, i in reversed(list(zip(names, ascs, range(len(names))))):
        c, e = _sql_ident(name), f"e.c{i}"
        if asc:
            col_lt = (
                f"(({c} IS NULL AND {e} IS NOT NULL) OR "
                f"({c} IS NOT NULL AND {e} IS NOT NULL AND {c} < {e}))"
            )
        else:
            col_lt = f"({c} IS NOT NULL AND ({e} IS NULL OR {c} > {e}))"
        lt = f"({col_lt} OR (({c} <=> {e}) AND {lt}))"
    bits, b = [], 1
    while b * 2 <= K:
        b *= 2
    while b >= 1:
        bits.append(b)
        b //= 2
    steps = "array(" + ",".join(str(x) for x in bits) + ")"
    # bind e := bounds[pos + bit] once per step via a 1-element transform
    probe = (
        f"element_at(transform(array(element_at({arr}, pos + bit)), "
        f"e -> IF(NOT {lt}, pos + bit, pos)), 1)"
    )
    return (
        f"aggregate({steps}, 0, (pos, bit) -> "
        f"IF(pos + bit > {K}, pos, {probe}))"
    )


def global_prefix_stats(
    df: DataFrame,
    order_cols,
    sums: dict[str, str] | None = None,
    rn_col: str = "rn",
    n_parts: int | None = None,
    totals: dict | None = None,
) -> DataFrame:
    """Global 1-based row_number and inclusive prefix sums over a TOTAL
    order WITHOUT a single-partition WindowExec — the scalable form of
    ``row_number()/SUM() OVER (ORDER BY ...)``, which Spark otherwise
    executes by moving EVERY row to one partition (the 1000-executor
    anti-pattern; VERDICT r5 item 1). The input is never materialized:
    lineage stays intact, so a lost executor just recomputes its split.

    Recipe — two bounded auxiliary jobs and ONE full-row exchange:

    1. ONE sampling job picks range boundaries: the ``n_parts*60`` rows
       with the smallest ``xxhash64`` of the order key (a
       TakeOrderedAndProject over the column-pruned key projection —
       parallel, no count job, no RNG), sorted driver-side in the total
       order; ``n_parts - 1`` evenly spaced tuples become SQL literals.
    2. ``__part`` = bucket id = #boundaries <= the row's key, computed
       FROM THE ROW by a branchless binary search over those literals
       (``_bucket_search_sql``, O(log n_parts) per row). It is a pure
       function of the row, so every job that evaluates it agrees on
       placement.
    3. ONE aggregation job (map-side combined, shuffles #buckets scalar
       rows) gives per-bucket counts and sums, cumsummed at the driver
       into exclusive offsets — one dense literal array per output
       column, indexed by bucket id (an empty bucket carries the
       running offset). Offsets are ``bigint``, or ``double`` for float
       sums; any other sum type raises ``TypeError``.
    4. the final plan hash-exchanges on ``__part`` once (the window's
       own partitioning), runs ONE partition-local sort feeding the
       per-partition ``row_number`` and every running sum, and adds
       ``element_at(offsets, __part + 1)`` — O(1) per row at any
       partition count, no join and no extra plan node.

    The auxiliary jobs recompute the input lineage, so a caller whose
    input is an expensive derived relation (a multi-join rollup) should
    ``persist`` THAT bounded rollup itself — see ``rfm_segments``.
    Several independent orderings over the same relation should ride
    ``global_prefix_stats_multi``, which shares the sample and offsets
    jobs across all of them.

    ``order_cols``: list of Column expressions forming a total order —
    plain Column = ascending, ``(Column, "desc")`` for descending
    (ties would make prefix sums placement-dependent). Null ordering
    follows Spark's defaults: ASC = NULLS FIRST, DESC = NULLS LAST.
    ``sums``: {source_col: output_col} inclusive running sums in the
    global order (integral → bigint, float → double; note float sums
    accumulate per-partition + offset, a DIFFERENT addition order than
    one sequential window, so cross-engine exact comparison needs
    integer sums, e.g. cents; every registry consumer and the fuzz
    generator sum integers). ``rn_col`` is ``bigint``. Downstream
    rank-family functions are arithmetic over ``rn_col`` and the total
    count: ntile via ``ntile_from_rn``, percent_rank = (rn-1)/(N-1),
    cume_dist = rn/N (total orders have no ties).
    ``n_parts``: bucket count; defaults to ``spark.sql.shuffle.partitions``.
    ``totals``: pass a dict to receive {rn_col: N, source_col: total}
    — the grand totals fall out of the offsets pass for free, saving
    callers a separate aggregation job.
    """
    return global_prefix_stats_multi(
        df,
        [{"order": order_cols, "sums": sums, "rn_col": rn_col, "totals": totals}],
        n_parts=n_parts,
    )


def _offset_type(df: DataFrame, src: str) -> str:
    """SQL type of a running-sum offset: Spark's sum result type for
    integral (bigint) and float (double) columns. Other types would need
    that result type threaded through; no consumer sums them."""
    t = df.schema[src].dataType.simpleString()
    if t in ("tinyint", "smallint", "int", "bigint"):
        return "bigint"
    if t in ("float", "double"):
        return "double"
    raise TypeError(f"global_prefix_stats: unsupported sum column type {t} for {src!r}")


def global_prefix_stats_multi(
    df: DataFrame, specs: list[dict], n_parts: int | None = None
) -> DataFrame:
    """K INDEPENDENT ``global_prefix_stats`` passes over the SAME
    relation, sharing ONE boundary-sample job and ONE offsets job —
    the fixed-cost amortization for callers like ``rfm_segments``
    (three quintile orderings over one customer rollup), cutting
    3×(sample + offsets + final) = 9 jobs to 3 (VERDICT r6 item 3).

    Each spec: {"order": [Column | (Column, "desc"), ...],
    "sums": {src: out} | None, "rn_col": str, "totals": dict | None}
    with ``global_prefix_stats`` semantics per spec.

    Sharing works because (a) one uniform row sample is a uniform
    sample under EVERY ordering — the driver just re-sorts the same
    sampled tuples per spec to pick that spec's boundaries; (b) the
    per-bucket counts/sums for all K deterministic bucket columns fit
    in ONE aggregation via GROUPING SETS ((__part0), ..., __partK-1))
    — the Expand doubles/triples the aggregation input rows but still
    shuffles only #buckets·K scalar rows; (c) the K windows chain in
    the single final plan exactly as K sequential hash exchanges —
    the same exchanges K separate jobs would each pay once."""
    import re

    from pyspark.sql.window import Window

    if n_parts is None:
        n_parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    nb = int(n_parts)

    parsed = []
    for sp in specs:
        pairs = _sort_pairs(sp["order"])
        parsed.append(
            {
                "keys": [c for c, _ in pairs],
                "ascs": [a for _, a in pairs],
                "sort": [c.asc() if a else c.desc() for c, a in pairs],
                "sums": dict(sp.get("sums") or {}),
                "rn": sp.get("rn_col", "rn"),
                "totals": sp.get("totals"),
            }
        )
    K = len(parsed)

    all_srcs: list[str] = []
    for p in parsed:
        for src in p["sums"]:
            if src not in all_srcs:
                all_srcs.append(src)
    off_types = {src: _offset_type(df, src) for src in all_srcs}

    # --- job 1: ONE boundary sample serving every spec. TakeOrdered
    # keeps `cap` rows PER PARTITION before the driver merge, so the cap
    # stays at boundary-sample size (measured: cap 32k turned a 0.1s
    # sample into 0.6s+ on a 15k-row rollup).
    flat = [
        (k, i, c)
        for k, p in enumerate(parsed)
        for i, c in enumerate(p["keys"])
    ]
    proj = df.select(*[c.alias(f"__b{k}_{i}") for k, i, c in flat])
    cap = min(max(nb * 60, 200), 200_000)
    hash_cols = [F.col(f"__b{k}_{i}") for k, i, _ in flat]
    samp_rows = proj.orderBy(F.xxhash64(*hash_cols).asc()).limit(cap).collect()
    for k, p in enumerate(parsed):
        nk = len(p["keys"])
        vals = [tuple(r[f"__b{k}_{i}"] for i in range(nk)) for r in samp_rows]
        p["bounds"] = _pick_bounds(vals, nb, _cmp_factory(p["ascs"]))
        p["types"] = [
            proj.schema[f"__b{k}_{i}"].dataType.simpleString() for i in range(nk)
        ]

    # The bucket expression is generated SQL, so each key expression
    # needs a referencable NAME: plain named columns are used as-is,
    # computed expressions are materialized once as __gk{k}_{i}.
    gk_cols: dict[str, "Column"] = {}
    for k, p in enumerate(parsed):
        names = []
        for i, c in enumerate(p["keys"]):
            m = re.fullmatch(r"Column<'([A-Za-z_][A-Za-z0-9_]*)'>", repr(c))
            if m:
                names.append(m.group(1))
            else:
                gk = f"__gk{k}_{i}"
                gk_cols[gk] = c
                names.append(gk)
        p["names"] = names
    wp = df.withColumns(gk_cols) if gk_cols else df
    wp = wp.withColumns(
        {
            f"__part{k}": F.expr(
                f"CAST({_bucket_search_sql(p['names'], p['ascs'], p['types'], p['bounds'])} AS INT)"
            )
            for k, p in enumerate(parsed)
        }
    )

    # --- job 2: ONE offsets aggregation (plain groupBy for K=1,
    # GROUPING SETS above). Bucket ids are never NULL, so a result row
    # belongs to spec k iff its __part{k} is non-NULL.
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(src).alias(f"__s_{i}") for i, src in enumerate(all_srcs)
    ]
    part_cols = [F.col(f"__part{k}") for k in range(K)]
    if K == 1:
        grouped = wp.groupBy(part_cols[0]).agg(*aggs)
    else:
        grouped = wp.groupingSets([[pc] for pc in part_cols], *part_cols).agg(*aggs)
    collected = grouped.collect()

    out = wp
    for k, p in enumerate(parsed):
        pc = f"__part{k}"
        per_bucket = {r[pc]: r for r in collected if r[pc] is not None}
        srcs = list(p["sums"])
        aggs_k = ["__n"] + [f"__s_{all_srcs.index(src)}" for src in srcs]
        # exclusive running offsets for bucket ids 0..#bounds — dense, so
        # the lookup is one array index per row
        offs, acc = [], [0] * len(aggs_k)
        for b in range(len(p["bounds"]) + 1):
            offs.append(acc)
            r = per_bucket.get(b)
            if r is not None:
                acc = [a + (r[agg] or 0) for a, agg in zip(acc, aggs_k)]
        if p["totals"] is not None:
            p["totals"].update(zip([p["rn"], *srcs], acc))

        def _offset(j, t):
            arr = F.array(*[F.lit(o[j]) for o in offs]).cast(f"array<{t}>")
            return F.element_at(arr, F.col(pc) + 1)

        w = Window.partitionBy(pc).orderBy(*p["sort"])
        wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        out = out.withColumn(p["rn"], F.row_number().over(w) + _offset(0, "bigint"))
        for j, src in enumerate(srcs, 1):
            out = out.withColumn(
                p["sums"][src], F.sum(src).over(wrun) + _offset(j, off_types[src])
            )

    return out.drop(*[f"__part{k}" for k in range(K)], *gk_cols)


def ntile_from_rn(rn, n: int, total: int):
    """SQL-standard ``ntile(n)`` computed ARITHMETICALLY from a global
    1-based row number and the total row count (both from
    ``global_prefix_stats``) — bucket sizes ``total div n`` with the
    first ``total mod n`` buckets one larger, identical to Spark's and
    DuckDB's window ntile but with no global-sort WindowExec. Bucket
    arithmetic is EXACT integer division (SQL ``div``): ``floor`` of a
    double quotient diverges from integer division once the dividend
    nears 2^53 (~4e15 rows — reachable for token-level row numbers at
    the 100 TB contract; ADVICE r6)."""
    q, r = divmod(int(total), int(n))
    big = F.lit(q + 1)
    head = F.lit(r * (q + 1))

    def _idiv(a, b):
        return F.call_function("div", a.cast("long"), b)

    return (
        F.when(rn <= head, _idiv(rn - 1, big))
        .otherwise(F.lit(r) + _idiv(rn - head - 1, F.greatest(F.lit(q), F.lit(1))))
        .cast("long")
        + 1
    )

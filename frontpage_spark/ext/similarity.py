"""Similarity search over an embedding column (array<float>).

Two scoring families, each written once:
- the expression fold: ``_dot`` / ``_norm2`` are sequential double
  folds over the array in index order, bit-deterministic for a pair
  regardless of partitioning, which the DuckDB oracles retrace.
  ``_cos`` is the one cosine over them, ``_side`` the one
  (id, vector, norm) projection a join side is built from, and
  ``_top_k`` / ``_rank_candidates`` the one per-query ranking tail.
  ``cosine_topk`` (exact brute force), ``ivf_topk`` and ``lsh_topk``
  (approximate) differ only in which candidate pairs they score.
- the numpy gemm: ``_gemm_blocks`` folds vectors into block rows and
  ``_gemm_cosines`` scores a block against itself or a block pair with
  one BLAS product (``cosine_pairs_blocked``, ``cosine_pairs_within``).
  Its summation order differs from the fold, so the two families are
  never mixed at one site; gemm consumers round before thresholding.

Scale notes (100 TB): brute force is O(Q×N) — fine for small Q (it is
a broadcast of Q against a scan of N, no shuffle of the corpus).
``lsh_topk`` shuffles the corpus once on the signature; multi-probe
(flipping one bit) trades query-side fan-out for recall.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import band_pairs


def _dot(a: str, b: str) -> Column:
    """Dot product of two float-array columns in double.

    Element order inside an array is fixed, so the sequential fold is
    bit-deterministic for a given pair regardless of partitioning; the
    remaining cross-engine slop (summation strategy, sqrt ULP) is
    absorbed by rounding the *output* cosine."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm2(a: str) -> Column:
    return F.expr(
        f"aggregate({a}, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    )


def _cos(ea: str, eb: str, na: str, nb: str) -> Column:
    """Cosine of two vector columns from their precomputed squared norms."""
    return _dot(ea, eb) / (F.sqrt(na) * F.sqrt(nb))


def _side(df: DataFrame, id_col: str, vec_col: str, i: str, e: str, n: str, *extra) -> DataFrame:
    """One scoring side: (i = id, e = vector, n = squared norm, *extra).
    The norm is folded once per vector here; the join the side feeds
    stops Catalyst's project-collapsing from re-inlining it per pair,
    so scoring a pair costs one dot product plus two lookups."""
    return df.select(
        F.col(id_col).alias(i), F.col(vec_col).alias(e), _norm2(vec_col).alias(n), *extra
    )


def _top_k(scored: DataFrame, part: str, score: str, tie: str, k: int, rank: str) -> DataFrame:
    """The ``k`` best rows per ``part`` by ``score`` descending, ties to
    the lowest ``tie``, numbered 1..k in ``rank``."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(part).orderBy(F.col(score).desc(), F.col(tie))
    return scored.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def _rank_candidates(cand: DataFrame, k: int) -> DataFrame:
    """Exact-score (query, corpus) candidate rows — the ``_side`` columns
    qid/qe/qn and cid/ce/cn — and keep each query's top ``k``, self
    pairs excluded. Output: (qid, cid, cosine, rank)."""
    scored = cand.filter(F.col("cid") != F.col("qid")).withColumn(
        "cosine", _cos("qe", "ce", "qn", "cn")
    )
    return _top_k(scored, "qid", "cosine", "cid", k, "rank").select(
        "qid", "cid", "cosine", "rank"
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_same: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` must be small (it is broadcast); the corpus is scanned
    once. Norms are computed ONCE per vector on each join input
    (``_side``), so scoring a pair costs one dot product plus two cached
    lookups. The only shuffle is on qid for the top-k ranking.
    Output: (qid, cid, cosine, rank).

    ``exclude_same``: name of a column present in BOTH inputs; pairs
    whose values are equal are dropped BEFORE ranking. This is the
    hard-negative-mining shape for contrastive training: neighbors
    that score high but carry a different label.
    """
    q_extra, c_extra = [], []
    if exclude_same is not None:
        q_extra.append(F.col(exclude_same).alias("qlab"))
        c_extra.append(F.col(exclude_same).alias("clab"))
    q = _side(queries, id_col, vec_col, "qid", "qe", "qn", *q_extra)
    c = _side(corpus, id_col, vec_col, "cid", "ce", "cn", *c_extra)
    cand = c.crossJoin(F.broadcast(q))
    if exclude_same is not None:
        cand = cand.filter(F.col("clab") != F.col("qlab"))
    return _rank_candidates(cand, k)


def cosine_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All a<b embedding pairs with their cosine — the exact base for
    embedding-cosine near-dup detection. O(N²): use directly on samples
    or LSH-blocked candidates; at corpus scale run ``lsh_topk``-style
    bucketing first and this as the verify stage. Norms precomputed once
    per side (``_side``).
    Output: (a, b, cosine)."""
    x = _side(corpus, id_col, vec_col, "a", "ea", "na")
    y = _side(corpus, id_col, vec_col, "b", "eb", "nb")
    return (
        x.crossJoin(y)
        .filter(F.col("a") < F.col("b"))
        .withColumn("cosine", _cos("ea", "eb", "na", "nb"))
        .select("a", "b", "cosine")
    )


def _gemm_blocks(corpus: DataFrame, key: Column, id_col: str, vec_col: str) -> DataFrame:
    """Fold the corpus into one (g = key, ids, vs) row per key value.

    Null id/vector rows are dropped UP FRONT: collect_list drops nulls
    per-column, so two separate collect_list(id)/collect_list(v) aggs
    would silently mis-align ids with vectors whenever exactly one of
    the pair is null. Collecting ONE struct makes the alignment
    structural on top of the filter: ids[i] is always the id of
    vs[i]."""
    return (
        corpus.select(
            key.alias("g"),
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .filter(F.col("id").isNotNull() & F.col("v").isNotNull())
        .groupBy("g")
        .agg(F.collect_list(F.struct("id", "v")).alias("rows"))
        .select("g", F.col("rows.id").alias("ids"), F.col("rows.v").alias("vs"))
    )


def _gemm_cosines(vs_a, vs_b=None, triu: bool = True):
    """(i, j, cosine) for one gemm: a block against itself (``vs_b``
    None: ``A @ A.T``) or a block pair (``A @ B.T``); ``triu`` selects
    the i<j upper triangle, otherwise the full i x j cross.

    Fails LOUDLY on degenerate vectors: numpy 0/0 would silently emit
    NaN, and Spark orders NaN above every threshold — the expression
    path errors under ANSI mode instead (DIVIDE_BY_ZERO)."""
    import numpy as np

    A = np.array([np.asarray(v) for v in vs_a])
    B = A if vs_b is None else np.array([np.asarray(v) for v in vs_b])
    na = np.sqrt((A * A).sum(axis=1))
    nb = na if vs_b is None else np.sqrt((B * B).sum(axis=1))
    if not (np.isfinite(A).all() and np.isfinite(B).all()) or (na == 0).any() or (nb == 0).any():
        raise ValueError(
            "zero-norm or non-finite embedding in a cosine gemm block — "
            "gate degenerate vectors upstream"
        )
    cos = (A @ B.T) / np.outer(na, nb)
    if triu:
        i, j = np.triu_indices(len(A), k=1)
    else:
        i, j = map(np.ravel, np.indices((len(A), len(B))))
    return i, j, cos[i, j]


def cosine_pairs_blocked(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """The cosine of every a<b embedding pair, computed as blocked
    matrix products — the scale path for an all-pairs cosine profile
    (``cosine_pairs`` stays as the expression-level baseline it is
    tested against). Output: (cosine), one row per unordered pair: an
    aggregate-only consumer (the near-dup count profile) never reads
    the ids, and Catalyst cannot prune columns through an opaque Python
    map, so the kernel ships cosines only.

    Plan shape: one narrow hash on the id assigns each vector to one of
    ``n_blocks`` blocks; one shuffle groups each block into a single
    row (``_gemm_blocks``); a B x (B+1)/2 self-join of block rows fans
    out the block pairs; an Arrow ``mapInPandas`` scores each block
    pair with ONE numpy/BLAS gemm instead of |pairs| interpreted array
    folds. Each unordered id pair lands in exactly one (bi <= bj) block
    pair, so no dedup pass is needed. A zero-norm or non-finite vector
    raises (``_gemm_cosines``).

    Scale notes (100 TB): pick n_blocks so a block row stays ~MBs
    (block_size x dim x 8B); replication is (B+1) copies of the corpus
    — the inherent all-pairs cost — but arithmetic runs at gemm speed
    and each block pair is an independent task, so the stage scales
    linearly with executors.
    """
    import pandas as pd

    blocks = _gemm_blocks(
        corpus, F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)), id_col, vec_col
    )
    # Task width for the gemm stage (r12): one partition per block pair
    # put B(B+1)/2 = 36 single-gemm tasks on the executor — with fresh
    # Python workers per task (spark.python.worker.reuse=false) the
    # fork + Arrow handshake dominates sub-second gemms, and 36 tasks
    # on 32 local cores ran as a full wave plus a 4-task straggler
    # wave. Capping at half the parallelism packs >=2 gemms per task
    # exactly when cores are scarce (interleaved sweep at sf0.1:
    # rep36 0.920 / rep32 0.906 / rep16 0.833 s); on a real cluster
    # where cores exceed 2x the block-pair count the cap is inactive
    # and every block pair keeps its own task. The sweep predates the
    # daemon's importer-cache clear (daemon_preload.py), which took
    # ~0.27 s of zip re-reading off every forked task, so the fork cost
    # it weighs is overstated: re-measure before retuning.
    n_pairs = n_blocks * (n_blocks + 1) // 2
    par = corpus.sparkSession.sparkContext.defaultParallelism
    bp = (
        blocks.select(F.col("g").alias("bi"), F.col("vs").alias("vs_a"))
        .join(
            blocks.select(F.col("g").alias("bj"), F.col("vs").alias("vs_b")),
            F.col("bi") <= F.col("bj"),
        )
        .repartition(min(n_pairs, max(1, par // 2)))
    )

    def score(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                # a diagonal block pair still multiplies two arrays
                # (A @ B.T, never syrk), keeping every cosine's last bit
                _i, _j, c = _gemm_cosines(row.vs_a, row.vs_b, triu=row.bi == row.bj)
                yield pd.DataFrame({"cosine": c})

    return bp.mapInPandas(score, schema="cosine double")


def cosine_pairs_within(
    corpus: DataFrame,
    group_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All a<b embedding pairs WITHIN each group (SemDeDup cells,
    LSH buckets, shard keys) with their cosine — never across groups.

    Plan shape: one shuffle folds each group into a block row
    (``_gemm_blocks``); an Arrow ``mapInPandas`` scores each group with
    ONE numpy/BLAS gemm (``_gemm_cosines``) instead of |pairs|
    interpreted array folds (the same trade ``cosine_pairs_blocked``
    makes for the all-pairs case). Group population is the caller's
    knob — SemDeDup grows k with the corpus precisely so cells stay
    task-sized.

    Float contract: cosines come from float64 gemm, whose summation
    order differs from a sequential fold — callers thresholding
    against a fold-based oracle must round first (see
    embedding_near_dup: round(cosine, 12) both sides).
    Output: (g = group key, a, b, cosine), a < b by id value."""
    import pandas as pd

    id_type = corpus.schema[id_col].dataType.simpleString()
    g_type = corpus.schema[group_col].dataType.simpleString()
    blocks = _gemm_blocks(corpus, F.col(group_col), id_col, vec_col)

    def score(batches):
        import numpy as np

        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ids = np.asarray(row.ids)
                if len(ids) < 2:
                    continue
                i, j, c = _gemm_cosines(row.vs)
                u, v = ids[i], ids[j]
                lo, hi = np.minimum(u, v), np.maximum(u, v)
                # strict a < b BY VALUE: duplicate ids in a group would
                # otherwise emit a==b self-pairs (the SQL expression
                # path's x.id < y.id excluded them)
                ne = lo != hi
                lo, hi, c = lo[ne], hi[ne], c[ne]
                yield pd.DataFrame({"g": row.g, "a": lo, "b": hi, "cosine": c})

    return blocks.mapInPandas(
        score, schema=f"g {g_type}, a {id_type}, b {id_type}, cosine double"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_passes: int = 0,
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into Voronoi
    cells around ``n_centroids`` centroid vectors, probe each query's
    ``nprobe`` nearest cells, exact-score only within probed cells.

    Centroids: with ``train_passes=0`` a deterministic corpus sample
    (first n_centroids ids); with ``train_passes>=2`` a REAL k-means
    codebook trained in-plan by ``kmeans_lloyd`` (that many assignment
    passes with exact centroid updates between) — the trained cells are
    tighter, so recall at fixed nprobe rises. Plan shape either way: one
    broadcast of the centroids, one narrow argmin pass per side, then an
    equi-join on cell id — the corpus shuffles once on its cell
    assignment, exactly how a 100 TB IVF index would be
    bucketed/bucketed-written (training adds one argmax shuffle per
    pass, typically over a sample).
    Output: (qid, cid, cosine, rank) — approximate (recall < 1).
    """
    if train_passes == 1:
        # a single "pass" cannot both assign and update — a silent
        # fallback to sampled centroids here would hand the caller an
        # untrained codebook while looking trained (ADVICE r2)
        raise ValueError(
            "train_passes=1 is ambiguous: use 0 for sampled centroids or >=2 "
            "for a Lloyd-trained codebook (passes alternate assign/update)"
        )
    if train_passes >= 2:
        _assigned, cents = kmeans_lloyd(
            corpus, id_col, vec_col, k=n_centroids, assign_passes=train_passes
        )
    else:
        cents = corpus.orderBy(id_col).limit(n_centroids).select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("ce")
        )
    cents = _side(cents, "cent_id", "ce", "cent_id", "cent", "cent_n")

    def assign(side: DataFrame, idc: str, vc: str, nc: str, probes: int) -> DataFrame:
        # The side's norm rides through cell assignment as a named
        # column so final scoring pays a lookup, not an O(dim) fold per
        # candidate pair.
        scored = side.crossJoin(F.broadcast(cents)).withColumn(
            "__sim", _cos(vc, "cent", nc, "cent_n")
        )
        return _top_k(scored, idc, "__sim", "cent_id", probes, "__r").select(
            F.col(idc), F.col(vc), F.col(nc), F.col("cent_id").alias("cell")
        )

    c = assign(_side(corpus, id_col, vec_col, "cid", "ce", "cn"), "cid", "ce", "cn", 1)
    q = assign(_side(queries, id_col, vec_col, "qid", "qe", "qn"), "qid", "qe", "qn", nprobe)
    return _rank_candidates(c.join(F.broadcast(q), "cell"), k)


def lsh_signature(vec_col: str, planes: int = 8, dim: int = 64) -> Column:
    """Random-hyperplane signature: bit p = sign(v · h_p) where h_p[i] is
    ±1 from the parity of md5('p:i') — deterministic, no stored model.
    Computed as a per-row array fold; no shuffle."""
    bits = []
    for p in range(planes):
        # h_p[i] = +1 if first hex nibble of md5('{p}:{i}') is odd else -1
        terms = F.expr(
            f"aggregate(zip_with({vec_col}, __planes[{p}], (x, h) -> CAST(x AS DOUBLE) * h), "
            f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bits.append(F.when(terms > 0, F.lit(1)).otherwise(F.lit(0)).cast("string"))
    return F.concat(*bits)


def _plane_matrix(planes: int, dim: int):
    """The md5-parity ±1 hyperplanes as a (planes, dim) float64 numpy
    matrix: h_p[i] = +1 if the first hex nibble of md5('{p}:{i}') is odd
    else -1. The one generator behind the Arrow path and the SQL
    literal (`_plane_literals`)."""
    import hashlib

    import numpy as np

    m = np.empty((planes, dim), dtype=np.float64)
    for p in range(planes):
        for i in range(dim):
            h = hashlib.md5(f"{p}:{i}".encode()).hexdigest()
            m[p, i] = 1.0 if int(h[0], 16) % 2 else -1.0
    return m


def _band_sigs_arrow(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    bands: int,
    planes: int,
    dim: int,
) -> DataFrame:
    """(id, band, sig) rows via ONE Arrow-vectorized pass — the scale
    implementation of hyperplane band signatures. Spark's higher-order
    transform/aggregate lambdas are interpreted (never codegen'd), so
    the expression form costs ~0.5 ms/row at bands*planes=100, dim=64;
    this batch form is ~100x faster and byte-identical: the per-plane
    dot is a sequential fold over dim — acc starts at 0.0 and adds
    x_i·h_i in index order across the whole (rows × planes) sheet at
    once, the EXACT recurrence of the SQL aggregate(zip_with(...),
    0.0, +) the DuckDB oracle retraces — float32→float64 promotion and
    ±1 products are exact, so every intermediate double is bit-equal
    to the pure-Column fold (asserted by
    test_lsh_band_sigs_arrow_equals_expr).
    (An earlier np.cumsum-over-dim formulation was also bit-exact but
    materialized a rows×planes×dim float64 tensor per chunk — ~100 MB
    of allocation churn per task whose mmap/THP behavior made the
    stage's wall time swing 0.5→8 s run-to-run; the fold keeps two
    rows×planes sheets alive, one of them a reused out= buffer.)

    Precondition: FINITE embeddings. The sign test diverges on
    non-finite dots — Spark SQL (and DuckDB) order NaN greater than
    every double so ``NaN > 0`` is TRUE there, while numpy's is False
    (ADVICE r4) — so a NaN/Inf vector is rejected loudly here rather
    than silently producing a signature the SQL fold would disagree
    with. (The synthetic corpus is finite; real ingest should gate
    non-finite vectors at the source.)"""
    import numpy as np
    import pandas as pd

    total = bands * planes
    id_type = corpus.schema[id_col].dataType.simpleString()
    planes_m = _plane_matrix(total, dim)  # (total, dim)

    def sigbatch(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)  # (n, dim), exact
            out_ids: list = []
            out_band: list = []
            out_sig: list = []
            if not np.isfinite(x).all():
                raise ValueError(
                    "_band_sigs_arrow: non-finite embedding component — "
                    "NaN/Inf sign semantics differ between numpy and Spark "
                    "SQL; gate non-finite vectors before LSH"
                )
            for lo in range(0, n, 1024):
                xc = x[lo : lo + 1024]
                # sequential left fold over dim: acc = ((0 + x0·h0) + x1·h1)…
                dots = np.zeros((len(xc), total))
                buf = np.empty_like(dots)
                for di in range(dim):
                    np.multiply(xc[:, di, None], planes_m[None, :, di], out=buf)
                    dots += buf
                chars = np.where(dots > 0, "1", "0")  # (c, total)
                ids_c = pdf[id_col].iloc[lo : lo + 1024].tolist()
                for g in range(bands):
                    seg = chars[:, g * planes : (g + 1) * planes]
                    out_ids.extend(ids_c)
                    out_band.extend([g] * len(ids_c))
                    out_sig.extend("".join(row) for row in seg)
            yield pd.DataFrame({"id": out_ids, "band": out_band, "sig": out_sig})

    return corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        sigbatch, schema=f"id {id_type}, band int, sig string"
    )


def _plane_literals(planes: int, dim: int) -> Column:
    """array<array<double>> literal (``1.0D``/``-1.0D``) of the
    `_plane_matrix` hyperplanes."""
    # ONE parsed expression, not planes*dim F.lit() Columns: each
    # Column constructor is a py4j round trip, and 100x64 of them cost
    # multiple seconds of driver time PER QUERY CONSTRUCTION.
    arr = ", ".join(
        "array(" + ", ".join(f"{v:.1f}D" for v in row) + ")"
        for row in _plane_matrix(planes, dim)
    )
    return F.expr(f"array({arr})")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: bucket corpus and queries by hyperplane
    signature, exact-score only within matching buckets.

    Multiprobe: each query probes its own bucket PLUS every
    Hamming-distance-1 neighbor (planes+1 buckets total) — near-misses
    where one hyperplane split a close pair are recovered, the dominant
    LSH recall failure. Comparisons grow from N/2^planes to
    (planes+1)·N/2^planes — still exponential savings, and only the
    (tiny, broadcast) query side fans out; the corpus is hashed and
    shuffled exactly once. Output: (qid, cid, cosine, rank) — rank
    within retrieved candidates.
    """
    planes_lit = _plane_literals(planes, dim)

    def signed(side: DataFrame, e: str) -> DataFrame:
        return (
            side.withColumn("__planes", planes_lit)
            .withColumn("sig", lsh_signature(e, planes, dim))
            .drop("__planes")
        )

    c = signed(_side(corpus, id_col, vec_col, "cid", "ce", "cn"), "ce")
    q = signed(_side(queries, id_col, vec_col, "qid", "qe", "qn"), "qe")
    flips = F.expr(
        f"transform(sequence(1, {planes}), i -> concat("
        "substring(sig, 1, i - 1), "
        "CASE WHEN substring(sig, i, 1) = '1' THEN '0' ELSE '1' END, "
        f"substring(sig, i + 1, {planes} - i)))"
    )
    q = q.withColumn("sig", F.explode(F.array_insert(flips, 1, F.col("sig"))))
    return _rank_candidates(c.join(F.broadcast(q), "sig"), k)


# banded-LSH near-dup defaults: 10 bands x 10 hyperplanes. Random-pair
# collision rate = bands/2^planes ~ 1%, so candidate volume is ~N^2/100
# worst-case on uncorrelated data and output-proportional once real
# near-dups dominate (exact duplicates collide in EVERY band:
# recall 1.0 for the dedup case by construction).
LSH_ND_BANDS = 10
LSH_ND_PLANES = 10


def lsh_band_candidates(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = LSH_ND_BANDS,
    planes: int = LSH_ND_PLANES,
    dim: int = 64,
) -> DataFrame:
    """Candidate (a, b) pairs (a < b) sharing at least one band of
    random-hyperplane sign bits — the blocking stage of embedding
    near-dup dedup (MinHash-LSH's banding scheme transplanted to
    cosine space; the same (id, band, key) -> `dedup.band_pairs` stage
    as `dedup.lsh_candidate_pairs` for text).

    Signatures come from ONE vectorized batch pass (`_band_sigs_arrow`;
    interpreted HOF lambdas are ~100x slower). Deterministic end-to-end:
    hyperplanes are md5-derived +-1 values (`_plane_matrix`), signatures
    a sequential double fold per plane — bit-identical in any engine
    that folds doubles in index order, which is what makes the whole
    pipeline DuckDB-oracle-checkable.

    Buckets are not capped: they are geometrically small (~n/2^planes),
    and the pathological case (massive exact-duplicate vectors) belongs
    to exact dedup upstream."""
    from .. import plans

    # fan_out (r12, VERDICT r11 item 4): the signature pass is the one
    # Python stage in this pipeline, and on a single-split scan (the
    # local single-row-group files) it runs as ONE task — a
    # serialization point the rest of the plan then inherits.
    # PY_STAGE_WIDTH, not full width: per-row signature cost is
    # microseconds, the same measured trade as the synthetic media
    # codecs. No-op on a production multi-split table. The candidate SET
    # is partitioning-independent: bucket membership is a pure row
    # function and band_pairs sorts each bucket's id list before pair
    # expansion.
    sigs = _band_sigs_arrow(
        plans.fan_out(corpus, plans.PY_STAGE_WIDTH), id_col, vec_col, bands, planes, dim
    )
    return band_pairs(sigs, "id", "sig")


def lsh_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = LSH_ND_BANDS,
    planes: int = LSH_ND_PLANES,
    dim: int = 64,
) -> DataFrame:
    """Two-stage embedding near-dup at corpus scale: banded-LSH
    candidates (`lsh_band_candidates`) -> exact cosine verify on ONLY
    the candidates. The composition mirrors text `near_dup_verified`;
    cosine is rounded to 12 digits BEFORE thresholding on both engines
    so summation-order noise at the boundary cannot flip membership.
    Output: (a, b, cosine) with cosine >= threshold, approximate in the
    LSH sense (recall < 1 near the threshold, -> 1.0 for true
    duplicates, which collide in every band)."""
    from .. import plans

    cand = lsh_band_candidates(corpus, id_col, vec_col, bands, planes, dim)
    # ONE kept (id, vector, norm) projection feeds BOTH verify sides
    # (r12): the x and y joins previously each re-scanned the corpus
    # and re-folded the norms; the persisted projection computes
    # scan + norm once and both joins read the cache (eviction-safe —
    # lineage intact). Identical pairs by construction: the same rows
    # feed the same sequential folds, only their source changes.
    x = plans.keep(_side(corpus, id_col, vec_col, "a", "ea", "na"))
    y = x.select(F.col("a").alias("b"), F.col("ea").alias("eb"), F.col("na").alias("nb"))
    return (
        cand.join(x, "a")
        .join(y, "b")
        .withColumn("cosine", F.round(_cos("ea", "eb", "na", "nb"), 12))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: code_i = floor(x_i * 127 /
    max|x|). Shrinks a float32 embedding column 4x before it is
    shuffled/stored — at 100 TB the embedding column dominates I/O, so
    quantize before the expensive stages and keep the (exactly
    representable) per-vector scale for dequantization.

    Pure narrow per-row array math in codegen; deterministic (floor, no
    round-half ties; float32->double promotion is exact, and max is
    fold-order independent). Output: (id, codes array<int>, maxabs
    double); all-zero vectors quantize to all-zero codes.
    """
    v = F.col(vec_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    codes = F.when(F.col("maxabs") == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v,
            lambda x: F.floor(x.cast("double") * F.lit(127.0) / F.col("maxabs")).cast("int"),
        )
    )
    return (
        df.select(F.col(id_col), v.alias(vec_col), maxabs.alias("maxabs"))
        .withColumn("codes", codes)
        .select(id_col, "codes", "maxabs")
    )


def _sq_dist(a, b) -> Column:
    """Sequential-fold squared L2 distance, computed entirely in DOUBLE:
    float32 inputs are promoted BEFORE the subtract/multiply so every
    element op is IEEE-double and bit-reproducible across engines (a
    float32 subtract here would make the PQ argmin depend on which
    engine's float path ran — the pq_compression_stats oracle replays
    this exact recurrence in DuckDB)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_codebook(
    corpus: DataFrame, m: int, k: int, id_col: str, vec_col: str, dim: int
) -> DataFrame:
    """One-row codebook frame: map<subspace -> sorted array<struct<cw>>>
    built from the subvectors of the first ``k`` ids (deterministic
    offline-k-means stand-in, like ``ivf_topk``'s centroids)."""
    sub = dim // m
    return (
        corpus.orderBy(id_col)
        .limit(k)
        .select(
            F.posexplode(
                F.array(*[F.slice(vec_col, s * sub + 1, sub) for s in range(m)])
            ).alias("s", "cw")
        )
        .groupBy("s")
        .agg(F.collect_list(F.struct("cw")).alias("cws"))
        .select(F.sort_array(F.col("cws")).alias("cws"), "s")
        .groupBy()
        .agg(
            F.map_from_arrays(
                F.collect_list("s"), F.collect_list("cws")
            ).alias("codebook")
        )
    )


def pq_encode(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Product quantization: split each vector into ``m`` subspaces of
    dim/m, quantize every subvector to its nearest of ``k`` per-subspace
    codewords, keep only the m code ids — dim*4 bytes shrink to
    m*ceil(log2 k)/8 (64-dim float -> 2 bytes at m=4,k=16), the
    compression that lets a 100 TB embedding corpus live in executor
    memory for ADC scanning.

    Codewords are a deterministic corpus sample (subvectors of the
    first ``k`` ids — the same offline-k-means stand-in as
    ``ivf_topk``'s centroids) broadcast once; encoding is a narrow
    per-row argmin over the k x m codebook, no shuffle. Returns
    (id, codes array<int>, recon_err double) — recon_err is the total
    squared quantization error, the quantity PQ k-means would minimize.
    """
    sub = dim // m
    cb = _pq_codebook(corpus, m, k, id_col, vec_col, dim)
    sq_dist = _sq_dist
    enc = corpus.crossJoin(F.broadcast(cb))
    code_cols, err_cols = [], []
    for s in range(m):
        sv = F.slice(vec_col, s * sub + 1, sub)
        cand = F.transform(
            F.element_at("codebook", F.lit(s)),
            lambda cwst: F.struct(sq_dist(cwst["cw"], sv).alias("d")),
        )
        # argmin over k candidate codewords: index of the min distance
        best = F.array_position(
            F.transform(cand, lambda c: c["d"]), F.array_min(F.transform(cand, lambda c: c["d"]))
        )
        code_cols.append((best - 1).cast("int"))
        err_cols.append(F.array_min(F.transform(cand, lambda c: c["d"])))
    out = enc.select(
        F.col(id_col),
        F.array(*code_cols).alias("codes"),
        sum(err_cols[1:], err_cols[0]).alias("recon_err"),
    )
    return out


def mean_pool(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    micro: int = 10**6,
) -> DataFrame:
    """Element-wise mean of embedding vectors per group (centroids —
    IVF codebook seeding, class prototypes, corpus drift audits).

    Exactness: each float32 element becomes integer micro-units
    (round(x·1e6) as BIGINT) BEFORE any accumulation — and that round
    happens in a Spark expression, not numpy, so its half-away-from-
    zero tie-breaking matches the SQL oracle exactly (np.rint is
    half-to-even: ~tens of float32 values per million land on exact
    .5 micro boundaries, enough to bite at sf0.1). Integer sums are
    associative-exact, so the result is identical for any
    partitioning and any engine; the mean divides once at the end.

    Scale shape: map-side partial combine via ``mapInPandas`` — each
    task folds ITS rows to one (group, int64-sum-vector, count) row,
    so the shuffle carries one vector per (task, group), not one row
    per input vector (and never dim× exploded rows). The reduce side
    folds the few partial vectors with zip_with, seeding the fold with
    the FIRST partial (so the vector dimension never needs probing —
    no plan-time driver job). At 100 TB the wide stage moves
    ~(tasks × groups × dim × 8) bytes — independent of row count."""
    import numpy as np
    import pandas as pd

    def combine(batches):
        acc: dict = {}
        for pdf in batches:
            for g, sub in pdf.groupby(group_col, sort=False):
                mat = np.stack(sub["__vu"].to_numpy()).astype("int64")
                s = mat.sum(axis=0, dtype="int64")
                if g in acc:
                    acc[g][0] += s
                    acc[g][1] += len(sub)
                else:
                    acc[g] = [s, len(sub)]
        if acc:
            yield pd.DataFrame(
                {
                    group_col: list(acc),
                    "psum": [v[0].tolist() for v in acc.values()],
                    "pn": [v[1] for v in acc.values()],
                }
            )

    gtype = df.schema[group_col].dataType.simpleString()
    micro_ints = F.transform(
        vec_col,
        lambda e: F.round(e.cast("double") * F.lit(float(micro))).cast("long"),
    )
    partial = df.select(F.col(group_col), micro_ints.alias("__vu")).mapInPandas(
        combine, schema=f"{group_col} {gtype}, psum array<bigint>, pn bigint"
    )
    folded = (
        partial.groupBy(group_col)
        .agg(F.collect_list("psum").alias("__ps"), F.sum("pn").alias("n"))
        .select(
            group_col,
            "n",
            F.aggregate(
                F.expr("slice(__ps, 2, size(__ps) - 1)"),
                F.element_at("__ps", 1),
                lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
            ).alias("sum_u"),
        )
    )
    return folded.select(
        group_col,
        F.col("n").cast("long").alias("n"),
        F.transform(
            "sum_u", lambda s: s.cast("double") / F.col("n") / F.lit(float(micro))
        ).alias("centroid"),
    )


def assign_cosine(
    df: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its max-cosine centroid (ties → lowest
    cent_id). ``cents`` must have (cent_id, ce). The argmax is a
    map-side-combinable ``max(struct(sim, -cent_id))`` groupBy — the
    shuffle carries ONE row per vector, not one per (vector, centroid)
    (a row_number window would sort k× the corpus). Keeps the vector
    column so the Lloyd update can consume the output directly."""
    c = _side(cents, "cent_id", "ce", "cent_id", "ce", "cn")
    v = _side(df, id_col, vec_col, id_col, "e", "en")
    scored = v.crossJoin(F.broadcast(c)).withColumn("sim", _cos("e", "ce", "en", "cn"))
    best = scored.groupBy(id_col).agg(
        F.max(F.struct(F.col("sim"), (-F.col("cent_id")).alias("nc"))).alias("b"),
        F.first("e").alias("e"),
    )
    return best.select(
        id_col,
        (-F.col("b.nc")).cast("long").alias("cent_id"),
        F.col("b.sim").alias("sim"),
        "e",
    )


def kmeans_lloyd(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    assign_passes: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Full LLOYD k-means (spherical/cosine): deterministic seed
    centroids (first k by id), then alternating assignment and exact
    centroid update for ``assign_passes`` assignment rounds
    (updates run between rounds). Returns (assigned, centroids) after
    the final assignment.

    Every step is the scale-safe kernel: assignment is a broadcast
    fan-out + map-side-combinable argmax (corpus never shuffles wider
    than 1 row/vector); the update is mean_pool's micro-int partial
    combine (shuffle = tasks × k sum-vectors). Iteration count is a
    small constant — the classic trade at 100 TB is few Lloyd rounds
    over sampled data to build an IVF codebook, then one global
    assignment pass; this operator is both halves.

    Exactness: updates accumulate integer micro-units (see mean_pool),
    so centroid doubles — and therefore every downstream similarity —
    are bit-identical across partitionings and engines; the unrolled
    SQL oracle in queries.kmeans_lloyd_counts replays the same
    recurrence.

    The (id, vector) projection is keep()-persisted across passes
    (r12, guide §5): every Lloyd round re-reads the corpus — the seed
    limit, then one assignment per pass — and without the persist each
    round re-scans and re-decodes the vector column from storage.
    Recompute-on-eviction is safe (plain persist, lineage intact), the
    cached projection is exactly the two columns every pass touches,
    and multi-pass reuse is the textbook case where caching beats
    re-reading. Float semantics are untouched — the same rows feed the
    same folds, only their source changes (cache vs re-scan)."""
    from .. import plans

    feat = df.select(F.col(id_col), F.col(vec_col))
    if assign_passes > 1:
        feat = plans.keep(feat)
    cents = feat.orderBy(id_col).limit(k).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("ce")
    )
    assigned = assign_cosine(feat, cents, id_col, vec_col)
    for _ in range(assign_passes - 1):
        upd = mean_pool(assigned, "cent_id", "e")
        cents = upd.select("cent_id", F.col("centroid").alias("ce"))
        assigned = assign_cosine(feat, cents, id_col, vec_col)
    return assigned, cents

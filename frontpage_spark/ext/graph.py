"""Iterative graph algorithms as DataFrame loops.

``dup_clusters`` (queries.py) covers min-label connected components;
this module adds PageRank — the canonical "does your engine do
iterative dataflow" operator — in a deliberately deterministic
fixed-point form.

Why fixed-point: float PageRank sums thousands of double
contributions per node, so partition order changes low bits and no
two engines (or two runs) agree bit-for-bit. Here ranks live in
integer mass units (SCALE = 1e12 total mass) and every edge
contributes ``(85 * r) div (100 * outdeg)`` — exact bigint
truncating division, identical in any evaluation order and in any
engine. The small mass lost to truncation is deterministic too (it
plays the role of the dangling-mass leak; ranks remain a strict
partial order of the true PageRank for the graphs this serves).

Scale design: one iteration = one shuffle of the edge list keyed on
src (join ranks in) + one keyed aggregation on dst — the same two
exchanges GraphX/Pregel pays. Ranks and degrees are node-sized
(small side) and broadcast when they fit; the edge list, the 100 TB
side, is never re-partitioned between iterations when it is already
bucketed by src. ``plans.pin`` (reliable checkpoint) every few rounds
truncates the growing lineage (same pattern as the component
fixpoint) WITHOUT making the cut state executor-local: a lost
executor re-reads the checkpoint files instead of failing the job
(GraphX's periodic-checkpoint contract; tools/fault_probe.py kills an
executor mid-fixpoint to prove it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..plans import pin, size_gate

PR_SCALE = 10**12

# Edge lists at or below this row count take the single-job local path
# (`_pagerank_local`); above it, the distributed per-iteration join/agg
# loop runs on natural partitioning. Same gate pattern (and rationale)
# as queries._component_fixpoint: iterative graph state at bench/test
# scale is dominated by Spark's per-job scheduling floor, not by data.
_SMALL_EDGE_ROWS = 4_000_000

# damping 85/100 as an exact integer ratio (the pagerank_part_supplier
# oracle hard-codes the same 85/100)
_DAMPING_NUM = 85
_DAMPING_DEN = 100
# rounds between plans.pin lineage cuts in the distributed loops
_CHECKPOINT_EVERY = 4
# kcore's convergence rail: peeling that has not converged by then raises
_KCORE_MAX_ROUNDS = 50


def _pagerank_local(
    edges: DataFrame, iterations: int, bidirected: bool, dedup_edges: bool
) -> DataFrame:
    """Single-job exact-integer PageRank over a SMALL edge list
    coalesced to one partition — executor-side (mapInPandas), not a
    driver collect; byte-identical ranks to the distributed loop
    because the recurrence is truncating int64 division on
    nonnegative values, which no evaluation order can perturb. One
    Spark job instead of ~3 per iteration (broadcast exchanges +
    final checkpoint).

    ``dedup_edges``: dedup (src, dst) rows INSIDE the kernel (post-
    factorize integer codes, so it is an int64 np.unique) instead of
    upstream — callers that would otherwise feed ``edges.distinct()``
    skip that whole Exchange + single-task string dedup stage (the
    coalesce(1) collapses the post-shuffle side to one thread); the
    rank recurrence then sees exactly the distinct multiset it saw
    before."""
    node_type = edges.schema["src"].dataType.simpleString()

    def pr(batches):
        import numpy as np
        import pandas as pd

        srcs, dsts = [], []
        for pdf in batches:
            srcs.append(pdf["src"])
            dsts.append(pdf["dst"])
        if not srcs:
            return
        src = pd.concat(srcs, ignore_index=True)
        dst = pd.concat(dsts, ignore_index=True)
        # hash-based factorize, NOT np.unique: node ids are strings and
        # a sort-based encode dominated the whole query at ~1M edges
        idx, nodes = pd.factorize(pd.concat([src, dst], ignore_index=True))
        si, di = idx[: len(src)], idx[len(src) :]
        n = len(nodes)
        if n == 0:
            return
        if dedup_edges:
            # distinct (si, di) pairs via one int64 sort — n*n stays
            # below 2^63 for any graph that fits the local gate
            key = si.astype(np.int64) * np.int64(n) + di.astype(np.int64)
            key = np.unique(key)
            si = (key // n).astype(idx.dtype)
            di = (key % n).astype(idx.dtype)
        outdeg = np.bincount(si, minlength=n)
        if bidirected:
            outdeg = outdeg + np.bincount(di, minlength=n)
        outdeg = outdeg.astype(np.int64)
        r = np.full(n, PR_SCALE // n, dtype=np.int64)
        jump = ((_DAMPING_DEN - _DAMPING_NUM) * PR_SCALE) // (_DAMPING_DEN * n)
        for _ in range(iterations):
            # per-edge contribution; every edge ROW contributes (so a
            # multigraph weighs parallel edges), matching the
            # distributed loop's groupBy-count outdeg + per-row join.
            # int64 floor-div == Spark's truncating BIGINT div (nonneg).
            # weighted bincount accumulates in float64 — exact here:
            # every term and every partial sum is an integer below the
            # total mass PR_SCALE = 1e12 << 2^53
            c = (_DAMPING_NUM * r[si]) // (_DAMPING_DEN * outdeg[si])
            agg = np.bincount(di, weights=c, minlength=n)
            if bidirected:
                c2 = (_DAMPING_NUM * r[di]) // (_DAMPING_DEN * outdeg[di])
                agg = agg + np.bincount(si, weights=c2, minlength=n)
            r = jump + agg.astype(np.int64)
        yield pd.DataFrame({"node": np.asarray(nodes), "r": r})

    # coalesce, not repartition: avoids a full exchange of the edge
    # list; measured faster at ~600k distinct pairs (1.57s vs 1.86s)
    return edges.coalesce(1).mapInPandas(pr, schema=f"node {node_type}, r bigint")


def pagerank_fixedpoint(
    edges: DataFrame,
    iterations: int = 3,
    bidirected: bool = False,
    edge_rows_hint: int | None = None,
    dedup_edges: bool = False,
) -> DataFrame:
    """PageRank over a directed edge list ``(src, dst)`` in exact
    integer arithmetic. Returns ``(node, r)`` with Σr ≤ PR_SCALE.

    Every node present as src or dst participates; nodes with no
    out-edges contribute nothing (their mass leaks — standard
    simplified treatment; feed a bidirected edge list if the graph
    should be leak-free).

    The distributed loop hints the node-sized sides (ranks,
    out-degrees, contributions) into broadcast joins so each iteration
    costs ONE shuffle (the dst aggregation) and the edge list never
    moves — required when AQE is off, since rank tables sit behind
    shuffles where static planning can't see their (small) size."""
    # Size-gate: small graphs take the single-job local path,
    # byte-identical output. ``edge_rows_hint`` (an UPPER BOUND on the
    # edge rows, e.g. the base table's parquet-footer count) decides
    # the gate with zero extra jobs; without a hint, materialize once
    # (checkpoint, so the probe and the consumer share one execution
    # of the upstream distinct) and count-probe. ``bidirected=True``
    # means each input row (u, v) is BOTH u→v and v→u — the reversed
    # half then never crosses to Python (local path) and is derived
    # narrowly from checkpointed blocks (distributed path) instead of
    # being materialized twice by the caller's union.
    # NULL endpoints are dropped up front: the local path's factorize
    # would map them to a -1 sentinel (bincount crash), and the
    # distributed loop's equi-joins would half-drop them into a
    # phantom jump-only node — neither is a meaningful rank. Dropping
    # first makes both paths agree on degenerate input too.
    edges = edges.select("src", "dst").where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    mult = 2 if bidirected else 1
    if edge_rows_hint is not None:
        # hint is an upper bound on the RAW rows, so it bounds the
        # distinct rows too — valid for the dedup_edges path as-is
        rows = edge_rows_hint
    else:
        edges = pin(edges.distinct() if dedup_edges else edges)
        dedup_edges = False
        rows = edges.limit(_SMALL_EDGE_ROWS + 1).count()
    if size_gate("pagerank", rows * mult, _SMALL_EDGE_ROWS):
        return _pagerank_local(edges, iterations, bidirected, dedup_edges)
    if edge_rows_hint is not None:
        edges = pin(edges.distinct() if dedup_edges else edges)
        dedup_edges = False
    if bidirected:
        edges = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    # The edge list, node set, and out-degrees are loop INVARIANTS —
    # without materialization every iteration's join replays their
    # whole upstream plan (scan + distinct per round). Caching
    # invariants is the standard Pregel contract.
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_df = nodes.agg(F.count(F.lit(1)).alias("__N"))
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).persist()

    # r0 = SCALE div N; jump = (100-damping)·SCALE div (den·N)
    r = (
        nodes.crossJoin(F.broadcast(n_df))
        .select("node", F.expr(f"CAST({PR_SCALE} AS BIGINT) div __N").alias("r"))
    )
    jump = F.expr(
        f"CAST({(_DAMPING_DEN - _DAMPING_NUM) * PR_SCALE} AS BIGINT) div "
        f"(CAST({_DAMPING_DEN} AS BIGINT) * __N)"
    )
    for i in range(iterations):
        contrib = (
            edges.join(F.broadcast(r.withColumnRenamed("node", "src")), "src")
            .join(F.broadcast(outdeg), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"(CAST({_DAMPING_NUM} AS BIGINT) * r) div "
                    f"(CAST({_DAMPING_DEN} AS BIGINT) * outdeg)"
                ).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        r = (
            nodes.join(F.broadcast(contrib), "node", "left")
            .crossJoin(F.broadcast(n_df))
            .select(
                "node",
                (jump + F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("r"),
            )
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0 and i + 1 < iterations:
            r = pin(r)
    # eager checkpoint materializes the final ranks so the loop
    # invariants can be RELEASED here instead of leaking cached blocks
    # into long multi-query sessions (ADVICE r2)
    out = pin(r)
    for inv in (nodes, outdeg):  # edges is checkpointed (GC-reclaimed), not persisted
        inv.unpersist()
    return out


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    nodes with degree < k (in the CURRENT subgraph) until none remain;
    returns the surviving (node, degree) frame — the densest-region
    primitive behind community seeding, spam-cluster mining, and
    visualization layering.

    Each round is two keyed aggregations + one semi join pair on the
    node id — no broadcast of anything graph-sized, no driver-side
    node sets; the only driver scalar is the convergence count. The
    edge list SHRINKS monotonically, so round cost decays; peeling
    converges in ≤ diameter-ish rounds on real graphs (bounded here by
    ``_KCORE_MAX_ROUNDS``, asserted converged). ``plans.pin`` every few
    rounds truncates lineage exactly like the component fixpoint.

    Edges are treated as undirected; pass a symmetrized list or rely
    on the internal symmetrization (dedup'd (a,b)+(b,a))."""
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    cur = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    cur = pin(cur)
    # one count() per round: the previous round's surviving-edge count
    # is this round's n_cur (recounting cur re-ran the whole
    # uncheckpointed lineage a second time per round — ADVICE r3)
    n_cur = cur.count()
    for rnd in range(_KCORE_MAX_ROUNDS):
        deg = cur.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("a")
        nxt = (
            cur.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
        )
        if rnd % _CHECKPOINT_EVERY == _CHECKPOINT_EVERY - 1:
            nxt = pin(nxt)
        # converged when no node fell below k this round
        n_nxt = nxt.count()
        cur = nxt
        if n_cur == n_nxt:
            break
        n_cur = n_nxt
    else:
        raise RuntimeError(f"kcore did not converge in {_KCORE_MAX_ROUNDS} rounds")
    return cur.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("degree"))

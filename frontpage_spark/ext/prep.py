"""End-to-end training-data preparation: the full corpus-to-splits
pipeline a pretraining run needs, composed from this package's
operators into one driveable job.

    quality gate → exact dedup → near dedup (LSH + verify) →
    benchmark decontamination → tokenize to ids → train/val/test split

Every stage is the scale shape its operator documents (no collects,
no all-pairs, broadcast models/vocabularies, deterministic hashes),
and the funnel report is itself a small DataFrame — auditable the way
`quality_filter_funnel` is.

Determinism: every stage is a pure function of the input corpus
(md5-derived sampling, sorted-tiebreak vocab, min-doc_id cluster
representatives), so reruns — on any partitioning — produce the same
corpus byte-for-byte. The pipeline test pins this.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..plans import keep as _keep, size_gate as _size_gate, take_wide as _take_wide
from . import dedup
from .sampling import assign_split
from .textstats import distinct_ratio, with_char_entropy


def quality_gate(
    docs: DataFrame,
    text_col: str = "text",
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    min_distinct_ratio: float = 0.2,
    min_entropy_u: int = 2_000_000,
) -> DataFrame:
    """Row-local quality filters in one narrow pass (plus the tiny
    alphabet aggregate for entropy). Thresholds compare integer
    micro-entropy, so the gate is engine-exact."""
    n_toks = F.size(F.split(F.col(text_col), " "))
    ent_u = F.round(F.col("__ent") * 1e6).cast("long")
    return (
        with_char_entropy(docs, text_col, "__ent")
        .filter(
            (n_toks >= min_tokens)
            & (n_toks <= max_tokens)
            & (distinct_ratio(text_col) >= min_distinct_ratio)
            & (ent_u >= min_entropy_u)
        )
        .drop("__ent")
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id doc per exact text (md5 groupBy, one shuffle)."""
    w = docs.select(id_col, F.md5(F.col(text_col)).alias("__h"))
    keep = w.groupBy("__h").agg(F.min(id_col).alias(id_col))
    return docs.join(keep.select(id_col), id_col, "left_semi")


def near_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Drop LSH-discovered near-duplicates, keeping each candidate
    pair's lower id (transitively: anything that loses any pairing is
    dropped — conservative, single pass over the bounded candidate
    set; full cluster analytics live in `dup_clusters`)."""
    pairs = dedup.lsh_candidate_pairs(docs, id_col=id_col, text_col=text_col)
    losers = pairs.select(F.col("b").alias(id_col)).distinct()
    return docs.join(losers, id_col, "left_anti")


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Drop any doc sharing an n-gram (n consecutive tokens) with the
    benchmark: benchmark n-grams are distinct'd (small side) and the
    corpus is probed with a left-anti inverted-index join on the
    n-gram hash — the `benchmark_contamination` shape as a filter."""
    def grams(col):
        # guard short docs: sequence(1, negative) counts DOWN, not empty
        return F.expr(
            f"if(size(split({col}, ' ')) >= {n}, "
            f"transform(sequence(1, size(split({col}, ' ')) - {n - 1}), "
            f"i -> array_join(slice(split({col}, ' '), i, {n}), ' ')), "
            f"array())"
        )

    bench_g = (
        benchmark.select(F.explode(grams(bench_text_col)).alias("g"))
        .select(F.md5("g").alias("gh"))
        .distinct()
    )
    doc_g = docs.select(
        F.col("doc_id"), F.explode(grams(text_col)).alias("g")
    ).select("doc_id", F.md5("g").alias("gh"))
    contaminated = doc_g.join(F.broadcast(bench_g), "gh", "left_semi").select(
        "doc_id"
    ).distinct()
    return docs.join(contaminated, "doc_id", "left_anti")


def tokenize_ids(
    docs: DataFrame, text_col: str = "text", vocab_size: int = 4096
) -> DataFrame:
    """Top-K frequency vocab (count desc, token asc) folded into one
    broadcast map; narrow per-row encode, OOV → 0. Adds ``ids``."""
    from pyspark.sql.window import Window

    toks = docs.select(F.explode(F.split(text_col, " ")).alias("t"))
    vocab = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "t")
        .limit(vocab_size)
        .select(
            "t",
            F.row_number().over(Window.orderBy(F.desc("c"), "t")).cast("long").alias("id"),
        )
    )
    vmap = vocab.agg(
        F.map_from_entries(F.sort_array(F.collect_list(F.struct("t", "id")))).alias(
            "__vm"
        )
    )
    ids = F.transform(
        F.split(text_col, " "),
        lambda t: F.coalesce(F.element_at(F.col("__vm"), t), F.lit(0).cast("long")),
    )
    return docs.crossJoin(F.broadcast(vmap)).withColumn("ids", ids).drop("__vm")


def prep_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    out_path: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    split_ratios: tuple[float, float] = (0.8, 0.1),
) -> tuple[DataFrame, DataFrame]:
    """Run the full pipeline. Returns (prepared, funnel) where
    prepared has (id, text, ids, n_tokens, split) and funnel counts
    survivors per stage. When ``out_path`` is set the corpus is also
    written hive-partitioned by split (one pass)."""
    stages: list[tuple[str, DataFrame]] = [("input", docs)]
    cur = quality_gate(docs, text_col)
    stages.append(("quality", cur))
    cur = exact_dedup(cur, id_col, text_col)
    stages.append(("exact_dedup", cur))
    cur = near_dedup(cur, id_col, text_col)
    stages.append(("near_dedup", cur))
    cur = decontaminate(cur, benchmark, text_col)
    stages.append(("decontaminated", cur))
    prepared = tokenize_ids(cur, text_col).select(
        id_col,
        text_col,
        "ids",
        F.size("ids").cast("long").alias("n_tokens"),
        assign_split(F.col(id_col).cast("string"), split_ratios).alias("split"),
    )
    funnel_parts = [
        s.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
            F.lit(name).alias("stage"), "n", F.lit(i).alias("stage_no")
        )
        for i, (name, s) in enumerate(stages)
    ]
    funnel = funnel_parts[0]
    for p in funnel_parts[1:]:
        funnel = funnel.unionByName(p)
    if out_path is not None:
        prepared.write.mode("overwrite").partitionBy("split").parquet(out_path)
    return prepared, funnel


# ---- learned-merge BPE ------------------------------------------------------
BPE_SEP = "•"  # '•' — never appears in [a-z]+ word symbols


def _bpe_train_local(
    vocab: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str]]:
    """Driver-local replica of the distributed BPE recurrence, used
    only behind the small-vocab gate in ``bpe_train``. Semantics must
    stay bit-identical to the Spark rounds (and the DuckDB oracle's
    replay): overlapping adjacent-pair counts weighted by word count,
    argmax tie-broken by (count DESC, lhs ASC, rhs ASC) in binary
    order, greedy left-to-right non-overlapping merge application."""
    words: list[tuple[list[str], int]] = [([c for c in w], wc) for w, wc in vocab]
    merges: list[tuple[int, str, str]] = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, wc in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + wc
        if not counts:
            break
        (a, b), _ = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, a, b))
        for idx, (syms, wc) in enumerate(words):
            if len(syms) < 2:
                continue
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[idx] = (out, wc)
    return merges


def _bpe_state_expr(word_col: str) -> F.Column:
    """Initial BPE state string for a word: symbols are single chars,
    '•'-anchored and '••'-separated — 'abc' → '•a••b••c•'. The double
    separator makes greedy left-to-right ``replace`` of
    '•a••b•' → '•ab•' EXACTLY the classic BPE non-overlapping merge
    application ('a a a a' merges to 'aa aa', not 'aa a a'), and the
    same replace semantics hold in DuckDB, so the oracle can replay the
    learned merge table verbatim."""
    s = BPE_SEP
    return F.concat(
        F.lit(s), F.array_join(F.split(F.col(word_col), ""), s + s), F.lit(s)
    )


# Distinct-word vocabularies at or below this size train on the driver
# (``_bpe_train_local``); larger ones run the distributed merge rounds.
_SMALL_VOCAB = 100_000


def bpe_train(
    docs: DataFrame, text_col: str = "text", n_merges: int = 12
) -> tuple[list[tuple[int, str, str]], DataFrame]:
    """Train a REAL byte-pair-encoding merge table (learned merges, not
    hash buckets) on the corpus's [a-z]+ words. Returns
    ``(merges, states)``: merges as [(rank, lhs, rhs)], and the
    distinct-word state table (word, st, wc) AFTER all merges — join it
    back to occurrence counts to encode the corpus.

    Scale shape (the standard distributed-BPE factorization): training
    runs on the DISTINCT-WORD frequency table, not the corpus — one
    corpus-wide shuffle builds (word, wc), then every merge round
    touches only |vocab| rows: an adjacent-pair explode + weighted
    count (map-side combinable) + a LIMIT 1 argmax whose single row is
    the only thing the driver ever collects. Merge application is one
    narrow ``replace``. At 100 TB the word table is millions of rows
    regardless of corpus size — rounds cost seconds, and the corpus
    itself is touched exactly twice (word count, final encode join).

    Determinism: pair argmax breaks ties by (count DESC, lhs ASC,
    rhs ASC) over binary string order — identical in Spark and DuckDB,
    so the learned table is engine-exact.
    """
    s = BPE_SEP
    words = (
        docs.select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    state = _keep(words.select("word", _bpe_state_expr("word").alias("st"), "wc"))
    # Size-gated local fast path (the _gated_pair_edges pattern): BPE
    # rounds are inherently sequential — each argmax is a driver
    # barrier — so a small vocabulary pays n_merges × job-scheduling
    # overhead for no parallelism gain. When the DISTINCT-WORD table
    # (already the corpus-wide aggregate, never row data) fits the
    # probe, collect it once and run the identical recurrence in
    # Python: same overlapping pair counts, same (count DESC, lhs,
    # rhs) binary tie-break ([a-z]+ symbols make Python's code-point
    # order equal Spark/DuckDB binary order), same greedy left-to-
    # right merge application. The returned state table applies the
    # learned merges as ONE nested-replace narrow pass, so downstream
    # consumers (encode join) see the exact distributed result. A
    # multi-million-word vocab fails the probe and trains with the
    # distributed rounds below.
    # Probe and collect FUSED into one job (r11): limit(N+1) collected
    # is the gate probe AND, when under the gate, already the whole
    # vocab — the previous count-then-collect ran the (cached) word
    # aggregate twice, paying a second job's scheduling floor. Over the
    # gate the discarded head is ≤ N+1 (word, wc) rows — bounded driver
    # traffic, same as the count probe materialized. take_wide scans
    # all partitions in ONE job instead of executeTake's 1-then-4x ramp
    # (a gate probe nearly always exhausts the input, so the ramp paid
    # 2 extra scheduling floors for the same scan).
    head = _take_wide(state.select("word", "wc"), _SMALL_VOCAB + 1)
    if _size_gate("bpe_train", len(head), _SMALL_VOCAB):
        vocab = list(zip(head.column("word").to_pylist(), head.column("wc").to_pylist()))
        merges = _bpe_train_local(vocab, n_merges)
        expr = "st"
        for _, a, b in merges:
            expr = f"replace({expr}, '{s}{a}{s}{s}{b}{s}', '{s}{a}{b}{s}')"
        return merges, state.select("word", F.expr(expr).alias("st"), "wc")
    prev: DataFrame | None = None
    syms = f"split(trim(BOTH '{s}' FROM st), '{s}{s}')"
    pair_structs = (
        f"transform(sequence(1, size({syms}) - 1), "
        f"i -> struct(element_at({syms}, i) AS a, element_at({syms}, i + 1) AS b))"
    )
    merges: list[tuple[int, str, str]] = []
    for rank in range(1, n_merges + 1):
        best = (
            state.filter(F.expr(f"size({syms}) >= 2"))
            .select("wc", F.explode(F.expr(pair_structs)).alias("p"))
            .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "wc")
            .groupBy("a", "b")
            .agg(F.sum("wc").alias("c"))
            .orderBy(F.desc("c"), "a", "b")
            .limit(1)
            .collect()
        )
        if prev is not None:
            prev.unpersist()
        if not best:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((rank, a, b))
        pat, rep = f"{s}{a}{s}{s}{b}{s}", f"{s}{a}{b}{s}"
        prev, state = state, (
            state.select(
                "word", F.expr(f"replace(st, '{pat}', '{rep}')").alias("st"), "wc"
)
        )
        state = _keep(state)
    return merges, state


def chunk_documents(
    docs: DataFrame,
    size: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-size overlapping word-window chunking — the standard
    pretraining/RAG preprocessing step (context windows with overlap
    so no boundary-spanning span is lost). One row per chunk:
    (id, chunk_idx, chunk_text, n_words); the final chunk is the
    ragged tail (n_words <= size), empty docs produce one empty chunk.

    Scale: pure Column expressions — sequence() builds the start
    offsets, posexplode fans out, slice/concat_ws materialize the
    window. Narrow per-row work (no shuffle, no Python); the fan-out
    factor is ~len/stride, so a partition's output is proportional to
    its input bytes and the operator composes with any downstream
    chunk-level dedup/embedding stage without a repartition.
    ``stride < size`` gives overlap ``size - stride``; ``stride ==
    size`` is exact tiling. ``stride > size`` (gaps) is rejected —
    silently dropping words between windows is never what a corpus
    pipeline wants."""
    if stride > size or stride <= 0:
        raise ValueError(f"chunk_documents: need 0 < stride <= size, got {stride}/{size}")
    # NULL text folds into the documented empty-doc behavior (one empty
    # chunk) — otherwise size(NULL) is NULL/-1 depending on ANSI mode
    # and the row degenerates into a garbage chunk the SQL oracle
    # doesn't produce (ADVICE r7)
    w = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(w) - 1, F.lit(0)), F.lit(stride)
    )
    out = docs.select(
        F.col(id_col),
        w.alias("__w"),
        F.posexplode(starts).alias("chunk_idx", "__s"),
    )
    return out.select(
        id_col,
        "chunk_idx",
        F.concat_ws(" ", F.slice("__w", F.col("__s") + 1, size)).alias("chunk_text"),
        F.least(F.lit(size), F.size("__w") - F.col("__s")).cast("long").alias("n_words"),
    )

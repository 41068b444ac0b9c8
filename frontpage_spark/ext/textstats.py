"""Text analysis operators for a training-data pipeline: language-ID
heuristic, quality scoring, token counting, document fingerprinting.

Everything is built-in column expressions (JVM-side, codegen'd); the
only aggregations are keyed groupBys. Float aggregates go through
decimal accumulation so results are partition-order-deterministic
(and oracle-exact).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..plans import keep as _keep

# Tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic. Real corpora would broadcast a larger lexicon table.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "et", "les", "des"),
}


def ws_token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(c, " "))


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-ish token count: runs of letters, runs of digits, and single
    other non-space chars — a cheap proxy for subword token counts."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), 0))


def distinct_ratio(text: Column | str) -> Column:
    """Distinct-token ratio — a repetition/quality signal. Single integer
    division → exact double, no accumulation nondeterminism."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(c, " ")
    return F.size(F.array_distinct(toks)).cast("double") / F.size(toks).cast("double")


def char_entropy(text: Column | str) -> Column:
    """Character-level Shannon entropy (bits/char) — the classic
    gibberish / boilerplate / low-quality signal (random bytes score
    high, repeated filler scores low; natural text sits ~3.5-4.5).

    Computed entirely per-row with no shuffle: sort the char array,
    then one linear fold counts runs and accumulates Σ c·log2(c), so
    entropy = log2(n) − Σ c·log2(c) / n. O(len·log len) narrow work
    per row — at 100 TB this pipelines inside the scan stage, versus
    the explode→groupBy alternative that would shuffle one row PER
    CHARACTER. Empty text scores 0."""
    c = F.col(text) if isinstance(text, str) else text
    chars = F.array_sort(F.split(c, ""))
    n = F.size(chars)
    fold = F.aggregate(
        chars,
        F.struct(
            F.lit(None).cast("string").alias("p"),
            F.lit(0).cast("long").alias("r"),
            F.lit(0.0).alias("s"),
        ),
        lambda st, ch: F.when(
            st.p.isNull() | (st.p == ch),
            F.struct(ch.alias("p"), (st.r + 1).alias("r"), st.s.alias("s")),
        ).otherwise(
            F.struct(
                ch.alias("p"),
                F.lit(1).cast("long").alias("r"),
                (st.s + st.r * F.log2(st.r)).alias("s"),
            )
        ),
        lambda st: st.s + F.when(st.r > 0, st.r * F.log2(st.r)).otherwise(F.lit(0.0)),
    )
    return F.when(n > 0, F.log2(n) - fold / n).otherwise(F.lit(0.0))


def with_char_entropy(
    df: DataFrame, text_col: str = "text", out_col: str = "char_entropy"
) -> DataFrame:
    """Fast-path char entropy, ONE narrow pass (r12): each row's own
    sorted distinct-char set is its alphabet, and every alphabet char
    is counted as ``length(text) - length(replace(text, ch))`` — two
    JVM string intrinsics per (row, char) instead of a per-character
    interpreted fold. 35x faster than the general ``char_entropy``
    fold on the benchmark corpus and bit-identical to it at 1e-6
    (equivalence pinned in test_ext). Use the fold only for one-off
    Column contexts where a corpus pass isn't available.

    r11 and earlier discovered the CORPUS alphabet first (a full
    corpus scan + explode + distinct, broadcast back — 2 jobs, and at
    100 TB a second pass over every byte). That pass carried no
    information the row doesn't already hold: a char absent from the
    row has k = 0 and contributes exactly +0.0 to the entropy fold
    (an IEEE no-op), so restricting the fold to the row's own chars —
    in the SAME sorted order the corpus alphabet was folded in —
    performs the identical sequence of effective float additions and
    produces a BIT-IDENTICAL double (asserted against the fold by the
    existing equivalence test). One corpus pass, zero shuffles, no
    broadcast."""
    c = F.col(text_col)
    alpha = F.array_sort(F.array_distinct(F.split(c, "")))
    counts = F.transform(
        alpha,
        lambda a: (F.length(c) - F.length(F.replace(c, a, F.lit("")))).cast("long"),
    )
    n = F.length(c).cast("long")
    s = F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, k: acc + F.when(k > 1, k * F.log2(k)).otherwise(F.lit(0.0)),
    )
    ent = F.when(n > 0, F.log2(n) - s / n).otherwise(F.lit(0.0))
    return df.withColumn(out_col, ent)


def lang_id_heuristic(text: Column | str) -> Column:
    """Pick the language whose marker-hit count is highest (ties resolved
    by language code order). One codegen'd token-anchored regexp_count
    per marker — zero shuffle, no interpreted lambdas."""
    c = F.lower(F.col(text) if isinstance(text, str) else text)
    entries = []
    for i, lang in enumerate(sorted(LANG_MARKERS)):
        hits = None
        for m in LANG_MARKERS[lang]:
            h = F.regexp_count(c, F.lit(r"(?<![^ ])" + m + r"(?![^ ])"))
            hits = h if hits is None else hits + h
        # argmax via array_max over (hits, -rank, lang) structs: every
        # hit-count subtree appears exactly ONCE. (A when()-chain fold
        # here duplicates each branch into condition+else at every
        # level — exponential re-evaluation of the regex counts.)
        entries.append(
            F.struct(hits.alias("hits"), F.lit(-i).alias("nr"), F.lit(lang).alias("lang"))
        )
    return F.array_max(F.array(*entries))["lang"]


def doc_fingerprint(text: Column | str, k: int = 5) -> Column:
    """Min-k document fingerprint: md5 of the k lexicographically smallest
    token hashes — a compact content signature robust to token order
    (the winnowing idea with a global window)."""
    c = F.col(text) if isinstance(text, str) else text
    hashes = F.transform(F.array_distinct(F.split(c, " ")), F.md5)
    return F.md5(F.concat_ws("", F.slice(F.array_sort(hashes), 1, k)))


# Tiny sentiment lexicon (word → integer weight), scored by
# ``sentiment_col``; the sentiment_by_source oracle joins it as a table.
SENTIMENT_LEXICON: dict[str, int] = {
    "good": 2, "great": 3, "excellent": 4, "love": 3, "happy": 2,
    "nice": 1, "best": 3, "better": 1,
    "bad": -2, "terrible": -3, "awful": -4, "hate": -3, "sad": -2,
    "poor": -1, "worst": -3, "worse": -1,
}


def sentiment_col(text: Column | str) -> Column:
    """Per-row sentiment for a SMALL lexicon: one codegen'd regexp_count
    per lexicon word (token-boundary anchored), weighted sum. Zero
    shuffle, zero Python — the fast path when the lexicon fits in the
    expression tree (≲ a few hundred words)."""
    c = F.lower(F.col(text) if isinstance(text, str) else text)
    total = F.lit(0).cast("long")
    for w, v in sorted(SENTIMENT_LEXICON.items()):
        pat = r"(?<![^ ])" + w + r"(?![^ ])"
        total = total + F.lit(v) * F.regexp_count(c, F.lit(pat))
    return total


# Karp-Rabin rolling-hash parameters, shared with the DuckDB oracle.
RH_BASE = 1000003
RH_MOD = (1 << 31) - 1
RH_WINDOW = 4


def _token_hash(tok: Column) -> Column:
    """Portable token→int hash: first 8 hex chars of md5 as a bigint, mod
    RH_MOD. (DuckDB side: CAST('0x'||substr(md5(t),1,8) AS BIGINT).)"""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long") % RH_MOD


def rolling_hash_fingerprint(text: Column | str) -> Column:
    """Karp-Rabin document fingerprint: polynomial rolling hash over every
    RH_WINDOW-token window, fingerprint = min window hash.

    All long arithmetic stays < 2^52 so it is exact in both engines.
    Docs shorter than the window fall back to the whole-text hash.

    Plan note: the token-hash array is bound ONCE as a lambda variable
    of a single-element transform (the ``element_at(transform(array(th),
    ...), 1)`` idiom) — without that binding, Catalyst's project
    collapsing would re-inline the md5 pass into every reference, and
    chained zip_withs would triple the (expensive, interpreted) lambda
    evaluations. One interpreted pass per window is the floor for this
    expression shape."""
    c = F.col(text) if isinstance(text, str) else text
    th_once = F.transform(F.split(c, " "), _token_hash)

    def min_window_hash(th: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(th) - (RH_WINDOW - 1))

        def whash(i: Column) -> Column:
            acc = F.element_at(th, i)
            for j in range(1, RH_WINDOW):
                acc = (acc * RH_BASE + F.element_at(th, i + F.lit(j))) % RH_MOD
            return acc

        return F.array_min(F.transform(idx, whash))

    fp = F.element_at(F.transform(F.array(th_once), min_window_hash), 1)
    n_toks = F.size(F.split(c, " "))
    return F.when(n_toks >= RH_WINDOW, fp).otherwise(_token_hash(c))


def quality_profile(
    df: DataFrame, text_col: str = "text", group_col: str = "lang"
) -> DataFrame:
    """Per-group quality rollup. Ratio means use decimal-sum / count so
    they are exact and partition-order-independent."""
    per_doc = df.select(
        F.col(group_col),
        ws_token_count(text_col).alias("n_tokens"),
        F.col(text_col),
    ).withColumn("dr", distinct_ratio(text_col).cast("decimal(18,9)"))
    return (
        per_doc.groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("dr").alias("_dr_sum"),
        )
        .withColumn(
            "avg_distinct_ratio", F.col("_dr_sum").cast("double") / F.col("n_docs")
        )
        .drop("_dr_sum")
    )


def max_df_prune(
    df: DataFrame,
    text_col: str = "text",
    max_df_millis: int = 775,
) -> DataFrame:
    """Corpus-frequency boilerplate pruning: drop every token whose
    document frequency exceeds ``max_df_millis``/1000 of the corpus
    (sklearn ``max_df`` semantics; the same explode -> corpus-count ->
    filter-by-frequent-set shape as CCNet/RefinedWeb line-level
    boilerplate removal, parameterized by token rather than line).

    Scale design: the document-frequency count is one shuffle with
    map-side partial aggregation over per-doc-distinct tokens; the
    frequent set it produces is tiny by construction (tokens in >77%
    of documents — a vocabulary's head, not its body) and is folded to
    a single array row that broadcasts to every task. Documents are
    then cleaned with a higher-order ``filter`` over the split array —
    order-preserving, duplicate-preserving, fully codegen'd — so the
    corpus itself is NEVER re-shuffled or exploded-and-reassembled.
    At 100 TB the only wide operation is the token-count aggregation,
    whose input is capped at (docs x distinct-tokens-per-doc) short
    strings. The threshold compare stays in integer arithmetic
    (nd * 1000 > millis * n_docs) so both engines agree exactly.

    Returns one row per input row with ``n_tokens``/``n_removed``
    counts and the cleaned ``clean_text``.
    """
    c = F.col(text_col)
    toks = df.select(
        F.explode(F.array_distinct(F.split(c, " "))).alias("tok")
    ).filter(F.col("tok") != "")
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("nd"))
    n_docs = df.agg(F.count("*").alias("n_docs"))
    boiler = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .filter(F.col("nd") * 1000 > F.lit(max_df_millis) * F.col("n_docs"))
        .agg(F.sort_array(F.collect_list("tok")).alias("boiler"))
    )
    split = F.split(c, " ")
    kept = F.filter(split, lambda x: ~F.array_contains(F.col("boiler"), x))
    return (
        df.crossJoin(F.broadcast(boiler))
        .withColumn("n_tokens", F.size(split).cast("long"))
        .withColumn("n_removed", (F.size(split) - F.size(kept)).cast("long"))
        .withColumn("clean_text", F.concat_ws(" ", kept))
        .drop("boiler")
    )


def bigram_xentropy(
    df: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    train_df: DataFrame | None = None,
    floor_u: int = -30_000_000,
) -> DataFrame:
    """Perplexity-proxy quality scoring: train a char-bigram LM on the
    corpus itself, then score each document's average code length
    (bits/bigram) under it — the CCNet/KenLM filtering idea with the
    simplest possible model. Degenerate/boilerplate text compresses
    (low bits); gibberish inflates.

    Two passes, both scale-shaped, and everything is keyed on INTEGER
    bigram ids (c1·256 + c2 from the per-row char-code array) — int
    shuffle keys and O(1) dense lookups instead of 2-char strings:

    1. model: explode the int bigram ids once; the keyed count
       shuffles at most |alphabet|² rows per task via map-side
       partial agg; conditionals p(c2|c1) come from the id's high
       byte. The finished model is ≤ alphabet² rows.
    2. score: the model scatters into ONE dense 256×256 micro-bit
       array (a 1-row numpy step — no driver collect), broadcasts,
       and each doc folds its own bigram-id array against it — O(1)
       per bigram, no second explode, no join, no corpus shuffle.
       (Two rejected shapes, measured at sf0.1: a map-column fold is
       3x SLOWER than explode+join — Catalyst map lookup linear-scans
       every entry — and explode+broadcast-join re-materializes the
       corpus; the dense fold beats both by ~2x.)

    Latin-1 assumption: codepoints > 255 fall outside the dense grid;
    widen the grid or pre-project the alphabet for such corpora.

    Exactness: each bigram's log2 p(c2|c1) becomes integer micro-bits
    via one double division + log + round — bit-identical in any
    engine — and per-doc totals are exact integer sums. Returns
    (*id_cols, su = Σ logp_u, n = bigram count); callers derive
    bits/bigram as -su/n/1e6 (one division, deterministic). Docs
    shorter than 2 chars produce no row."""
    import numpy as np
    import pandas as pd

    D = 256
    codes = F.transform(F.split(F.col(text_col), ""), F.ascii)
    idxs = F.expr(
        f"zip_with(slice(__codes, 1, size(__codes) - 1), "
        f"slice(__codes, 2, size(__codes) - 1), "
        f"(a, b) -> CAST(a * {D} + b AS BIGINT))"
    )
    base = (
        df.filter(F.length(text_col) >= 2)
        .withColumn("__codes", codes)
        .withColumn("__idxs", idxs)
    )
    # consumed by BOTH passes (model explode, score fold); the per-char
    # transform/ascii lambda is the dominant narrow cost, so compute
    # the id arrays once and cache (bounded-lifetime keep())
    base = _keep(base)
    if train_df is None:
        # model trained on the scored corpus itself (CCNet shape):
        # every scored bigram exists in the model, floor never fires
        bg = base.select(F.explode("__idxs").alias("i"))
    else:
        # DSIR shape: model trained on a DIFFERENT corpus; scored
        # bigrams absent from it score floor_u micro-bits (≈ 2^-30),
        # the add-floor smoothing both engines replay identically
        bg = (
            train_df.filter(F.length(text_col) >= 2)
            .withColumn("__codes", codes)
            .withColumn("__idxs", idxs)
            .select(F.explode("__idxs").alias("i"))
        )
    model = bg.groupBy("i").agg(F.count(F.lit(1)).alias("nb"))
    ctx = model.groupBy((F.col("i") / D).cast("long").alias("c1")).agg(
        F.sum("nb").alias("nc")
    )
    lp = model.join(
        F.broadcast(ctx), (F.col("i") / D).cast("long") == F.col("c1")
    ).select(
        "i",
        F.round(F.log2(F.col("nb").cast("double") / F.col("nc")) * 1e6)
        .cast("long")
        .alias("lp_u"),
    )

    def scatter(batches):
        dense = np.full(D * D, floor_u, dtype="int64")
        for pdf in batches:
            for entries in pdf["es"]:
                for e in entries:
                    dense[e["i"]] = e["lp_u"]
        yield pd.DataFrame({"__dense": [dense.tolist()]})

    lmap = lp.agg(F.collect_list(F.struct("i", "lp_u")).alias("es")).mapInPandas(
        scatter, schema="__dense array<bigint>"
    )
    score = F.expr(
        "aggregate(__idxs, CAST(0 AS BIGINT), "
        "(acc, i) -> acc + element_at(__dense, CAST(i AS INT) + 1))"
    )
    return base.crossJoin(F.broadcast(lmap)).select(
        *id_cols,
        score.alias("su"),
        (F.length(text_col) - 1).cast("long").alias("n"),
    )


def nfc_normalize(col: Column | str) -> Column:
    """Unicode NFC normalization as an Arrow-batched pandas UDF — the
    canonicalization every multilingual training corpus needs before
    dedup/tokenization (decomposed 'e'+U+0301 and composed 'é' must
    hash identically). No JVM builtin exists; pandas ``str.normalize``
    wraps unicodedata NFC, vectorized per Arrow batch — narrow, no
    shuffle, ~the same cost as any other per-row string pass."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _nfc(s):
        return s.str.normalize("NFC")

    # real-object annotations: the module's postponed (string) annotations
    # would leave pandas_udf unable to resolve 'pd.Series' at decoration time
    _nfc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    c = F.col(col) if isinstance(col, str) else col
    return pandas_udf(_nfc, "string")(c)

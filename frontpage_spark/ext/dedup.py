"""Deduplication operators over a document corpus.

Exact dedup, MinHash+LSH banding, SimHash, and exact n-gram Jaccard —
each expressed as DataFrame compositions of built-in functions (no
Python UDFs), so the whole pipeline stays inside whole-stage codegen
and scales by shuffle on content-derived keys.

Scale notes (100 TB):
- All shingle/minhash work is per-row array math (`transform`/
  `array_min`) — zero shuffle until the candidate-pair stage.
- Every banded family (MinHash here, dHash here, hyperplane in
  ``similarity``) expands pairs through ONE operator, ``band_pairs``,
  which shuffles on (band, key) — a content hash, so it distributes
  uniformly *except* for monster clusters (boilerplate docs).
  ``max_bucket`` caps those: LSH buckets larger than the cap are
  dropped (standard practice — a bucket of k docs implies k²/2 pairs).
- Portable hashing: md5 (identical in Spark and DuckDB) so every
  operator here is oracle-checkable; swap for xxhash64 when oracle
  parity is not needed (faster, same structure).

Set-similarity thresholds (Jaccard, containment) are decided by ONE
rule, ``_fraction``: the threshold becomes an exact fraction p/q and
every threshold predicate of the shingle-set family — ``jaccard_pairs``,
``prefix_filter_pairs``' PPJoin filters and verify, and the LSH verify
stages in ``queries`` — is an integer cross-multiplication over bigint
counts, never a double comparison. Candidate pairs are verified by ONE
stage, ``pair_overlaps``: (a, b, n_inter, sz_a, sz_b) with one
``array_intersect`` per pair.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, functions as F

from ..plans import keep as _keep

DEFAULT_BANDS = 4
DEFAULT_MAX_BUCKET = 100
_MAX_DEN = 1 << 20


def _fraction(threshold: float) -> tuple[int, int]:
    """``threshold`` as the exact fraction ``(p, q)`` its decimal
    literal names: ``Fraction(str(threshold))``. Raises ``ValueError``
    unless ``0 < t <= 1`` and ``q <= 2**20``.

    Why ``x / y >= t`` in doubles equals ``q·x >= p·y`` in integers,
    for every count ratio ``x / y`` with ``0 < y < 2**30``:
    ``str`` round-trips a Python float, so ``RN(p/q) == t``. If
    ``x/y >= p/q``, monotone rounding gives ``RN(x/y) >= RN(p/q) = t``.
    If ``x/y < p/q``, the gap is at least ``1/(y·q) >= 2**-50``, wider
    than the whole set of reals that round to any ``t <= 1`` (under
    ``2**-52``), so ``RN(x/y) < t``. Both engines divide exactly
    representable counts with one correctly rounded division, so the
    integer predicates below keep exactly the pairs the division form
    (and the DuckDB oracles, which still divide) keep. A threshold like
    ``0.1 + 0.2`` (= 0.30000000000000004) has q > 2**20 and is refused
    rather than silently compared with rounding."""
    t = Fraction(str(threshold))
    if not 0 < t <= 1 or t.denominator > _MAX_DEN:
        raise ValueError(
            f"threshold {threshold!r} must be in (0, 1] with a denominator <= 2**20"
        )
    return t.numerator, t.denominator


def jaccard_at_least(threshold: float) -> Column:
    """Jaccard ``n_inter / (sz_a + sz_b - n_inter) >= t`` as the exact
    integer predicate ``(p+q)·n_inter >= p·(sz_a + sz_b)`` over bigint
    columns (see ``_fraction``)."""
    p, q = _fraction(threshold)
    return F.lit(p + q) * F.col("n_inter") >= F.lit(p) * (F.col("sz_a") + F.col("sz_b"))


def containment_at_least(threshold: float) -> Column:
    """Containment ``n_inter / least(sz_a, sz_b) >= t`` as the exact
    integer predicate ``q·n_inter >= p·least(sz_a, sz_b)`` (see ``_fraction``)."""
    p, q = _fraction(threshold)
    return F.lit(q) * F.col("n_inter") >= F.lit(p) * F.least("sz_a", "sz_b")


def jaccard_col() -> Column:
    """The emitted Jaccard value: one double division of the exact
    counts, the same expression the oracles compute."""
    return F.col("n_inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_inter")
    ).cast("double")


def pair_overlaps(
    pairs: DataFrame, sets: DataFrame, id_col: str = "doc_id", set_col: str = "shingles"
) -> DataFrame:
    """The verify stage of every candidate-pair near-dup query: join
    each side's distinct-element set to the (a, b) candidates and
    return ``(a, b, n_inter, sz_a, sz_b)`` as bigints, with ONE
    ``array_intersect`` per pair. A threshold filter on the result is
    pushed into the second join's condition, which then evaluates the
    intersect once (the integer predicates divide nothing, so the
    intersect is not repeated in a denominator)."""
    sa = sets.select(F.col(id_col).alias("a"), F.col(set_col).alias("set_a"))
    sb = sets.select(F.col(id_col).alias("b"), F.col(set_col).alias("set_b"))
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("set_a", "set_b")).cast("long").alias("n_inter"),
            F.size("set_a").cast("long").alias("sz_a"),
            F.size("set_b").cast("long").alias("sz_b"),
        )
    )


def tokens_col(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def shingles_col(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles; docs shorter than n shingle to the
    whole text.

    Implemented as ONE codegen'd regex pass: a token-boundary-anchored
    lookahead captures every overlapping n-gram ((?<![^ ]) pins match
    positions to token starts). ~13x faster than building grams from
    the token array with transform/element_at, whose lambda is
    interpreted per element. Equivalent to the split-on-' ' definition
    for single-space-delimited text (the documents corpus; verified by
    the DuckDB differential check, which still uses the list form)."""
    c = F.col(text) if isinstance(text, str) else text
    pat = r"(?<![^ ])(?=(\S+" + r" \S+" * (n - 1) + r"))"
    grams = F.regexp_extract_all(c, F.lit(pat), 1)
    return F.when(F.size(grams) > 0, F.array_distinct(grams)).otherwise(F.array(c))


def band_minhashes(shingle_col: str, bands: int = DEFAULT_BANDS) -> Column:
    """array of ``bands`` MinHash values over a NAMED shingle column:
    band b is the min over shingles of the b-th 8-hex-char window of ONE
    md5 per shingle. Disjoint windows of a cryptographic hash ≈
    independent permutations, at a quarter of the hash work of keyed
    per-band hashing.

    The md5 array is bound once as a lambda variable (single-element
    transform idiom) so project collapsing cannot re-inline the hash
    pass into each band's min. ONE ``F.expr``, parsed by the JVM in one
    py4j roundtrip: the dedup queries rebuild their plans every call
    (keep() makes them plan-cache-ineligible by design), so construction
    cost is a real per-query tax at bench scale."""
    mins = ", ".join(
        f"array_min(transform(hs, h -> substring(h, {1 + 8 * b}, 8)))"
        for b in range(bands)
    )
    return F.expr(
        f"element_at(transform(array(transform(`{shingle_col}`, s -> md5(s))), "
        f"hs -> array({mins})), 1)"
    )


def signatures_from_shingles(
    sh: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(id, band, minhash) from a precomputed shingle column — lets a
    pipeline materialize shingles ONCE and feed both candidate
    generation and the exact-Jaccard verify stage (see
    ``near_dup_verified``); at corpus scale the shingle table is the
    thing you persist/write, not recompute per consumer."""
    return sh.select(
        id_col,
        F.posexplode(band_minhashes(shingle_col, bands)).alias("band", "minhash"),
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bands: int = DEFAULT_BANDS
) -> DataFrame:
    """(id, band, minhash) — one row per band per doc. Narrow (no shuffle)."""
    sh = df.select(F.col(id_col), shingles_col(text_col).alias("shingles"))
    return signatures_from_shingles(sh, id_col, "shingles", bands)


def band_pairs(
    sigs: DataFrame, id_col: str, key_col: str, max_bucket: int | None = None
) -> DataFrame:
    """Distinct (a, b) pairs, ``a < b`` by value, of ids sharing any
    (band, ``key_col``) bucket of an (id, band, key) relation — the one
    pair-expansion stage of every banded near-dup family (MinHash,
    hyperplane, dHash).

    Plan: one groupBy folds the signature stream into bucket id lists,
    and transform/slice expands the pairs *per bucket row* — no
    self-join, so the signature subplan executes once and there is one
    exchange, on (band, key). A bucket's id list lives in one
    aggregation buffer (ids only, never payloads).

    ``max_bucket`` set: a count aggregate per (band, key) — map-side
    combinable, constant memory per key — decides which buckets are
    usable (2..max_bucket rows), and only THOSE signatures flow into the
    collect_list. The guard is structural, not advisory: a degenerate
    signature (empty text, boilerplate) owning half the corpus is
    dropped by the count stage and never reaches an aggregation buffer.
    Both aggregates shuffle on the same key, so the exchange is reused.
    ``max_bucket=None``: no count stage, singleton buckets are dropped
    after the collect — for families whose buckets are bounded by
    construction, or where a cap would break losslessness."""
    keys = ["band", key_col]
    if max_bucket is not None:
        # consumed twice (bucket-size count, then the gated collect) —
        # cache rather than replay the signature pass; bounded-lifetime
        # keep() releases the block once later queries rotate it out.
        sigs = _keep(sigs)
        usable_keys = (
            sigs.groupBy(*keys)
            .agg(F.count("*").alias("n"))
            .filter((F.col("n") >= 2) & (F.col("n") <= max_bucket))
            .select(*keys)
        )
        sigs = sigs.join(usable_keys, keys, "left_semi")
    buckets = sigs.groupBy(*keys).agg(F.collect_list(id_col).alias("ids"))
    if max_bucket is None:
        buckets = buckets.filter(F.size("ids") >= 2)
    # one F.expr, not nested python lambdas: one py4j roundtrip per
    # build instead of dozens
    pairs = F.expr(
        "flatten(transform(array_sort(ids), (x, i) -> "
        "transform(slice(array_sort(ids), i + 2, size(ids)), "
        "y -> struct(x AS a, y AS b))))"
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        # strict BY VALUE: a duplicated id in a bucket would otherwise
        # emit an a==b self-pair
        .filter(F.col("p.a") < F.col("p.b"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = DEFAULT_BANDS,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate near-dup pairs (a < b) sharing any MinHash band
    bucket: narrow signatures, then :func:`band_pairs` with the
    degenerate-bucket cap (a bucket of k docs implies k²/2 pairs)."""
    if shingles_df is not None:
        sigs = signatures_from_shingles(shingles_df, id_col, "shingles", bands)
    else:
        sigs = minhash_signatures(df, id_col, text_col, bands)
    return band_pairs(sigs, id_col, "minhash", max_bucket)


def exact_dup_stats(df: DataFrame, text_col: str = "text", group_col: str = "source") -> DataFrame:
    """Exact-dup profile per group: docs, distinct texts (by md5), dups."""
    return (
        df.groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct(F.md5(F.col(text_col))).alias("n_distinct_texts"),
        )
        .withColumn("n_dup_docs", F.col("n_docs") - F.col("n_distinct_texts"))
    )


def simhash16(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash over distinct tokens: ONE md5 per token; bit j of
    the signature is the majority vote over tokens of the parity of hex
    nibble j of that hash.

    Plan shape: narrow explode → codegen'd md5 + 16 nibble-parity vote
    columns → groupBy(id) with 16 SUMs. The hash work is 1 md5/token
    (not 16), every expression stays in whole-stage codegen, and the
    map-side partial aggregation means the shuffle carries ~one row of
    16 longs per (doc, input partition) — not the token stream — so the
    plan holds at 100 TB."""
    toks = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens_col(text_col))).alias("tok")
    ).withColumn("h", F.md5("tok"))
    votes = [
        (F.sum((F.ascii(F.substring("h", j + 1, 1)) % 2) * 2 - 1)).alias(f"s{j}")
        for j in range(16)
    ]
    maj = toks.groupBy(id_col).agg(*votes)
    sig = None
    for j in range(16):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return maj.select(F.col(id_col), sig.alias("simhash"))


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    The inverted-index self-join shuffles on the shingle value; intended
    for a sampled/blocked subset — for full-corpus near-dup at scale use
    ``lsh_candidate_pairs`` first, then verify candidates with this.
    Jaccard emitted as a single exact double division (deterministic);
    the threshold is the exact integer ``jaccard_at_least``."""
    keep_pair = jaccard_at_least(threshold)
    sh = df.select(F.col(id_col), F.explode(shingles_col(text_col)).alias("shingle"))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.select(F.col(id_col).alias("a"), "shingle")
    b = sh.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .filter(keep_pair)
        .select("a", "b", jaccard_col().alias("jaccard"))
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    min_len: int = 30,
) -> DataFrame:
    """EXACT-SUBSTRING dedup, stage 1: content-defined chunking (CDC).

    The suffix-array approach to exact substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better") needs a
    global sorted index; the distributed-friendly equivalent is the
    rsync/LBFS trick — cut every document at positions where a rolling
    window's hash satisfies a fixed predicate. Because the cut rule
    depends only on LOCAL content, a long substring shared by two
    documents produces IDENTICAL interior chunks in both regardless of
    its offset in either — so repeated passages become equal chunk
    hashes, discoverable with one groupBy, no alignment search.

    Portable determinism: the breakpoint predicate is
    ``md5(window) starts with '0'`` (expected cut rate 1/16 → mean
    chunk ≈ window+16 chars) — md5 and 1-based char substring behave
    identically in Spark and DuckDB, so the whole operator is
    oracle-checkable. Everything is per-row JVM array math (sequence →
    transform → filter → explode): zero Python, zero shuffle until the
    chunk-hash groupBy, which distributes on content.

    Returns one row per chunk of length >= min_len:
    (id, chunk_hash, chunk_len).
    """
    w = int(window)
    expr = f"""
    CASE WHEN length({text_col}) >= {w}
         THEN filter(sequence(1, length({text_col}) - {w} + 1),
                     i -> substring(md5(substring({text_col}, i, {w})), 1, 1) = '0')
         ELSE array()
    END
    """
    bps = F.expr(expr)
    starts = F.array_distinct(F.concat(F.array(F.lit(1)), bps))
    chunks = F.expr(
        f"""
        transform(sequence(1, size(__starts)),
          i -> substring({text_col},
                         element_at(__starts, i),
                         IF(i < size(__starts),
                            element_at(__starts, i + 1) - 1,
                            length({text_col}))
                         - element_at(__starts, i) + 1))
        """
    )
    return (
        df.select(F.col(id_col), F.col(text_col), starts.alias("__starts"))
        .select(F.col(id_col), F.explode(chunks).alias("chunk"))
        .filter(F.length("chunk") >= min_len)
        .select(
            id_col,
            F.md5(F.col("chunk")).alias("chunk_hash"),
            F.length("chunk").alias("chunk_len"),
        )
    )


def cdc_chunks_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    min_len: int = 30,
) -> str:
    """DuckDB mirror of :func:`cdc_chunks` (list lambdas + md5)."""
    w = int(window)
    return f"""
    WITH b AS (
      SELECT {id_col}, {text_col},
             list_prepend(1, list_filter(
               CASE WHEN length({text_col}) >= {w}
                    THEN range(1, length({text_col}) - {w} + 2)
                    ELSE [] END,
               i -> substring(md5(substring({text_col}, i, {w})), 1, 1) = '0')) AS starts0
      FROM {table}
    ), s AS (
      -- DuckDB's list_distinct does NOT preserve order; sort to restore
      -- ascending cut positions (Spark's array_distinct is order-stable)
      SELECT {id_col}, {text_col}, list_sort(list_distinct(starts0)) AS starts FROM b
    ), c AS (
      SELECT {id_col},
             unnest(list_transform(range(1, len(starts) + 1),
               i -> substring({text_col}, starts[i],
                              (CASE WHEN i < len(starts) THEN starts[i + 1] - 1
                                    ELSE length({text_col}) END) - starts[i] + 1))) AS chunk
      FROM s
    )
    SELECT {id_col}, md5(chunk) AS chunk_hash, length(chunk) AS chunk_len
    FROM c WHERE length(chunk) >= {min_len}
    """


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """All-pairs set-similarity join with PPJoin-style PREFIX FILTERING
    — lossless candidate pruning for Jaccard ≥ ``threshold``.

    Order every document's shingles by GLOBAL frequency (rarest
    first); a pair with Jaccard ≥ t must share at least one token
    among each side's first ``|s| - ceil(t·|s|) + 1`` tokens (if the
    prefixes were disjoint, the overlap is confined to the suffixes,
    which are too short to reach t). So the inverted-index join runs
    on PREFIXES only — the rarest ~(1-t) fraction of each set — and
    candidates collapse further because rare tokens have short posting
    lists. Exact verify on full sets follows; the composition returns
    EXACTLY what the naive all-shingle join returns (the oracle checks
    this equivalence), at a fraction of the join volume.

    Scale shape: one shuffle to count token frequencies, one to
    re-sort sets (groupBy id), one prefix-token join, one verify join
    touching only candidates. No LSH false negatives, no all-pairs —
    the deterministic alternative to MinHash when exact recall at a
    known threshold is required.

    Every filter is integer arithmetic on t = p/q (``_fraction``):
    ``ceil(p·n/q)`` is ``(p·n + q - 1) div q``, so no prefix length,
    length bound or overlap bound depends on double rounding."""
    from pyspark.sql.window import Window

    p, q = _fraction(threshold)

    # The 64-bit token dictionary is applied AT THE EXPLODE (r11): every
    # downstream stage — the frequency window's exchange, the per-doc
    # array_sort, the prefix joins, array_intersect — then moves and
    # compares 8-byte longs instead of ~20-byte shingle text (the
    # standard set-sim-join token dictionary, hash-based so it needs no
    # global id assignment). A collision only matters when two distinct
    # shingles inside ONE pair's union collide (~|union|²/2⁶⁴ per pair —
    # vanishing, and the string-exact oracle equivalence check would
    # catch it); a collision in the freq window merely merges two
    # tokens' frequencies, which only perturbs the (still total, still
    # globally shared) sort order — every PPJoin filter below is
    # lossless under ANY shared total order, so the verified output is
    # unchanged by construction.
    sh = df.select(
        F.col(id_col),
        F.explode(shingles_col(text_col)).alias("shingle"),
    ).select(F.col(id_col), F.xxhash64("shingle").alias("tok"))
    # global token frequency as a COUNT WINDOW over the token
    # partition, not aggregate-then-self-join: the join form shuffled
    # the token stream twice (once into the frequency aggregate, once
    # into the join) — the window attaches freq in the single exchange
    # (r11: one Exchange removed; identical freq values, token
    # cardinality is corpus-wide so the partitioning is never hot)
    ranked = sh.withColumn(
        "freq", F.count(F.lit(1)).over(Window.partitionBy("tok"))
    )
    sorted_sets = ranked.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("freq", "tok"))).alias("toks")
    )
    sets = sorted_sets.select(
        F.col(id_col),
        F.expr("transform(toks, x -> x.tok)").alias("s"),
        F.size("toks").cast("long").alias("sz"),
    ).withColumn(
        "prefix",
        F.slice("s", F.lit(1), F.expr(f"sz - ({p} * sz + {q - 1}) div {q} + 1").cast("int")),
    )
    # four consumers below (two prefix explodes, two verify sides) —
    # without a persist each one replays shingle + freq + sort from the
    # scan, quadrupling the dominant stage. Bounded-lifetime keep().
    sets = _keep(sets)
    # Candidate generation with the full PPJoin filter stack — each
    # filter is LOSSLESS (the oracle equivalence proves it):
    #  * prefix filter: join only the rare prefixes (above);
    #  * length filter: J >= t forces q·min(sz) >= p·max(sz);
    #  * positional filter: a token shared at 0-based positions (i, j)
    #    of the globally-sorted sets bounds the overlap by
    #    min(i, j) + 1 + min(sza-i-1, szb-j-1), which is an upper
    #    bound on |a ∩ b| for EVERY shared token, so requiring it to
    #    reach alpha = ceil(p/(p+q)·(sza+szb)) (the overlap J >= t
    #    needs) never drops a true pair.
    # Verify cost is linear in surviving candidates, so these cheap
    # in-join predicates are where the join volume actually falls.
    pa = sets.select(
        F.col(id_col).alias("a"),
        F.col("sz").alias("sza"),
        F.posexplode("prefix").alias("i", "tok"),
    )
    pb = sets.select(
        F.col(id_col).alias("b"),
        F.col("sz").alias("szb"),
        F.posexplode("prefix").alias("j", "tok"),
    )
    alpha = F.expr(f"({p} * (sza + szb) + {p + q - 1}) div {p + q}")
    ubound = (
        F.least(F.col("i"), F.col("j"))
        + 1
        + F.least(F.col("sza") - F.col("i") - 1, F.col("szb") - F.col("j") - 1)
    )
    cand = (
        pa.join(pb, "tok")
        .filter(F.col("a") < F.col("b"))
        .filter(F.lit(q) * F.least("sza", "szb") >= F.lit(p) * F.greatest("sza", "szb"))
        .filter(ubound >= alpha)
        .select("a", "b")
        .distinct()
    )
    return (
        pair_overlaps(cand, sets, id_col, "s")
        .filter(jaccard_at_least(threshold))
        .select("a", "b", jaccard_col().alias("jaccard"))
    )


def hamming_near_dup(
    hashes: DataFrame,
    id_col: str = "media_id",
    hi_col: str = "dhash_hi",
    lo_col: str = "dhash_lo",
    max_hamming: int = 3,
) -> DataFrame:
    """Banded Hamming near-dup over 64-bit signatures split into two
    32-bit halves: candidates must share one of four 16-bit bands
    (:func:`band_pairs`), then exact popcount-of-XOR verifies
    ``hamming <= max_hamming``.

    LOSSLESS for ``max_hamming <= 3`` by pigeonhole: 4 bands, at most 3
    differing bits, so some band is bit-identical — band recall is
    exactly 1 and an all-pairs oracle must agree. So the buckets are
    NOT capped (a cap would drop true pairs). One shuffle on
    (band, value) — never on raw content — and each bucket holds only
    signatures that agree on 16 bits, so bucket width is bounded by the
    corpus's true duplicate structure (dHash of non-duplicate content
    is ~uniform on 2^16 per band).
    """
    if max_hamming > 3:
        raise ValueError("4x16 banding is only lossless for max_hamming <= 3")
    # read three times (banding, then each verify side); without a cache
    # the upstream signature computation (often a decode/hash Arrow
    # pass) runs once per reader
    proj = _keep(
        hashes.select(
            F.col(id_col).alias("id"), F.col(hi_col).alias("hi"), F.col(lo_col).alias("lo")
        )
    )
    hi, lo = F.col("hi"), F.col("lo")
    banded = proj.select(
        "id",
        F.posexplode(
            F.array(
                lo.bitwiseAND(F.lit(65535)),
                F.shiftright(lo, 16).bitwiseAND(F.lit(65535)),
                hi.bitwiseAND(F.lit(65535)),
                F.shiftright(hi, 16).bitwiseAND(F.lit(65535)),
            )
        ).alias("band", "bv"),
    )
    a = proj.select(F.col("id").alias("a"), F.col("hi").alias("hia"), F.col("lo").alias("loa"))
    b = proj.select(F.col("id").alias("b"), F.col("hi").alias("hib"), F.col("lo").alias("lob"))
    ham = F.bit_count(F.col("hia").bitwiseXOR(F.col("hib"))) + F.bit_count(
        F.col("loa").bitwiseXOR(F.col("lob"))
    )
    return (
        band_pairs(banded, "id", "bv")
        .join(a, "a")
        .join(b, "b")
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
        # an id listed twice (two signatures) joins each of its rows
        .distinct()
    )

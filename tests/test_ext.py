"""Extension operator tests: dedup, similarity, textstats, multimodal."""

import os

import pytest
from pyspark.sql import functions as F

from frontpage_spark.ext import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    far = "completely different words in this one nothing shared at all here now"
    rows = [(0, base), (1, near), (2, far), (3, base)]  # 3 is exact dup of 0
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    got = df.select(dedup.shingles_col("text").alias("s")).first()["s"]
    assert got == ["a b c", "b c d"]
    short = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    assert short.select(dedup.shingles_col("text").alias("s")).first()["s"] == ["a b"]


def test_lsh_finds_near_dups(spark, docs):
    pairs = {(r["a"], r["b"]) for r in dedup.lsh_candidate_pairs(docs).collect()}
    assert (0, 3) in pairs  # exact dup always collides on every band
    assert (0, 1) in pairs or (1, 3) in pairs  # near-dup shares most shingles
    assert (0, 2) not in pairs and (1, 2) not in pairs  # unrelated doc


def test_simhash_dups_equal(spark, docs):
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash16(docs).collect()}
    assert sigs[0] == sigs[3]
    assert 0 <= sigs[0] < 2**16
    # near-dup within small hamming distance
    assert bin(int(sigs[0]) ^ int(sigs[1])).count("1") <= 4
    assert bin(int(sigs[0]) ^ int(sigs[2])).count("1") >= 4


def test_jaccard_pairs(spark, docs):
    got = {(r["a"], r["b"]): r["jaccard"] for r in dedup.jaccard_pairs(docs, threshold=0.2).collect()}
    assert got[(0, 3)] == 1.0
    assert 0.5 < got[(0, 1)] < 1.0
    assert (0, 2) not in got


def test_exact_dup_stats(spark, docs):
    stats = dedup.exact_dup_stats(docs.withColumn("source", F.lit("s")), "text", "source").first()
    assert stats["n_docs"] == 4 and stats["n_distinct_texts"] == 3 and stats["n_dup_docs"] == 1


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    rows = []
    for i in range(20):
        v = [math.sin(i * 7 + d) for d in range(8)]
        rows.append((i, [float(x) for x in v]))
    rows.append((100, rows[5][1]))  # exact duplicate of vec 5
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )


def test_cosine_topk_exact_dup_first(spark, vectors):
    out = similarity.cosine_topk(vectors, vectors.filter(F.col("vec_id") == 5), k=3)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert rows[0]["cid"] == 100 and abs(rows[0]["cosine"] - 1.0) < 1e-9
    assert len(rows) == 3 and all(r["qid"] == 5 for r in rows)


def test_lsh_topk_recalls_exact_dup(spark, vectors):
    out = similarity.lsh_topk(vectors, vectors.filter(F.col("vec_id") == 5), k=3, planes=4, dim=8)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert rows and rows[0]["cid"] == 100  # same bucket guaranteed for identical vector


def test_textstats(spark):
    df = spark.createDataFrame([(1, "a a b c")], ["id", "text"])
    r = df.select(
        textstats.ws_token_count("text").alias("n"),
        textstats.distinct_ratio("text").alias("dr"),
        textstats.bpe_ish_token_count("text").alias("bpe"),
        textstats.doc_fingerprint("text").alias("fp"),
    ).first()
    assert r["n"] == 4 and r["dr"] == 0.75 and r["bpe"] == 4
    assert len(r["fp"]) == 32
    # fingerprint is token-order robust
    df2 = spark.createDataFrame([(1, "c b a a")], ["id", "text"])
    assert df2.select(textstats.doc_fingerprint("text").alias("fp")).first()["fp"] == r["fp"]


def test_lang_id(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of a house"), (2, "der hund und die katze ist da")],
        ["id", "text"],
    )
    got = {r["id"]: r["g"] for r in df.select("id", textstats.lang_id_heuristic("text").alias("g")).collect()}
    assert got[1] == "en" and got[2] == "de"


def test_multimodal_codecs_roundtrip():
    """Pure-Python codec checks: encode a spec-valid container, parse the
    actual bytes back."""
    seed = b"0123456789abcdef"
    bmp = multimodal.make_bmp(33, 7, seed)  # width forces row padding
    assert bmp[:2] == b"BM" and multimodal.decode_bmp(bmp) == (33, 7, 1)
    assert len(bmp) == 54 + ((33 * 3 + 3) // 4) * 4 * 7

    wav = multimodal.make_wav(123, seed)
    assert wav[8:12] == b"WAVE" and multimodal.decode_wav(wav) == (123, 1, 1)
    assert len(wav) == 44 + 2 * 123
    stereo = multimodal.make_wav(50, seed, channels=2)
    assert multimodal.decode_wav(stereo) == (50, 2, 1)

    y4m = multimodal.make_y4m(16, 8, 3, seed)
    assert y4m.startswith(b"YUV4MPEG2") and multimodal.decode_y4m(y4m) == (16, 8, 3)
    assert len(y4m) == len(b"YUV4MPEG2 W16 H8 F25:1 Ip A1:1\n") + 3 * (6 + 16 * 8 * 3 // 2)


def test_multimodal_plumbing(spark):
    # ids 0/1/2 → image/audio/video; "hello world" is 11 bytes
    docs = spark.createDataFrame(
        [(0, "hello world"), (1, "abc"), (2, "a video doc"), (-4, "neg id")],
        ["doc_id", "text"],
    )
    media = multimodal.synthesize(docs, "doc_id", "text")
    decoded = multimodal.apply(media, multimodal.DECODE)
    rows = {r["media_id"]: r for r in decoded.collect()}
    assert set(decoded.columns) == {
        "media_id", "kind", "n_bytes", "width", "height", "frames", "checksum"
    }
    # image: L=11 → w=12, h=12; BMP n_bytes = 54 + row*h
    img = rows[0]
    assert img["kind"] == "image" and (img["width"], img["height"]) == (12, 12)
    assert img["n_bytes"] == 54 + ((12 * 3 + 3) // 4) * 4 * 12
    # audio: L=3 → 4 samples, mono
    aud = rows[1]
    assert aud["kind"] == "audio" and (aud["width"], aud["height"]) == (4, 1)
    assert aud["n_bytes"] == 44 + 2 * 4
    # video: L=11 → w=(11%16+1)*2=24, h=(11%8+1)*2=8, frames=11%4+1=4
    vid = rows[2]
    assert vid["kind"] == "video" and (vid["width"], vid["height"]) == (24, 8)
    assert vid["frames"] == 4
    # negative id: Python % keeps pmod semantics (-4 % 3 == 2 → video)
    assert rows[-4]["kind"] == "video"

    # FRAMES emits real byte offsets for each video frame
    frames = {
        r["frame_no"]: r["frame_offset"]
        for r in multimodal.apply(media, multimodal.FRAMES)
        .filter(F.col("media_id") == 2)
        .collect()
    }
    head_len = len(b"YUV4MPEG2 W24 H8 F25:1 Ip A1:1\n")
    stride = 6 + 24 * 8 * 3 // 2
    assert frames == {n: head_len + n * stride for n in range(4)}

    # resize re-encodes a real BMP at the target dims
    resized = {
        r["media_id"]: r
        for r in multimodal.apply(media, multimodal.resize(32, 16)).collect()
    }
    img = resized[0]
    assert img["width"] == 32
    assert multimodal.decode_bmp(bytes(img["payload"])) == (32, 16, 1)
    assert resized[1]["width"] == -1  # pass-through for non-image kinds


@pytest.mark.parametrize(
    "op",
    [
        multimodal.DECODE,
        multimodal.FRAMES,
        multimodal.LUMA,
        multimodal.DHASH,
        multimodal.rms(64),
        multimodal.resize(32, 16),
    ],
    ids=["decode", "frames", "luma", "dhash", "rms", "resize"],
)
def test_synthesize_fused_equals_apply(spark, op):
    # synthesis fused with an operator in one Arrow pass returns exactly
    # the rows of the operator applied to the synthesized media table,
    # payload bytes included. Negative ids check that the kind prefilter
    # (Spark pmod) selects the rows the kind dispatch (Python %) builds.
    docs = spark.createDataFrame(
        [(i, f"doc {i} body " * (i % 9 + 1)) for i in range(-7, 24)],
        ["doc_id", "text"],
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    fused = multimodal.synthesize(docs, "doc_id", "text", op)
    two_pass = multimodal.apply(multimodal.synthesize(docs, "doc_id", "text"), op)
    assert fused.columns == two_pass.columns == op.schema.fieldNames()
    got, want = rows(fused), rows(two_pass)
    assert got == want and got


def test_rolling_hash_fingerprint(spark):
    from frontpage_spark.ext import textstats as ts
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "short doc"), (4, "x a b c d e y")],
        ["id", "text"],
    )
    rows = {
        r["id"]: r["fp"]
        for r in df.select("id", ts.rolling_hash_fingerprint("text").alias("fp")).collect()
    }
    assert rows[1] == rows[2]  # identical docs → identical fingerprint
    assert rows[1] is not None and 0 <= rows[3] < ts.RH_MOD
    # shift-robust: doc 4 contains doc 1's windows → its min can only be <=
    assert rows[4] <= rows[1]


def test_cosine_pairs(spark):
    from frontpage_spark.ext import similarity

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    got = {(r["a"], r["b"]): r["cosine"] for r in similarity.cosine_pairs(df).collect()}
    assert set(got) == {(1, 2), (1, 3), (2, 3)}  # a<b only, all pairs
    assert abs(got[(1, 2)] - 1.0) < 1e-12
    assert abs(got[(1, 3)]) < 1e-12


def test_cosine_pairs_blocked_matches_expr(spark):
    """The gemm-blocked path must produce the same cosine multiset (to
    float slop) as the expression baseline, for every blocking factor —
    each unordered pair exactly once."""
    from frontpage_spark.ext import similarity

    rows = [(i, [float((i * 7 + j * 3) % 5) - 2.0 for j in range(4)]) for i in range(1, 14)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    want = sorted(r["cosine"] for r in similarity.cosine_pairs(df).collect())
    assert len(want) == 13 * 12 // 2
    for nb in (1, 3, 8):
        got = similarity.cosine_pairs_blocked(df, n_blocks=nb)
        assert got.columns == ["cosine"]
        got = sorted(r["cosine"] for r in got.collect())
        assert len(got) == len(want)
        assert all(abs(a - b) < 1e-12 for a, b in zip(got, want)), nb


def test_cosine_pairs_blocked_rejects_zero_norm(spark):
    # a zero-norm vector fails LOUDLY in the blocked kernel too: numpy
    # 0/0 would emit NaN, which Spark orders above every threshold
    from frontpage_spark.ext import similarity

    zero = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    for nb in (1, 2):
        with pytest.raises(Exception, match="zero-norm|PythonException"):
            similarity.cosine_pairs_blocked(zero, n_blocks=nb).collect()


def test_cosine_pairs_within_matches_expr(spark):
    """The per-group gemm path must equal the expression baseline
    restricted to same-group pairs — never a cross-group pair, every
    within-group pair exactly once, a<b by id value."""
    from pyspark.sql import functions as F
    from frontpage_spark.ext import similarity

    rows = [
        (i, i % 3, [float((i * 7 + j * 3) % 5) - 2.0 for j in range(4)])
        for i in range(1, 14)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "cell", "embedding"]).repartition(5)
    want = {
        (r["a"], r["b"]): r["cosine"]
        for r in similarity.cosine_pairs(df).collect()
        if r["a"] % 3 == r["b"] % 3
    }
    got = {
        (r["a"], r["b"]): (r["g"], r["cosine"])
        for r in similarity.cosine_pairs_within(df, "cell").collect()
    }
    assert set(got) == set(want)
    assert all(abs(got[k][1] - want[k]) < 1e-12 for k in want)
    assert all(g == a % 3 for (a, _b), (g, _c) in got.items())
    # singleton and empty groups produce no pairs
    solo = df.filter(F.col("vec_id") <= 3)
    assert similarity.cosine_pairs_within(solo, "cell").count() == 0


def test_sentiment_scores(spark):
    from frontpage_spark.ext import textstats as ts

    df = spark.createDataFrame(
        [(1, "a good great day"), (2, "terrible awful stuff"), (3, "neutral words only")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["sentiment"]
        for r in df.select("doc_id", ts.sentiment_col("text").alias("sentiment")).collect()
    }
    assert got == {1: 5, 2: -7, 3: 0}  # good(2)+great(3); terrible(-3)+awful(-4); no hits


def test_ivf_topk_finds_exact_dup(spark):
    from frontpage_spark.ext import similarity

    # 40 vectors in 2 obvious clusters; vec 30 duplicates vec 35
    rows = []
    for i in range(40):
        base = [1.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0]
        rows.append((i, [v + 0.001 * i * (j + 1) for j, v in enumerate(base)]))
    rows[35] = (35, rows[30][1])
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.ivf_topk(df, df.filter("vec_id = 30"), k=3, n_centroids=4, nprobe=2)
    got = [r["cid"] for r in out.orderBy("rank").collect()]
    assert got[0] == 35  # the exact duplicate ranks first


def test_asof_join(spark):
    from frontpage_spark.ext.temporal import asof_join
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "early"), (2, 15, "c")],
        ["k", "t", "name"],
    )
    right = spark.createDataFrame(
        [(1, 5, 100), (1, 15, 200), (2, 99, 300)], ["k", "t", "p"]
    )
    out = asof_join(left, right, on="k", ts="t", payload=["p"])
    got = {(r["k"], r["t"]): (r["p_asof"], r["t_asof"]) for r in out.collect()}
    assert got[(1, 10)] == (100, 5)   # most recent at-or-before
    assert got[(1, 20)] == (200, 15)
    assert got[(1, 5)] == (100, 5)    # equal ts matches (>= semantics)
    assert got[(2, 15)] == (None, None)  # right row is in the future


def test_range_join_banded(spark):
    from datetime import datetime

    from frontpage_spark.ext.temporal import range_join_banded

    base = datetime(2024, 1, 1, 12, 0, 0)

    def ts(sec):
        return datetime.fromtimestamp(base.timestamp() + sec)

    left = spark.createDataFrame(
        [(1, 100, ts(0))], ["user_id", "p_id", "p_ts"]
    )
    # boundary cases around the (p_ts - 60, p_ts] half-open window
    right = spark.createDataFrame(
        [
            (1, 1, ts(0)),     # equal ts -> included
            (1, 2, ts(-59)),   # inside
            (1, 3, ts(-60)),   # exactly window ago -> excluded (half-open)
            (1, 4, ts(1)),     # after left -> excluded
            (2, 5, ts(-5)),    # other key -> excluded
        ],
        ["user_id", "c_id", "c_ts"],
    )
    got = {
        r["c_id"]
        for r in range_join_banded(left, right, "user_id", "p_ts", "c_ts", 60).collect()
    }
    assert got == {1, 2}


def test_hash_sample_partition_invariant(spark):
    from frontpage_spark.ext.sampling import hash_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = {r["k"] for r in hash_sample(df, "k", 0.25).collect()}
    b = {r["k"] for r in hash_sample(df.repartition(13), "k", 0.25).collect()}
    assert a == b  # sample is a pure function of the data
    assert 0.18 < len(a) / 2000 < 0.32  # ~rate
    sub = {r["k"] for r in hash_sample(df, "k", 0.10).collect()}
    assert sub <= a  # thresholds nest: smaller rate is a subset


def test_stratified_sample_quota(spark):
    from frontpage_spark.ext.sampling import stratified_sample

    rows = [(i, "s%d" % (i % 3)) for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    got = stratified_sample(df, "source", "doc_id", 4).collect()
    per = {}
    for r in got:
        per[r["source"]] = per.get(r["source"], 0) + 1
    assert per == {"s0": 4, "s1": 4, "s2": 4}
    again = stratified_sample(df.repartition(7), "source", "doc_id", 4).collect()
    assert {(r["doc_id"], r["source"]) for r in got} == {
        (r["doc_id"], r["source"]) for r in again
    }


def test_quantize_int8_roundtrip(spark):
    rows = [(0, [1.0, -2.0, 0.5, 4.0]), (1, [0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r["vec_id"]: r for r in similarity.quantize_int8(df).collect()}
    assert got[0]["maxabs"] == 4.0
    assert got[0]["codes"] == [31, -64, 15, 127]  # floor(x * 127 / 4)
    assert got[1]["codes"] == [0, 0, 0, 0]  # zero vector -> zero codes
    # dequantized values within one quantization step
    for x, c in zip(rows[0][1], got[0]["codes"]):
        assert abs(x - c * 4.0 / 127) <= 4.0 / 127


def test_mean_pool_exact(spark):
    rows = [
        (0, [1.0, 2.0]),
        (0, [3.0, 6.0]),
        (1, [-1.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    got = {r.label: (r.n, r.centroid) for r in similarity.mean_pool(df).collect()}
    assert got[0] == (2, pytest.approx([2.0, 4.0]))
    assert got[1] == (1, pytest.approx([-1.5, 0.5]))
    # repartitioning must not change a single bit (integer accumulation)
    a = similarity.mean_pool(df.repartition(7)).collect()
    b = similarity.mean_pool(df.coalesce(1)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pagerank_fixedpoint_star(spark):
    from frontpage_spark.ext.graph import PR_SCALE, pagerank_fixedpoint

    spokes = ["a", "b", "c"]
    edges = spark.createDataFrame(
        [("h", s) for s in spokes] + [(s, "h") for s in spokes], ["src", "dst"]
    )
    r = {row.node: row.r for row in pagerank_fixedpoint(edges, iterations=3).collect()}
    # hub dominates, spokes are symmetric, and exact first-iteration math
    # holds: r1(spoke) = 15e12//400 + (85*2.5e11)//300
    assert r["a"] == r["b"] == r["c"]
    assert r["h"] > r["a"]
    # truncating division leaks deterministically small mass
    assert 0.95 * PR_SCALE < sum(r.values()) <= PR_SCALE
    # two-node cycle is a fixed point at SCALE/2 each
    cyc = spark.createDataFrame([("x", "y"), ("y", "x")], ["src", "dst"])
    rc = {row.node: row.r for row in pagerank_fixedpoint(cyc, iterations=2).collect()}
    assert rc == {"x": PR_SCALE // 2, "y": PR_SCALE // 2}


def _pagerank_ranks(monkeypatch, edges, small_edge_rows=None, **kw):
    """{(node, r)} from pagerank_fixedpoint; ``small_edge_rows`` sets
    the size gate's limit for this call (0 forces the distributed
    join/agg loop)."""
    from frontpage_spark.ext import graph

    with monkeypatch.context() as m:
        if small_edge_rows is not None:
            m.setattr(graph, "_SMALL_EDGE_ROWS", small_edge_rows)
        return {(row.node, row.r) for row in graph.pagerank_fixedpoint(edges, **kw).collect()}


def test_pagerank_local_matches_distributed(spark, monkeypatch):
    # the size-gated single-job path must be BYTE-identical to the
    # distributed join/agg loop — irregular multigraph with a sink node
    # and parallel edges
    raw = [
        ("a", "b"), ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "a"), ("d", "c"), ("e", "f"), ("f", "e"), ("g", "a"),
        ("b", "sink"),
    ]
    edges = spark.createDataFrame(raw, ["src", "dst"]).repartition(5)
    local = _pagerank_ranks(monkeypatch, edges, iterations=4)
    dist = _pagerank_ranks(monkeypatch, edges, 0, iterations=4)
    assert local == dist and len(local) == 8
    # bidirected=True over the directed half == explicit union, on all
    # four path combinations (local/distributed x probe/hint gate)
    bi = edges.union(
        spark.createDataFrame([(b, a) for a, b in raw], ["src", "dst"])
    )
    want = _pagerank_ranks(monkeypatch, bi, iterations=3)
    for limit, kw in (
        (None, {}),
        (0, {}),
        (None, {"edge_rows_hint": len(raw)}),
        (0, {"edge_rows_hint": 1 << 40}),
    ):
        got = _pagerank_ranks(monkeypatch, edges, limit, iterations=3, bidirected=True, **kw)
        assert got == want, (limit, kw)


def test_pagerank_dedup_edges_matches_caller_distinct(spark, monkeypatch):
    # r11 optimization: dedup_edges=True pushes the caller's
    # edges.distinct() into the operator (local path dedups inside the
    # kernel on factorized int codes — no Exchange; distributed path
    # falls back to a plan-level distinct). Every gate combination must
    # be byte-identical to distinct-then-pagerank, on string AND int
    # node ids, with and without bidirected derivation.
    raw = [
        ("a", "b"), ("a", "b"), ("a", "b"), ("a", "c"), ("b", "c"),
        ("c", "a"), ("c", "a"), ("d", "a"), ("e", "f"), ("f", "e"),
    ]
    for mk in (lambda p: p, lambda p: (hash(p[0]) % 97, hash(p[1]) % 97)):
        edges = spark.createDataFrame([mk(p) for p in raw], ["src", "dst"])
        for bd in (False, True):
            want = _pagerank_ranks(monkeypatch, edges.distinct(), iterations=3, bidirected=bd)
            for limit, kw in (
                (None, {}),  # probe gate -> plan distinct + local kernel
                (None, {"edge_rows_hint": len(raw)}),  # hint gate -> in-kernel dedup
                (0, {}),  # distributed -> plan distinct
                (0, {"edge_rows_hint": 1 << 40}),
            ):
                got = _pagerank_ranks(
                    monkeypatch, edges, limit, iterations=3, bidirected=bd, dedup_edges=True, **kw
                )
                assert got == want, (bd, limit, kw)


def test_expectations_report_counts(spark):
    from frontpage_spark.ext.expectations import Expectations

    rows = [
        (1, 10, "F", 5.0),
        (2, 10, "O", -1.0),   # range violation
        (2, 20, "X", 3.0),    # dup key (with row above) + set violation
        (4, None, "F", 7.0),  # null fk
        (5, 99, "O", 2.0),    # fk orphan
    ]
    df = spark.createDataFrame(rows, ["k", "fk", "status", "v"])
    dim = spark.createDataFrame([(10,), (20,)], ["dk"])
    rep = (
        Expectations()
        .not_null("fk")
        .in_range("v", 0.0, 10.0)
        .in_set("status", ["F", "O"])
        .unique("k")
        .foreign_key("fk", dim, "dk")
        .report(df)
    )
    got = {(r.expectation, r.target): (r.n_violations, r.n_rows, r.ok) for r in rep.collect()}
    assert got[("not_null", "fk")] == (1, 5, False)
    # in_range counts nulls as violations too? v has no nulls; -1.0 only
    assert got[("in_range", "v")] == (1, 5, False)
    assert got[("in_set", "status")] == (1, 5, False)
    assert got[("unique", "k")] == (2, 5, False)       # both rows of the dup key
    assert got[("foreign_key", "fk")] == (1, 5, False)  # null fk is NOT an orphan
    assert len(got) == 5


def test_char_entropy_values_and_path_equivalence(spark):
    from frontpage_spark.ext.textstats import char_entropy, with_char_entropy

    rows = [
        (1, "aaaa"),        # single symbol -> 0 bits
        (2, "abab"),        # two equiprobable symbols -> 1 bit
        (3, "abcd"),        # four equiprobable -> 2 bits
        (4, ""),            # empty -> 0 by convention
        (5, "aab"),         # -(2/3 log 2/3 + 1/3 log 1/3)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.e for r in df.select("doc_id", char_entropy("text").alias("e")).collect()}
    assert got[1] == pytest.approx(0.0)
    assert got[2] == pytest.approx(1.0)
    assert got[3] == pytest.approx(2.0)
    assert got[4] == pytest.approx(0.0)
    assert got[5] == pytest.approx(0.9182958, abs=1e-6)
    # profiled fast path == general fold at micro-bit precision
    prof = {r.doc_id: r.char_entropy for r in with_char_entropy(df).collect()}
    for k, v in got.items():
        assert round(prof[k] * 1e6) == round(v * 1e6)


def test_approx_distinct_within_tolerance(spark):
    df = spark.range(0, 5000).select((F.col("id") % 1234).alias("u"))
    approx = df.agg(F.approx_count_distinct("u", 0.02).alias("a")).first()["a"]
    assert abs(approx - 1234) / 1234 < 0.05


def test_hll_sketch_union_bounds(spark):
    """DataSketches HLL gate: per-type and merged-union estimates stay
    within 5% of exact, and the union estimate comes from MERGING the
    per-type sketches (re-aggregatable path), which must equal the
    estimate of a sketch built directly over the union of the data."""
    from frontpage_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["hll_sketch_union_users"](spark, sf).collect()
    assert {r["event_type"] for r in rows} >= {"ALL"}
    for r in rows:
        assert r["within_5pct"], (r["event_type"], r["exact_users"])
    # merge-of-parts estimate == direct-over-union estimate (the
    # re-aggregatable determinism the binary-sketch architecture buys)
    ev = spark.read.parquet(f"{sf}/events.parquet")
    merged = (
        ev.groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .first()["e"]
    )
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14))).alias("e")
    ).first()["e"]
    assert merged == direct


def test_max_df_prune_small(spark):
    from frontpage_spark.ext.textstats import max_df_prune

    df = spark.createDataFrame(
        [
            (1, "the cat sat"),
            (2, "the dog ran"),
            (3, "the cat ran fast"),
            (4, "a bird"),
        ],
        ["doc_id", "text"],
    )
    out = max_df_prune(df, "text", max_df_millis=500).orderBy("doc_id").collect()
    # "the" is in 3/4 docs (750 millis > 500) -> pruned everywhere;
    # "cat"/"ran" are in exactly 2/4 (500, not > 500) -> kept
    assert [r.clean_text for r in out] == ["cat sat", "dog ran", "cat ran fast", "a bird"]
    assert [r.n_removed for r in out] == [1, 1, 1, 0]
    assert [r.n_tokens for r in out] == [3, 3, 4, 2]


def test_approx_percentile_error_bound(spark):
    import os

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    o = spark.read.parquet(os.path.join(sf, "orders.parquet"))
    from pyspark.sql import functions as F

    row = o.agg(
        F.approx_percentile("o_totalprice", F.lit(0.5), 10000).alias("approx"),
        F.percentile("o_totalprice", F.lit(0.5)).alias("exact"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.01


def test_weighted_sample_bias_and_plan(spark):
    import os

    from frontpage_spark.ext.sampling import weighted_sample
    from pyspark.sql import functions as F

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    s = weighted_sample(docs, "doc_id", "n_chars", 25)
    # top-k compiles to TakeOrderedAndProject — no global sort exchange
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # length-weighted inclusion => the sample skews long
    samp_mean = s.agg(F.avg("n_chars")).collect()[0][0]
    corp_mean = docs.agg(F.avg("n_chars")).collect()[0][0]
    assert samp_mean > corp_mean
    # reproducible: a second evaluation returns the identical id set
    ids1 = {r.doc_id for r in s.collect()}
    ids2 = {r.doc_id for r in weighted_sample(docs, "doc_id", "n_chars", 25).collect()}
    assert ids1 == ids2


def test_split_writer_disjoint_exhaustive(spark):
    import os

    from frontpage_spark.ext.sampling import assign_split
    from pyspark.sql import functions as F

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    labeled = docs.select("doc_id", assign_split("doc_id").alias("split"))
    counts = {r.split: r.n for r in labeled.groupBy("split").agg(F.count("*").alias("n")).collect()}
    # exhaustive and disjoint: every row lands in exactly one split
    assert set(counts) <= {"train", "val", "test"}
    assert sum(counts.values()) == docs.count()
    assert counts["train"] > counts.get("val", 0)
    # deterministic: labels recomputed over another partitioning match
    again = docs.repartition(3).select("doc_id", assign_split("doc_id").alias("again"))
    assert labeled.join(again, "doc_id").filter(F.col("split") != F.col("again")).count() == 0


def test_pq_encode_properties(spark):
    import os

    from frontpage_spark.ext.similarity import pq_encode
    from pyspark.sql import functions as F

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    out = pq_encode(emb, m=4, k=16).persist()
    n = emb.count()
    assert out.count() == n
    # codes are m entries, each in [0, k)
    bad = out.filter(
        (F.size("codes") != 4)
        | (F.array_min("codes") < 0)
        | (F.array_max("codes") >= 16)
    ).count()
    assert bad == 0
    # the k sampled codeword-source vectors reconstruct exactly
    zero_err = out.filter(F.col("recon_err") == 0.0).count()
    assert zero_err >= 16
    # everyone else reconstructs approximately, not degenerately
    assert out.agg(F.avg("recon_err")).collect()[0][0] < 10.0
    # deterministic: re-encoding yields identical codes
    again = pq_encode(emb, m=4, k=16)
    j = out.select("vec_id", F.col("codes").alias("c1")).join(
        again.select("vec_id", F.col("codes").alias("c2")), "vec_id"
    )
    assert j.filter(F.col("c1") != F.col("c2")).count() == 0
    out.unpersist()


def test_nfc_normalize_composes(spark):
    from frontpage_spark.ext.textstats import nfc_normalize

    rows = [(1, "Café"), (2, "Café"), (3, None), (4, "plain")]
    df = spark.createDataFrame(rows, ["i", "s"])
    got = {r.i: r.n for r in df.select("i", nfc_normalize("s").alias("n")).collect()}
    assert got[1] == got[2] == "Café"  # decomposed and composed converge
    assert got[3] is None
    assert got[4] == "plain"


def test_cms_overcount_only_and_merge_invariance(spark):
    from frontpage_spark.ext import sketch as cms

    rows = [(f"k{i % 37}",) for i in range(5000)] + [("rare",)]
    df = spark.createDataFrame(rows, ["t"])
    truth = {r.t: r.c for r in df.groupBy("t").agg(F.count("*").alias("c")).collect()}
    cand = df.distinct()
    sk = cms.cms_build(df, "t", width=512, depth=4)
    est = {r.t: r.est for r in cms.cms_estimate(cand, sk, "t", width=512, depth=4).collect()}
    n = sum(truth.values())
    for t, c in truth.items():
        assert est[t] >= c                      # never undercounts
        assert est[t] <= c + 0.02 * n           # eps ~ e/512
    # partitioning must not change a single counter
    sk2 = cms.cms_build(df.repartition(13), "t", width=512, depth=4)
    assert sk.first().cms == sk2.first().cms


def test_cdc_chunks_offset_independent(spark):
    """A passage shared verbatim at DIFFERENT offsets in two docs yields
    identical interior chunk hashes — the CDC property that makes
    exact-substring dedup a groupBy instead of an alignment search."""
    import hashlib
    passage = (
        "The quick brown fox jumps over the lazy dog while seventeen "
        "penguins audit the quarterly shuffle partition report in triplicate."
    )
    a = "PREFIX-A " + passage + " suffix one"
    b = "a completely different and much longer prefix here >>> " + passage + " tail"
    docs = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    from frontpage_spark.ext.dedup import cdc_chunks

    c = cdc_chunks(docs, min_len=20).collect()
    by_doc = {}
    for r in c:
        by_doc.setdefault(r["doc_id"], set()).add(r["chunk_hash"])
    shared = by_doc.get(1, set()) & by_doc.get(2, set())
    assert shared, "shared passage produced no common chunk hash"
    # chunks reassemble the full text when min_len=0
    full = cdc_chunks(docs, min_len=0)
    from pyspark.sql import functions as F

    lens = {r["doc_id"]: r["s"] for r in full.groupBy("doc_id").agg(F.sum("chunk_len").alias("s")).collect()}
    assert lens == {1: len(a), 2: len(b)}
    # hashes are real md5 of content (spot-check against hashlib on a
    # doc short enough to be one chunk)
    single = cdc_chunks(spark.createDataFrame([(3, "tiny doc under window")], ["doc_id", "text"]), min_len=1).collect()
    assert len(single) == 1
    assert single[0]["chunk_hash"] == hashlib.md5(b"tiny doc under window").hexdigest()


def test_kmeans_lloyd_blobs(spark):
    """Lloyd on two tight blobs: assignments separate the blobs and the
    updated centroids are the exact micro-int blob means."""
    a = [[1.0, 0.05 * i, 0.0, 0.0] for i in range(5)]
    b = [[0.0, 0.0, 1.0, 0.03 * i] for i in range(5)]
    rows = [(0, a[0]), (1, b[0])] + [(2 + i, a[i]) for i in range(1, 5)] + [
        (10 + i, b[i]) for i in range(1, 5)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    assigned, cents = similarity.kmeans_lloyd(df, k=2, assign_passes=2)
    got = {r["vec_id"]: r["cent_id"] for r in assigned.collect()}
    assert all(got[i] == 0 for i in [0, 3, 4, 5, 6])
    assert all(got[i] == 1 for i in [1, 11, 12, 13, 14])

    import numpy as np
    cent = {r["cent_id"]: r["ce"] for r in cents.collect()}
    for cid, blob in [(0, a), (1, b)]:
        m32 = np.array(blob, dtype=np.float32).astype(float)
        want = np.round(m32 * 1e6).sum(axis=0) / len(blob) / 1e6
        assert np.allclose(cent[cid], want, atol=0, rtol=0)


def test_kmeans_assign_counts_tie_goes_to_lowest_cent(spark, tmp_path):
    """A vector equidistant (bit-exactly) from two centroids joins the
    LOWER cent_id on both engines: assign_cosine's max(struct(sim,
    -cent_id)) against the oracle's ORDER BY sim DESC, cent_id."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from frontpage_spark.queries import ORACLES, QUERIES

    def vec(hot):  # {dim: value} -> 8-dim vector
        return [hot.get(d, 0.0) for d in range(8)]

    # centroids = the first 8 ids: one-hot e0..e7
    rows = [vec({d: 1.0}) for d in range(8)]
    rows += [
        vec({1: 1.0, 4: 1.0}),  # id 9: ties cents 2 and 5 -> 2
        vec({6: 3.0, 2: 3.0}),  # id 10: ties cents 3 and 7 -> 3
        vec({0: 0.5, 7: 0.5}),  # id 11: ties cents 1 and 8 -> 1
        vec({0: 1.0, 1: 2.0}),  # id 12: no tie, cent 2
    ]
    path = tmp_path / "embeddings.parquet"
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(1, len(rows) + 1), pa.int64()),
            "embedding": pa.array(rows, pa.list_(pa.float32())),
            "label": pa.array([0] * len(rows), pa.int32()),
        }),
        path,
    )
    got = sorted(
        tuple(r) for r in QUERIES["kmeans_assign_counts"](spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    oracle = sorted(tuple(r) for r in con.execute(ORACLES["kmeans_assign_counts"]).fetchall())
    assert got == oracle
    assert {c: n for c, n, _ in got} == {1: 2, 2: 3, 3: 2, 4: 1, 5: 1, 6: 1, 7: 1, 8: 1}


def test_ivf_trained_codebook(spark, vectors):
    """IVF with in-plan Lloyd training still recalls the planted exact
    duplicate and emits well-formed ranks."""
    out = similarity.ivf_topk(
        vectors, vectors.filter(F.col("vec_id") == 5), k=3,
        n_centroids=4, nprobe=2, train_passes=2,
    )
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert rows and rows[0]["cid"] == 100 and abs(rows[0]["cosine"] - 1.0) < 1e-9
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))


def test_hll_sketch_union_set_arithmetic(spark):
    """Spark 4 DataSketches surface: hll_sketch_agg builds mergeable
    sketches per cohort, hll_union combines them WITHOUT rescanning,
    and inclusion-exclusion estimates the overlap — the scale pattern
    for set-overlap questions across partitioned corpora (sketches
    merge associatively; raw keys never move)."""
    a = spark.range(0, 2000).select(F.col("id").alias("k"))
    b = spark.range(1000, 3500).select(F.col("id").alias("k"))  # overlap = 1000
    sa = a.agg(F.expr("hll_sketch_agg(k)").alias("s"))
    sb = b.agg(F.expr("hll_sketch_agg(k)").alias("s"))
    both = sa.crossJoin(sb.withColumnRenamed("s", "t")).select(
        F.expr("hll_sketch_estimate(s)").alias("na"),
        F.expr("hll_sketch_estimate(t)").alias("nb"),
        F.expr("hll_sketch_estimate(hll_union(s, t))").alias("nu"),
    ).first()
    est_overlap = both["na"] + both["nb"] - both["nu"]
    assert abs(both["na"] - 2000) / 2000 < 0.05
    assert abs(both["nb"] - 2500) / 2500 < 0.05
    assert abs(est_overlap - 1000) / 1000 < 0.15  # union error compounds


# ---- connected-components fixpoint (star contraction) ----------------------
def _cc_expected(pairs):
    """Driver-side union-find for tiny oracles."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _components(monkeypatch, pairs, small_pair_graph_rows=None) -> dict:
    """{id: comp} from _component_fixpoint; ``small_pair_graph_rows``
    sets the size gate's limit for this call."""
    from frontpage_spark import queries

    with monkeypatch.context() as m:
        if small_pair_graph_rows is not None:
            m.setattr(queries, "_SMALL_PAIR_GRAPH_ROWS", small_pair_graph_rows)
        return {r["id"]: r["comp"] for r in queries._component_fixpoint(pairs).collect()}


def test_component_fixpoint_high_diameter_and_mixed(spark, monkeypatch):
    """Star contraction labels a 40-node path (worst case for plain
    min-label propagation: diameter == n), plus disjoint components and
    a cycle, with comp == min(component)."""
    path = [(i, i + 1) for i in range(100, 140)]           # one long path
    blob = [(1, 2), (2, 3), (1, 3), (3, 4)]                # small dense blob
    cycle = [(50, 51), (51, 52), (52, 53), (50, 53)]       # cycle
    pairs = sorted(set((min(a, b), max(a, b)) for a, b in path + blob + cycle))
    df = spark.createDataFrame(pairs, "a long, b long")
    # default gate -> local union-find fast path
    assert _components(monkeypatch, df) == _cc_expected(pairs)
    # force the distributed star-contraction loop on the same graph
    assert _components(monkeypatch, df, 1) == _cc_expected(pairs)
    # endpoints are read by NAME: a pairs frame with a leading extra
    # column must give the same labels on both paths
    wab = spark.createDataFrame([(0.5, a, b) for a, b in pairs], "w double, a long, b long")
    for limit in (100_000, 1):
        assert _components(monkeypatch, wab, limit) == _cc_expected(pairs)


def test_component_fixpoint_empty_and_single(spark):
    from frontpage_spark.queries import _component_fixpoint

    empty = spark.createDataFrame([], "a long, b long")
    assert _component_fixpoint(empty).collect() == []
    one = spark.createDataFrame([(7, 3)], "a long, b long")
    got = {r["id"]: r["comp"] for r in _component_fixpoint(one).collect()}
    assert got == {7: 3, 3: 3}


def test_pair_graph_partitioning_is_size_gated(spark, monkeypatch):
    """VERDICT r2 item 1: a pair graph over the small-rows threshold must
    NOT collapse to one partition (no single-task serialization point at
    scale); under the threshold the union-find runs on the driver over
    the gate probe's rows and returns a local relation."""
    from frontpage_spark import queries as q
    from frontpage_spark.queries import _component_fixpoint

    big = spark.range(0, 500).select(
        (F.col("id") * 2).alias("a"), (F.col("id") * 2 + 1).alias("b")
    ).repartition(4)
    # under the gate: labels are a local relation — no Python-worker
    # stage and no shuffle left in the returned plan
    local = _component_fixpoint(big)
    local_plan = local._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in local_plan and "Exchange" not in local_plan
    # over the gate: the distributed star-contraction route, not the
    # local union-find (AQE may still coalesce the tiny OUTPUT to one
    # partition, so the discriminator is the plan shape)
    monkeypatch.setattr(q, "_SMALL_PAIR_GRAPH_ROWS", 100)
    dist = _component_fixpoint(big)
    monkeypatch.undo()
    dist_plan = dist._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in dist_plan and "LocalTableScan" not in dist_plan
    # and the fixpoint is still correct when the gate keeps >1 partition
    got = {r["id"]: r["comp"] for r in dist.collect()}
    assert len(got) == 1000 and all(got[2 * i] == 2 * i and got[2 * i + 1] == 2 * i for i in range(500))
    assert {r["id"]: r["comp"] for r in local.collect()} == got


def test_lsh_degenerate_bucket_guard(spark):
    """VERDICT r2 item 2: a planted mega-cluster (one signature owning
    most of the corpus) must be dropped BEFORE any id list is
    materialized — the plan gates the collect_list behind a count-based
    semi join — and its members produce no candidate pairs."""
    from frontpage_spark.ext import dedup

    mega = [(i, "the same boilerplate text repeated everywhere") for i in range(300)]
    pair = [(1000, "a genuinely unique document about spark engines"),
            (1001, "a genuinely unique document about spark engines")]
    df = spark.createDataFrame(mega + pair, "doc_id long, text string")
    out = dedup.lsh_candidate_pairs(df, max_bucket=50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    collect_pos = plan.find("collect_list")
    semi_pos = plan.find("LeftSemi")
    assert semi_pos != -1 and collect_pos != -1 and semi_pos > collect_pos, (
        "semi-join guard must sit BELOW (after in printed plan) the collect_list"
    )
    rows = out.collect()
    assert {(r["a"], r["b"]) for r in rows} == {(1000, 1001)}


def test_band_pairs_bucket_boundaries(spark):
    """band_pairs at its exact edges, against hand-computed pairs: a
    bucket of exactly max_bucket rows expands, one more row drops it;
    an id listed twice in a bucket gives no (x, x) pair; a pair that
    collides in two bands comes out once; max_bucket=None expands a
    large bucket in full. Ids are inserted out of order: a < b is by
    value."""
    from itertools import combinations

    rows = (
        [(i, 0, "k3") for i in (3, 1, 2)]  # exactly max_bucket=3 rows
        + [(i, 0, "k4") for i in (13, 10, 12, 11)]  # max_bucket + 1 rows
        + [(21, 1, "dup"), (20, 1, "dup"), (20, 1, "dup")]  # 20 twice
        + [(31, 0, "p"), (30, 0, "p"), (31, 1, "p"), (30, 1, "p")]  # 2 bands
        + [(i, 2, "big") for i in range(149, 99, -1)]  # 50 rows
        + [(40, 0, "single")]
    )
    sigs = spark.createDataFrame(rows, "id long, band int, key string")

    def pairs(max_bucket):
        got = [(r["a"], r["b"]) for r in dedup.band_pairs(sigs, "id", "key", max_bucket).collect()]
        assert len(got) == len(set(got))  # distinct
        return set(got)

    capped = {(1, 2), (1, 3), (2, 3), (20, 21), (30, 31)}
    assert pairs(3) == capped
    assert pairs(4) == capped | set(combinations(range(10, 14), 2))
    assert pairs(None) == (
        capped
        | set(combinations(range(10, 14), 2))
        | set(combinations(range(100, 150), 2))
    )


def test_ann_recall_gate(spark):
    """VERDICT r2 item 7: recall@10 thresholds as a CI gate, not just a
    report — trained-IVF must not recall WORSE than sampled-IVF on the
    fixture corpus, and every method must clear a floor."""
    # the registry query now emits only above_floor booleans (its r7
    # bound-check oracle); the CI gate keeps the SHARPER numeric
    # thresholds by computing real recalls here with the same recipe
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    q = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(emb, q, k=10).select("qid", "cid")

    def recall(approx):
        hits = exact.join(approx.select("qid", "cid"), ["qid", "cid"])
        per = hits.groupBy("qid").agg((F.count("*") / F.lit(10)).alias("r"))
        return per.agg(F.avg("r")).first()[0]

    rows = {
        "lsh": recall(similarity.lsh_topk(emb, q, k=10, planes=4)),
        "ivf": recall(similarity.ivf_topk(emb, q, k=10, n_centroids=16, nprobe=4)),
        "ivf_trained": recall(
            similarity.ivf_topk(emb, q, k=10, n_centroids=16, nprobe=4, train_passes=2)
        ),
    }
    assert rows["ivf_trained"] >= rows["ivf"], rows
    assert rows["ivf"] >= 0.5 and rows["ivf_trained"] >= 0.5, rows
    assert rows["lsh"] >= 0.5, rows  # multiprobe: 0.68 on fixture corpus
    # and the registry query's booleans agree with its documented floors
    from frontpage_spark.queries import ann_recall_eval

    flags = {r["method"]: r["above_floor"] for r in ann_recall_eval(spark, sf).collect()}
    assert flags == {"lsh": True, "ivf": True, "ivf_trained": True}, flags


def test_ivf_train_passes_one_rejected(spark, vectors):
    """train_passes=1 used to silently fall back to sampled centroids
    (ADVICE r2); it must be an explicit error now."""
    with pytest.raises(ValueError, match="train_passes"):
        similarity.ivf_topk(vectors, vectors.limit(1), k=3, train_passes=1)


def test_mean_pool_plan_build_launches_no_job(spark, vectors):
    """VERDICT r2 item 8: constructing the mean_pool plan must not run a
    driver-side probe job (the old dim-probe .first()); the fold is
    seeded from the first collected partial instead."""
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup())
    df = similarity.mean_pool(vectors.withColumn("label", F.lit("x")), "label", "embedding")
    assert set(st.getJobIdsForGroup()) == before  # lazy: no job at build time
    row = df.first()  # and the result is still correct
    assert row["n"] == 21 and len(row["centroid"]) == 8


def test_containment_vs_jaccard_doc_inside_doc(spark):
    """A short doc fully embedded in a long one: containment flags it
    (1.0) while Jaccard stays below common thresholds — the asymmetric
    measure is the point of shingle_containment_pairs."""
    short = "alpha beta gamma delta epsilon"
    long_ = short + " " + " ".join(f"filler{i}" for i in range(40))
    docs = spark.createDataFrame([(1, short), (2, long_)], "doc_id long, text string")
    sets = docs.select("doc_id", dedup.shingles_col("text").alias("s"))
    a = sets.filter("doc_id = 1").select(F.col("s").alias("sa"))
    b = sets.filter("doc_id = 2").select(F.col("s").alias("sb"))
    row = (
        a.crossJoin(b)
        .select(
            F.size(F.array_intersect("sa", "sb")).alias("inter"),
            F.size("sa").alias("sza"),
            F.size("sb").alias("szb"),
        )
        .first()
    )
    containment = row["inter"] / min(row["sza"], row["szb"])
    jaccard = row["inter"] / (row["sza"] + row["szb"] - row["inter"])
    assert containment == 1.0
    assert jaccard < 0.1


def test_cosine_topk_exclude_same_label(spark, vectors):
    """exclude_same drops same-label pairs BEFORE ranking: every
    returned neighbor has a different label than its query, and ranks
    stay dense from 1."""
    labeled = vectors.withColumn("label", (F.col("vec_id") % 2).cast("int"))
    out = similarity.cosine_topk(
        labeled, labeled.filter("vec_id = 0"), k=5, exclude_same="label"
    )
    rows = out.collect()
    assert rows and [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    lab = {r["vec_id"]: r["label"] for r in labeled.collect()}
    for r in rows:
        assert lab[r["cid"]] != lab[0]


def test_audio_rms_windows_closed_form(spark):
    """PCM parse correctness pinned against a hand-computed window:
    samples are the md5-digest int16 pairs tiled, so Σs² and peak have
    closed forms."""
    import hashlib
    import struct

    text = b"hello world"
    seed = hashlib.md5(text).digest()
    n = 20  # 20 samples: one 16-sample... window=8 below → 3 windows
    wav = multimodal.make_wav(n, seed)
    expect = list(struct.unpack("<8h", (seed * 2)[:16]))  # period-8 cycle
    df = spark.createDataFrame(
        [(1, "audio", bytearray(wav), {"src": "t"})],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {
        r["window_idx"]: r
        for r in multimodal.apply(df, multimodal.rms(8)).collect()
    }
    assert set(rows) == {0, 1, 2}
    full = sum(v * v for v in expect)
    assert rows[0]["sumsq"] == full and rows[1]["sumsq"] == full
    assert rows[2]["n_samples"] == 4
    assert rows[2]["sumsq"] == sum(v * v for v in expect[:4])
    assert rows[0]["peak"] == max(abs(v) for v in expect)
    assert rows[2]["peak"] == max(abs(v) for v in expect[:4])


def test_prefix_filter_pairs_lossless_and_pruning(spark, docs):
    """Prefix filtering must return exactly the naive join's pairs
    (lossless) while generating strictly fewer candidate pairs."""
    naive = {
        (r.a, r.b): r.jaccard
        for r in dedup.jaccard_pairs(docs, threshold=0.5).collect()
    }
    pref = {
        (r.a, r.b): r.jaccard
        for r in dedup.prefix_filter_pairs(docs, threshold=0.5).collect()
    }
    assert pref == naive and naive  # identical pairs AND values, non-empty

    # a second threshold whose double is not exact (0.3 = 3/10)
    naive_03 = {
        (r.a, r.b): r.jaccard
        for r in dedup.jaccard_pairs(docs, threshold=0.3).collect()
    }
    pref_03 = {
        (r.a, r.b): r.jaccard
        for r in dedup.prefix_filter_pairs(docs, threshold=0.3).collect()
    }
    assert pref_03 == naive_03 and naive_03

    # pruning effect: docs that share ONLY a globally-frequent shingle.
    # Each doc: 2 unique words + "alpha beta gamma" + 2 unique words →
    # 5 shingles, exactly one shared (freq 6). Prefix length at t=0.5 is
    # 3 = the three rarest (unique) shingles, so the shared frequent
    # shingle never enters the index: 0 candidates vs 15 naive.
    from pyspark.sql import functions as F

    boiler = spark.createDataFrame(
        [(i, f"u{i}a u{i}b alpha beta gamma u{i}c u{i}d") for i in range(6)],
        ["doc_id", "text"],
    )
    sh = boiler.select("doc_id", F.explode(dedup.shingles_col("text")).alias("shingle"))
    a = sh.select(F.col("doc_id").alias("a"), "shingle")
    b = sh.select(F.col("doc_id").alias("b"), "shingle")
    naive_cand = (
        a.join(b, "shingle").filter("a < b").select("a", "b").distinct().count()
    )
    assert naive_cand == 15
    freq = sh.groupBy("shingle").agg(F.count("*").alias("freq"))
    ranked = sh.join(freq, "shingle")
    sets = (
        ranked.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("freq", "shingle"))).alias("toks"))
        .select(
            "doc_id",
            F.transform("toks", lambda x: x["shingle"]).alias("s"),
            F.size("toks").alias("sz"),
        )
        .withColumn(
            "prefix",
            F.slice("s", F.lit(1), (F.col("sz") - F.ceil(0.5 * F.col("sz")) + 1).cast("int")),
        )
    )
    pa = sets.select(F.col("doc_id").alias("a"), F.explode("prefix").alias("tok"))
    pb = sets.select(F.col("doc_id").alias("b"), F.explode("prefix").alias("tok"))
    pref_cand = pa.join(pb, "tok").filter("a < b").select("a", "b").distinct().count()
    assert pref_cand == 0
    # and losslessness holds here too: no pair reaches t=0.5 anyway
    assert dedup.prefix_filter_pairs(boiler, threshold=0.5).count() == 0
    assert dedup.jaccard_pairs(boiler, threshold=0.5).count() == 0


def _words(tag, lo, hi):
    """Words ``tag<i>`` for i in [lo, hi), space-joined: hi - lo - 2
    word 3-gram shingles; texts over one tag share the shingles of the
    overlap of their ranges."""
    return " ".join(f"{tag}{i}" for i in range(lo, hi))


def test_prefix_filter_pairs_keeps_exact_jaccard_boundary(spark):
    """A 3-shingle doc inside a 15-shingle doc has Jaccard exactly
    3/15 = 0.2. In doubles, ceil(0.2/1.2 * 18) is 4, so a float overlap
    bound drops the pair; the integer bound (1·18 + 5) div 6 = 3 keeps it."""
    docs = spark.createDataFrame(
        [(1, _words("w", 0, 5)), (2, _words("w", 0, 17))], "doc_id long, text string"
    )
    got = {(r.a, r.b): r.jaccard for r in dedup.prefix_filter_pairs(docs, threshold=0.2).collect()}
    assert got == {(1, 2): 0.2}


def test_set_similarity_thresholds_exact_at_planted_boundaries(spark):
    """For each t = p/q, docs of p·m shingles inside docs of q·m shingles
    (Jaccard exactly t) and of p·m - 1 inside q·m (just below), over a
    private vocabulary per pair. At every t both joins return exactly the
    pairs with Jaccard >= t as rationals. Several of these pairs are
    dropped by float PPJoin filters: ceil(0.55·100) is 56 (prefix) and
    55 >= 0.55·100 is false (length); the overlap bound overshoots at
    0.65, 0.8 and 0.9."""
    from fractions import Fraction

    rows, truth = [], {}
    for t in (0.2, 0.55, 0.65, 0.8, 0.9):
        f = Fraction(str(t))
        for m in range(1, 8):
            small, big = f.numerator * m, f.denominator * m
            if big > 100:
                break
            for inner in (small, small - 1):
                if inner < 1:
                    continue
                tag, a = f"t{len(rows)}w", len(rows)
                rows += [(a, _words(tag, 0, inner + 2)), (a + 1, _words(tag, 0, big + 2))]
                truth[(a, a + 1)] = Fraction(inner, big)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.2, 0.55, 0.65, 0.8, 0.9):
        want = {k: float(j) for k, j in truth.items() if j >= Fraction(str(t))}
        naive = {(r.a, r.b): r.jaccard for r in dedup.jaccard_pairs(docs, threshold=t).collect()}
        pref = {(r.a, r.b): r.jaccard for r in dedup.prefix_filter_pairs(docs, threshold=t).collect()}
        assert naive == want, t
        assert pref == want, t
        assert t in want.values()


@pytest.mark.parametrize("bad", [0, 1.5, 0.1 + 0.2])
def test_set_similarity_threshold_rejected(spark, docs, bad):
    """Thresholds outside (0, 1], or whose shortest decimal needs a
    denominator above 2**20 (0.1 + 0.2 = 0.30000000000000004), raise
    instead of being compared with rounding."""
    for build in (
        lambda: dedup.jaccard_pairs(docs, threshold=bad),
        lambda: dedup.prefix_filter_pairs(docs, threshold=bad),
        lambda: dedup.jaccard_at_least(bad),
        lambda: dedup.containment_at_least(bad),
    ):
        with pytest.raises(ValueError):
            build()


def _lsh_collide(text_a, text_b):
    """True when the two texts share a MinHash band (``band_minhashes``
    over ``shingles_col``, computed in Python)."""
    import hashlib

    def bands(text):
        w = text.split(" ")
        sh = {" ".join(w[i : i + 3]) for i in range(len(w) - 2)} or {text}
        hs = [hashlib.md5(x.encode()).hexdigest() for x in sh]
        return [min(h[8 * b : 8 * b + 8] for h in hs) for b in range(dedup.DEFAULT_BANDS)]

    return any(x == y for x, y in zip(bands(text_a), bands(text_b)))


def _candidate_pair(make):
    """The first ``make(tag)`` text pair that shares a MinHash band."""
    for k in range(1000):
        a, b = make(f"v{k}x")
        if _lsh_collide(a, b):
            return a, b
    raise AssertionError("no colliding pair")


def _query_vs_oracle(spark, tmp_path, name, texts):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from frontpage_spark.queries import ORACLES, QUERIES

    path = tmp_path / "documents.parquet"
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        path,
    )
    got = sorted(tuple(r) for r in QUERIES[name](spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    oracle = sorted(tuple(r) for r in con.execute(ORACLES[name]).fetchall())
    assert got == oracle
    return got


def test_near_dup_verified_exact_boundary_matches_oracle(spark, tmp_path):
    """LSH candidates at Jaccard exactly 3/15 = 0.2 (kept: 6·3 >= 3 + 15)
    and 3/16 (dropped) verify the same on Spark and DuckDB."""
    at = _candidate_pair(lambda g: (_words(g, 0, 5), _words(g, 0, 17)))
    below = _candidate_pair(lambda g: (_words(g + "b", 0, 5), _words(g + "b", 0, 18)))
    got = _query_vs_oracle(spark, tmp_path, "near_dup_verified", [*at, *below])
    assert got == [(1, 2, 0.2)]


def test_shingle_containment_exact_boundary_matches_oracle(spark, tmp_path):
    """LSH candidates of 10 shingles each sharing 3 (containment exactly
    0.3: kept, 10·3 >= 3·10) and sharing 2 (0.2: dropped) verify the same
    on Spark and DuckDB."""
    at = _candidate_pair(lambda g: (_words(g, 0, 12), _words(g, 7, 19)))
    below = _candidate_pair(lambda g: (_words(g + "b", 0, 12), _words(g + "b", 8, 20)))
    got = _query_vs_oracle(spark, tmp_path, "shingle_containment_pairs", [*at, *below])
    assert got == [(1, 2, 3, 10, 0.3)]


@pytest.mark.parametrize("name", ["dup_clusters", "semantic_dedup_report"])
def test_component_queries_keep_each_frame_once(spark, name):
    """The pair frame reaches ``_component_fixpoint``, which keep()s it;
    the query itself must not keep the same frame a second time."""
    from collections import Counter

    from frontpage_spark import plans
    from frontpage_spark.queries import QUERIES

    from .conftest import SF_DIR

    with plans.keep_capture() as captured:
        QUERIES[name].__wrapped__(spark, SF_DIR).collect()
    counts = Counter(id(df) for df in captured.kept)
    assert counts and max(counts.values()) == 1


def test_image_dhash_parses_real_bmp(spark):
    """dHash over honest BMP parse: identical texts hash identically;
    the hash halves stay inside 32 bits."""
    rows = [(0, "the same document text here"), (3, "the same document text here"),
            (6, "a completely different story about ships")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    media = multimodal.synthesize(df, "doc_id", "text")
    got = {r["media_id"]: r for r in multimodal.apply(media, multimodal.DHASH).collect()}
    assert set(got) == {0, 3, 6}
    assert got[0]["dhash_hi"] == got[3]["dhash_hi"]
    assert got[0]["dhash_lo"] == got[3]["dhash_lo"]
    for r in got.values():
        assert 0 <= r["dhash_hi"] < 2**32 and 0 <= r["dhash_lo"] < 2**32


def test_hamming_near_dup_banding_is_lossless(spark):
    """Planted signatures 1/2/3 bits apart (spanning band boundaries)
    are all recovered by the 4x16 banded join; a far pair is not."""
    base_hi, base_lo = 0x12345678, 0x9ABCDEF0
    rows = [
        (1, base_hi, base_lo),
        (2, base_hi, base_lo ^ 0b1),                # 1 bit, band 0
        (3, base_hi ^ (1 << 31), base_lo ^ 0b11),   # 3 bits across bands
        (4, base_hi ^ 0xFFFF0000, base_lo ^ 0xFFFF),  # 32 bits away
    ]
    df = spark.createDataFrame(rows, "media_id long, dhash_hi long, dhash_lo long")
    pairs = {(r["a"], r["b"]): r["hamming"] for r in dedup.hamming_near_dup(df).collect()}
    assert pairs == {(1, 2): 1, (1, 3): 3, (2, 3): 2}
    assert all(4 not in p for p in pairs)
    with pytest.raises(ValueError):
        dedup.hamming_near_dup(df, max_hamming=4)


def test_kcore_planted_clique(spark):
    """A 5-clique with pendant chains: the 3-core is exactly the clique
    (every chain node peels away over successive rounds), and each
    surviving node keeps degree 4 within the core."""
    from frontpage_spark.ext.graph import kcore

    clique = [(a, b) for a in range(5) for b in range(5) if a < b]
    chains = [(0, 10), (10, 11), (11, 12), (1, 20), (20, 21)]
    edges = spark.createDataFrame(clique + chains, ["src", "dst"])
    out = {r["node"]: r["degree"] for r in kcore(edges, k=3).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    assert all(d == 4 for d in out.values())


def test_kcore_empty_when_k_too_high(spark):
    from frontpage_spark.ext.graph import kcore

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    assert kcore(edges, k=5).count() == 0


def test_lsh_near_dup_recall_one_for_exact_dups(spark):
    """Exact duplicates share EVERY band signature, so banded-LSH
    candidate generation finds them with recall 1.0 by construction —
    the guarantee the scale path's dedup use case rests on."""
    from .conftest import SF_DIR

    emb = (
        spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 50)  # deterministic sample (limit() is not ordered)
    )
    dup = emb.select((F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    corpus = emb.unionByName(dup)
    pairs = similarity.lsh_near_dup_pairs(corpus, threshold=0.999)
    found = {(r["a"], r["b"]) for r in pairs.collect()}
    # every (v, v+1000) replica pair must be recovered at cosine 1.0
    assert {(v, v + 1000) for v in range(50)} <= found


def test_lsh_band_sigs_arrow_equals_expr(spark):
    """The Arrow signature pass must be BYTE-identical to the pure-Column
    reference: its sequential left fold over dim reproduces the SQL
    aggregate() fold exactly (float32→double promotion and ±1 products
    are exact), so every (id, band, sig) row — and therefore every
    candidate pair `band_pairs` expands from them — matches."""
    from frontpage_spark.ext import similarity

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    arrow = {
        (r["id"], r["band"]): r["sig"]
        for r in similarity._band_sigs_arrow(
            emb, "vec_id", "embedding", 10, 10, 64
        ).collect()
    }
    # expr reference: the pure-Column signature pipeline, inline
    sigs = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("e")
    ).withColumn("__planes", similarity._plane_literals(100, 64))
    bits = F.expr(
        "transform(__planes, h -> CASE WHEN "
        "aggregate(zip_with(e, h, (x, v) -> CAST(x AS DOUBLE) * v), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v) > 0 THEN '1' ELSE '0' END)"
    )
    band_sigs = [
        F.array_join(F.slice(F.col("__bits"), g * 10 + 1, 10), "") for g in range(10)
    ]
    expr_sigs = sigs.withColumn("__bits", bits).select(
        "id", F.posexplode(F.array(*band_sigs)).alias("band", "sig")
    )
    expr = {(r["id"], r["band"]): r["sig"] for r in expr_sigs.collect()}
    assert len(arrow) == emb.count() * 10
    assert arrow == expr  # every (id, band) -> sig bit string identical
    # and the derived candidate pairs match the reference's
    ca = similarity.lsh_band_candidates(emb).orderBy("a", "b").collect()
    ce = dedup.band_pairs(expr_sigs, "id", "sig").orderBy("a", "b").collect()
    assert ca == ce


def test_embedding_near_dup_gate(spark, tmp_path):
    """Above _EMB_EXACT_GATE rows the registered profile routes through
    LSH candidates (n_pairs << C(n,2)); at or below it stays exact
    (n_pairs == C(n,2))."""
    from .conftest import SF_DIR
    from frontpage_spark.queries import QUERIES, _EMB_EXACT_GATE

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    n_base = emb.count()
    reps = _EMB_EXACT_GATE // n_base + 1
    big = emb
    for i in range(1, reps):
        big = big.unionByName(
            emb.select((F.col("vec_id") + 10_000 * i).alias("vec_id"), "embedding")
        )
    out_dir = str(tmp_path / "gated")
    big.write.parquet(os.path.join(out_dir, "embeddings.parquet"))
    n = n_base * reps
    assert n > _EMB_EXACT_GATE

    row = QUERIES["embedding_near_dup"](spark, out_dir).collect()[0]
    all_pairs = n * (n - 1) // 2
    assert row["n_pairs"] < all_pairs // 10, "over-gate profile still all-pairs"
    # each vector has reps-1 exact replicas -> C(reps,2) planted pairs per
    # base id, all caught (every band collides) and all cosine 1.0
    assert row["n_ge_08"] >= n_base * reps * (reps - 1) // 2
    assert row["max_cosine"] == 1.0

    small = QUERIES["embedding_near_dup"](spark, SF_DIR).collect()[0]
    assert small["n_pairs"] == n_base * (n_base - 1) // 2


def test_cosine_pairs_within_degenerate_inputs(spark):
    # duplicate ids in a group must not emit a==b self-pairs (strict
    # a<b BY VALUE, like the expression path's x.id < y.id)
    from frontpage_spark.ext import similarity

    dup = spark.createDataFrame(
        [(1, 0, [1.0, 0.0]), (1, 0, [1.0, 0.0]), (2, 0, [0.0, 1.0])],
        ["vec_id", "cell", "embedding"],
    )
    got = [(r["a"], r["b"]) for r in similarity.cosine_pairs_within(dup, "cell").collect()]
    assert all(a < b for a, b in got) and (1, 2) in got
    # zero-norm vectors fail LOUDLY (numpy would silently emit NaN,
    # which Spark orders above every threshold)
    zero = spark.createDataFrame(
        [(1, 0, [0.0, 0.0]), (2, 0, [1.0, 0.0])], ["vec_id", "cell", "embedding"]
    )
    with pytest.raises(Exception, match="zero-norm|PythonException"):
        similarity.cosine_pairs_within(zero, "cell").collect()
    # a NULL embedding (or id) row is DROPPED, never mis-aligned:
    # two separate collect_list(id)/collect_list(v) aggs would shift
    # the alignment and pair surviving vectors with WRONG ids
    # (ADVICE r5 medium); the struct-collect keeps ids[i] <-> vs[i]
    # structural, so the remaining pair scores exactly 0.0 here
    holey = spark.createDataFrame(
        [(1, 0, [1.0, 0.0]), (2, 0, None), (3, 0, [0.0, 1.0]), (None, 0, [1.0, 1.0])],
        "vec_id long, cell long, embedding array<double>",
    )
    got = {
        (r["a"], r["b"]): r["cosine"]
        for r in similarity.cosine_pairs_within(holey, "cell").collect()
    }
    assert set(got) == {(1, 3)} and abs(got[(1, 3)]) < 1e-12
    # same hazard in the blocked all-pairs variant: one pair, cosine 0.0
    got_b = [
        r["cosine"]
        for r in similarity.cosine_pairs_blocked(holey.drop("cell"), n_blocks=2).collect()
    ]
    assert got_b == [0.0]


def test_pagerank_null_edges_dropped_both_paths(spark, monkeypatch):
    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), (None, "b"), ("a", None)], ["src", "dst"]
    )
    local = _pagerank_ranks(monkeypatch, e, iterations=2)
    dist = _pagerank_ranks(monkeypatch, e, 0, iterations=2)
    clean = _pagerank_ranks(monkeypatch, e.dropna(), 0, iterations=2)
    assert local == dist == clean and len(local) == 2

"""Incremental + streaming semantics (SURVEY.md §2.6)."""

import pytest
from pyspark.sql import functions as F

from frontpage_spark.incremental import (
    _sessionize_classic,
    _sessionize_stitch,
    delta_scan,
    sessionize,
    stream_pipeline,
    windowed_counts,
)


@pytest.fixture(scope="module")
def raw(spark):
    rows = [(i, f"k{i}", f"payload{i}") for i in range(10)]
    return spark.createDataFrame(rows, ["id", "uniq_id", "payload"])


def test_delta_scan_incrementality(spark, raw):
    processed = spark.createDataFrame([(f"k{i}",) for i in range(5)], ["uniq_id"])
    batch = delta_scan(raw, processed, batch_size=3, order_col="id")
    assert [r["uniq_id"] for r in batch.collect()] == ["k5", "k6", "k7"]
    # second cycle after loading that batch sees only the remainder
    processed2 = processed.union(batch.select("uniq_id"))
    batch2 = delta_scan(raw, processed2, batch_size=50, order_col="id")
    assert [r["uniq_id"] for r in batch2.collect()] == ["k8", "k9"]


def test_sessionize_gap(spark):
    rows = [
        (1, 10, "2024-01-01 00:00:00"),
        (2, 10, "2024-01-01 00:10:00"),  # same session (gap 600 < 1800)
        (3, 10, "2024-01-01 01:00:00"),  # new session (gap 3000)
        (4, 20, "2024-01-01 00:00:00"),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts"]).select(
        "event_id", "user_id", F.to_timestamp("ts").alias("ts")
    )
    got = {r["event_id"]: r["session_idx"] for r in sessionize(ev).collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}


def test_sessionize_stitch_equals_single_window(spark):
    """The r9 skew-proof sessionize runs its windows within
    (user, time bucket) and stitches bucket boundaries exactly
    (zipf-probe fix: one hot user must not become one window task).
    Pin bit-equality against the classic single-window lag+running-sum
    on a generated corpus, with bucket_seconds tiny so nearly every
    event sits at a bucket boundary — gaps straddling buckets, empty
    buckets between events, ties, multi-session users, and a hot user
    holding half the events all exercise the stitch."""
    import random

    from pyspark.sql.window import Window

    rng = random.Random(7)
    rows = []
    eid = 0
    for u in range(1, 9):
        t = 0
        n = 400 if u == 1 else rng.randint(3, 40)  # u=1 is the hot key
        # NULL-ts rows (ADVICE r9): classic orders them first and every
        # lag-is-NULL row is a session start — users 2/3 get 1 and 3
        # null-ts events, user 4 is ALL-null, so mixed, repeated-null,
        # and null-only histories are all pinned.
        nulls = {2: 1, 3: 3}.get(u, 0)
        if u == 4:
            nulls, n = 5, 0
        for _ in range(nulls):
            eid += 1
            rows.append((eid, u, None))
        for _ in range(n):
            t += rng.choice([1, 30, 59, 60, 61, 100, 500, 3000])
            eid += 1
            rows.append((eid, u, t))
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "secs"]).select(
        "event_id", "user_id", F.timestamp_seconds("secs").alias("ts")
    )
    # reference: the classic one-window-per-user form
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.unix_timestamp("ts")).over(w)
    ref_new = F.when(
        prev.isNull() | ((F.unix_timestamp("ts") - prev) > 60), 1
    ).otherwise(0)
    ref = ev.withColumn("__n", ref_new).withColumn(
        "session_idx",
        F.sum("__n").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    want = {r["event_id"]: r["session_idx"] for r in ref.collect()}
    for bucket in (60, 61, 97, 86_400):
        got = {
            r["event_id"]: r["session_idx"]
            for r in _sessionize_stitch(ev, 60, bucket).collect()
        }
        assert got == want, f"bucket_seconds={bucket} diverges"
    # the gate's classic branch must be the same function as the ref
    got = {r["event_id"]: r["session_idx"] for r in _sessionize_classic(ev, 60).collect()}
    assert got == want


def test_sessionize_size_gate(spark, tmp_path, monkeypatch):
    """r10 (VERDICT r9 item 4): sessionize picks the classic
    single-window below _SESSIONIZE_STITCH_BYTES (every local SF) and
    the bounded-partition stitch above — decided from Catalyst's size
    estimate, no job. File-backed frames have real size stats (tiny ->
    classic); a LocalRelation reports the unknown-size sentinel, which
    must fall to the stitch (assume production scale). The stitch plan
    is recognizable by its offset join; the classic plan has none."""
    import frontpage_spark.incremental as inc

    local = spark.createDataFrame(
        [(1, 10, "2024-01-01 00:00:00")], ["event_id", "user_id", "ts"]
    ).select("event_id", "user_id", F.to_timestamp("ts").alias("ts"))
    local.write.parquet(str(tmp_path / "ev"))
    ev = spark.read.parquet(str(tmp_path / "ev"))

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "Join" not in plan_of(inc.sessionize(ev))  # tiny file -> classic
    assert "Join" in plan_of(inc._sessionize_stitch(ev, 1800))
    assert "Join" in plan_of(inc.sessionize(local))  # unknown size -> stitch
    monkeypatch.setattr(inc, "_SESSIONIZE_STITCH_BYTES", 0)
    assert "Join" in plan_of(inc.sessionize(ev))  # over-gate -> stitch


def test_windowed_counts_batch(spark):
    rows = [(1, "a", "2024-01-01 00:01:00", 1.0), (2, "a", "2024-01-01 00:09:00", 2.0),
            (3, "a", "2024-01-01 00:11:00", 3.0)]
    ev = spark.createDataFrame(rows, ["event_id", "event_type", "ts", "value"]).select(
        "event_id", "event_type", F.to_timestamp("ts").alias("ts"), "value"
    )
    got = windowed_counts(ev, window="10 minutes")
    rows = sorted(got.collect(), key=lambda r: r["w"]["start"])
    assert [r["n"] for r in rows] == [2, 1]


def test_stream_pipeline_foreachbatch(spark, tmp_path):
    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    df = spark.createDataFrame([(i, f"k{i}") for i in range(20)], ["id", "uniq_id"])
    df.coalesce(1).write.parquet(src)

    seen = []

    def batch_fn(bdf, epoch_id):
        seen.append(bdf.count())

    q = stream_pipeline(
        spark, src, chk, batch_fn, schema=df.schema, available_now=True
    )
    q.awaitTermination(60)
    assert sum(seen) == 20
    # restart with same checkpoint: nothing re-read (exactly-once offsets)
    seen.clear()
    q2 = stream_pipeline(spark, src, chk, batch_fn, schema=df.schema, available_now=True)
    q2.awaitTermination(60)
    assert sum(seen) == 0


def test_stateful_user_counts(spark, tmp_path):
    """applyInPandasWithState keeps per-user state across micro-batches."""
    import pandas as pd
    from pyspark.sql import functions as F
    from frontpage_spark.incremental import stateful_user_counts

    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    base = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:05:00"), (2, "2024-01-01 00:01:00")],
        ["user_id", "ts_s"],
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"))
    base.write.parquet(src)

    stream = spark.readStream.schema(base.schema).parquet(src)
    out = stateful_user_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_counts")
        .outputMode("update")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["user_id"]: r["n_events"] for r in spark.sql("select * from stateful_counts").collect()}
    assert rows == {1: 2, 2: 1}

    # second batch: state survives the restart via the checkpoint (the
    # memory sink can't recover from a checkpoint → use foreachBatch)
    base.limit(1).select(F.col("user_id"), F.col("ts") + F.expr("INTERVAL 10 MINUTES")).toDF(
        "user_id", "ts"
    ).write.mode("append").parquet(src)
    seen: list = []
    stream2 = spark.readStream.schema(base.schema).parquet(src)
    q2 = (
        stateful_user_counts(stream2)
        .writeStream.foreachBatch(lambda df, _eid: seen.extend(df.collect()))
        .outputMode("update")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    rows2 = {r["user_id"]: r["n_events"] for r in seen}
    assert rows2[1] == 3  # 2 from prior state + 1 new


def test_stream_dedup_within_watermark_restart(spark, tmp_path):
    """dropDuplicatesWithinWatermark drops repeat keys, keeps state in the
    checkpoint, and still drops them after a query restart."""
    from frontpage_spark.incremental import stream_dedup

    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    sink = str(tmp_path / "sink")
    schema = "uniq_id string, scrape_date timestamp, payload string"

    def write_batch(rows, part):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    # batch 1: k1 twice (in-batch dup) + k2
    write_batch(
        [("k1", __import__("datetime").datetime(2024, 1, 1, 0, 0), "a"),
         ("k1", __import__("datetime").datetime(2024, 1, 1, 0, 1), "b"),
         ("k2", __import__("datetime").datetime(2024, 1, 1, 0, 2), "c")],
        1,
    )

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream_dedup(stream, watermark="2 hours")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = {r["uniq_id"] for r in spark.read.parquet(sink).collect()}
    assert got == {"k1", "k2"} and spark.read.parquet(sink).count() == 2

    # batch 2 after RESTART: k1 again (dup vs checkpointed state) + k3
    write_batch(
        [("k1", __import__("datetime").datetime(2024, 1, 1, 0, 30), "dup"),
         ("k3", __import__("datetime").datetime(2024, 1, 1, 0, 40), "new")],
        2,
    )
    run_once()
    out = spark.read.parquet(sink)
    assert out.count() == 3  # k1 dup dropped ACROSS the restart
    assert {r["uniq_id"] for r in out.collect()} == {"k1", "k2", "k3"}


def test_windowed_counts_drops_late_data(spark, tmp_path):
    """Append-mode watermarked aggregation: an event arriving after the
    watermark passed its window never reaches the sink."""
    from datetime import datetime

    from frontpage_spark.incremental import windowed_counts

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    schema = "ts timestamp, event_type string, value double"

    def emit(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            windowed_counts(stream, window="10 minutes", watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: events at 00:00-00:10 and one at 01:00 that advances the
    # watermark far past the first window
    emit([
        (datetime(2024, 1, 1, 0, 1), "click", 1.0),
        (datetime(2024, 1, 1, 0, 2), "click", 1.0),
        (datetime(2024, 1, 1, 1, 0), "click", 1.0),
    ])
    drain()
    # batch 2: a LATE event for the long-closed 00:00 window + a fresh one
    emit([
        (datetime(2024, 1, 1, 0, 3), "click", 1.0),   # late -> dropped
        (datetime(2024, 1, 1, 1, 2), "click", 1.0),
    ])
    drain()
    # batch 3: advance the watermark so the 01:00 window finalizes
    emit([(datetime(2024, 1, 1, 2, 0), "click", 1.0)])
    drain()

    out = {
        (r["w"]["start"].isoformat(), r["n"])
        for r in spark.read.parquet(sink).collect()
    }
    # first window finalized with 2 (late row NOT counted)
    assert ("2024-01-01T00:00:00", 2) in out
    # the 01:00 window saw both its rows (one per batch, merged by state)
    assert ("2024-01-01T01:00:00", 2) in out
    assert not any(w == "2024-01-01T00:00:00" and n != 2 for w, n in out)


def test_streaming_ivm_state_merge(spark, tmp_path):
    """The ivm_merge_revenue algebra under foreachBatch: a per-key
    (count, sum, max) state table maintained across micro-batches by
    aggregate-of-union merge must equal the batch recompute — the
    streaming materialized-view foundation."""
    from pyspark.sql import functions as F
    from frontpage_spark.incremental import stream_pipeline

    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    state_path = str(tmp_path / "state")
    rows = [(i % 7, (i * 37) % 100, i) for i in range(60)]
    df = spark.createDataFrame(rows, ["k", "v", "seq"])
    # 3 files -> up to 3 micro-batches with maxFilesPerTrigger=1
    df.repartition(3).write.parquet(src)

    def agg(b):
        return b.groupBy("k").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").cast("long").alias("s"),
            F.max("seq").cast("long").alias("m"),
        )

    def merge_batch(batch, _eid):
        delta = agg(batch)
        try:
            state = spark.read.parquet(state_path)
            merged = (
                state.unionByName(delta)
                .groupBy("k")
                .agg(
                    F.sum("n").cast("long").alias("n"),
                    F.sum("s").cast("long").alias("s"),
                    F.max("m").cast("long").alias("m"),
                )
            )
        except Exception:
            merged = delta
        # state swap: write aside, then replace
        merged.localCheckpoint().coalesce(1).write.mode("overwrite").parquet(state_path)

    q = stream_pipeline(
        spark, src, chk, merge_batch, schema=df.schema,
        max_files_per_trigger=1, available_now=True,
    )
    q.awaitTermination(120)

    got = {r.k: (r.n, r.s, r.m) for r in spark.read.parquet(state_path).collect()}
    want = {r.k: (r.n, r.s, r.m) for r in agg(df).collect()}
    assert got == want


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState's Python worker needs google.protobuf (absent in container)",
)
def test_stateful_seen_filter_transform_with_state(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 arbitrary-state API): only the
    first row per key is emitted, the seen-set persists in the RocksDB
    state store across micro-batches via the checkpoint."""
    from pyspark.sql import functions as F
    from frontpage_spark.incremental import stateful_seen_filter

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = str(tmp_path / "src")
        chk = str(tmp_path / "chk")
        base = spark.createDataFrame(
            [("a", 10), ("a", 11), ("b", 20)], ["uniq_id", "n_bytes"]
        )
        base.write.parquet(src)

        seen: list = []

        def sink(df, _eid):
            seen.extend((r["uniq_id"], r["n_bytes"]) for r in df.collect())

        def run_once():
            stream = spark.readStream.schema(base.schema).parquet(src)
            q = (
                stateful_seen_filter(stream)
                .writeStream.foreachBatch(sink)
                .outputMode("append")
                .option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_once()
        # one row per key; WHICH of a's two same-batch rows arrives
        # first at the processor is scheduling-dependent (parallel
        # file-source read), so assert membership, not a fixed row
        assert sorted(r[0] for r in seen) == ["a", "b"]
        assert dict(seen)["a"] in (10, 11) and dict(seen)["b"] == 20

        # new file: repeat key suppressed BY STATE (not by offset replay),
        # new key passes
        spark.createDataFrame([("a", 12), ("c", 30)], ["uniq_id", "n_bytes"]).write.mode(
            "append"
        ).parquet(src)
        seen.clear()
        run_once()
        assert sorted(seen) == [("c", 30)]
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState's Python worker needs google.protobuf (absent in container)",
)
def test_stateful_event_type_counts_mapstate(spark, tmp_path):
    """transformWithState MAP STATE: per-(key, event_type) running counts
    survive a restart via individually-indexed map entries; only types
    touched in a batch are re-emitted."""
    from frontpage_spark.incremental import stateful_event_type_counts

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = str(tmp_path / "src")
        chk = str(tmp_path / "chk")
        base = spark.createDataFrame(
            [("u1", "click"), ("u1", "click"), ("u1", "view"), ("u2", "view")],
            ["user_id", "event_type"],
        )
        base.write.parquet(src)

        got: list = []

        def sink(df, _eid):
            got.extend((r["user_id"], r["event_type"], r["n"]) for r in df.collect())

        def run_once():
            stream = spark.readStream.schema(base.schema).parquet(src)
            q = (
                stateful_event_type_counts(stream)
                .writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run_once()
        assert sorted(got) == [("u1", "click", 2), ("u1", "view", 1), ("u2", "view", 1)]

        # restart: new batch touches ONLY u1/click — its count continues
        # from map state; untouched (u1, view) and u2 are NOT re-emitted
        spark.createDataFrame([("u1", "click")], ["user_id", "event_type"]).write.mode(
            "append"
        ).parquet(src)
        got.clear()
        run_once()
        assert got == [("u1", "click", 3)]
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState's Python worker needs google.protobuf (absent in container)",
)
def test_stateful_session_close_timers(spark, tmp_path):
    """transformWithState TIMERS: a session closes ON IDLENESS — the
    closed-session row is emitted by handleExpiredTimer in a batch with
    NO events for that key. Phase A ingests and stops before the gap
    (nothing emitted); the timers live in the CHECKPOINT, so the
    restarted query fires them once the gap has elapsed — even though
    it never receives another input row. (availableNow is unsuitable
    here: with processing-time timers the query keeps scheduling empty
    batches, so both phases run a continuous trigger and stop
    explicitly.)"""
    import time as _time

    from frontpage_spark.incremental import stateful_session_close

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = str(tmp_path / "src")
        chk = str(tmp_path / "chk")
        base = spark.createDataFrame(
            [("u1", 100), ("u1", 140), ("u2", 200)], ["user_id", "ts_long"]
        )
        base.write.parquet(src)

        closed: list = []

        def sink(df, _eid):
            closed.extend(
                (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
                for r in df.collect()
            )

        def start():
            stream = spark.readStream.schema(base.schema).parquet(src)
            return (
                stateful_session_close(stream, gap_seconds=12)
                .writeStream.foreachBatch(sink)
                .outputMode("append")
                .option("checkpointLocation", chk)
                .trigger(processingTime="500 milliseconds")
                .start()
            )

        # phase A: ingest, stop BEFORE the gap elapses
        q = start()
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if sum(p["numInputRows"] for p in q.recentProgress) >= 3:
                break
            _time.sleep(0.3)
        q.stop()
        q.awaitTermination(60)
        assert closed == []  # sessions still open: nothing emitted on arrival

        _time.sleep(13)  # gap elapses while NO query is running
        # phase B: restart from the checkpoint. A restarted query only
        # schedules batches when the source has data, so feed ONE event
        # for an UNRELATED key — u1/u2 close purely via their
        # checkpoint-persisted timers, in a batch containing no input
        # for either key.
        spark.createDataFrame([("u3", 900)], ["user_id", "ts_long"]).write.mode(
            "append"
        ).parquet(src)
        q = start()
        deadline = _time.time() + 90
        while _time.time() < deadline and len(closed) < 2:
            _time.sleep(0.5)
        q.stop()
        q.awaitTermination(60)
        assert sorted(closed) == [("u1", 100, 140, 2), ("u2", 200, 200, 1)]
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_streaming_partitioned_parquet_file_sink(spark, tmp_path):
    """Native file sink: readStream → writeStream.format('parquet')
    .partitionBy(...) with a checkpoint. The sink's transaction log
    (_spark_metadata) plus source offsets give exactly-once files; a
    restart with the same checkpoint re-reads and re-writes NOTHING,
    and new source files land in the right partition directories."""
    import os
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    base = spark.createDataFrame(
        [(1, "click"), (2, "view"), (3, "click")], ["event_id", "event_type"]
    )
    base.write.parquet(src)

    def run_once():
        q = (
            spark.readStream.schema(base.schema)
            .parquet(src)
            .writeStream.format("parquet")
            .partitionBy("event_type")
            .option("path", out)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 3
    assert sorted(os.listdir(out + "/event_type=click")) != []  # hive layout

    # restart: no duplication
    run_once()
    assert spark.read.parquet(out).count() == 3

    # new data: appended once, partition-pruned reads work
    spark.createDataFrame([(4, "purchase")], ["event_id", "event_type"]).write.mode(
        "append"
    ).parquet(src)
    run_once()
    after = spark.read.parquet(out)
    assert after.count() == 4
    plan = (
        after.filter(F.col("event_type") == "purchase")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert after.filter(F.col("event_type") == "purchase").count() == 1


def test_stream_near_dup_dedup(spark, tmp_path):
    """Streaming near-dup membership dedup: a later micro-batch's
    near-duplicate of earlier output is dropped (signature-store
    membership), fresh docs pass; the store survives a RESTART with
    the same checkpoint; and a full replay over the same files
    (fresh checkpoint, epoch-partition overwrite) reproduces the
    identical survivor set instead of doubling it."""
    from frontpage_spark.incremental import stream_near_dup_dedup

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    sig = str(tmp_path / "sig")
    chk = str(tmp_path / "chk")
    base = "the quick brown fox jumps over the lazy dog again and again today"
    b1 = spark.createDataFrame(
        [(1, base), (2, "completely different text about spark shuffles and joins")],
        ["doc_id", "text"],
    )
    # near-dup of doc 1 (one trailing word changed -> most shingles
    # shared -> some band minhash collides) + one fresh doc
    b2 = spark.createDataFrame(
        [(3, base[:-5] + "night"), (4, "fresh unrelated corpus entry mentioning parquet files")],
        ["doc_id", "text"],
    )
    b1.coalesce(1).write.parquet(src)
    q = stream_near_dup_dedup(spark, src, out, sig, chk, schema=b1.schema)
    q.awaitTermination(120)
    b2.coalesce(1).write.mode("append").parquet(src)
    q = stream_near_dup_dedup(spark, src, out, sig, chk, schema=b1.schema)
    q.awaitTermination(120)

    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 2, 4}, kept  # 3 = near-dup of history, dropped
    # signature store holds ALL ingested signatures (dropped docs'
    # buckets must keep claiming future larger-id arrivals)
    sig_ids = {r["doc_id"] for r in spark.read.parquet(sig).collect()}
    assert sig_ids == {1, 2, 3, 4}
    # replay from scratch (fresh checkpoint, same files): the
    # epoch-partitioned dynamic overwrite reproduces, never duplicates
    q = stream_near_dup_dedup(
        spark, src, out, sig, str(tmp_path / "chk2"), schema=b1.schema,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    kept2 = [r["doc_id"] for r in spark.read.parquet(out).collect()]
    assert sorted(kept2) == [1, 2, 4], kept2


def test_stream_near_dup_dedup_batching_independent(spark, tmp_path):
    """Min-claimant survivor contract: reprocessing the same source
    files from a FRESH checkpoint with DIFFERENT trigger batching
    (one-file micro-batches vs the whole backlog in a single
    availableNow batch) yields the identical survivor set — including
    intra-batch near-dups inside the bootstrap backlog, and with
    schema omitted (inferred from a batch read)."""
    from frontpage_spark.incremental import stream_near_dup_dedup

    src = str(tmp_path / "src")
    base = "the quick brown fox jumps over the lazy dog again and again today"
    spark.createDataFrame(
        [(1, base), (2, "completely different text about spark shuffles and joins")],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [(3, base[:-5] + "night"), (4, "fresh unrelated corpus entry mentioning parquet files")],
        ["doc_id", "text"],
    ).coalesce(1).write.mode("append").parquet(src)

    def run(tag, **kw):
        out = str(tmp_path / f"out_{tag}")
        q = stream_near_dup_dedup(
            spark, src, out, str(tmp_path / f"sig_{tag}"),
            str(tmp_path / f"chk_{tag}"), **kw,
        )
        q.awaitTermination(120)
        return sorted(r["doc_id"] for r in spark.read.parquet(out).collect())

    fine = run("fine", max_files_per_trigger=1)       # 2 micro-batches
    coarse = run("coarse")                            # 1 backlog batch
    assert fine == coarse == [1, 2, 4], (fine, coarse)


def test_compact_signature_store(spark, tmp_path):
    """Compaction folds history epochs into one claimant row per
    (band, minhash) bucket under epoch=-1, losslessly for every future
    dedup decision: a near-dup arriving after compaction is dropped
    exactly as it would have been against the raw epoch store."""
    from frontpage_spark.incremental import (
        compact_signature_store,
        stream_near_dup_dedup,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    sig = str(tmp_path / "sig")
    base = "the quick brown fox jumps over the lazy dog again and again today"
    spark.createDataFrame(
        [(1, base), (2, "completely different text about spark shuffles and joins")],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [(4, "fresh unrelated corpus entry mentioning parquet files")],
        ["doc_id", "text"],
    ).coalesce(1).write.mode("append").parquet(src)
    q = stream_near_dup_dedup(
        spark, src, out, sig, str(tmp_path / "chk"), max_files_per_trigger=1
    )
    q.awaitTermination(120)
    raw_rows = spark.read.parquet(sig).count()
    n = compact_signature_store(spark, sig, upto_epoch=10_000)
    store = spark.read.parquet(sig)
    assert store.filter("epoch != -1").count() == 0
    assert n == store.count() <= raw_rows
    # buckets keep their MIN claimant and nothing else
    assert store.groupBy("band", "minhash").count().filter("count > 1").count() == 0
    # a near-dup of doc 1 arriving AFTER compaction is still dropped
    spark.createDataFrame(
        [(9, base[:-5] + "night")], ["doc_id", "text"]
    ).coalesce(1).write.mode("append").parquet(src)
    q = stream_near_dup_dedup(
        spark, src, out, sig, str(tmp_path / "chk"), max_files_per_trigger=1
    )
    q.awaitTermination(120)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1, 2, 4], kept
    # idempotent: compacting a compacted store is a no-op
    assert compact_signature_store(spark, sig, upto_epoch=10_000) >= n


def test_stream_near_dup_content_tiebreak_id_reassignment(spark, tmp_path):
    """content_tiebreak=True makes the survivor set a pure function of
    the ingested CONTENT: reprocessing the same texts under a
    completely different id assignment (reversed ids, as a re-crawl
    with a reset SERIAL key would produce) converges to the same
    survivor TEXTS — the raw-id min-claimant rule would not (VERDICT
    r6 item 4)."""
    from frontpage_spark.incremental import stream_near_dup_dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    texts = [
        base,
        base[:-5] + "night",  # near-dup of base
        "completely different text about spark shuffles and joins",
        "fresh unrelated corpus entry mentioning parquet files",
    ]

    def run(tag, ids):
        src = str(tmp_path / f"src_{tag}")
        out = str(tmp_path / f"out_{tag}")
        rows = list(zip(ids, texts))
        spark.createDataFrame(rows[:2], ["doc_id", "text"]).coalesce(1).write.parquet(src)
        spark.createDataFrame(rows[2:], ["doc_id", "text"]).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = stream_near_dup_dedup(
            spark, src, out, str(tmp_path / f"sig_{tag}"),
            str(tmp_path / f"chk_{tag}"), content_tiebreak=True,
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)
        return sorted(r["text"] for r in spark.read.parquet(out).collect())

    a = run("fwd", [1, 2, 3, 4])
    b = run("rev", [4, 3, 2, 1])
    assert a == b, (a, b)
    # exactly one of the two near-dup texts survives in both runs
    assert len(a) == 3 and sum(t.startswith("the quick") for t in a) == 1


def test_claimant_probe_reads_only_matching_buckets(spark, tmp_path):
    """The signature store is hive-partitioned (epoch, bkt) and the
    claimant probe prunes to the batch's buckets: a probe restricted
    to a bkt subset must list NO files from other bkt directories
    (VERDICT r6 item 4 — probe I/O follows the batch, not the store)."""
    from frontpage_spark.incremental import (
        SIG_STORE_BUCKETS,
        read_claimant_history,
        stream_near_dup_dedup,
    )

    src = str(tmp_path / "src")
    sig = str(tmp_path / "sig")
    rows = [(i, f"document number {i} with some words making shingles {i * 7}") for i in range(40)]
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(src)
    q = stream_near_dup_dedup(
        spark, src, str(tmp_path / "out"), sig, str(tmp_path / "chk")
    )
    q.awaitTermination(120)
    store_bkts = {
        r["bkt"] for r in spark.read.parquet(sig).select("bkt").distinct().collect()
    }
    assert len(store_bkts) > 1, "fixture must spread over multiple buckets"
    probe_bkts = sorted(store_bkts)[:1]
    hist = read_claimant_history(spark, sig, before_epoch=10_000, bkts=probe_bkts)
    # input_file_name() reports the files the EXECUTED scan actually
    # read — i.e. after partition pruning (inputFiles() lists the
    # whole unpruned relation and would not prove anything)
    files = [
        r["f"]
        for r in hist.select(F.input_file_name().alias("f")).distinct().collect()
    ]
    assert files, "pruned probe still reads its matching bucket"
    assert all(f"bkt={probe_bkts[0]}/" in f for f in files), files
    # and the probe sees exactly that bucket's rows
    assert {r["bkt"] for r in hist.select("bkt").distinct().collect()} == set(probe_bkts)
    assert 0 < len(files) < len(spark.read.parquet(sig).inputFiles())
    assert SIG_STORE_BUCKETS >= len(store_bkts)


def test_stream_near_dup_in_stream_compaction(spark, tmp_path):
    """compact_every wires the store compactor into the batch loop
    (serialized with the probes — the ADVICE r6 coordination fix):
    after a multi-batch run, history epochs strictly below the last
    compaction point are folded into epoch=-1, survivors are identical
    to an uncompacted run, and later near-dups are still dropped."""
    from frontpage_spark.incremental import stream_near_dup_dedup

    src = str(tmp_path / "src")
    base = "the quick brown fox jumps over the lazy dog again and again today"
    batches = [
        [(1, base), (2, "completely different text about spark shuffles and joins")],
        [(4, "fresh unrelated corpus entry mentioning parquet files")],
        [(9, base[:-5] + "night")],  # near-dup of doc 1, arrives last
    ]
    for b in batches:
        spark.createDataFrame(b, ["doc_id", "text"]).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run(tag, **kw):
        out = str(tmp_path / f"out_{tag}")
        sig = str(tmp_path / f"sig_{tag}")
        q = stream_near_dup_dedup(
            spark, src, out, sig, str(tmp_path / f"chk_{tag}"),
            max_files_per_trigger=1, **kw,
        )
        q.awaitTermination(120)
        kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
        epochs = {r["epoch"] for r in spark.read.parquet(sig).select("epoch").distinct().collect()}
        return kept, epochs

    plain_kept, plain_epochs = run("plain")
    comp_kept, comp_epochs = run("comp", compact_every=1)
    assert comp_kept == plain_kept == [1, 2, 4]
    assert -1 not in plain_epochs
    # epochs below the last compaction point were folded into -1
    assert -1 in comp_epochs and comp_epochs < plain_epochs | {-1}

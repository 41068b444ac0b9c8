"""Incremental / streaming consumption (SURVEY.md §2.6).

The reference's ETL is a polled micro-batch loop: every cycle it
re-discovers unprocessed rows with a `NOT IN` anti-join and LIMIT 50
(etl_process.py:294-347). Two Spark forms:

- ``delta_scan``: the literal batch semantics — left_anti join against
  the sink's keys, bounded batch. (left_anti is NULL-safe where SQL
  `NOT IN` is not — divergence documented in SURVEY.md §7.4.3.)
- ``stream_pipeline``: the idiomatic form — Structured Streaming with
  checkpoint offsets, which *replaces* the anti-join rediscovery
  entirely (each row is read once; no per-cycle rescan of the sink).
  foreachBatch applies the same batch body and a durable dead-letter
  channel (the reference's was an in-memory set, lost on restart —
  etl_process.py:292).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from .plans import size_gate


def delta_scan(
    raw: DataFrame,
    processed_keys: DataFrame,
    key: str = "uniq_id",
    batch_size: int | None = 50,
    order_col: str | None = None,
) -> DataFrame:
    """S8 — rows in raw whose key is not yet in the sink, bounded batch.

    A LIMIT without ordering is nondeterministic under parallelism (the
    reference inherited whatever Postgres returned); pass ``order_col``
    for reproducible batches.
    """
    delta = raw.join(processed_keys.select(key).distinct(), key, "left_anti")
    if order_col is not None:
        delta = delta.orderBy(order_col)
    if batch_size is not None:
        delta = delta.limit(batch_size)
    return delta


def stream_pipeline(
    spark: SparkSession,
    source_path: str,
    checkpoint_path: str,
    batch_fn: Callable[[DataFrame, int], None],
    schema=None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """ST1 — the polling loop as a Structured Streaming file source.

    ``batch_fn(df, epoch_id)`` receives each micro-batch (the EP2 body:
    projection → enrich → dedup-write → dead-letter on failure).
    ``available_now=True`` drains the backlog and stops (the testable
    mode); otherwise a processingTime trigger mirrors the reference's
    600 s poll (etl_process.py:346-347) with checkpointed offsets in
    place of the anti-join rescan.
    """
    reader = spark.readStream
    if schema is not None:
        reader = reader.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_path)
    writer = (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds or 600} seconds")
    return writer.start()


def stream_dedup(
    stream: DataFrame,
    key: str = "uniq_id",
    event_time_col: str = "scrape_date",
    watermark: str = "1 hour",
) -> DataFrame:
    """ST2 (bounded-state form) — streaming duplicate drop with
    ``dropDuplicatesWithinWatermark``: a key is deduplicated against
    every key seen within the watermark horizon, and the per-key state
    is EVICTED once the watermark passes it.

    This is the 100 TB companion to the sink-side anti-join dedup
    (pipeline.dedup_new_keys inside foreachBatch): the anti-join gives
    exactly-once against the *whole* sink history but rescans its key
    set each batch; this gives exactly-once within the late-data horizon
    with O(active-horizon keys) state, no sink rescan. Use both — this
    upstream (cheap, absorbs crawler re-fetch storms), the anti-join at
    the sink boundary (durable).

    State lives in the checkpoint, so dedup survives query restarts
    (test_incremental proves the restart path).
    """
    return stream.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark([key])


SIG_STORE_BUCKETS = 16
"""Hive sub-partition count of the near-dup signature store: every
write lands under epoch=N/bkt=B with B = xxhash64(band, minhash) mod
this constant, so the per-batch claimant probe partition-prunes to the
buckets the batch actually touches (VERDICT r6 item 4). A module
constant, NOT a parameter: a writer/prober mismatch would silently
prune away matching claimants (missed duplicates)."""


def _sig_bkt():
    """Partition bucket of a signature row — equal (band, minhash)
    keys always share a bucket, so pruning to the batch's buckets is
    lossless for the claimant probe."""
    return F.pmod(F.xxhash64("band", "minhash"), F.lit(SIG_STORE_BUCKETS)).cast("int")


def near_dup_batch_dups(
    sigs: DataFrame,
    hist: DataFrame | None,
    id_col: str = "doc_id",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """The deterministic per-batch core of ``stream_near_dup_dedup``:
    duplicate ids of ONE micro-batch under the min-claimant rule — a
    doc is a duplicate iff any of its (band, minhash) buckets contains
    a smaller-ranked claimant, in the batch itself (per-bucket min) or
    in the signature history (inequality left-semi on the equi keys —
    both sides shuffle on (band, minhash) only, no pair generation).
    ``sigs``/``hist``: (id_col, band, minhash) rows. Exposed as its own
    function so the batch form gets a DuckDB differential oracle
    (``stream_near_dup_batch_core`` in queries.py, VERDICT r5 item 6)
    while the streaming loop runs the identical code.

    ``tiebreak_col``: optional CONTENT-derived column present on both
    sides (e.g. xxhash64 of the text). When set, the claimant rank is
    the struct (tiebreak, id) instead of the raw id, making the
    survivor set independent of id ASSIGNMENT: a re-crawl that hands
    out different ids to the same texts converges to the same survivor
    CONTENT (VERDICT r6 item 4 — the raw-id rule needs ids monotone
    with arrival). Struct comparison is lexicographic, so the id still
    breaks exact-hash ties deterministically."""
    rank = (
        F.struct(F.col(tiebreak_col), F.col(id_col))
        if tiebreak_col
        else F.col(id_col)
    )
    batch_claim = sigs.groupBy("band", "minhash").agg(F.min(rank).alias("_claimant"))
    dup_intra = (
        sigs.join(batch_claim, ["band", "minhash"])
        .filter(F.col("_claimant") < rank)
        .select(id_col)
    )
    if hist is None:
        return dup_intra.distinct()
    if tiebreak_col:
        h_rank = F.struct(F.col(f"h.{tiebreak_col}"), F.col(f"h.{id_col}"))
        s_rank = F.struct(F.col(f"s.{tiebreak_col}"), F.col(f"s.{id_col}"))
    else:
        h_rank, s_rank = F.col(f"h.{id_col}"), F.col(f"s.{id_col}")
    dup_hist = (
        sigs.alias("s")
        .join(
            hist.alias("h"),
            (F.col("s.band") == F.col("h.band"))
            & (F.col("s.minhash") == F.col("h.minhash"))
            & (h_rank < s_rank),
            "left_semi",
        )
        .select(id_col)
    )
    return dup_intra.union(dup_hist).distinct()


def read_claimant_history(
    spark: SparkSession, sig_dir: str, before_epoch: int, bkts: list[int] | None = None
) -> DataFrame:
    """The signature-store side of the per-batch claimant probe:
    epochs strictly below ``before_epoch`` (the compacted fold sits at
    epoch=-1, which always qualifies), partition-pruned to ``bkts``
    (the batch's touched buckets — equal (band, minhash) keys share a
    bucket, so the prune is lossless). ``ignoreMissingFiles`` tolerates
    an EXTERNAL compaction deleting folded epoch directories between
    listing and scan — safe because compaction writes the epoch=-1
    fold BEFORE deleting, so claimant facts are never lost; in-stream
    compaction (``compact_every``) is serialized with batches and
    never races at all."""
    hist = (
        spark.read.option("ignoreMissingFiles", "true")
        .parquet(sig_dir)
        .filter(F.col("epoch") < before_epoch)
    )
    if bkts is not None:
        hist = hist.filter(F.col("bkt").isin([int(b) for b in bkts]))
    return hist


def stream_near_dup_dedup(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    sig_dir: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    schema=None,
    max_files_per_trigger: int | None = None,
    content_tiebreak: bool = False,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Streaming NEAR-dup dedup for a continuously-ingested corpus —
    the streaming form of ``incremental_corpus_dedup``: each
    micro-batch drops documents that share a MinHash band signature
    with a SMALLER doc id (min-claimant rule), appends the survivors
    to ``out_dir`` and ALL batch signatures to ``sig_dir``.

    Survivor contract (batching-independent): a document survives iff
    it is the minimum id in EVERY (band, minhash) bucket it belongs
    to, over everything ingested so far — claimants are checked both
    against the persistent store (inequality semi-join, no pair
    generation, cost |batch|·bands lookups however large history
    grows) and WITHIN the batch (per-bucket min). Because dropped
    docs' signatures are stored too, the survivor set is a pure
    function of the ingested id set whenever ids are assigned
    monotonically with arrival (the reference's SERIAL key,
    scraper.py:153-156) — a fresh-checkpoint reprocess with ANY
    trigger batching (one giant availableNow backlog batch included)
    converges to the identical survivor set, and bootstrap ingestion
    dedups inside its own backlog.

    Replay idempotence WITHOUT an exactly-once sink: both writes are
    hive-partitioned by epoch and use dynamic partition overwrite, so
    a failure-replayed batch overwrites exactly its own partition; the
    claimant probe reads only ``epoch < current`` (partition-pruned),
    so a replay sees the identical prior-history state and reproduces
    the identical survivor set. A from-scratch reprocess should point
    at EMPTY out/sig dirs (content converges, but stale epochs from a
    previous run with different boundaries are not garbage-collected).

    The signature store is the durable 100 TB artifact. Every store
    write is hive-partitioned (epoch, bkt) with bkt =
    xxhash64(band, minhash) mod ``SIG_STORE_BUCKETS``, and the
    claimant probe partition-prunes to the buckets the batch touches
    (``read_claimant_history``) — so probe I/O follows the BATCH'S
    key spread, not store size. ``compact_every=N`` runs
    ``compact_signature_store`` inside the batch loop every N epochs —
    serialized with the probes it rewrites under (foreachBatch is
    sequential), which is the single-writer coordination the
    maintenance job requires (ADVICE r6).

    ``content_tiebreak=True`` replaces the raw-id claimant rank with
    (xxhash64(text), id): the survivor set becomes a pure function of
    the ingested CONTENT set, so a re-crawl that reassigns ids
    converges to the same survivor texts (the raw-id rule needs ids
    monotone with arrival — VERDICT r6 item 4). The store then also
    persists the content key (column ``__ck``)."""
    from .ext import dedup as _dedup

    if schema is None:
        # a parquet file-source readStream REQUIRES a schema unless
        # session-wide schemaInference is on — infer from a one-off
        # batch read instead of failing at start()
        try:
            schema = spark.read.parquet(source_path).schema
        except Exception as e:
            if "UNABLE_TO_INFER_SCHEMA" in str(e) or "Unable to infer" in str(e):
                raise ValueError(
                    f"stream_near_dup_dedup: source directory {source_path!r} "
                    "exists but holds no parquet yet (a normal bootstrap state "
                    "for a continuously-ingested corpus) — pass schema= "
                    "explicitly to start the stream against an empty source"
                    " (ADVICE r6)"
                ) from e
            raise

    tiebreak = "__ck" if content_tiebreak else None

    def process(batch: DataFrame, epoch_id: int) -> None:
        s = batch.sparkSession
        sigs = _dedup.minhash_signatures(
            batch.select(id_col, text_col), id_col, text_col, bands
        )
        if content_tiebreak:
            sigs = sigs.join(
                batch.select(id_col, F.xxhash64(text_col).alias("__ck")), id_col
            )
        sigs = sigs.withColumn("bkt", _sig_bkt()).persist()
        dup_ids = None
        try:
            # bounded driver data: <= SIG_STORE_BUCKETS ints — which
            # store buckets this batch can possibly collide with
            bkts = [r["bkt"] for r in sigs.select("bkt").distinct().collect()]
            try:
                hist = read_claimant_history(s, sig_dir, int(epoch_id), bkts)
            except Exception as e:
                # ONLY a missing store (first batch) may downgrade to
                # no-history; any other read failure must raise — a
                # swallowed transient error here would silently admit
                # near-dups AND append their signatures (permanent
                # contamination; the sources._measured/ADVICE-r4 rule)
                msg = str(e)
                no_store = (
                    "PATH_NOT_FOUND" in msg
                    or "Path does not exist" in msg
                    # deployment tooling may mkdir the store dir before
                    # the first batch: an EMPTY dir fails schema
                    # inference, which is still "no history yet"
                    or "UNABLE_TO_INFER_SCHEMA" in msg
                    or "Unable to infer schema" in msg
                )
                if not no_store:
                    raise
                hist = None
            dup_ids = near_dup_batch_dups(sigs, hist, id_col, tiebreak).persist()
            (
                batch.join(dup_ids, id_col, "left_anti")
                .withColumn("epoch", F.lit(int(epoch_id)))
                .write.partitionBy("epoch")
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .parquet(out_dir)
            )
            # ALL signatures persist — dropped docs' buckets still
            # claim future lower-ranked arrivals (min-claimant closure)
            (
                sigs.select(
                    id_col, *([tiebreak] if tiebreak else []), "band", "minhash"
                )
                .withColumn("epoch", F.lit(int(epoch_id)))
                .withColumn("bkt", _sig_bkt())
                .write.partitionBy("epoch", "bkt")
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .parquet(sig_dir)
            )
            if compact_every and int(epoch_id) > 0 and int(epoch_id) % compact_every == 0:
                # serialized with the probes (foreachBatch runs batches
                # sequentially) — the single-writer slot the compactor
                # documents; folds epochs strictly below the CURRENT
                # one, so a failure-replay of this epoch still sees the
                # identical claimant state
                compact_signature_store(s, sig_dir, int(epoch_id), id_col=id_col)
        finally:
            if dup_ids is not None:
                dup_ids.unpersist()
            sigs.unpersist()

    return stream_pipeline(
        spark, source_path, checkpoint_path, process, schema, max_files_per_trigger
    )


def compact_signature_store(
    spark: SparkSession, sig_dir: str, upto_epoch: int, id_col: str = "doc_id"
) -> int:
    """Maintenance job for ``stream_near_dup_dedup``'s signature store:
    fold every epoch partition BELOW ``upto_epoch`` into one
    (band, minhash) → min(id) claimant row per bucket, stored under the
    reserved partition ``epoch=-1``. Returns the compacted row count.

    Why: the store grows one row per (doc, band) forever, and the
    per-batch claimant probe scans all of history. Under the
    min-claimant rule the ONLY fact history contributes is the minimum
    id per bucket, so compaction is lossless for every future
    decision: dup iff min-claimant(bucket) < id, and min over the
    compacted row equals min over the raw rows. Bucket count (not
    corpus size) bounds the compacted store.

    Replay safety: epoch=-1 sorts below every real epoch, so the
    ``epoch < current`` probe keeps seeing the compacted history; only
    epochs strictly below ``upto_epoch`` are folded, so an in-flight
    replay of epoch e >= upto_epoch reads the identical claimant state
    it saw before compaction. Run it from the same single-writer
    maintenance slot that owns checkpoint cleanup — it rewrites
    partitions the streaming query only ever reads; passing
    ``compact_every`` to ``stream_near_dup_dedup`` wires it into the
    batch loop itself, which serializes it with every probe (ADVICE
    r6: readers are now fenced by construction, and the probe read
    additionally sets ignoreMissingFiles for out-of-contract external
    races). The fold keeps the (epoch, bkt) hive layout so the probe's
    bucket pruning keeps working on compacted history, and preserves
    the content-tiebreak column when the store carries one (claimant
    rank = min struct(__ck, id), matching ``near_dup_batch_dups``).
    The folded-epoch directory removal uses local-fs listing (this
    deployment's store); on an object store swap it for the Hadoop
    FileSystem API."""
    import os
    import shutil

    store = spark.read.parquet(sig_dir)
    hist = store.filter((F.col("epoch") < upto_epoch) & (F.col("epoch") != -1))
    prior = store.filter(F.col("epoch") == -1).drop("epoch", "bkt")
    rank_cols = (["__ck"] if "__ck" in store.columns else []) + [id_col]
    folded = (
        hist.drop("epoch", "bkt")
        .unionByName(prior)
        .groupBy("band", "minhash")
        .agg(F.min(F.struct(*rank_cols)).alias("_m"))
        .select(*[F.col(f"_m.{c}").alias(c) for c in rank_cols], "band", "minhash")
        .withColumn("epoch", F.lit(-1))
        .withColumn("bkt", _sig_bkt())
    )
    # materialize BEFORE writing: the fold reads the same directory the
    # write overwrites, and Spark (correctly) refuses a plan that reads
    # from its own overwrite target — the checkpoint cuts that lineage.
    # plans.pin (reliable checkpoint, r9): the cut fold survives an
    # executor loss between here and the write, instead of failing the
    # batch and leaning on the replay contract
    from .plans import pin

    folded = pin(folded)
    # write the fold FIRST (dynamic overwrite of epoch=-1 only), then
    # drop the folded epoch dirs — a crash in between leaves duplicate
    # claimant rows, which min() makes harmless
    folded.write.partitionBy("epoch", "bkt").option(
        "partitionOverwriteMode", "dynamic"
    ).mode("overwrite").parquet(sig_dir)
    root = sig_dir[len("file:"):] if sig_dir.startswith("file:") else sig_dir
    for name in os.listdir(root):
        if name.startswith("epoch=") and name != "epoch=-1":
            try:
                e = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if e < upto_epoch:
                shutil.rmtree(os.path.join(root, name))
    return spark.read.parquet(sig_dir).filter(F.col("epoch") == -1).count()


def windowed_counts(events: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes") -> DataFrame:
    """ST6 extension — tumbling-window counts with a watermark for late
    data. Works on both batch and streaming DataFrames."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return df.groupBy(F.window("ts", window).alias("w"), "event_type").agg(
        F.count("*").alias("n"), F.sum("value").alias("total_value")
    )


def stateful_user_counts(stream: DataFrame) -> DataFrame:
    """ST-extension — custom stateful streaming operator via
    applyInPandasWithState: a per-user running event count + max-ts
    watermark that survives across micro-batches (the kind of state the
    reference kept in its in-memory dead-letter set, made durable and
    partitioned).

    State is keyed by user_id (shuffle key), one row of state per user;
    Arrow-batched on both sides. Works only on streaming DataFrames.

    No state timeout (this pyspark build's worker crashes on
    ``setTimeoutDuration``): state lives for the query lifetime, which
    is fine for bounded keyspaces; an unbounded 100 TB keyspace needs a
    TTL'd state store.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("max_ts", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("max_ts", LongType())]
    )

    def update(key, pdfs, state: GroupState):
        n, max_ts = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                max_ts = max(max_ts, int(pdf["ts_long"].max()))
        state.update((n, max_ts))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "max_ts": [max_ts]})

    prepared = stream.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_timestamp("ts").alias("ts_long"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stateful_seen_filter(stream: DataFrame, key: str = "uniq_id") -> DataFrame:
    """ST-extension — first-seen filter via ``transformWithStateInPandas``
    (Spark 4's arbitrary-state operator, the successor to
    applyInPandasWithState): emit each key's FIRST row only, remember
    the key in a per-key ValueState.

    This is the third point on the streaming-dedup spectrum:

    - ``pipeline.dedup_new_keys`` (foreachBatch anti-join): exact
      against all history, rescans the sink keys per batch;
    - ``stream_dedup`` (dropDuplicatesWithinWatermark): bounded state,
      but eviction is tied to EVENT-TIME watermark progress;
    - this: explicit per-key state, independent of event time — the
      shape for keyspaces where event time is unreliable (crawler
      re-fetches). State is never evicted and lives in the
      checkpointed state store (use the RocksDB provider at scale —
      disk-backed, changelog-checkpointed; per-key state here is a
      single long).

    Runtime dependency: transformWithState's Python driver worker and
    task workers drive the JVM state server over a protobuf socket
    protocol, so they need ``google.protobuf`` importable. The test
    env satisfies this via ``tools/pbshim/sitecustomize.py`` (system
    pure-Python runtime + a one-minor version-gate relaxation), wired
    through PYTHONPATH in ``tests/conftest.py`` so forked workers
    apply it at interpreter startup; on boxes without any protobuf the
    test falls back to its skipif.

    Also counts how many duplicates each first row absorbed so far is
    NOT possible in this emit-once shape (the first row is already
    out) — that variant is ``stateful_user_counts``.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [StructField(key, StringType()), StructField("n_bytes", LongType())]
    )

    class FirstSeen(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getValueState(
                "seen", StructType([StructField("one", LongType())])
            )

        def handleInputRows(self, key_tuple, rows, timer_values):
            if not self._seen.exists():
                for pdf in rows:
                    if len(pdf):
                        first = pdf.iloc[:1]
                        self._seen.update((1,))
                        yield pd.DataFrame(
                            {
                                key: [str(first[key].iloc[0])],
                                "n_bytes": [int(first["n_bytes"].iloc[0])],
                            }
                        )
                        break
            else:  # drain the iterator; nothing to emit
                for _ in rows:
                    pass

        def close(self) -> None:
            pass

    prepared = stream.select(F.col(key).cast("string").alias(key), F.col("n_bytes").cast("long").alias("n_bytes"))
    return prepared.groupBy(key).transformWithStateInPandas(
        FirstSeen(), out_schema, "append", "none"
    )


def stateful_event_type_counts(
    stream: DataFrame,
    key: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """ST-extension — per-key per-event-type running counts in a
    transformWithState MAP STATE: one (event_type → count) entry per
    observed type under each key, updated incrementally and re-emitted
    for the types touched this batch ("update" semantics).

    Why MapState and not a ValueState holding a dict: the state store
    indexes map entries individually, so a batch that touches one
    event type reads/writes ONE entry — a serialized-dict ValueState
    would round-trip the whole map per key per batch, which at
    100 TB-scale keyspaces (millions of keys x dozens of types) is the
    difference between point lookups and full-blob churn. Completes
    executed coverage of the arbitrary-state family: ValueState
    (`stateful_seen_filter`), timers (`stateful_session_close`), map
    state (here).

    Output per batch: (key, event_type, n) for every (key, type)
    with input in that batch, n = the all-time running count."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    key_col = key
    out_schema = StructType(
        [
            StructField(key, StringType()),
            StructField(type_col, StringType()),
            StructField("n", LongType()),
        ]
    )

    class TypeCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState(
                "counts",
                StructType([StructField("t", StringType())]),
                StructType([StructField("n", LongType())]),
            )

        def handleInputRows(self, key, rows, timerValues):
            batch: dict = {}
            for pdf in rows:
                for t, c in pdf[type_col].value_counts().items():
                    batch[str(t)] = batch.get(str(t), 0) + int(c)
            if not batch:
                return
            out_t, out_n = [], []
            for t, c in sorted(batch.items()):
                prev = (
                    self._counts.getValue((t,))[0]
                    if self._counts.containsKey((t,))
                    else 0
                )
                total = prev + c
                self._counts.updateValue((t,), (total,))
                out_t.append(t)
                out_n.append(total)
            yield pd.DataFrame(
                {key_col: [str(key[0])] * len(out_t), type_col: out_t, "n": out_n}
            )

        def close(self) -> None:
            pass

    prepared = stream.select(
        F.col(key).cast("string").alias(key), F.col(type_col).cast("string").alias(type_col)
    )
    return prepared.groupBy(key).transformWithStateInPandas(
        TypeCounts(), out_schema, "update", "none"
    )


def stateful_session_close(
    stream: DataFrame,
    gap_seconds: int = 2,
    key: str = "user_id",
    ts_col: str = "ts_long",
) -> DataFrame:
    """ST-extension — idle-timeout session CLOSE via transformWithState
    TIMERS: per key, accumulate (start, end, n) in a ValueState; every
    batch re-arms a processing-time timer at now + gap; when the timer
    fires (no activity for ``gap_seconds``), `handleExpiredTimer` EMITS
    the closed session and clears the state.

    This is the arbitrary-state shape the window/applyInPandasWithState
    ladder cannot express: output is produced ON IDLENESS, not on
    arrival — the session row appears in the batch after the gap
    elapses, with no event for that key in it. (session_window aggs
    emit on the next event or watermark progress of the SAME key's
    partition; GroupStateTimeout gives a per-key timeout but fires
    only when applyInPandasWithState is invoked, conflating timeout
    handling with input handling. Timers are first-class here:
    registered in the state store, fired by the engine, delivered to a
    dedicated callback.) Timers persist in the checkpoint, so a session
    left open when a query stops closes on the first batch after
    restart — the restart path the test drives.

    Scale: state is 3 longs per OPEN key; timers are engine-managed
    per-key entries in the same RocksDB store; each batch touches only
    keys with input plus keys whose timers expired.

    Output: (key, session_start, session_end, n_events) — closed
    sessions only.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [
            StructField(key, StringType()),
            StructField("session_start", LongType()),
            StructField("session_end", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    gap_ms = gap_seconds * 1000
    key_col = key

    class SessionClose(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._sess = handle.getValueState(
                "sess",
                StructType(
                    [
                        StructField("start", LongType()),
                        StructField("end", LongType()),
                        StructField("n", LongType()),
                    ]
                ),
            )

        def handleInputRows(self, key, rows, timerValues):
            start, end, n = (
                self._sess.get() if self._sess.exists() else (None, None, 0)
            )
            for pdf in rows:
                if len(pdf):
                    lo, hi = int(pdf[ts_col].min()), int(pdf[ts_col].max())
                    start = lo if start is None else min(start, lo)
                    end = hi if end is None else max(end, hi)
                    n += len(pdf)
            if n:
                self._sess.update((start, end, n))
                # re-arm: drop any previous timer so exactly one is live
                for t in list(self._handle.listTimers()):
                    self._handle.deleteTimer(t)
                self._handle.registerTimer(
                    timerValues.getCurrentProcessingTimeInMs() + gap_ms
                )
            return iter([])

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if self._sess.exists():
                start, end, n = self._sess.get()
                self._sess.clear()
                yield pd.DataFrame(
                    {
                        key_col: [str(key[0])],
                        "session_start": [start],
                        "session_end": [end],
                        "n_events": [n],
                    }
                )

        def close(self) -> None:
            pass

    prepared = stream.select(
        F.col(key).cast("string").alias(key), F.col(ts_col).cast("long").alias(ts_col)
    )
    return prepared.groupBy(key).transformWithStateInPandas(
        SessionClose(), out_schema, "append", "processingTime"
    )


# Below this estimated input size the CLASSIC single-window sessionize
# wins outright (r10 A/B of both forced branches: classic 3.0x faster at
# sf0.1, 1.7x at organic sf1, 1.6x even at x10-zipf); above it a skewed
# key's history stops fitting one task's comfortable sort and the
# bounded-partition stitch is the only shape that survives. The gate
# sees only the scan estimate (plan metadata — computing a key
# histogram would cost a job), so the constant must be safe under the
# WORST skew a corpus below it can legally carry. Measured on a
# 30%-one-key corpus (r11 near-gate sweep, the gate's worst case;
# rerun with `tools/scale_probe.py --neargate`):
# classic wins 1.60x/1.36x/1.16x at 26/52/105 MB and LOSES (0.73x,
# hot-key task ~7 s) at 205 MB — crossover ~130-150 MB. 128 MiB sits
# under that with margin: below it classic wins even fully skewed
# (worst hot-key task ~3 s wall), above it the stitch is at worst
# ~parity on uniform mid-size inputs and strictly safer at scale.
_SESSIONIZE_STITCH_BYTES = 128 * 1024 * 1024


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for a frame — pure plan metadata (file
    sizes after pruning for scans), no job. None when unavailable."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return None


def _sessionize_classic(
    events: DataFrame, gap_seconds: int
) -> DataFrame:
    """The single-window form: one lag + one running sum over
    PARTITION BY user_id — one shuffle, one sort, unbeatable while
    every user's history fits one task (see the gate in
    :func:`sessionize`). NULL-ts rows: lag is NULL, so each opens its
    own session — the semantics the stitch reproduces bit-for-bit."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.unix_timestamp("ts")).over(w)
    new = F.when(
        prev.isNull() | ((F.unix_timestamp("ts") - prev) > gap_seconds), 1
    ).otherwise(0)
    return (
        events.withColumn("__n", new)
        .withColumn(
            "session_idx",
            F.sum("__n").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .drop("__n")
    )


def sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Session assignment (batch): a new session starts when the gap to
    the previous event of the same user exceeds ``gap_seconds``.
    Output: events + session_idx (1-based per user).

    Size-gated (r10, VERDICT r9 item 4) on Catalyst's input-size
    estimate (plan metadata, no job): the classic single-window at or
    below ``_SESSIONIZE_STITCH_BYTES`` (measured faster at every local
    SF, zipf included: a hot key's whole history is still one cheap
    task at those sizes), the stitch above, where a skewed key's
    history outgrows one task and only the bounded-partition form
    survives. An unknown size estimate takes the stitch (assume
    production scale). Both forms are BIT-EQUAL (equivalence test pins
    it, null-ts included); set ``_SESSIONIZE_STITCH_BYTES`` to force
    a branch.

    Skew-proof two-level form (r9 — the zipf probe showed the classic
    single ``lag + running-sum OVER (PARTITION BY user_id)`` puts a hot
    key's ENTIRE history into one window task; a bot/crawler id owning
    30% of a 100 TB event log is one task under that plan). Both
    windows here run within (user_id, time bucket) — partition size is
    bounded by per-key volume PER DAY however hot the key — and the
    buckets stitch exactly:

    - a bucket's first event compares its gap against the PREVIOUS
      non-empty bucket's last epoch, carried by a lag over the
      per-(user, bucket) rollup (one row per bucket, not per event);
    - ``session_idx`` = the in-bucket running sum of new-session flags
      plus the prefix sum of prior buckets' flag totals from the same
      rollup (the global_prefix_stats decomposition, applied per key).

    NULL timestamps (r10, ADVICE r9): the classic single-window form
    orders NULL ts first and flags EVERY row whose ``lag(ts)`` is NULL
    as a session start — so consecutive null-ts events each open their
    own session, and the first real-ts event after them opens another.
    The two-level form reproduces that exactly: null-ts rows share a
    per-user SENTINEL bucket (sorted first, same as the classic NULLS
    FIRST order, and join-safe where a NULL bucket id would not be),
    every non-first row there carries an explicit new-session flag
    (``__prev_in`` is NULL precisely because ``__ep`` is NULL), the
    bucket's first row rides the bucket-level offset as usual, and the
    following bucket's ``__prev_last`` is NULL so its first event
    starts a new session — bit-equal to the classic form for null,
    non-null, and mixed histories (pinned in
    ``test_sessionize_stitch_equals_single_window``).

    Bit-identical to the single-window form: the bucket id
    ``floor(epoch/bucket)`` is monotone non-decreasing in the
    (ts, event_id) order and ties share a bucket, so concatenating
    buckets in order reproduces the exact event sequence, gaps are the
    same epoch diffs, and the flag prefix sums telescope."""
    if size_gate("sessionize", _plan_size_bytes(events), _SESSIONIZE_STITCH_BYTES):
        return _sessionize_classic(events, gap_seconds)
    return _sessionize_stitch(events, gap_seconds)


def _sessionize_stitch(
    events: DataFrame, gap_seconds: int, bucket_seconds: int = 86_400
) -> DataFrame:
    """The bounded-partition two-level form — plan commentary and the
    stitch/equivalence argument live in :func:`sessionize`'s docstring
    (this split just keeps the gate readable)."""
    from pyspark.sql.window import Window

    ep = F.unix_timestamp("ts")
    # Null-ts rows share ONE sentinel bucket per user instead of a NULL
    # bucket id: it sorts before every real bucket (floor(epoch/bucket)
    # can never reach -2^62), mirroring the classic NULLS FIRST order,
    # and keeps the offset join a plain null-safe-free equi-join (an
    # equi-join on a NULL key would silently drop the rows).
    e = events.withColumn("__ep", ep).withColumn(
        "__bkt",
        F.coalesce(
            F.floor(F.col("__ep") / bucket_seconds), F.lit(-(1 << 62)).cast("long")
        ),
    )
    w_in = Window.partitionBy("user_id", "__bkt").orderBy("ts", "event_id")
    # NULL-ts branch: inside the NULL bucket __prev_in is NULL on every
    # row, which in the classic form means "session start" — flag every
    # NON-first row explicitly (__has_prev distinguishes the bucket's
    # first row without a second sort: lag(lit) shares the window spec).
    # Rows with a real __ep never take this branch (__ep.isNull() gates
    # it), so normal bucket-first rows still ride the bucket offset.
    inner_new = (
        F.when(
            F.col("__prev_in").isNotNull()
            & ((F.col("__ep") - F.col("__prev_in")) > gap_seconds),
            1,
        )
        .when(F.col("__ep").isNull() & F.col("__has_prev").isNotNull(), 1)
        .otherwise(0)
    )
    # ONE window pass over the events: the lag AND the running count of
    # IN-bucket session starts share the same window spec (one sort).
    # A bucket-first event is by construction the only one whose flag
    # the in-bucket running sum misses, and it contributes the same
    # 0/1 to EVERY row of its bucket — so it rides the bucket-level
    # offset instead, and no second event-sized window pass is needed.
    e2 = (
        e.withColumn("__prev_in", F.lag("__ep").over(w_in))
        .withColumn("__has_prev", F.lag(F.lit(1)).over(w_in))
        .withColumn("__inner_new", inner_new)
        .withColumn(
            "__inner_run",
            F.sum("__inner_new").over(
                w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    # ONE per-(user, bucket) rollup carries everything the stitch
    # needs: last epoch (max == last; epoch is monotone in the event
    # order), first epoch (min == first), and the count of in-bucket
    # session starts. Bucket-level lag + prefix sum then run over one
    # row per bucket — never per event — so the hot key costs
    # O(buckets), and ONE join ships a single offset column back:
    # __off = sessions opened in PRIOR buckets + this bucket's
    # first-event flag.
    w_b = Window.partitionBy("user_id").orderBy("__bkt")
    first_new = F.when(
        F.col("__prev_last").isNull()
        | ((F.col("__first") - F.col("__prev_last")) > gap_seconds),
        1,
    ).otherwise(0)
    roll = (
        e2.groupBy("user_id", "__bkt")
        .agg(
            F.max("__ep").alias("__last"),
            F.min("__ep").alias("__first"),
            F.sum("__inner_new").alias("__n_inner"),
        )
        .withColumn("__prev_last", F.lag("__last").over(w_b))
        .withColumn("__first_new", first_new)
        .withColumn(
            "__off",
            F.col("__first_new")
            + F.coalesce(
                F.sum(F.col("__n_inner") + F.col("__first_new")).over(
                    w_b.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("user_id", "__bkt", "__off")
    )
    return (
        e2.join(roll, ["user_id", "__bkt"])
        .withColumn("session_idx", F.col("__off") + F.col("__inner_run"))
        .drop(
            "__ep",
            "__bkt",
            "__prev_in",
            "__has_prev",
            "__inner_new",
            "__inner_run",
            "__off",
        )
    )

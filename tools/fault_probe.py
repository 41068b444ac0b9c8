"""Fault-injection probe (VERDICT r8 item 2): SIGKILL one executor JVM
mid-flight under ``local-cluster`` and assert the job still completes
with output identical to an undisturbed run.

Why this matters: every lineage/fault-tolerance claim in the engine
docstrings (e.g. kcenter's "a lost executor recomputes from the
parquet scan") had only ever executed inside one JVM, where executors
cannot die. ``local-cluster[2,2,2048]`` runs two REAL executor JVMs
under a standalone-style worker: killing one exercises the actual
recovery machinery — task retry (spark.task.maxFailures), stage
re-execution on FetchFailed (shuffle files die with the executor),
persisted-block recompute (persist keeps lineage), and reliable-
checkpoint re-read (plans.pin writes to a shared dir precisely so a
dead executor does NOT take fixpoint state with it, the way a
localCheckpoint block would).

Targets (one per recovery mechanism the engine relies on):

- ``kcenter_diverse_seeds`` — stateless K-pass design (r8): constant-
  depth lineage, recovery = recompute from the parquet scan.
- ``token_budget_selection`` — a ``plans.global_prefix_stats``
  consumer: keep()-persisted boundary relation; lost cached blocks
  recompute from lineage.
- ``pagerank_part_supplier`` FORCED onto the over-gate distributed
  branch (``graph._SMALL_EDGE_ROWS`` set to 1): per-round lineage cuts
  via ``plans.pin`` — reliable checkpoint, re-readable by the
  replacement executor.

Streaming targets (VERDICT r9 item 3 — kill an executor MID-MICRO-BATCH,
then restart the query from its checkpoint and compare the final tables
against an undisturbed run):

- ``stream_near_dup_dedup`` — foreachBatch with epoch-partitioned
  dynamic-overwrite sinks: the killed/replayed batch must overwrite
  exactly its own partition, so the survivor set and signature store
  equal the undisturbed run's (the min-claimant design's
  batching-independence claim, proven under failure).
- ``stateful_session_close`` — transformWithStateInPandas with RocksDB
  state + processing-time timers: per-batch state snapshots live in the
  CHECKPOINT, so the restarted query (on whichever executor) reloads
  state and still closes every session exactly once (the probe sink is
  an epoch-partitioned overwrite, so a replayed emission cannot double).

Method: run the target in a thread; once executor JVMs
(CoarseGrainedExecutorBackend) are up and the query is mid-flight,
SIGKILL one; join; compare the resulting frame against an undisturbed
run of the same plan in the same session (canonical sort, exact
values).

Usage: python tools/fault_probe.py [sf_dir] [--out FILE.md]
(defaults: /root/testdata/sf0.01, stdout only)
"""

from __future__ import annotations

import json
import os
import signal
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# transformWithState target needs the protobuf shim on the DRIVER worker
# path too (same activation tests/conftest.py does for pytest runs)
_PBSHIM = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pbshim")
import importlib.util as _ilu  # noqa: E402

_spec = _ilu.spec_from_file_location(
    "_pbshim_sitecustomize", os.path.join(_PBSHIM, "sitecustomize.py")
)
_pbshim_sitecustomize = _ilu.module_from_spec(_spec)
_spec.loader.exec_module(_pbshim_sitecustomize)
if _pbshim_sitecustomize._activate():
    os.environ["PYTHONPATH"] = (
        _PBSHIM + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)

import pandas as pd


def executor_pids() -> list[int]:
    """PIDs of live CoarseGrainedExecutorBackend JVMs (the per-executor
    processes local-cluster forks; absent in plain local mode)."""
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read().decode("utf-8", "replace")
        except OSError:
            continue
        if "CoarseGrainedExecutorBackend" in cmd:
            pids.append(int(p))
    return pids


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        df[c] = df[c].map(repr)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def run_with_kill(build, label: str, kill_after_s: float = 2.0) -> dict:
    """Execute ``build()`` (returns a pandas frame) twice: undisturbed,
    then with one executor SIGKILLed ``kill_after_s`` into the run.
    Returns a result record; raises nothing (errors land in the record
    so every target reports)."""
    rec: dict = {"target": label}
    t0 = time.time()
    expected = build()
    rec["clean_s"] = round(time.time() - t0, 2)

    result: dict = {}

    def victim():
        try:
            t = time.time()
            result["df"] = build()
            result["s"] = round(time.time() - t, 2)
        except Exception as e:  # surfaced in the probe record
            result["err"] = f"{type(e).__name__}: {str(e)[:400]}"

    th = threading.Thread(target=victim, daemon=True)
    th.start()
    time.sleep(kill_after_s)
    pids = executor_pids()
    if not pids:
        rec["killed_pid"] = None
        rec["note"] = "no executor JVMs found (not local-cluster?)"
    else:
        pid = sorted(pids)[0]
        os.kill(pid, signal.SIGKILL)
        rec["killed_pid"] = pid
        rec["n_executors_seen"] = len(pids)
    th.join(timeout=600)
    if th.is_alive():
        rec["status"] = "hang"
        return rec
    if "err" in result:
        rec["status"] = "job_failed"
        rec["error"] = result["err"]
        return rec
    got, want = canon(result["df"]), canon(expected)
    same = got.shape == want.shape and bool(got.eq(want).all().all())
    rec["status"] = "recovered_correct" if same else "recovered_WRONG"
    rec["rows"] = len(got)
    rec["killed_run_s"] = result["s"]
    return rec


def _kill_one_executor(after_s: float, done: threading.Event) -> dict:
    """Arm a delayed SIGKILL of one executor JVM; returns the record dict
    the killer thread fills in (killed_pid / n_executors_seen)."""
    rec: dict = {}

    def killer():
        time.sleep(after_s)
        if done.is_set():
            rec["note"] = "query finished before the kill fired"
            return
        pids = executor_pids()
        if not pids:
            rec["note"] = "no executor JVMs found (not local-cluster?)"
            return
        pid = sorted(pids)[0]
        os.kill(pid, signal.SIGKILL)
        rec["killed_pid"] = pid
        rec["n_executors_seen"] = len(pids)

    threading.Thread(target=killer, daemon=True).start()
    return rec


def _drain_stream(start_q, timeout_s: float = 600.0) -> int:
    """Run an availableNow/terminating streaming query to completion,
    RESTARTING from its checkpoint when the executor kill fails it.
    Returns the number of restarts needed (0 = task-level recovery
    absorbed the kill without failing the query)."""
    restarts = 0
    deadline = time.time() + timeout_s
    while True:
        q = start_q()
        try:
            finished = q.awaitTermination(max(5.0, deadline - time.time()))
        except Exception as e:
            if time.time() > deadline:
                raise
            restarts += 1
            print(f"#   stream attempt failed ({type(e).__name__}) — "
                  f"restarting from checkpoint (restart {restarts})", flush=True)
            try:
                q.stop()
            except Exception:
                pass
            time.sleep(3)  # let the worker re-register the executor
            continue
        if finished:
            return restarts
        # awaitTermination returns False on TIMEOUT with the query still
        # running (ADVICE r10): returning here would hand the caller an
        # INCOMPLETE sink and a spurious recovered_WRONG — stop the
        # query and surface the hang instead
        try:
            q.stop()
        except Exception:
            pass
        if time.time() > deadline:
            raise TimeoutError(
                f"stream did not terminate within {timeout_s:.0f}s "
                f"({restarts} restarts)"
            )
        time.sleep(3)  # pre-deadline timeout (clock-floor edge): retry


def probe_stream_near_dup(spark, work: str) -> dict:
    """SIGKILL an executor mid-micro-batch of stream_near_dup_dedup,
    restart from checkpoint, compare out/sig tables to an undisturbed
    run over the same source files."""
    from pyspark.sql import functions as F

    from frontpage_spark.incremental import stream_near_dup_dedup

    rec: dict = {"target": "stream_near_dup_dedup [foreachBatch, epoch-overwrite sinks]"}
    src = os.path.join(work, "nd_src")
    base = "the quick brown fox jumps over the lazy dog again and again today block"
    rows = []
    for i in range(400):
        if i % 5 == 0:
            rows.append((i, f"{base} variant {i % 7}"))  # near-dup family
        else:
            rows.append((i, f"fresh document {i} about topic {i * 37 % 101} "
                            f"with unique content {i * 13 % 997} parquet shuffles"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # 8 source files -> 8 micro-batches at maxFilesPerTrigger=1: enough
    # flight time for the kill to land mid-batch
    for f8 in range(8):
        df.filter(F.col("doc_id") % 8 == f8).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    sch = spark.read.parquet(src).schema

    def run(tag: str, kill: bool) -> tuple[set, int, int]:
        out = os.path.join(work, f"nd_out_{tag}")
        sig = os.path.join(work, f"nd_sig_{tag}")
        chk = os.path.join(work, f"nd_chk_{tag}")

        def start():
            return stream_near_dup_dedup(
                spark, src, out, sig, chk, schema=sch, max_files_per_trigger=1
            )

        done = threading.Event()
        if kill:
            krec = _kill_one_executor(4.0, done)
        t0 = time.time()
        restarts = _drain_stream(start)
        done.set()
        dt = round(time.time() - t0, 2)
        if kill:
            time.sleep(1)  # killer thread writes its record
            rec.update(krec)
            rec["restarts"] = restarts
            rec["killed_run_s"] = dt
        else:
            rec["clean_s"] = dt
        kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
        sig_n = spark.read.parquet(sig).count()
        return kept, sig_n, restarts

    kept_clean, sig_clean, _ = run("clean", kill=False)
    kept_kill, sig_kill, _ = run("kill", kill=True)
    same = kept_kill == kept_clean and sig_kill == sig_clean
    rec["status"] = "recovered_correct" if same else "recovered_WRONG"
    rec["rows"] = len(kept_kill)
    rec["note_detail"] = f"survivors {len(kept_clean)}/400, sig rows {sig_clean}"
    if not same:
        rec["diff"] = (f"survivors clean={len(kept_clean)} kill={len(kept_kill)} "
                       f"(sym-diff {len(kept_clean ^ kept_kill)}); "
                       f"sig clean={sig_clean} kill={sig_kill}")
    return rec


def probe_compaction_kill(spark, work: str) -> dict:
    """VERDICT r10 item 5: SIGKILL an executor DURING the signature-
    store compaction fold (``compact_signature_store``, wired in via
    ``compact_every``). Compaction rewrites the history partitions the
    claimant probes read — the r10 probe proved mid-micro-batch kills
    recover, but never a kill inside the fold itself (pin() job →
    epoch=-1 dynamic overwrite → folded-dir removal). The killer
    watches the store for the epoch-2 sig partition landing (the
    compaction at epoch 2 starts right after that write commits) and
    kills on sight, so the SIGKILL lands in the compaction window, not
    at an arbitrary batch offset. Recovery contract: the batch fails,
    the query restarts from its checkpoint, epoch 2 replays its own
    partitions idempotently and re-runs compaction; duplicate claimant
    rows a half-finished fold leaves behind are harmless under min().
    Verified: survivor set AND the effective claimant state (min rank
    per (band, minhash) over the whole store) equal an undisturbed
    compacting run's, and compaction really happened (epoch=-1)."""
    from pyspark.sql import functions as F

    from frontpage_spark.incremental import stream_near_dup_dedup

    rec: dict = {
        "target": "compact_signature_store [kill mid-fold, compact_every=2]"
    }
    src = os.path.join(work, "cc_src")
    base = "the quick brown fox jumps over the lazy dog again and again today block"
    rows = []
    for i in range(400):
        if i % 5 == 0:
            rows.append((i, f"{base} variant {i % 7}"))
        else:
            rows.append((i, f"fresh document {i} about topic {i * 37 % 101} "
                            f"with unique content {i * 13 % 997} parquet shuffles"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for f8 in range(8):
        df.filter(F.col("doc_id") % 8 == f8).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    sch = spark.read.parquet(src).schema

    def claimant_state(sig: str) -> dict:
        store = spark.read.parquet(sig)
        return {
            (r["band"], r["minhash"]): r["m"]
            for r in store.groupBy("band", "minhash")
            .agg(F.min("doc_id").alias("m"))
            .collect()
        }

    def run(tag: str, kill: bool):
        out = os.path.join(work, f"cc_out_{tag}")
        sig = os.path.join(work, f"cc_sig_{tag}")
        chk = os.path.join(work, f"cc_chk_{tag}")

        def start():
            return stream_near_dup_dedup(
                spark, src, out, sig, chk, schema=sch,
                max_files_per_trigger=1, compact_every=2,
            )

        krec: dict = {}
        stop_watch = threading.Event()
        if kill:
            def killer():
                # fire the moment epoch 2's sig partition lands — the
                # compaction fold starts right after that commit
                deadline = time.time() + 120
                while time.time() < deadline and not stop_watch.is_set():
                    try:
                        dirs = set(os.listdir(sig))
                    except OSError:
                        dirs = set()
                    if "epoch=2" in dirs:
                        time.sleep(0.3)  # let the fold's first job launch
                        pids = executor_pids()
                        if pids:
                            pid = sorted(pids)[0]
                            os.kill(pid, signal.SIGKILL)
                            krec["killed_pid"] = pid
                            krec["n_executors_seen"] = len(pids)
                            krec["store_dirs_at_kill"] = sorted(
                                d for d in dirs if d.startswith("epoch=")
                            )
                        else:
                            krec["note"] = "no executor JVMs found"
                        return
                    time.sleep(0.05)
                krec["note"] = "epoch=2 partition never appeared before deadline"

            threading.Thread(target=killer, daemon=True).start()
        t0 = time.time()
        restarts = _drain_stream(start)
        stop_watch.set()
        dt = round(time.time() - t0, 2)
        if kill:
            time.sleep(1)
            rec.update(krec)
            rec["restarts"] = restarts
            rec["killed_run_s"] = dt
        else:
            rec["clean_s"] = dt
        kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
        compacted = (
            spark.read.parquet(sig).filter(F.col("epoch") == -1).count()
        )
        return kept, claimant_state(sig), compacted

    kept_clean, claim_clean, comp_clean = run("clean", kill=False)
    kept_kill, claim_kill, comp_kill = run("kill", kill=True)
    same = kept_kill == kept_clean and claim_kill == claim_clean
    rec["status"] = "recovered_correct" if same else "recovered_WRONG"
    rec["rows"] = len(kept_kill)
    rec["note_detail"] = (
        f"survivors {len(kept_clean)}/400; claimant buckets "
        f"{len(claim_clean)}; compacted rows clean={comp_clean} "
        f"kill={comp_kill} (layout may differ, min-state must not)"
    )
    if comp_kill == 0:
        rec["status"] = "probe_error"
        rec["error"] = "compaction never ran in the killed run (epoch=-1 absent)"
    if not same:
        rec["diff"] = (
            f"survivors clean={len(kept_clean)} kill={len(kept_kill)} "
            f"(sym-diff {len(kept_clean ^ kept_kill)}); claimant map "
            f"mismatches {sum(1 for k in claim_clean if claim_kill.get(k) != claim_clean[k])}"
        )
    return rec


def probe_stateful_session_close(spark, work: str) -> dict:
    """SIGKILL an executor while a transformWithState (RocksDB state +
    processing-time timers) query runs; restart from the checkpoint;
    the final closed-session table must equal an undisturbed run's."""
    from pyspark.sql import functions as F

    from frontpage_spark.incremental import stateful_session_close

    rec: dict = {"target": "stateful_session_close [transformWithState, RocksDB + timers]"}
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rows = [(f"u{i}", 100 + 40 * i + j * 5) for i in range(40) for j in range(3)]
        base = spark.createDataFrame(rows, ["user_id", "ts_long"])

        def run(tag: str, kill: bool) -> set:
            src = os.path.join(work, f"sc_src_{tag}")
            chk = os.path.join(work, f"sc_chk_{tag}")
            sink = os.path.join(work, f"sc_out_{tag}")
            base.write.parquet(src)

            def closer(df, eid):
                # epoch-partitioned overwrite: a replayed emission
                # rewrites its own partition, never duplicates
                df.withColumn("epoch", F.lit(int(eid))).write.partitionBy(
                    "epoch"
                ).option("partitionOverwriteMode", "dynamic").mode(
                    "overwrite"
                ).parquet(sink)

            def start():
                stream = spark.readStream.schema(base.schema).parquet(src)
                return (
                    stateful_session_close(stream, gap_seconds=8)
                    .writeStream.foreachBatch(closer)
                    .outputMode("append")
                    .option("checkpointLocation", chk)
                    .trigger(processingTime="500 milliseconds")
                    .start()
                )

            done = threading.Event()
            if kill:
                krec = _kill_one_executor(3.0, done)
            # continuous trigger: run until every session closed via its
            # timer (gap 8s), restarting on failure
            deadline = time.time() + 240
            t0 = time.time()
            restarts = 0
            q = start()
            try:
                while time.time() < deadline:
                    try:
                        if q.exception() is not None:
                            raise q.exception()
                        if os.path.isdir(sink):
                            try:
                                n = spark.read.parquet(sink).count()
                            except Exception:
                                n = 0
                            if n >= 40:
                                break
                        time.sleep(1.0)
                    except Exception as e:
                        restarts += 1
                        print(f"#   session-close attempt failed "
                              f"({type(e).__name__}) — restart {restarts}",
                              flush=True)
                        if restarts > 8:
                            # not crash-recovery any more: a persistent
                            # failure (env/config) — surface it
                            raise RuntimeError(
                                f"session-close query failed {restarts}x; "
                                f"last: {str(e)[:300]}"
                            ) from e
                        try:
                            q.stop()
                        except Exception:
                            pass
                        time.sleep(3)
                        q = start()
            finally:
                done.set()
                try:
                    q.stop()
                except Exception:
                    pass
            dt = round(time.time() - t0, 2)
            if kill:
                time.sleep(1)
                rec.update(krec)
                rec["restarts"] = restarts
                rec["killed_run_s"] = dt
            else:
                rec["clean_s"] = dt
            return {
                (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
                for r in spark.read.parquet(sink).drop("epoch").collect()
            }

        clean = run("clean", kill=False)
        killed = run("kill", kill=True)
        same = clean == killed and len(clean) == 40
        rec["status"] = "recovered_correct" if same else "recovered_WRONG"
        rec["rows"] = len(killed)
        if not same:
            rec["diff"] = (f"clean {len(clean)} sessions, killed {len(killed)}, "
                           f"sym-diff {len(clean ^ killed)}")
        return rec
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def main() -> int:
    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    out = None
    if "--out" in sys.argv:
        out = sys.argv[sys.argv.index("--out") + 1]

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from frontpage_spark.session import get_spark

    spark = get_spark(
        "fault-probe",
        master=os.environ.get("SPARK_GRAFT_MASTER", "local-cluster[2,2,2048]"),
    )

    from pyspark.sql import functions as F

    from frontpage_spark.ext import graph
    from frontpage_spark.queries import QUERIES
    from frontpage_spark.sources import load_table

    def q(name):
        return lambda: QUERIES[name](spark, sf_dir).toPandas()

    def pagerank_distributed():
        li = load_table(spark, sf_dir, "lineitem")
        e0 = li.select(
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        ).distinct()
        limit = graph._SMALL_EDGE_ROWS
        graph._SMALL_EDGE_ROWS = 1
        try:
            r = graph.pagerank_fixedpoint(e0, iterations=3, bidirected=True)
        finally:
            graph._SMALL_EDGE_ROWS = limit
        return (
            r.filter(F.col("node").startswith("s"))
            .orderBy(F.desc("r"), "node")
            .limit(10)
            .toPandas()
        )

    def components_distributed():
        # the star-contraction loop forced over its size gate: per-round
        # pin() cuts must be re-readable by the replacement executor
        from frontpage_spark import queries

        li = load_table(spark, sf_dir, "lineitem")
        pairs = (
            li.select(
                F.least("l_partkey", "l_suppkey").alias("a"),
                F.greatest("l_partkey", "l_suppkey").alias("b"),
            )
            .filter(F.col("a") < F.col("b"))
            .distinct()
        )
        limit = queries._SMALL_PAIR_GRAPH_ROWS
        queries._SMALL_PAIR_GRAPH_ROWS = 1
        try:
            labels = queries._component_fixpoint(pairs)
        finally:
            queries._SMALL_PAIR_GRAPH_ROWS = limit
        return (
            labels.groupBy("comp")
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), "comp")
            .limit(20)
            .toPandas()
        )

    targets = [
        ("kcenter_diverse_seeds [stateless K-pass]", q("kcenter_diverse_seeds")),
        ("token_budget_selection [keep()-persisted prefix stats]", q("token_budget_selection")),
        ("pagerank_part_supplier [FORCED distributed, pin()-checkpointed]", pagerank_distributed),
        ("connected_components [FORCED star-contraction, per-round pin()]", components_distributed),
    ]
    recs = []
    for label, build in targets:
        print(f"== {label}", flush=True)
        rec = run_with_kill(build, label)
        print(json.dumps(rec), flush=True)
        recs.append(rec)
        # let the worker re-register the replacement executor
        time.sleep(3)

    # streaming targets (VERDICT r9 item 3): kill mid-micro-batch,
    # restart from checkpoint, compare final tables
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="fps-fault-stream-")
    try:
        for probe in (
            probe_stream_near_dup,
            probe_compaction_kill,
            probe_stateful_session_close,
        ):
            print(f"== {probe.__name__}", flush=True)
            try:
                rec = probe(spark, work)
            except Exception as e:
                rec = {
                    "target": probe.__name__,
                    "status": "probe_error",
                    "error": f"{type(e).__name__}: {str(e)[:400]}",
                }
            print(json.dumps(rec), flush=True)
            recs.append(rec)
            time.sleep(3)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    spark.stop()
    ok = all(r.get("status") == "recovered_correct" for r in recs)
    if out:
        lines = [
            "# FAULT PROBE — executor SIGKILL mid-query under local-cluster",
            "",
            f"master: `{os.environ.get('SPARK_GRAFT_MASTER', 'local-cluster[2,2,2048]')}`, "
            f"sf_dir: `{sf_dir}`. One CoarseGrainedExecutorBackend JVM is",
            "SIGKILLed ~2s into each run; the job must complete with output",
            "identical to an undisturbed run (tools/fault_probe.py).",
            "",
            "| target | status | rows | clean s | killed-run s | killed pid | restarts |",
            "|---|---|---|---|---|---|---|",
        ]
        for r in recs:
            lines.append(
                f"| {r['target']} | {r.get('status')} | {r.get('rows', '-')} "
                f"| {r.get('clean_s', '-')} | {r.get('killed_run_s', '-')} "
                f"| {r.get('killed_pid', '-')} | {r.get('restarts', '-')} |"
            )
            if r.get("error"):
                lines.append(f"| ⮑ error | {r['error'][:160]} | | | | | |")
            if r.get("diff"):
                lines.append(f"| ⮑ diff | {r['diff'][:160]} | | | | | |")
            if r.get("note_detail"):
                lines.append(f"| ⮑ note | {r['note_detail'][:160]} | | | | | |")
        lines.append("")
        with open(out, "w") as f:
            f.write("\n".join(lines))
        print(f"wrote {out}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())

"""Minimal multi-version transaction log for parquet tables.

The engine's one MERGE commit protocol (``merge``). The table is a
*log of commits over immutable data files* — the shape of Delta Lake /
Iceberg — so readers always resolve a consistent snapshot and
concurrent writers are arbitrated by atomic create-if-absent on the
next commit file: a writer that loses the race gets ``TxConflict``,
never a silent lost update.

Reference semantics being replaced: the reference's sink is Postgres,
where a UNIQUE constraint arbitrates concurrent scraper inserts and
MVCC gives readers a consistent snapshot for free
(``/root/reference/frontpage/scraper.py:153-156,211-218``). On a
file-based lakehouse both properties have to come from a commit log;
this module provides the minimal version.

Layout::

    table/
      _txlog/
        v0000000001.json      # {"add": [...], "remove": [...], ...}
        v0000000002.json
        checkpoint-v0000000002.json   # full live-file list at v2
      data/
        <uuid>/part-*.parquet # immutable; one dir per commit attempt

Protocol:

* **Write**: materialize new parquet files under a fresh
  ``data/<uuid>/`` dir (invisible — no commit references them yet),
  then claim version N+1 by ``O_CREAT|O_EXCL``-creating
  ``v{N+1}.json``. The filesystem's atomic create-if-absent is the
  arbiter — exactly Delta's ``putIfAbsent`` contract (on S3-class
  stores this maps to conditional PUT / DynamoDB mutex; the local
  POSIX form is the same state machine).
* **Read**: list ``_txlog``, replay add/remove up to the highest
  contiguous version (or start from the newest checkpoint ≤ that
  version), and read exactly the resolved file set. A half-finished
  writer changes nothing a reader can see.
* **Conflict rule**: an ``overwrite``/``merge`` commit is only valid
  against the snapshot version it read (it removes those files); if
  the claim for N+1 fails, the writer lost a race — it raises
  ``TxConflict`` and the caller re-reads and retries. ``append``
  commits commute with other appends, so ``append`` auto-rebases:
  on a lost claim it re-claims the next version without rewriting
  data (its files reference nothing that moved).

Scale notes (100 TB): commit files carry only file paths + stats, so
log size is O(commits); ``checkpoint_every`` bounds replay cost to
O(files) regardless of history length; data files are immutable so
MERGE rewrites only what it logically must (here: full table — the
pluggable ``pruner`` hook lets a partitioned/Z-ordered layout rewrite
only intersecting files, see ``plans.write_zordered``); ``vacuum``
reclaims unreferenced files after a retention horizon.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

_LOG = "_txlog"
_W = 10  # zero-pad width for version file names → lexicographic == numeric


class TxConflict(RuntimeError):
    """A commit lost the optimistic-concurrency race: the table advanced
    past the snapshot this writer read. Re-read and retry; the lost
    update was DETECTED, never silently applied."""


def _log_dir(table: str) -> str:
    return os.path.join(table, _LOG)


def _vname(v: int) -> str:
    return f"v{v:0{_W}d}.json"


def _commit_versions(table: str) -> list[int]:
    d = _log_dir(table)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                pass
    return sorted(out)


def current_version(table: str) -> int:
    """Highest contiguous committed version (0 = empty table).

    Contiguity matters: a writer that claimed v5 but crashed before a
    hypothetical v4 existed must not become visible early. With
    O_EXCL claims versions are dense in practice; the guard is cheap
    insurance against manual log surgery.
    """
    vs = _commit_versions(table)
    cur = 0
    for v in vs:
        if v == cur + 1:
            cur = v
        else:
            break
    return cur


def _read_commit(table: str, v: int) -> dict:
    with open(os.path.join(_log_dir(table), _vname(v))) as f:
        return json.load(f)


def _checkpoint_path(table: str, v: int) -> str:
    return os.path.join(_log_dir(table), f"checkpoint-v{v:0{_W}d}.json")


def _latest_checkpoint(table: str, at_or_below: int) -> tuple[int, list[str]] | None:
    d = _log_dir(table)
    if not os.path.isdir(d):
        return None
    best = None
    for f in os.listdir(d):
        if f.startswith("checkpoint-v") and f.endswith(".json"):
            try:
                v = int(f[len("checkpoint-v") : -5])
            except ValueError:
                continue
            if v <= at_or_below and (best is None or v > best):
                best = v
    if best is None:
        return None
    with open(_checkpoint_path(table, best)) as f:
        return best, json.load(f)["live"]


def live_files(table: str, version: int | None = None) -> list[str]:
    """Resolve the live data-file set at ``version`` (default: current)
    by replaying the log from the newest checkpoint at-or-below it.
    Paths are table-relative (immutable files → a snapshot is just a
    file list)."""
    cur = current_version(table)
    v = cur if version is None else version
    if v > cur:
        raise ValueError(f"version {v} not committed yet (current {cur})")
    start, live = 0, []
    ckpt = _latest_checkpoint(table, v)
    if ckpt is not None:
        start, live = ckpt
    files = set(live)
    for i in range(start + 1, v + 1):
        c = _read_commit(table, i)
        files.difference_update(c.get("remove", []))
        files.update(c.get("add", []))
    return sorted(files)


def read(spark: SparkSession, table: str, version: int | None = None) -> DataFrame:
    """Snapshot read (time travel with ``version=N``). Resolves the
    file list first, then scans exactly those files — concurrent
    writers are invisible until their commit file lands."""
    files = [os.path.join(table, f) for f in live_files(table, version)]
    if not files:
        raise FileNotFoundError(f"{table}: no committed data at version {version}")
    return spark.read.parquet(*files)


def history(table: str) -> list[dict]:
    """Commit metadata for every version, oldest first (the DESCRIBE
    HISTORY equivalent)."""
    return [_read_commit(table, v) for v in range(1, current_version(table) + 1)]


def _write_data(df: DataFrame, table: str) -> list[str]:
    """Materialize ``df`` as immutable parquet files under a fresh
    uuid dir; return table-relative paths. Nothing references these
    files until a commit file does, so a crash here leaks only
    garbage for ``vacuum``."""
    rel = os.path.join("data", uuid.uuid4().hex)
    out = os.path.join(table, rel)
    df.write.mode("errorifexists").parquet(out)
    return [
        os.path.join(rel, f)
        for f in os.listdir(out)
        if f.endswith(".parquet")
    ]


def _file_stats(
    spark_df_src, table: str, rel_paths: list[str], stats_cols: list[str]
) -> dict[str, dict[str, list]]:
    """Per-file min/max for ``stats_cols`` over just-written files —
    ONE grouped job keyed by ``input_file_name()``, not a driver loop.
    (A production commit path lifts these from the parquet footers the
    writer already produced; re-scanning the fresh files is the
    API-equivalent shortcut at this repo's scale.) Values must be
    JSON-encodable (numeric/string); returns {} when stats_cols is
    empty."""
    if not stats_cols:
        return {}
    from pyspark.sql import functions as F

    spark = spark_df_src
    full = [os.path.join(table, r) for r in rel_paths]
    df = spark.read.parquet(*full)
    aggs = []
    for c in stats_cols:
        aggs.append(F.min(c).alias(f"lo_{c}"))
        aggs.append(F.max(c).alias(f"hi_{c}"))
    rows = df.groupBy(F.input_file_name().alias("f")).agg(*aggs).collect()
    by_name = {os.path.basename(r["f"]): r for r in rows}
    out: dict[str, dict[str, list]] = {}
    for rel in rel_paths:
        r = by_name.get(os.path.basename(rel))
        if r is not None:
            out[rel] = {c: [r[f"lo_{c}"], r[f"hi_{c}"]] for c in stats_cols}
    return out


def file_stats(table: str, version: int | None = None) -> dict[str, dict[str, list]]:
    """Accumulated per-live-file column stats at ``version`` (files
    committed without stats are simply absent)."""
    cur = current_version(table)
    v = cur if version is None else version
    start, stats = 0, {}
    ckpt = _latest_checkpoint(table, v)
    if ckpt is not None:
        start = ckpt[0]
        with open(_checkpoint_path(table, start)) as f:
            stats = dict(json.load(f).get("stats", {}))
    for i in range(start + 1, v + 1):
        c = _read_commit(table, i)
        for gone in c.get("remove", []):
            stats.pop(gone, None)
        stats.update(c.get("stats", {}))
    live = set(live_files(table, v))
    return {k: s for k, s in stats.items() if k in live}


def scan(
    spark: SparkSession,
    table: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Stats-pruned snapshot read: skip every data file whose committed
    [min, max] for ``col`` cannot intersect [lo, hi] (files lacking
    stats are conservatively kept), then apply the residual filter to
    the survivors. The Delta/Iceberg data-skipping contract: at 100 TB
    the prune happens on the commit-log metadata, long before any
    parquet footer is opened."""
    from pyspark.sql import functions as F

    files = live_files(table, version)
    stats = file_stats(table, version)
    keep = []
    for f in files:
        s = stats.get(f, {}).get(col)
        if s is None or s[0] is None or not (s[1] < lo or s[0] > hi):
            keep.append(os.path.join(table, f))
    if not keep:
        return read(spark, table, version).filter(F.lit(False))
    return spark.read.parquet(*keep).filter(F.col(col).between(lo, hi))


def _try_claim(table: str, v: int, payload: dict) -> bool:
    """Atomically claim version ``v``. True iff this writer won. The
    payload is fully written before the function returns, and readers
    take the highest *contiguous* version, so a reader that lists the
    directory mid-write of the JSON body still can't resolve a torn
    commit: O_EXCL + tiny single-write payloads keep the window
    negligible, and `current_version` re-reads are cheap to retry."""
    os.makedirs(_log_dir(table), exist_ok=True)
    tmp = os.path.join(_log_dir(table), f".{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(payload, f)
    try:
        os.link(tmp, os.path.join(_log_dir(table), _vname(v)))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def _maybe_checkpoint(table: str, v: int, every: int) -> None:
    if every and v % every == 0:
        # resolve BEFORE creating the file (live_files would otherwise
        # read back the half-written checkpoint), then publish atomically
        payload = {
            "version": v,
            "live": live_files(table, v),
            "stats": file_stats(table, v),
        }
        tmp = os.path.join(_log_dir(table), f".{uuid.uuid4().hex}.ckpt.tmp")
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, _checkpoint_path(table, v))


def commit_append(
    table: str, payload: dict, checkpoint_every: int = 10, max_retries: int = 20
) -> int:
    """Claim the next version for a blind append, then checkpoint when
    due. A lost claim re-bases onto the new head, because appends
    commute. Returns the committed version."""
    for _ in range(max_retries):
        v = current_version(table) + 1
        if _try_claim(table, v, {**payload, "version": v}):
            _maybe_checkpoint(table, v, checkpoint_every)
            return v
    raise TxConflict(f"append to {table!r} lost {max_retries} claim races")


def append(
    df: DataFrame,
    table: str,
    checkpoint_every: int = 10,
    max_retries: int = 20,
    stats_cols: list[str] | None = None,
) -> int:
    """Blind append: data files are written ONCE; the claim auto-rebases
    because appends commute. Returns the committed version.

    ``stats_cols``: record per-file min/max for these columns in the
    commit, enabling ``scan()`` file skipping."""
    add = _write_data(df, table)
    payload = {
        "op": "append",
        "add": add,
        "remove": [],
        "stats": _file_stats(df.sparkSession, table, add, stats_cols or []),
    }
    return commit_append(table, payload, checkpoint_every, max_retries)


def overwrite(
    df: DataFrame,
    table: str,
    checkpoint_every: int = 10,
    stats_cols: list[str] | None = None,
) -> int:
    """Replace the table contents atomically. Conflicts with ANY
    concurrent commit (it removes the snapshot it read)."""
    read_v = current_version(table)
    add = _write_data(df, table)
    v = read_v + 1
    payload = {
        "op": "overwrite",
        "add": add,
        "remove": live_files(table, read_v),
        "version": v,
        "read_version": read_v,
        "stats": _file_stats(df.sparkSession, table, add, stats_cols or []),
    }
    if not _try_claim(table, v, payload):
        raise TxConflict(
            f"overwrite of {table!r} read version {read_v} but version {v} "
            "was committed by another writer; re-read and retry"
        )
    _maybe_checkpoint(table, v, checkpoint_every)
    return v


def merge(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    key: str,
    checkpoint_every: int = 10,
) -> int:
    """MERGE INTO (update-wins upsert, ``pipeline.merge_upsert``
    semantics) through the log: read a snapshot, rewrite, commit
    against that snapshot's version. A concurrent committer of ANY
    kind invalidates the rewrite (it embedded the old rows), so the
    loser raises ``TxConflict`` for the caller to re-run — the same
    serializable-writer contract Delta enforces, with the reference's
    Postgres UNIQUE arbiter (``scraper.py:211-218``) as the spec.
    """
    from ..pipeline import merge_upsert

    read_v = current_version(table)
    if read_v == 0:
        return append(updates.dropDuplicates([key]), table, checkpoint_every)
    snapshot = read(spark, table, read_v)
    merged = merge_upsert(snapshot, updates, key)
    add = _write_data(merged, table)
    v = read_v + 1
    payload = {
        "op": "merge",
        "key": key,
        "add": add,
        "remove": live_files(table, read_v),
        "version": v,
        "read_version": read_v,
    }
    if not _try_claim(table, v, payload):
        # leaked data files are reclaimed by vacuum()
        raise TxConflict(
            f"merge into {table!r} read version {read_v} but version {v} was "
            "committed by another writer; re-read and retry"
        )
    _maybe_checkpoint(table, v, checkpoint_every)
    return v


def vacuum(table: str, keep_versions: int = 1) -> list[str]:
    """Delete data files unreachable from the newest ``keep_versions``
    snapshots (crash leftovers and files removed by old commits).
    Time travel older than the horizon stops working — same contract
    as Delta's VACUUM retention."""
    cur = current_version(table)
    keep: set[str] = set()
    for v in range(max(1, cur - keep_versions + 1), cur + 1):
        keep.update(live_files(table, v))
    removed = []
    data_root = os.path.join(table, "data")
    if os.path.isdir(data_root):
        for d in os.listdir(data_root):
            ddir = os.path.join(data_root, d)
            for f in os.listdir(ddir):
                rel = os.path.join("data", d, f)
                if f.endswith(".parquet") and rel not in keep:
                    os.unlink(os.path.join(table, rel))
                    removed.append(rel)
            if not os.listdir(ddir):
                shutil.rmtree(ddir)
    return removed


def file_changes(table: str, v_from: int, v_to: int) -> dict[str, list[str]]:
    """Metadata-only change summary between two versions: which data
    files were added/removed — resolved purely from the log, no data
    read. The first question an incremental consumer asks (nothing
    changed → nothing to do) answered in O(commits)."""
    if v_from > v_to:
        raise ValueError(f"v_from {v_from} > v_to {v_to}")
    added: set[str] = set()
    removed: set[str] = set()
    for i in range(v_from + 1, v_to + 1):
        c = _read_commit(table, i)
        for f in c.get("remove", []):
            if f in added:
                added.discard(f)  # added then removed within the range: net no-op
            else:
                removed.add(f)
        added.update(c.get("add", []))
    return {"added": sorted(added), "removed": sorted(removed)}


def row_diff(
    spark: SparkSession, table: str, key: str, v_from: int, v_to: int | None = None
) -> DataFrame:
    """Row-level change data feed between two snapshots: full-outer
    join the versions on ``key`` and classify each row as
    insert / delete / update / unchanged-excluded. The consumer-side
    CDF for a log that (deliberately) stores full snapshots per
    version — a production log would also write per-commit change
    files; this derivation needs nothing but the two snapshot reads
    and one co-partitioned join on the key.

    Output: (<key>, change_type, then old_/new_ for every non-key
    column)."""
    from pyspark.sql import functions as F

    v_to = current_version(table) if v_to is None else v_to
    old = read(spark, table, v_from)
    new = read(spark, table, v_to)
    val_cols = [c for c in new.columns if c != key]
    o = old.select(
        F.col(key), *[F.col(c).alias(f"old_{c}") for c in val_cols]
    )
    n = new.select(
        F.col(key), *[F.col(c).alias(f"new_{c}") for c in val_cols]
    )
    # presence = the side contributed a row; detect via marker columns
    # (value columns can be legitimately NULL, so markers, not NULL checks)
    o2 = o.withColumn("_in_old", F.lit(True))
    n2 = n.withColumn("_in_new", F.lit(True))
    j = o2.join(n2, key, "full_outer")
    changed = F.lit(False)
    for c in val_cols:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("insert"))
        .when(F.col("_in_new").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            key,
            "change_type",
            *[F.col(f"old_{c}") for c in val_cols],
            *[F.col(f"new_{c}") for c in val_cols],
        )
    )


def compact(
    spark: SparkSession,
    table: str,
    small_file_bytes: int = 32 * 1024 * 1024,
    target_file_bytes: int = 128 * 1024 * 1024,
    checkpoint_every: int = 10,
    stats_cols: list[str] | None = None,
) -> int:
    """OPTIMIZE: bin-pack small data files into ~``target_file_bytes``
    files. Rewrites ONLY files under ``small_file_bytes`` — large files
    are left in place, so cost is proportional to the small-file debt,
    not table size (the Delta OPTIMIZE contract). A no-op (returns the
    current version, no commit) when fewer than two small files exist.

    The commit is logically a no-op on rows (``data_change: false`` in
    the payload); readers see the same rows before and after, and
    ``row_diff`` across the compaction is empty. Streaming appends are
    the canonical producer of small-file debt — a 1000-executor
    ingest at 100 TB writes thousands of sub-row-group files per hour,
    and scan throughput dies on per-file open cost long before data
    volume matters.

    Concurrency: conflicts with ANY concurrent commit (it removes the
    files it read), surfacing as ``TxConflict`` — rerun; appends that
    landed meanwhile simply become the next round's debt."""
    read_v = current_version(table)
    if read_v == 0:
        return 0
    live = live_files(table, read_v)
    small = [
        f
        for f in live
        if os.path.getsize(os.path.join(table, f)) < small_file_bytes
    ]
    if len(small) < 2:
        return read_v
    total = sum(os.path.getsize(os.path.join(table, f)) for f in small)
    n_out = max(1, -(-total // target_file_bytes))
    packed = spark.read.parquet(*[os.path.join(table, f) for f in small]).repartition(
        n_out
    )
    add = _write_data(packed, table)
    v = read_v + 1
    payload = {
        "op": "compact",
        "add": add,
        "remove": small,
        "version": v,
        "read_version": read_v,
        "data_change": False,
        "stats": _file_stats(spark, table, add, stats_cols or []),
    }
    if not _try_claim(table, v, payload):
        raise TxConflict(
            f"compact of {table!r} read version {read_v} but version {v} was "
            "committed by another writer; re-read and retry"
        )
    _maybe_checkpoint(table, v, checkpoint_every)
    return v

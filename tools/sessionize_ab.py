"""Sessionize A/B: the skew-proof two-level stitch vs the classic
single-window form, timed on the same events table (VERDICT r9 item 4).

The r9 zipf probe showed the classic ``lag + running-sum OVER
(PARTITION BY user_id)`` puts a hot key's entire history into ONE
window task — the stitch bounds every task by per-(user, day) volume.
Measured r10: classic wins at sf0.1 (3.0x), organic sf1 (1.7x) and
even x10-zipf (1.6x) - hence sessionize's size gate
(incremental._SESSIONIZE_STITCH_BYTES): classic below, stitch above.
This times both FORCED forms (noop sink, median of N) at any sf dirs
given, so the gate threshold stays re-checkable.

``--neargate`` (VERDICT r10 item 4) measures the gate's WORST case
directly instead of asserting it: it materializes an events corpus
whose scan estimate sits just UNDER ``_SESSIONIZE_STITCH_BYTES`` with
~30% of rows on ONE hot user (the nastiest input the classic branch
can legally receive), then times classic vs stitch there. The gate
argument — "below the gate the hot-key window task is bounded by the
gate itself and classic stays cheaper" — holds only if classic's time
at this corpus stays within a small factor of stitch's; if classic's
hot-key task blows past a few core-seconds, lower the constant.

Usage: python tools/sessionize_ab.py [sf_dir ...] [--passes N] [--neargate]
Prints one JSON line per sf_dir (or one for the generated corpus).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_BASE_EVENTS = "/root/testdata/sf0.1/events.parquet"
_NEARGATE_DIR = "/tmp/frontpage_neargate_events"


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):  # single-file parquet table (the testdata shape)
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def build_neargate_events(spark, out_dir: str = _NEARGATE_DIR, target_bytes: int | None = None):
    """Replicate sf0.1 events (offset keys, fresh key space) to just
    under the sessionize gate, then collapse ~30% of rows onto one
    mega user — deterministic hash coin, same shape as
    scale_probe._zipfify. Returns (path, factor)."""
    import shutil

    from pyspark.sql import functions as F

    from frontpage_spark.incremental import _SESSIONIZE_STITCH_BYTES

    src = spark.read.parquet(_BASE_EVENTS)
    base_bytes = _dir_bytes(_BASE_EVENTS)
    # zipf-collapsed user ids compress better than organic ones, so
    # aim at 97% of the gate; the artifact records the ACHIEVED
    # estimate either way and asserts it stayed under
    if target_bytes is None:
        target_bytes = int(_SESSIONIZE_STITCH_BYTES * 0.97)
    factor = max(1, int(target_bytes / base_bytes))
    parts = []
    for i in range(factor):
        parts.append(
            src.withColumn("event_id", F.col("event_id") + F.lit(i * 100_000_000))
            .withColumn("user_id", F.col("user_id") + F.lit(i * 1_000_000))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out = out.withColumn(
        "user_id",
        F.when(
            F.pmod(F.xxhash64("event_id"), F.lit(10)) < 3, F.lit(424242)
        ).otherwise(F.col("user_id")),
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    target = os.path.join(out_dir, "events.parquet")
    out.write.mode("overwrite").parquet(target)
    return out_dir, factor




def main() -> int:
    argv = sys.argv[1:]
    passes = 3
    if "--passes" in argv:
        i = argv.index("--passes")
        passes = int(argv[i + 1])
        del argv[i : i + 2]
    neargate = "--neargate" in argv
    if neargate:
        argv.remove("--neargate")
    target_bytes = None
    if "--target-bytes" in argv:
        i = argv.index("--target-bytes")
        target_bytes = int(argv[i + 1])
        del argv[i : i + 2]
    sf_dirs = argv or ["/root/testdata/sf0.1"]

    from frontpage_spark.incremental import (
        _SESSIONIZE_STITCH_BYTES,
        _plan_size_bytes,
        sessionize,
        sessionize_gate,
    )
    from frontpage_spark.session import get_spark
    from frontpage_spark.sources import load_table

    spark = get_spark("sessionize-ab")
    spark.sparkContext.setLogLevel("ERROR")

    if neargate:
        path, factor = build_neargate_events(spark, target_bytes=target_bytes)
        sf_dirs = [path]

    def timed(df) -> float:
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    for sf_dir in sf_dirs:
        from pyspark.sql import functions as F

        ev = load_table(spark, sf_dir, "events")
        est = _plan_size_bytes(ev)
        forms = {
            "stitch": lambda: sessionize(ev, plan="stitch"),
            "classic": lambda: sessionize(ev, plan="classic"),
        }
        rec: dict = {
            "sf_dir": sf_dir,
            "rows": ev.count(),
            "passes": passes,
            "plan_bytes": est,
            "gate_bytes": _SESSIONIZE_STITCH_BYTES,
            "gated_pick": sessionize_gate(est),
        }
        if neargate:
            rec["neargate_factor"] = factor
            rec["under_gate"] = sessionize_gate(est) == "classic"
            hot = ev.filter(F.col("user_id") == 424242).count()
            rec["hot_key_share"] = round(hot / rec["rows"], 3)
        for name, build in forms.items():
            timed(build())  # warm
            rec[name] = round(
                statistics.median(timed(build()) for _ in range(passes)), 3
            )
        rec["stitch_over_classic"] = round(rec["stitch"] / rec["classic"], 3)
        print(json.dumps(rec), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

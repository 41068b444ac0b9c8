"""Materialize the x10-ZIPF bench corpus (VERDICT r9 item 6).

The zipf skew probe (tools/scale_probe.py --zipf) found two real
collapses in r9 that the uniform replicas and the frozen-77 bench both
missed — so the zipf corpus graduates to a STANDING bench flavor:
the same 77 headline queries, run by bench.py against a x10 replica of
sf0.1 whose key distribution carries a zipf head (one user owning ~30%
of events, one dominant customer nation, one giant near-dup document
cluster — see scale_probe._zipfify). A skew regression then moves a
recorded bench number (BENCH_zipf_r{N}.json) instead of hiding until
someone reruns the ad-hoc probe.

Usage:
  python tools/gen_zipf.py [out_dir]          # default /tmp/frontpage_zipf_x10
  SPARK_GRAFT_SF_DIR=<out_dir> SPARK_GRAFT_WARM_PASSES=1 python bench.py

bench.py times Spark, the DuckDB oracles and the drift calibration in
one process and one window; each oracle runs under a per-query
interrupt cap (at x10 data the oracle's quadratic embedding heavies do
not finish, exactly the gap the engine's size-gated scale paths exist
to close) and the capped ones are listed in "oracle_timeouts".
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scale_probe import build_replica  # noqa: E402


def main() -> int:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/frontpage_zipf_x10"
    from frontpage_spark.session import get_spark

    spark = get_spark("gen-zipf")
    spark.sparkContext.setLogLevel("ERROR")
    build_replica(spark, 10, out_dir, zipf=True)
    spark.stop()
    print(f"wrote x10-zipf corpus to {out_dir}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

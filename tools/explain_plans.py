"""Capture .explain("formatted") for named queries into plans/<round>/.

Usage: python tools/explain_plans.py <round> <tag> <query> [query ...]
Writes plans/<round>/<query>_<tag>.txt  (e.g. round = r12, tag = before | after).

Every plan claim in an OPTIMIZATION_<round>.md points at one of these
files, so a reader can check it without running Spark.
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    rnd, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]

    from frontpage_spark.queries import QUERIES
    from frontpage_spark.session import get_spark
    from frontpage_spark.sources import DEFAULT_SF_DIR as sf_dir

    spark = get_spark(f"explain_{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(_REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()

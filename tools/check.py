"""Local differential checker mirroring the driver's t2 gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB at
the given sf dir, compares row count, column names/ordering, and
order-insensitive values (exact where possible; floats compared
bit-exact first, then with tolerance reporting so mismatches are
diagnosable).

Usage: python tools/check.py [--json OUT.json] [sf_dir] [query ...]
       python tools/check.py --schema-audit [sf_dir]

--schema-audit builds every registered query's DataFrame (lazy — no
execution) and flags any top-level array/map/binary output column:
the driver's canonicalizer sorts a pandas frame of raw cell values and
dies on unhashable list cells (CORRECTNESS_r04: sources_by_lang,
approx_percentiles_price), so every query output must be flat scalars.
The normal differential path enforces the same invariant as a hard
failure.

With --json, writes the full per-query matrix (status, rows, timings,
problems) so each round can publish CORRECTNESS_full_r{N}.json in-repo
(VERDICT r2 item 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def duckdb_con(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    from frontpage_spark.schemas import TESTDATA_TABLES
    from frontpage_spark.sources import table_files

    for t in TESTDATA_TABLES:
        # a single file or a directory of part files, as Spark writes a table
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({table_files(sf_dir, t)!r})")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonical string form per cell → order-insensitive multiset compare
    out = df.copy()
    for c in out.columns:
        out[c] = out[c].map(lambda v: repr(v))
    return out.sort_values(by=list(out.columns), ignore_index=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return problems
    if len(sdf) != len(odf):
        problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
    ns, no = normalize(sdf), normalize(odf)
    if len(ns) == len(no):
        neq = ns.ne(no)
        if neq.any().any():
            bad_cols = [c for c in ns.columns if neq[c].any()]
            for c in bad_cols:
                idx = neq[c].idxmax()
                problems.append(
                    f"value col={c} row{idx}: spark={ns[c][idx][:80]} oracle={no[c][idx][:80]} "
                    f"({int(neq[c].sum())} diffs)"
                )
    return problems


UNHASHABLE_TYPES = ("array", "map", "binary", "struct")


def unhashable_cols(df) -> list[str]:
    """Top-level columns the driver's pandas canonicalizer cannot sort/hash."""
    return [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.dataType.typeName() in UNHASHABLE_TYPES
    ]


def schema_audit(sf_dir: str) -> int:
    from frontpage_spark.queries import QUERIES
    from frontpage_spark.session import get_spark

    spark = get_spark("schema-audit")
    bad = 0
    for name, fn in QUERIES.items():
        try:
            cols = unhashable_cols(fn(spark, sf_dir))
        except Exception as e:
            print(f"ERR  {name}: {type(e).__name__}: {str(e)[:200]}")
            bad += 1
            continue
        if cols:
            print(f"FLAG {name}: {', '.join(cols)}")
            bad += 1
    print(f"\n{len(QUERIES)} queries audited, {bad} flagged")
    spark.stop()
    return 1 if bad else 0


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--schema-audit":
        return schema_audit(argv[1] if len(argv) > 1 else "/root/testdata/sf0.001")
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    from frontpage_spark.queries import ORACLES, QUERIES
    from frontpage_spark.session import get_spark

    # SPARK_GRAFT_MASTER=local-cluster[2,2,2048] runs the same matrix
    # under real executor JVMs (real serialization / shuffle fetch /
    # broadcast transport) — the r9 multi-process evidence gate
    spark = get_spark("check", master=os.environ.get("SPARK_GRAFT_MASTER"))
    con = duckdb_con(sf_dir)

    n_pass = n_fail = 0
    matrix: dict[str, dict] = {}
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        rec = matrix[name] = {"status": None, "rows": None, "oracle": name in ORACLES}
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            flagged = unhashable_cols(df)
            if flagged:
                print(f"FAIL {name}: driver-unhashable columns {flagged}")
                rec.update(status="unhashable_schema", problems=flagged)
                n_fail += 1
                continue
            sdf = df.toPandas()
        except Exception as e:
            print(f"FAIL {name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            rec.update(status="spark_error", error=f"{type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        finally:
            # queries persist loop invariants / shared subplans scoped to
            # their own execution; a 123-query session must not accumulate
            # those cached blocks (ADVICE r2)
            spark.catalog.clearCache()
        t_spark = time.time() - t0
        rec.update(rows=len(sdf), spark_s=round(t_spark, 2))
        if name not in ORACLES:
            print(f"ok   {name}: rows-only, {len(sdf)} rows ({t_spark:.1f}s)")
            rec["status"] = "rows_only"
            n_pass += 1
            continue
        t0 = time.time()
        try:
            odf = con.execute(ORACLES[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: ORACLE ERROR {type(e).__name__}: {str(e)[:300]}")
            rec.update(status="oracle_error", error=f"{type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        t_duck = time.time() - t0
        rec["duckdb_s"] = round(t_duck, 3)
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL {name}: " + " | ".join(problems))
            rec.update(status="mismatch", problems=problems)
            n_fail += 1
        else:
            print(f"PASS {name}: {len(sdf)} rows (spark {t_spark:.1f}s, duckdb {t_duck:.2f}s)")
            rec["status"] = "pass"
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(
                {"sf_dir": sf_dir, "n_pass": n_pass, "n_fail": n_fail, "queries": matrix},
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {json_out}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

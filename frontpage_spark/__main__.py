"""CLI — the reference's console surface (`frontpage scraper|etl`,
cli.py:5-16) re-expressed for the Spark engine.

  python -m frontpage_spark ingest --urls FILE --html-dir DIR --out DIR
  python -m frontpage_spark etl --raw DIR --dim CSV --out DIR [--stream]
  python -m frontpage_spark conform --clean DIR --raw DIR --out DIR
  python -m frontpage_spark query NAME [--sf-dir DIR]

`ingest` is EP1 (the reference's `scraper`) with the network swapped
for a disk-backed fetcher: each URL resolves to --html-dir/<md5(url)>
(.html), runs through the distributed fetch operator (retry/backoff/
dead-letter), record assembly, and insert-if-absent into the raw sink.
Live acquisition (Tor) is out of engine scope; everything from the
fetch boundary inward is the real dataflow. `etl` covers EP2,
`conform` EP3.
"""

from __future__ import annotations

import argparse
import sys


def _sink_keys(spark, path: str):
    """The uniq_id keys already in a parquet sink, read with a declared
    schema so no job infers it from the footers. Before the first
    append the sink does not exist: an empty key set then, found by
    asking the path's FileSystem rather than by failing a read."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not hpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hpath):
        return spark.createDataFrame([], "uniq_id string")
    return spark.read.schema("uniq_id string").parquet(path)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="frontpage_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest", help="urls→raw records (EP1 body, disk-backed fetch)")
    ing.add_argument("--urls", required=True, help="newline-delimited URL file")
    ing.add_argument("--html-dir", required=True, help="dir of <md5(url)>.html payloads")
    ing.add_argument("--out", required=True, help="raw sink parquet dir")
    ing.add_argument("--max-retries", type=int, default=2)
    ing.add_argument(
        "--scrape-date", default=None,
        help="fixed 'yyyy-MM-dd HH:mm:ss' scrape timestamp (reproducible backfills); default now()",
    )

    etl = sub.add_parser("etl", help="raw→clean batch (EP2 body)")
    etl.add_argument("--raw", required=True, help="raw ad parquet dir")
    etl.add_argument("--dim", required=True, help="site_map CSV path")
    etl.add_argument("--out", required=True, help="clean sink parquet dir")
    etl.add_argument("--stream", action="store_true", help="Structured Streaming (availableNow)")
    etl.add_argument("--checkpoint", default=None, help="stream checkpoint dir")

    conf = sub.add_parser("conform", help="conformance invariants (EP3)")
    conf.add_argument("--clean", required=True)
    conf.add_argument("--raw", required=True)
    conf.add_argument("--out", required=True)

    q = sub.add_parser("query", help="run a registered query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=20)

    pr = sub.add_parser(
        "prep", help="training-data prep: quality→dedup→decontam→tokenize→split"
    )
    pr.add_argument("--docs", required=True, help="parquet with (doc_id, text)")
    pr.add_argument("--benchmark", help="parquet with (text) to decontaminate against")
    pr.add_argument("--out", required=True)

    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from .session import get_spark

    # only stop the session on exit if WE created it (embedded callers —
    # tests, notebooks — hand us their live session via getOrCreate)
    preexisting = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    spark = get_spark(f"frontpage_spark-{args.cmd}")
    try:
        if args.cmd == "ingest":
            from pyspark.sql import Observation, functions as F

            from .pipeline import dedup_new_keys, write_append
            from .sources import assemble_raw, fetch_documents

            html_dir = args.html_dir

            def fetcher(url: str) -> tuple[int, str]:
                import hashlib
                import os as _os

                p = _os.path.join(html_dir, hashlib.md5(url.encode()).hexdigest() + ".html")
                with open(p, encoding="utf-8") as f:  # missing file raises -> retries -> dead-letter
                    return 200, f.read()

            urls = (
                spark.read.text(args.urls)
                .select(F.trim("value").alias("url"))
                .filter(F.col("url") != "")
                .distinct()
            )
            clock = (lambda d=args.scrape_date: d) if args.scrape_date else None
            fetched = fetch_documents(urls, fetcher, max_retries=args.max_retries, clock=clock)
            # Count dead letters as the write job streams past them: a
            # separate count() would re-run the whole fetch stage.
            dead = Observation("ingest_dead_letters")
            fetched = fetched.observe(
                dead, F.count_if(F.col("error").isNotNull()).alias("n")
            )
            raw = assemble_raw(fetched)
            write_append(dedup_new_keys(raw, _sink_keys(spark, args.out)), args.out)
            n_dead = dead.get["n"]
            print(
                f"ingest: sink now has {_sink_keys(spark, args.out).count()} rows"
                f" ({n_dead} dead-lettered fetches)"
            )
        elif args.cmd == "etl":
            from .pipeline import run_batch, to_compat, write_append
            from .schemas import RAW_SCHEMA, SITE_MAP_SCHEMA
            from .sources import csv_dimension

            site_map = csv_dimension(spark, args.dim, schema=SITE_MAP_SCHEMA)
            if args.stream:
                from .incremental import stream_pipeline

                def body(batch, _eid):
                    # Read the sink in every epoch, so each batch sees the
                    # keys earlier batches and earlier runs appended (batch
                    # ids persist in the checkpoint, so a read made before
                    # the stream starts would serve only its first epoch).
                    out = run_batch(batch, site_map, _sink_keys(spark, args.out))
                    write_append(to_compat(out), args.out)

                sq = stream_pipeline(
                    spark, args.raw, args.checkpoint or args.out + "_chk",
                    body, schema=RAW_SCHEMA, available_now=True,
                )
                sq.awaitTermination()
            else:
                raw = spark.read.schema(RAW_SCHEMA).parquet(args.raw)
                out = run_batch(raw, site_map, _sink_keys(spark, args.out))
                write_append(to_compat(out), args.out)
            print(f"etl: sink now has {_sink_keys(spark, args.out).count()} rows")
        elif args.cmd == "conform":
            import os

            from .conform import conform

            if os.path.realpath(args.out) in (
                os.path.realpath(args.clean),
                os.path.realpath(args.raw),
            ):
                print("conform: --out must differ from --clean/--raw "
                      "(lazy read + overwrite would destroy the input)")
                return 2
            clean = spark.read.parquet(args.clean)
            raw = spark.read.parquet(args.raw)
            kept = conform(clean, raw)
            kept.write.mode("overwrite").parquet(args.out)
            print(f"conform: kept {spark.read.parquet(args.out).count()} rows")
        elif args.cmd == "query":
            from .queries import QUERIES

            if args.name not in QUERIES:
                print(f"unknown query {args.name!r}; available: {', '.join(sorted(QUERIES))}")
                return 2
            QUERIES[args.name](spark, args.sf_dir).show(args.limit, truncate=False)
        elif args.cmd == "prep":
            from .ext.prep import prep_corpus

            docs = spark.read.parquet(args.docs).select("doc_id", "text")
            bench = (
                spark.read.parquet(args.benchmark).select("text")
                if args.benchmark
                else spark.createDataFrame([], "text string")
            )
            _, funnel = prep_corpus(docs, bench, out_path=args.out)
            for r in funnel.orderBy("stage_no").collect():
                print(f"prep: {r.stage:15s} {r.n}")
            print(f"prep: wrote split corpus to {args.out}")
        return 0
    finally:
        if preexisting is None:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())

"""CLI end-to-end: ingest (EP1, disk-backed fetch) → etl (EP2) →
conform (EP3) through `python -m frontpage_spark`'s main()."""

import hashlib

import pytest
from pyspark.sql import functions as F

from frontpage_spark.__main__ import main

HTML = (
    '<div class="adInfo">Posted: Tuesday, May 2, 2017 11:28 PM</div>'
    '<div id="postingTitle"><h1>Deal Report Ad</h1></div>'
    '<div class="postingBody">call 555-123-4567</div>'
    "<p class=\"metaInfoDisplay\">Poster's age: 25</p>"
    "<div>Location: midtown</div>"
)

DIM = (
    "site_id,city,state,region,division,url\n"
    "nyc,New York,NY,Northeast,Mid-Atlantic,u\n"
    "sfo,San Francisco,CA,West,Pacific,u\n"
)


def _crawl(tmp_path, urls, dead=()):
    """Payloads for ``urls`` (``dead`` ones get none) under an html dir,
    a site CSV, and a runner for one ingest + `etl --stream` cycle."""
    html_dir = tmp_path / "html"
    html_dir.mkdir()
    for u in urls:
        if u not in dead:
            (html_dir / (hashlib.md5(u.encode()).hexdigest() + ".html")).write_text(HTML)
    dim = tmp_path / "dim.csv"
    dim.write_text(DIM)
    raw_dir, clean_dir = str(tmp_path / "raw"), str(tmp_path / "clean")

    def cycle(*batch):
        url_file = tmp_path / "urls.txt"
        url_file.write_text("\n".join(batch) + "\n")
        assert main(["ingest", "--urls", str(url_file), "--html-dir", str(html_dir),
                     "--out", raw_dir, "--max-retries", "0",
                     "--scrape-date", "2017-05-01 00:00:00"]) == 0
        assert main(["etl", "--raw", raw_dir, "--dim", str(dim), "--out", clean_dir,
                     "--stream"]) == 0

    return cycle, raw_dir, clean_dir


def _ingest_report(capsys) -> str:
    return [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("ingest:")][-1]


def test_cli_ingest_etl_conform(spark, tmp_path, capsys):
    urls = [
        "http://nyc.example.com/cats/x/111",
        "http://sfo.example.com/dogs/x/222",
        "http://nyc.example.com/cats/x/404",  # no payload on disk -> dead-letter
    ]
    html_dir = tmp_path / "html"
    html_dir.mkdir()
    for u in urls[:2]:
        (html_dir / (hashlib.md5(u.encode()).hexdigest() + ".html")).write_text(HTML)
    url_file = tmp_path / "urls.txt"
    url_file.write_text("\n".join(urls) + "\n")
    dim = tmp_path / "dim.csv"
    dim.write_text(DIM)
    raw_dir, clean_dir, conf_dir = (
        str(tmp_path / "raw"), str(tmp_path / "clean"), str(tmp_path / "conf"),
    )

    # EP1: only the two resolvable URLs land; replay is idempotent
    ingest_args = ["ingest", "--urls", str(url_file), "--html-dir", str(html_dir),
                   "--out", raw_dir, "--max-retries", "0",
                   "--scrape-date", "2017-05-01 00:00:00"]
    assert main(ingest_args) == 0
    assert spark.read.parquet(raw_dir).count() == 2
    assert _ingest_report(capsys) == "ingest: sink now has 2 rows (1 dead-lettered fetches)"
    assert main(ingest_args) == 0
    assert spark.read.parquet(raw_dir).count() == 2
    assert _ingest_report(capsys) == "ingest: sink now has 2 rows (1 dead-lettered fetches)"

    # the dead-letter count is observed on the write job: an empty URL
    # file still reports 0 (and returns), an all-dead one adds no rows
    empty_file = tmp_path / "empty.txt"
    empty_file.write_text("")
    assert main([*ingest_args[:2], str(empty_file), *ingest_args[3:]]) == 0
    assert _ingest_report(capsys) == "ingest: sink now has 2 rows (0 dead-lettered fetches)"
    dead_file = tmp_path / "dead.txt"
    dead_file.write_text(
        "http://nyc.example.com/cats/x/405\nhttp://sfo.example.com/dogs/x/406\n"
    )
    assert main([*ingest_args[:2], str(dead_file), *ingest_args[3:]]) == 0
    assert _ingest_report(capsys) == "ingest: sink now has 2 rows (2 dead-lettered fetches)"
    assert spark.read.parquet(raw_dir).count() == 2

    # EP2: raw -> 17-col clean
    assert main(["etl", "--raw", raw_dir, "--dim", str(dim), "--out", clean_dir]) == 0
    clean = spark.read.parquet(clean_dir)
    assert clean.count() == 2 and len(clean.columns) == 17
    assert {r["city"] for r in clean.collect()} == {"New York", "San Francisco"}

    # EP3: conform keeps rows backed by raw with sane temporal order
    assert main(["conform", "--clean", clean_dir, "--raw", raw_dir, "--out", conf_dir]) == 0
    assert spark.read.parquet(conf_dir).count() == 2
    # refuses to clobber its own input
    assert main(["conform", "--clean", clean_dir, "--raw", raw_dir, "--out", clean_dir]) == 2


def test_cli_prep(spark, tmp_path):
    from frontpage_spark.__main__ import main

    out = str(tmp_path / "prep_out")
    code = main([
        "prep", "--docs", "/root/testdata/sf0.001/documents.parquet", "--out", out,
    ])
    assert code == 0
    back = spark.read.parquet(out)
    assert back.count() > 0
    assert {"doc_id", "text", "ids", "n_tokens", "split"} <= set(back.columns)


def test_cli_etl_stream_dedups_across_runs(spark, tmp_path):
    """`etl --stream` reads the sink inside every epoch: the first run
    starts with no sink at all, and a later run's epoch must see the keys
    earlier runs appended, so replayed raw rows never commit twice."""
    urls = ["http://nyc.example.com/cats/x/111", "http://sfo.example.com/dogs/x/222"]
    cycle, raw_dir, clean_dir = _crawl(tmp_path, urls)
    cycle(urls[0])
    assert spark.read.parquet(clean_dir).count() == 1
    # replay the committed raw row as a new file, next to a new URL
    spark.read.parquet(raw_dir).write.mode("append").parquet(raw_dir)
    cycle(urls[1])
    clean = spark.read.parquet(clean_dir)
    assert clean.count() == 2
    assert clean.select("uniq_id").distinct().count() == 2


def _jobs_so_far(spark) -> int:
    # every job of the SparkContext, whatever its job group: the stream's
    # epochs run under the query's runId group, which
    # statusTracker().getJobIdsForGroup(None) does not list
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_cli_warm_crawl_cycle_job_count(spark, tmp_path):
    """A warm crawl cycle (ingest + `etl --stream` into existing sinks)
    runs a fixed number of Spark jobs: the sinks' and the site CSV's
    schemas are declared, so no job infers one. Inferring them cost six
    more (18): one per sink read, plus the CSV header."""
    urls = [f"http://{s}.example.com/cats/x/{i}" for i, s in enumerate(["nyc", "sfo"] * 3)]
    cycle, raw_dir, clean_dir = _crawl(tmp_path, urls, dead=urls[5:])
    cycle(*urls[:2])
    before = _jobs_so_far(spark)
    cycle(urls[0], *urls[2:])  # one re-crawl, three new pages, one dead
    jobs = _jobs_so_far(spark) - before
    assert spark.read.parquet(clean_dir).count() == 5
    assert jobs == 12, jobs


def test_cli_ingest_runs_one_python_pass(spark, tmp_path, monkeypatch):
    """Ingest's write plan has one Python node, the fetch's MapInPandas:
    record assembly reads the post date the fetch already extracted."""
    from frontpage_spark import pipeline

    written = []
    write_append = pipeline.write_append

    def capture(df, path):
        written.append(df)
        write_append(df, path)

    monkeypatch.setattr(pipeline, "write_append", capture)
    urls = ["http://nyc.example.com/cats/x/111", "http://sfo.example.com/dogs/x/222"]
    cycle, raw_dir, _ = _crawl(tmp_path, urls)
    cycle(*urls)
    ingest_plan = written[0]._jdf.queryExecution().executedPlan().toString()
    assert ingest_plan.count("MapInPandas") == 1, ingest_plan
    assert "ArrowEvalPython" not in ingest_plan, ingest_plan
    keys = {r["uniq_id"] for r in spark.read.parquet(raw_dir).collect()}
    assert keys == {"2017-05-02 23:28:00-111-nyc-cats", "2017-05-02 23:28:00-222-sfo-dogs"}


def test_cli_etl_rejects_site_csv_header_mismatch(spark, tmp_path):
    """`etl --dim` checks the CSV header against SITE_MAP_SCHEMA by name:
    columns bind by position, so the CSV must hold the schema's columns in
    its order. Swapped columns fail the run instead of binding city to
    site_id, and so does a column inserted among them."""
    urls = ["http://nyc.example.com/cats/x/111"]
    cycle, raw_dir, _ = _crawl(tmp_path, urls)
    cycle(*urls)
    swapped = tmp_path / "swapped.csv"
    swapped.write_text(DIM.replace("site_id,city,", "city,site_id,", 1))
    with pytest.raises(Exception, match="CSV header does not conform to the schema"):
        main(["etl", "--raw", raw_dir, "--dim", str(swapped), "--out", str(tmp_path / "c2")])
    extra = tmp_path / "extra.csv"
    extra.write_text("".join(ln.replace(",", ",x,", 1) + "\n" for ln in DIM.splitlines()))
    with pytest.raises(Exception, match="CSV header does not conform to the schema"):
        main(["etl", "--raw", raw_dir, "--dim", str(extra), "--out", str(tmp_path / "c3")])

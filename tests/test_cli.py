"""CLI end-to-end: ingest (EP1, disk-backed fetch) → etl (EP2) →
conform (EP3) through `python -m frontpage_spark`'s main()."""

import hashlib

from pyspark.sql import functions as F

from frontpage_spark.__main__ import main

HTML = (
    '<div class="adInfo">Posted: Tuesday, May 2, 2017 11:28 PM</div>'
    '<div id="postingTitle"><h1>Deal Report Ad</h1></div>'
    '<div class="postingBody">call 555-123-4567</div>'
    "<p class=\"metaInfoDisplay\">Poster's age: 25</p>"
    "<div>Location: midtown</div>"
)


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
    dim.write_text(
        "site_id,city,state,region,division,url\n"
        "nyc,New York,NY,Northeast,Mid-Atlantic,u\n"
        "sfo,San Francisco,CA,West,Pacific,u\n"
    )
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
    html_dir = tmp_path / "html"
    html_dir.mkdir()
    for u in urls:
        (html_dir / (hashlib.md5(u.encode()).hexdigest() + ".html")).write_text(HTML)
    dim = tmp_path / "dim.csv"
    dim.write_text(
        "site_id,city,state,region,division,url\n"
        "nyc,New York,NY,Northeast,Mid-Atlantic,u\n"
        "sfo,San Francisco,CA,West,Pacific,u\n"
    )
    raw_dir, clean_dir = str(tmp_path / "raw"), str(tmp_path / "clean")
    etl_args = ["etl", "--raw", raw_dir, "--dim", str(dim), "--out", clean_dir, "--stream"]

    def ingest(*batch):
        url_file = tmp_path / "urls.txt"
        url_file.write_text("\n".join(batch) + "\n")
        assert main(["ingest", "--urls", str(url_file), "--html-dir", str(html_dir),
                     "--out", raw_dir, "--max-retries", "0",
                     "--scrape-date", "2017-05-01 00:00:00"]) == 0

    ingest(urls[0])
    assert main(etl_args) == 0
    assert spark.read.parquet(clean_dir).count() == 1
    # replay the committed raw row as a new file, next to a new URL
    spark.read.parquet(raw_dir).write.mode("append").parquet(raw_dir)
    ingest(urls[1])
    assert main(etl_args) == 0
    clean = spark.read.parquet(clean_dir)
    assert clean.count() == 2
    assert clean.select("uniq_id").distinct().count() == 2

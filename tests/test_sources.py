"""Source adapter tests (SURVEY.md §2.1): parquet tables, CSV dims,
text params, bounded pagination."""

from pyspark.sql import functions as F

from frontpage_spark.schemas import SITE_MAP_SCHEMA
from frontpage_spark.sources import (
    csv_dimension,
    load_table,
    paginated_scan,
    text_params,
)

SF = "/root/testdata/sf0.001"


def test_load_table_nano_ts(spark):
    ev = load_table(spark, SF, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"  # nanos column converted
    assert ev.count() > 0


def test_csv_dimension(spark, tmp_path):
    p = tmp_path / "dim.csv"
    p.write_text(
        "site_id,city,state,region,division,url\n"
        "nyc,New York,NY,Northeast,Middle Atlantic,https://newyork.craigslist.org\n"
        "sfo,San Francisco,CA,West,Pacific,https://sfbay.craigslist.org\n"
    )
    df = csv_dimension(spark, str(p), SITE_MAP_SCHEMA)
    assert df.columns == SITE_MAP_SCHEMA.fieldNames()
    got = sorted((r["site_id"], r["city"], r["division"]) for r in df.collect())
    assert got == [("nyc", "New York", "Middle Atlantic"), ("sfo", "San Francisco", "Pacific")]


def test_text_params_normalize(spark, tmp_path):
    p = tmp_path / "cities.txt"
    p.write_text("  New York \nnew york\r\nBoston\n\n  \n")
    got = sorted(r["value"] for r in text_params(spark, str(p)).collect())
    assert got == ["boston", "new york"]  # lowered, stripped, deduped, blanks dropped


def test_paginated_scan_stops_on_empty(spark):
    fetched = []

    def fetch(n):
        fetched.append(n)
        if n > 3:  # page 4 is empty → terminate
            return spark.range(0)
        return spark.range(10).select((F.col("id") + n * 100).alias("id"))

    out = paginated_scan(fetch, max_pages=49)
    assert out.count() == 30
    assert fetched == [1, 2, 3, 4]  # stopped at the first empty page


def test_paginated_scan_respects_bound(spark):
    out = paginated_scan(lambda n: spark.range(1), max_pages=5)
    assert out.count() == 5


def test_paginated_scan_all_empty(spark):
    assert paginated_scan(lambda n: spark.range(0), max_pages=5) is None


def test_fetch_documents_retry_and_dead_letter(spark):
    from frontpage_spark.sources import assemble_raw, fetch_documents

    # fixture ad HTML (same selectors as FIXTURES.md §A1)
    html = (
        '<div class="adInfo">Posted: Tuesday, May 2, 2017 11:28 PM</div>'
        '<div class="postingBody">call 555-123-4567</div>'
    )
    attempts = {}

    def fetcher(url):
        # flaky URL succeeds on the 3rd try; dead URL never succeeds
        attempts[url] = attempts.get(url, 0) + 1
        if url.endswith("dead"):
            raise OSError("connection refused")
        if url.endswith("flaky") and attempts[url] < 3:
            raise OSError("timeout")
        return 200, html

    rotations = []

    urls = spark.createDataFrame(
        [("http://nyc.example.com/cats/x/111",),
         ("http://sfo.example.com/dogs/x/flaky",),
         ("http://nyc.example.com/cats/x/dead",)],
        ["url"],
    ).coalesce(1)
    fetched = fetch_documents(
        urls, fetcher, max_retries=2,
        on_retry=lambda url, attempt: rotations.append((url, attempt)),
        clock=lambda: "2017-05-03 10:00:00",
    )
    rows = {r["url"].rsplit("/", 1)[1]: r for r in fetched.collect()}
    assert rows["111"]["code"] == 200 and rows["111"]["read"] == html
    assert rows["flaky"]["code"] == 200  # recovered within budget
    assert rows["dead"]["code"] is None and "connection refused" in rows["dead"]["error"]
    assert rows["dead"]["scrape_date"] == "2017-05-03 10:00:00"

    # S3 record assembly: failures drop out, uniq_id is the composite key
    raw = assemble_raw(fetched)
    got = {r["uniq_id"]: r for r in raw.collect()}
    assert len(got) == 2
    k = "2017-05-02 23:28:00-111-nyc-cats"
    assert k in got and got[k]["ad"]["code"] == 200 and got[k]["ad"]["uniq_id"] == k


def test_fetch_to_clean_end_to_end(spark):
    """EP1 completed without a network: synthetic fetcher -> raw records
    -> run_batch -> 17-col clean output."""
    from frontpage_spark.pipeline import run_batch, to_compat
    from frontpage_spark.schemas import CLEAN_COMPAT_COLUMNS, SITE_MAP_SCHEMA
    from frontpage_spark.sources import assemble_raw, fetch_documents

    html = (
        '<div class="adInfo">Posted: Tuesday, May 2, 2017 11:28 PM</div>'
        '<div id="postingTitle"><h1>Deal Report Ad</h1></div>'
        '<div class="postingBody">call 555-123-4567</div>'
        "<p class=\"metaInfoDisplay\">Poster's age: 25</p>"
        "<div>Location: midtown</div>"
    )
    urls = spark.createDataFrame(
        [("http://nyc.example.com/cats/x/111",), ("http://sfo.example.com/dogs/x/222",)],
        ["url"],
    )
    site_map = spark.createDataFrame(
        [("nyc", "New York", "NY", "Northeast", "Mid-Atlantic", "u"),
         ("sfo", "San Francisco", "CA", "West", "Pacific", "u")],
        SITE_MAP_SCHEMA,
    )
    raw = assemble_raw(
        fetch_documents(urls, lambda u: (200, html), clock=lambda: "2017-05-03 10:00:00")
    )
    existing = spark.createDataFrame([], "uniq_id string")
    out = to_compat(run_batch(raw, site_map, existing))
    assert sorted(out.columns) == sorted(CLEAN_COMPAT_COLUMNS)
    rows = {r["site_id"]: r for r in out.collect()}
    assert len(rows) == 2 and rows["nyc"]["city"] == "New York"
    assert rows["sfo"]["phone"] == "5551234567"


def test_orc_and_jsonlines_roundtrip(spark, tmp_path):
    """Format breadth beyond parquet: ORC (columnar, built-in) and JSON
    lines (interchange) both round-trip the same frame losslessly."""
    from pyspark.sql import functions as F

    df = spark.range(0, 100).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
    )
    orc_path, json_path = str(tmp_path / "o.orc"), str(tmp_path / "j.json")
    df.write.orc(orc_path)
    df.write.json(json_path)
    orc_back = spark.read.orc(orc_path)
    json_back = spark.read.schema(df.schema).json(json_path)
    want = sorted(map(tuple, df.collect()))
    assert sorted(map(tuple, orc_back.collect())) == want
    assert sorted(map(tuple, json_back.collect())) == want
    # ORC carries pushdown too
    plan = orc_back.filter(F.col("grp") == 3)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "orc" in plan.lower()


def test_xml_roundtrip(spark, tmp_path):
    """Spark 4 built-in XML source: write rows as <row> elements, read
    them back by rowTag with an explicit schema (no inference pass) —
    the interchange format for feed-style corpora (sitemaps, dumps)."""
    from pyspark.sql import functions as F

    df = spark.range(0, 50).select(
        F.col("id"),
        (F.col("id") % 5).alias("grp"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("title"),
    )
    path = str(tmp_path / "x.xml")
    df.write.format("xml").option("rowTag", "row").save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema(df.schema)
        .load(path)
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # nested elements land as structs
    nested = str(tmp_path / "n.xml")
    (tmp_path / "n.xml").mkdir()
    (tmp_path / "n.xml" / "part-0.xml").write_text(
        "<rows><row><id>1</id><meta><lang>en</lang><score>3</score></meta></row>"
        "<row><id>2</id><meta><lang>de</lang><score>5</score></meta></row></rows>"
    )
    ndf = spark.read.format("xml").option("rowTag", "row").load(nested)
    got = {r["id"]: (r["meta"]["lang"], r["meta"]["score"]) for r in ndf.collect()}
    assert got == {1: ("en", 3), 2: ("de", 5)}


def test_csv_permissive_corrupt_records(spark, tmp_path):
    """Ingestion robustness: PERMISSIVE mode parks malformed CSV rows in
    a _corrupt_record column instead of failing the scan — the file-side
    analogue of the pipeline's dead-letter quarantine; DROPMALFORMED
    drops them; FAILFAST surfaces the error."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    p = tmp_path / "dirty.csv"
    p.write_text("id,qty\n1,10\n2,notanumber\n3,30\n")
    schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("qty", IntegerType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = (
        spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema)
        .csv(str(p))
        .cache()  # corrupt-record column requires the raw row to survive pruning
    )
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert sorted(r["id"] for r in good.collect()) == [1, 3]
    assert [r["_corrupt_record"] for r in bad.collect()] == ["2,notanumber"]

    dropped = (
        spark.read.option("header", "true")
        .option("mode", "DROPMALFORMED")
        .schema(StructType(schema.fields[:2]))
        .csv(str(p))
    )
    assert sorted(r["id"] for r in dropped.collect()) == [1, 3]


def test_python_datasource_listing_scan(spark):
    """Spark 4 Python DataSource: the paginated listing scan plans one
    partition per page and parallelizes what the reference walked
    serially; rows are deterministic."""
    from frontpage_spark.ext.pysource import ListingDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ListingDataSource)
    df = (
        spark.read.format("frontpage_listing")
        .option("n_pages", 6)
        .option("rows_per_page", 10)
        .load()
    )
    assert df.count() == 60
    assert df.select("page").distinct().count() == 6
    # deterministic payload: same options -> identical ad ids
    a = sorted(r["ad_id"] for r in df.collect())
    b = sorted(r["ad_id"] for r in df.collect())
    assert a == b
    # the reference's pagination bound is enforced
    capped = spark.read.format("frontpage_listing").option("n_pages", 500).load()
    assert capped.select("page").distinct().count() == 49


def test_python_datasource_filter_pushdown_prunes_pages(spark):
    """EqualTo(page, n) reaches pushFilters: only the requested page is
    planned (1 partition), and results match the unpruned scan's
    filtered rows."""
    from frontpage_spark.ext.pysource import ListingDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ListingDataSource)
    base = (
        spark.read.format("frontpage_listing")
        .option("n_pages", 8)
        .option("rows_per_page", 5)
    )
    pruned = base.load().filter(F.col("page") == 3)
    assert pruned.rdd.getNumPartitions() == 1  # 7 pages never planned
    got = sorted(r["ad_id"] for r in pruned.collect())
    want = sorted(
        r["ad_id"] for r in base.load().collect() if r["page"] == 3
    )
    assert got == want and len(got) == 5


def test_python_datasource_streaming_crawl(spark, tmp_path):
    """The listing crawl as a Structured Streaming source: each poll
    resumes from the checkpointed page offset and crawls the next
    window; once the 6-page crawl is exhausted, further polls are
    no-ops — never a re-crawl."""
    from frontpage_spark.ext.pysource import ListingDataSource

    spark.dataSource.register(ListingDataSource)
    sink, chk = str(tmp_path / "out"), str(tmp_path / "chk")

    def run_once():
        q = (
            spark.readStream.format("frontpage_listing")
            .option("n_pages", 6)
            .option("rows_per_page", 4)
            .option("pages_per_batch", 2)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # each poll resumes from the checkpointed offset and crawls the
    # next pages_per_batch pages — the reference's polled loop shape
    counts = []
    for _ in range(3):
        run_once()
        counts.append(spark.read.parquet(sink).count())
    assert counts == [8, 16, 24]  # 2 pages x 4 rows per poll
    got = spark.read.parquet(sink)
    assert sorted(r["page"] for r in got.select("page").distinct().collect()) == [1, 2, 3, 4, 5, 6]
    # crawl exhausted: another poll reads nothing new
    run_once()
    assert spark.read.parquet(sink).count() == 24


def test_daemon_preload_module_importable():
    """The preloading daemon must import cleanly in a bare interpreter
    (workers launch it via `python -m`); a broken import would take
    down EVERY Python stage, so guard it here. Its namespace must end
    up holding the preloaded libs and the stock daemon entrypoint."""
    import importlib

    mod = importlib.import_module("frontpage_spark.daemon_preload")
    assert callable(mod.manager)
    import sys

    for lib in ("numpy", "pandas", "pyarrow"):
        assert lib in sys.modules


def test_daemon_preload_leaves_no_zipimporters():
    """Workers forked from the daemon inherit its sys.path_importer_cache,
    and pyspark's worker main calls importlib.invalidate_caches() on
    every task, which makes each cached zipimporter re-read its whole
    archive. Run the daemon module the way Spark runs it, pyspark from
    its zip, and require that no zipimporter survives the import; a
    submodule it never preloaded must still import from the zip."""
    import glob
    import os
    import subprocess
    import sys

    import pyspark

    lib = os.path.join(os.path.dirname(pyspark.__file__), "python", "lib")
    zips = [os.path.join(lib, "pyspark.zip"), *glob.glob(os.path.join(lib, "py4j-*.zip"))]
    assert len(zips) == 2 and all(os.path.isfile(z) for z in zips), zips
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = (
        "import sys, zipimport\n"
        "import frontpage_spark.daemon_preload\n"
        "import pyspark\n"
        "assert '.zip' in pyspark.__file__, pyspark.__file__\n"
        "left = [k for k, v in sys.path_importer_cache.items()\n"
        "        if isinstance(v, zipimport.zipimporter)]\n"
        "assert not left, left\n"
        "assert 'pyspark.ml.linalg' not in sys.modules\n"
        "import pyspark.ml.linalg as m\n"
        "assert '.zip' in m.__file__, m.__file__\n"
    )
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([*zips, repo]))
    r = subprocess.run(
        [sys.executable, "-c", probe], env=env, cwd=lib,
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]


def test_get_spark_exports_repo_on_pythonpath(monkeypatch):
    """get_spark must make the package importable for worker daemons
    (spark.python.daemon.module resolves in a fresh process using
    $PYTHONPATH, not the driver's sys.path)."""
    import os
    import frontpage_spark.session as S

    monkeypatch.delenv("PYTHONPATH", raising=False)
    # builder-only probe: function mutates env before building; calling
    # it against the already-running test session is fine (getOrCreate
    # reuses it) and must still export the path.
    S.get_spark("pp-probe")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(S.__file__)))
    assert repo in os.environ["PYTHONPATH"].split(os.pathsep)


def test_jsonl_source_quarantine(spark, tmp_path):
    """S-series extension: JSON-lines feed with a durable corrupt-record
    channel — bad lines land in the quarantine parquet (raw preserved
    byte-for-byte for replay), clean rows come back typed with exactly
    the declared columns, and nothing is silently nulled or dropped."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from frontpage_spark.sources import jsonl_source

    src = tmp_path / "feed.jsonl"
    src.write_text(
        '{"id": 1, "name": "ok"}\n'
        "this is not json\n"
        '{"id": 2, "name": "also ok"}\n'
        '{"id": "NaNope", "name": 3}\n'  # type mismatch -> corrupt
        '{"id": 4}\n'  # missing field -> clean with NULL name
    )
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    qdir = str(tmp_path / "quarantine")
    clean = jsonl_source(spark, str(src), schema, quarantine_path=qdir)
    rows = {r["id"]: r["name"] for r in clean.collect()}
    assert rows == {1: "ok", 2: "also ok", 4: None}
    assert clean.columns == ["id", "name"]
    bad = spark.read.parquet(qdir)
    raws = sorted(r["raw"] for r in bad.collect())
    assert raws == ["this is not json", '{"id": "NaNope", "name": 3}']
    assert set(bad.columns) == {"raw", "quarantined_at"}
    # split mode: caller keeps _corrupt_record when no quarantine sink
    df = jsonl_source(spark, str(src), schema)
    assert df.filter(df["_corrupt_record"].isNotNull()).count() == 2
    # non-OBJECT json lines (array, scalar, string, null) are corrupt;
    # an empty object is a clean all-null row (missing-field semantics)
    src2 = tmp_path / "shapes.jsonl"
    src2.write_text('[1, 2]\n42\n"str"\nnull\n{}\n')
    df2 = jsonl_source(spark, str(src2), schema)
    assert df2.filter(df2["_corrupt_record"].isNotNull()).count() == 4
    ok = df2.filter(df2["_corrupt_record"].isNull()).collect()
    assert len(ok) == 1 and ok[0]["id"] is None and ok[0]["name"] is None
    # schema misuse fails loudly
    import pytest

    with pytest.raises(ValueError, match="_corrupt_record"):
        jsonl_source(
            spark,
            str(src),
            StructType([StructField("_corrupt_record", StringType())]),
        )
    with pytest.raises(TypeError, match="StructType"):
        jsonl_source(spark, str(src), "id long")


def test_jsonl_source_model_property(spark, tmp_path):
    """Model-based check: for a generated mixed feed, clean rows must
    equal what Python's json.loads accepts (objects only, with the
    declared fields type-coerced), and every other line must land in
    quarantine byte-for-byte — no row lost, no row invented."""
    import json as pyjson

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from frontpage_spark.sources import jsonl_source

    lines = []
    expected_clean = {}
    expected_bad = []
    for i in range(120):
        kind = i % 6
        if kind in (0, 1, 2):  # valid object
            obj = {"id": i, "name": f"n{i}" if i % 5 else None}
            lines.append(pyjson.dumps(obj))
            expected_clean[i] = obj["name"]
        elif kind == 3:  # broken syntax
            lines.append(f'{{"id": {i}, "name": ')
            expected_bad.append(lines[-1])
        elif kind == 4:  # non-object
            lines.append(f"[{i}]")
            expected_bad.append(lines[-1])
        else:  # type mismatch on a declared field
            lines.append(f'{{"id": "x{i}", "name": "y"}}')
            expected_bad.append(lines[-1])
    src = tmp_path / "mixed.jsonl"
    src.write_text("\n".join(lines) + "\n")
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    qdir = str(tmp_path / "q")
    clean = jsonl_source(spark, str(src), schema, quarantine_path=qdir)
    got = {r["id"]: r["name"] for r in clean.collect()}
    assert got == expected_clean
    raws = sorted(r["raw"] for r in spark.read.parquet(qdir).collect())
    assert raws == sorted(expected_bad)


def test_jsonl_blank_lines_are_separators(spark, tmp_path):
    """ADVICE r8 (medium): blank / whitespace-only feed lines must not
    surface as invented all-NULL 'clean' rows (PERMISSIVE from_json
    returns a NULL struct with NULL _corrupt_record for them). The
    pinned contract: true blanks are line separators — dropped before
    the parse, reaching NEITHER channel — while every non-blank
    unparseable line still lands in quarantine byte-for-byte."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from frontpage_spark.sources import jsonl_source

    src = tmp_path / "feed.jsonl"
    src.write_text(
        '{"id": 1, "name": "ok"}\n'
        "\n"  # blank separator line
        "   \n"  # whitespace-only line
        '{"id": 2, "name": "ok2"}\n'
        "\t\n"  # tab-only line
        "nope\n"
    )
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    # split mode: no all-NULL clean rows, no blank 'corrupt' rows
    df = jsonl_source(spark, str(src), schema)
    assert df.count() == 3  # 2 clean + 1 corrupt; blanks gone
    assert df.filter(df["_corrupt_record"].isNotNull()).count() == 1
    clean = df.filter(df["_corrupt_record"].isNull()).collect()
    assert {r["id"] for r in clean} == {1, 2}
    assert all(r["id"] is not None for r in clean)
    # ingest mode: quarantine holds exactly the one real bad line
    qdir = str(tmp_path / "q")
    got = jsonl_source(spark, str(src), schema, quarantine_path=qdir)
    assert {r["id"] for r in got.collect()} == {1, 2}
    raws = [r["raw"] for r in spark.read.parquet(qdir).collect()]
    assert raws == ["nope"]


def test_jsonl_ingest_single_scan(spark, tmp_path):
    """VERDICT r8 item 3: the quarantine ingest is ONE-PASS — the
    parse is pinned before the quarantine write, so the returned clean
    frame is served from the cached materialization, not a second text
    scan. Proof is behavioral AND plan-level: (a) the source file is
    DELETED after the ingest call and the clean frame still collects
    the right rows (a re-scan would throw or return nothing); (b) the
    clean frame's physical plan reads InMemoryTableScan."""
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from frontpage_spark import plans
    from frontpage_spark.sources import jsonl_ingest

    src = tmp_path / "feed.jsonl"
    src.write_text('{"id": 1, "name": "a"}\nbad {\n{"id": 2, "name": "b"}\n')
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    qdir = str(tmp_path / "q")
    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup(None))
    clean = jsonl_ingest(spark, str(src), schema, quarantine_path=qdir)
    jobs_during = set(tracker.getJobIdsForGroup(None)) - jobs_before
    # exactly ONE job at ingest time: the quarantine write, which is
    # also the job that populates the pinned parse (keep() itself is
    # lazy) — there is no separate probe/count/second-scan job
    assert len(jobs_during) == 1, f"ingest ran {len(jobs_during)} jobs"
    plan = clean._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    os.remove(src)
    try:
        assert {r["id"]: r["name"] for r in clean.collect()} == {1: "a", 2: "b"}
        assert [r["raw"] for r in spark.read.parquet(qdir).collect()] == ["bad {"]
    finally:
        plans.release_kept()


def test_jsonl_ingest_snapshot_survives_eviction(spark, tmp_path):
    """ADVICE r9 (medium): the identical-snapshot guarantee must not
    rest on keep()'s 8-slot FIFO cache. The glob is resolved to a
    concrete file list BEFORE anything runs, so even after a full
    cache eviction the fallback re-scan reads the ORIGINAL files —
    a feed file landing after the ingest call is invisible to the
    returned clean frame (and its corrupt rows never skip quarantine,
    because quarantine was already committed from the same list)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from frontpage_spark import plans
    from frontpage_spark.sources import jsonl_ingest

    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "a.jsonl").write_text('{"id": 1, "name": "a"}\nbad {\n')
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    qdir = str(tmp_path / "q")
    clean = jsonl_ingest(spark, str(feed / "*.jsonl"), schema, quarantine_path=qdir)
    # worst case: EVERYTHING evicted before the caller consumes clean
    plans.release_kept()
    # a late drop with one clean and one corrupt line
    (feed / "b.jsonl").write_text('{"id": 9, "name": "late"}\nlate bad {\n')
    got = {r["id"]: r["name"] for r in clean.collect()}
    assert got == {1: "a"}, f"late file leaked into the snapshot: {got}"
    raws = [r["raw"] for r in spark.read.parquet(qdir).collect()]
    assert raws == ["bad {"]


def test_jsonl_ingest_retry_idempotent_token(spark, tmp_path):
    """VERDICT r9 item 5 (chaos): a caller that dies BETWEEN the
    quarantine commit and consuming the clean frame retries the whole
    ingest. Default mode is at-least-once (duplicate quarantine rows,
    deduplicable on raw — pinned here); with ingest_token the retry
    OVERWRITES its own token partition, so the channel is exactly-once
    per token and other tokens' rows are untouched."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from frontpage_spark import plans
    from frontpage_spark.sources import jsonl_ingest

    src = tmp_path / "feed.jsonl"
    src.write_text('{"id": 1, "name": "a"}\nbad one {\nbad two {\n')
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )

    # --- at-least-once default: retry appends, dedup on raw recovers
    q1 = str(tmp_path / "q_append")
    jsonl_ingest(spark, str(src), schema, quarantine_path=q1)  # attempt 1 "dies" here
    plans.release_kept()
    clean = jsonl_ingest(spark, str(src), schema, quarantine_path=q1)  # retry
    assert {r["id"] for r in clean.collect()} == {1}
    raws = [r["raw"] for r in spark.read.parquet(q1).collect()]
    assert sorted(raws) == ["bad one {", "bad one {", "bad two {", "bad two {"]
    dedup = spark.read.parquet(q1).dropDuplicates(["raw"])
    assert sorted(r["raw"] for r in dedup.collect()) == ["bad one {", "bad two {"]

    # --- token mode: retry replaces its own partition, no duplicates
    q2 = str(tmp_path / "q_token")
    jsonl_ingest(spark, str(src), schema, q2, ingest_token="batch-001")
    plans.release_kept()
    clean = jsonl_ingest(spark, str(src), schema, q2, ingest_token="batch-001")
    assert {r["id"] for r in clean.collect()} == {1}
    qdf = spark.read.parquet(q2)
    assert sorted(r["raw"] for r in qdf.collect()) == ["bad one {", "bad two {"]
    # a different token lands beside it, untouched by future retries
    jsonl_ingest(spark, str(src), schema, q2, ingest_token="batch-002")
    jsonl_ingest(spark, str(src), schema, q2, ingest_token="batch-002")
    qdf = spark.read.parquet(q2)
    assert qdf.count() == 4
    assert {r["ingest_token"] for r in qdf.select("ingest_token").collect()} == {
        "batch-001",
        "batch-002",
    }


def test_jsonl_stream_foreachbatch_quarantine(spark, tmp_path):
    """ST1/ST4 composition with the jsonl feed: a file-discovery text
    stream parsed by the shared projection; each micro-batch splits
    clean rows into the warehouse sink and bad raws into the durable
    quarantine. Two files discovered across two micro-batches — every
    line accounted for on one side or the other."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from frontpage_spark.sources import jsonl_stream

    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "a.jsonl").write_text('{"id": 1, "name": "x"}\nbroken {\n{"id": 2, "name": "y"}\n')
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    clean_dir = str(tmp_path / "clean")
    qdir = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")

    stream = jsonl_stream(spark, str(feed), schema)
    assert stream.isStreaming

    def body(batch, epoch_id):
        batch.filter(F.col("_corrupt_record").isNull()).select("id", "name").write.mode(
            "append"
        ).parquet(clean_dir)
        bad = batch.filter(F.col("_corrupt_record").isNotNull()).select(
            F.col("_corrupt_record").alias("raw"),
            F.current_timestamp().alias("quarantined_at"),
        )
        bad.write.mode("append").parquet(qdir)

    q = stream.writeStream.foreachBatch(body).option("checkpointLocation", ckpt).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)
    # second file lands; a fresh availableNow run picks up ONLY it
    (feed / "b.jsonl").write_text('{"id": 3, "name": "z"}\n[7]\n')
    q2 = stream.writeStream.foreachBatch(body).option("checkpointLocation", ckpt).trigger(
        availableNow=True
    ).start()
    q2.awaitTermination(120)

    clean = {r["id"]: r["name"] for r in spark.read.parquet(clean_dir).collect()}
    assert clean == {1: "x", 2: "y", 3: "z"}
    raws = sorted(r["raw"] for r in spark.read.parquet(qdir).collect())
    assert raws == ["[7]", "broken {"]


def test_jsonl_ingest_quarantine_mode_conflict_raises(spark, tmp_path):
    """ADVICE r10: the flat-append and ingest_token layouts are
    incompatible on one quarantine path (mixing them breaks partition
    discovery on the dir) — the ingest detects the existing layout and
    refuses a conflicting mode instead of corrupting the channel."""
    import pytest
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from frontpage_spark import plans
    from frontpage_spark.sources import jsonl_ingest

    src = tmp_path / "feed.jsonl"
    src.write_text('{"id": 1, "name": "a"}\nbad {\n')
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    try:
        # flat dir -> token mode refused
        q1 = str(tmp_path / "q_flat")
        jsonl_ingest(spark, str(src), schema, quarantine_path=q1)
        with pytest.raises(ValueError, match="stick to one mode"):
            jsonl_ingest(spark, str(src), schema, q1, ingest_token="t1")
        # token dir -> flat mode refused
        q2 = str(tmp_path / "q_tok")
        jsonl_ingest(spark, str(src), schema, q2, ingest_token="t1")
        with pytest.raises(ValueError, match="stick to one mode"):
            jsonl_ingest(spark, str(src), schema, quarantine_path=q2)
        # matching modes keep working (incl. on a fresh path)
        jsonl_ingest(spark, str(src), schema, quarantine_path=q1)
        jsonl_ingest(spark, str(src), schema, q2, ingest_token="t2")
    finally:
        plans.release_kept()


def test_fetch_post_date_matches_udf_on_corpus(spark):
    """``fetch_documents`` extracts ``post_date_raw`` in its own pass:
    on every page of the 500-doc corpus, a page with no adInfo div and a
    dead URL it equals ``html._extract``, and ``assemble_raw`` keys the
    same uniq_ids as the Arrow UDF ``html.extract_fields`` over ``read``."""
    import os

    import pyarrow.parquet as pq

    from frontpage_spark import functions as FF, html
    from frontpage_spark.sources import assemble_raw, fetch_documents

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    corpus = pq.read_table(os.path.join(root, "fixtures", "html_corpus.parquet")).to_pydict()
    pages = {
        f"http://site{k % 5}.example.com/cat{k % 3}/{k + 100000}/x": h
        for k, h in zip(corpus["k"], corpus["html"])
    }
    pages["http://nyc.example.com/cats/x/7"] = '<div class="postingBody">no date</div>'
    dead = "http://nyc.example.com/cats/x/dead"

    def fetcher(url):
        if url not in pages:
            raise OSError("connection refused")
        return 200, pages[url]

    urls = spark.createDataFrame([(u,) for u in [*pages, dead]], ["url"]).repartition(4)
    fetched = fetch_documents(urls, fetcher, max_retries=0, clock=lambda: "2017-06-01 00:00:00")

    got = {r["url"]: r["post_date_raw"] for r in fetched.select("url", "post_date_raw").collect()}
    want = {u: html._extract(pages.get(u), "post_date_raw") for u in [*pages, dead]}
    assert got == want
    assert got[dead] is None and got["http://nyc.example.com/cats/x/7"] is None
    assert sum(v is not None for v in got.values()) > 400

    url = F.col("url")
    udf_keys = fetched.filter(F.col("error").isNull() & F.col("code").isNotNull()).select(
        url,
        FF.uniq_id(
            FF.format_ts(FF.parse_verbose_date(html.extract_fields(F.col("read"))["post_date_raw"])),
            FF.ad_id_from_url(url),
            FF.site_id_from_url(url),
            FF.category_from_url(url),
        ).alias("uniq_id"),
    )
    want_keys = {r["url"]: r["uniq_id"] for r in udf_keys.collect()}
    raw = assemble_raw(fetched).select(F.col("ad.url").alias("url"), "uniq_id")
    assert {r["url"]: r["uniq_id"] for r in raw.collect()} == want_keys
    assert len(want_keys) == len(pages)

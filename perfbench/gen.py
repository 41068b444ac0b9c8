"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the
benchmark's ``--seed`` and writes only under the directory it is given,
so the same seed gives byte-identical inputs. Each returns a small
record of the shares and sizes it drew; the benchmark prints it.

* ``write_tables``  -- the ten testdata tables the registered queries
  read (``frontpage_spark.schemas.TESTDATA_TABLES``), drawn from the
  same distribution families as ``tools/gen_sf1.py`` (uniform TPC-H-ish
  domains, exponential event values, a 5% near-duplicate document
  family, unit-Gaussian 64-d embeddings). ``region``/``nation`` are the
  fixed 5/25-row dimensions.
* ``CrawlPlan``     -- the crawl_etl inputs: a 479-row site CSV (the
  size of the reference's ``params/URLs.csv``), and waves of ad URLs
  whose pages are ``<md5(url)>.html`` files cut from
  ``fixtures/html_corpus.parquet``. Each wave has fixed shares of
  re-crawled URLs, dead pages and unknown sites, and the plan keeps,
  in plain Python, the set of URLs the clean sink must end up holding.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# testdata tables
# ---------------------------------------------------------------------------

#: sf0.1 row counts; ``write_tables`` scales them.
SF01_ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
    "lineitem": 600_000, "events": 100_000, "users": 1_500,
}

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["large", "hot", "blue", "old", "cold", "dark", "light", "new", "tiny", "deep"]
_NOUN = ["ring", "bolt", "plate", "cap", "wheel", "pin", "rod", "cup", "gear", "nut"]
_PTYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "DELUXE"]
_ETYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "zh", "fr", "es"]
_LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY = np.timedelta64(1, "D")
ORD_LO = np.datetime64("1995-01-01")
ORD_DAYS = int((np.datetime64("2001-08-01") - ORD_LO) / DAY) + 1


def _pick(rng, values, n):
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def _dates(rng, n):
    return ORD_LO + rng.integers(0, ORD_DAYS, n) * DAY


def documents_table(rng, n_doc: int) -> pa.Table:
    """30-word vocabulary, 10-100 words a document; about 5% of documents
    copy an earlier one, change 0-3 words and tag one position 'dup'."""
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 50 and rng.random() < 0.05:
            w = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 4))):
                w[int(rng.integers(0, len(w)))] = _WORDS[int(rng.integers(0, 30))]
            w[int(rng.integers(0, len(w)))] = "dup"
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(words[rng.integers(0, 30, int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(_LANGS, n_doc, p=_LANG_P)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng, n_emb: int) -> pa.Table:
    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })


def write_tables(out: str, rng, scale: float, n_doc: int, n_emb: int) -> dict:
    """Write the ten testdata tables to ``out/<name>.parquet``.

    ``scale`` multiplies the sf0.1 row counts (0.1 gives sf0.01);
    ``n_doc``/``n_emb`` size the text and vector tables on their own,
    because the dedup workload scales those and nothing else."""
    os.makedirs(out, exist_ok=True)
    n = {k: max(1, int(v * scale)) for k, v in SF01_ROWS.items()}
    tables: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-1000, 10000, n["customer"]), 2),
            "c_mktsegment": _pick(rng, _SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-1000, 10000, n["supplier"]), 2),
        }),
    }
    n_part = n["part"]
    adj, noun = np.array(_ADJ), np.array(_NOUN)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(
            adj[rng.integers(0, 10, n_part)], " "), noun[rng.integers(0, 10, n_part)])),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 2),
    })
    n_ord = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(_dates(rng, n_ord).astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    n_line = n["lineitem"]
    ship = (_dates(rng, n_line) + rng.integers(1, 96, n_line) * DAY).astype("datetime64[us]")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    n_evt = n["events"]
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(np.datetime64("2024-01-01T00:00:00")
                 + rng.integers(0, span_us, n_evt).astype("timedelta64[us]"))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], n_evt), pa.int64()),
        "event_type": _pick(rng, _ETYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    tables["documents"] = documents_table(rng, n_doc)
    tables["embeddings"] = embeddings_table(rng, n_emb)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# crawl_etl waves
# ---------------------------------------------------------------------------

N_SITES = 479  # rows of the reference's params/URLs.csv
_CATEGORIES = ["autos", "jobs", "rentals", "services", "forsale", "community"]
_STATES = ["AL", "CA", "FL", "IL", "NY", "OH", "TX", "WA"]
_DIVISIONS = ["Pacific", "Mountain", "New England", "Mid-Atlantic", "South Atlantic"]

#: Shares of every wave (no re-crawls in the first, which has no earlier
#: URLs). FIXTURES.md gives the reference's batches ~5-10% uniq_ids
#: already seen in an earlier batch and ~2% pages that dead-letter; the
#: re-crawl share is the middle of that range. The reference only crawls
#: sites listed in its URLs.csv, so it has no unknown-site share to take:
#: this one is chosen, at the dead-letter rate, so that each wave still
#: sends about 20 rows down the enrichment's drop path.
RECRAWL_SHARE = 0.075  # URL already crawled in an earlier wave
DEAD_SHARE = 0.02      # no page on disk: the fetch dead-letters it
UNKNOWN_SHARE = 0.02   # site id absent from the site CSV: enrichment drops it

CORPUS = os.path.join("fixtures", "html_corpus.parquet")
GOLDEN = os.path.join("fixtures", "html_golden.parquet")


class CrawlPlan:
    """Seeded crawl inputs under ``root``: ``sites.csv``, ``html/`` (hard
    links into ``pages/``) and one ``wave_<i>.txt`` URL file per wave.

    ``doc_of`` maps every live URL to the corpus document its page was
    cut from; ``expected_clean`` is the URL set the clean sink must hold
    after the waves so far: every distinct live URL on a known site.
    """

    def __init__(self, root: str, rng, wave_size: int, n_waves: int):
        self.root = root
        self.html_dir = os.path.join(root, "html")
        self.sites_csv = os.path.join(root, "sites.csv")
        self.wave_size = wave_size
        os.makedirs(self.html_dir, exist_ok=True)
        # each corpus page is written once; a URL's page is a hard link to it
        pool = os.path.join(root, "pages")
        os.makedirs(pool, exist_ok=True)
        pages = pq.read_table(CORPUS).to_pydict()
        self.n_docs = len(pages["k"])
        for k, html in zip(pages["k"], pages["html"]):
            with open(os.path.join(pool, f"{k}.html"), "w", encoding="utf-8") as f:
                f.write(html)
        self._write_sites(rng)
        self.doc_of: dict[str, int] = {}
        self.known: set[str] = set()
        self.wave_files: list[str] = []
        self.wave_urls: list[list[str]] = []
        self.counts = {"recrawl": 0, "dead": 0, "unknown_site": 0, "new_live": 0}
        crawled: list[str] = []
        next_ad = 0
        for w in range(n_waves):
            urls: list[str] = []
            kinds = rng.random(wave_size)
            for r in kinds:
                if w and r < RECRAWL_SHARE:
                    urls.append(crawled[int(rng.integers(0, len(crawled)))])
                    self.counts["recrawl"] += 1
                    continue
                next_ad += 1
                cat = _CATEGORIES[int(rng.integers(0, len(_CATEGORIES)))]
                if r > 1 - UNKNOWN_SHARE:
                    site = f"zz{int(rng.integers(0, 50)):02d}"
                    self.counts["unknown_site"] += 1
                else:
                    site = f"s{int(rng.integers(0, N_SITES)):03d}"
                url = f"http://{site}.backpage.com/{cat}/ad/{next_ad}"
                if 1 - UNKNOWN_SHARE - DEAD_SHARE < r <= 1 - UNKNOWN_SHARE:
                    self.counts["dead"] += 1  # no page written
                else:
                    k = int(rng.integers(0, self.n_docs))
                    self.doc_of[url] = k
                    name = hashlib.md5(url.encode()).hexdigest() + ".html"
                    os.link(os.path.join(pool, f"{pages['k'][k]}.html"),
                            os.path.join(self.html_dir, name))
                    if not site.startswith("zz"):
                        self.known.add(url)
                    self.counts["new_live"] += 1
                crawled.append(url)
                urls.append(url)
            path = os.path.join(root, f"wave_{w:03d}.txt")
            with open(path, "w", encoding="utf-8") as f:
                f.write("\n".join(urls) + "\n")
            self.wave_files.append(path)
            self.wave_urls.append(urls)

    def _write_sites(self, rng) -> None:
        with open(self.sites_csv, "w", encoding="utf-8") as f:
            f.write("site_id,city,state,region,division,url\n")
            for i in range(N_SITES):
                st = _STATES[int(rng.integers(0, len(_STATES)))]
                div = _DIVISIONS[int(rng.integers(0, len(_DIVISIONS)))]
                f.write(f"s{i:03d},City {i},{st},Region {i % 4},{div},"
                        f"http://s{i:03d}.backpage.com\n")

    def live_after(self, n_waves: int) -> set[str]:
        """Distinct URLs with a page on disk among the first ``n_waves``."""
        return {u for urls in self.wave_urls[:n_waves] for u in urls if u in self.doc_of}

    def expected_clean(self, n_waves: int) -> set[str]:
        return {u for u in self.live_after(n_waves) if u in self.known}

    def shares(self) -> dict:
        return {
            "wave_size": self.wave_size, "waves": len(self.wave_files),
            "recrawl_share": RECRAWL_SHARE, "dead_share": DEAD_SHARE,
            "unknown_site_share": UNKNOWN_SHARE, "sites": N_SITES, **self.counts,
        }

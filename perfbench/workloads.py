"""The benchmark's workloads. Each is a closed loop: one client in one
process issues its next call into the program only after the previous
one has returned.

* ``crawl_etl``    -- the reference's poll loop without its sleep: each
  cycle lands one wave of URLs with ``main(["ingest", ...])`` and
  cleans it into the sink with ``main(["etl", ..., "--stream"])``.
* ``corpus_dedup`` -- the twelve similarity / dedup / text heavies over
  a generated document and embedding corpus, noop sink,
  ``clearCache()`` after each call.

A workload has a cold phase (the first call of everything, which pays
JVM class loading, code generation and plan building) and warm passes,
which the benchmark repeats for ``--seconds``. One warm pass is one
cycle for crawl_etl and one call of every query for the other two.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import operator
import os
import random
import re
import sys
import traceback

import numpy as np

from . import gen
from .tracing import Spans, catalyst_phases, median, tail

#: Seed of corpus_dedup's tables. Its inputs are fixed; the run's
#: ``--seed`` sets the query order of every pass.
DATA_SEED = 20_161

#: The twelve heavies of corpus_dedup (all of them are in bench.HEADLINE).
DEDUP_QUERIES = [
    "prefix_filtered_jaccard", "embedding_near_dup", "embedding_near_dup_lsh",
    "near_dup_verified", "minhash_lsh_candidates", "dup_clusters",
    "semantic_dedup_report", "cdc_substring_dups", "kmeans_lloyd_counts",
    "image_dhash_near_dup", "tfidf_top_terms", "benchmark_contamination",
]

#: corpus_dedup corpus: 2x the sf0.01 documents and embeddings. At this
#: size a call's time is mostly fixed cost: on 4 cores, halving the
#: corpus shortened a warm pass by about 13% and the cold phase not at all.
CORPUS_DOCS, CORPUS_EMBS = 1_000, 1_000

#: crawl_etl wave size and the scrape timestamp every fetch records.
WAVE_SIZE = 1_000
SCRAPE_DATE = "2017-05-01 00:00:00"

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def _warn(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Workload:
    name = ""
    min_warm = 1  # warm passes run even when --seconds is already spent

    def __init__(self, seed: int):
        self.seed = seed
        self.spans = Spans()

    # set-up: write inputs under ``root`` (called once per set-up)
    def generate(self, root: str) -> dict:
        raise NotImplementedError

    # first calls, then warm passes; each call is an "op" span with ok=
    def cold(self, spark, traced: bool) -> None:
        raise NotImplementedError

    def warm(self, spark, i: int) -> bool:
        """Run warm pass ``i``; False when no input is left for it."""
        raise NotImplementedError

    def check(self, spark) -> list[str]:
        """End-of-run output check: its problems (calls are checked as
        they run)."""
        return []

    def reset(self, tag: str) -> None:
        """Start a fresh measurement on the same inputs."""
        self.spans = Spans()

    def ops(self, phase: str | None = None):
        return [s for s in self.spans.named("op") if phase is None or s.attrs["phase"] == phase]

    def end_to_end(self, wall: bool = False) -> dict:
        """The workload's end-to-end figures from steal-adjusted
        durations (``Span.run_dur``); ``wall=True`` uses raw walls."""
        raise NotImplementedError

    def report(self) -> list[str]:
        """Human-readable lines with the workload's own metric names."""
        return []


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

def output_digest(pdf) -> str:
    """sha256 of ``tools.check.normalize``'s canonical form: order-
    insensitive, per-cell repr, columns sorted by name."""
    from tools.check import normalize

    n = normalize(pdf)
    payload = json.dumps([list(n.columns)] + n.values.tolist())
    return hashlib.sha256(payload.encode()).hexdigest()


class CorpusDedup(Workload):
    """The twelve heavies over fixed tables; ``--seed`` sets the query
    order of every pass. Outputs are checked against digests recorded by
    ``run.py --record-digests``, which writes them only after every
    query matched its DuckDB oracle through ``tools.check.compare``;
    running the oracles themselves would take longer than the cold pass
    at this corpus size."""

    name = "corpus_dedup"
    queries = DEDUP_QUERIES
    scale, n_doc, n_emb = 0.1, CORPUS_DOCS, CORPUS_EMBS
    # Two passes (a pass is 9-12 s on 4 cores): the 48 runs the whole
    # benchmark makes, cold phases included, must end within 57 minutes,
    # and on a contended host a run here takes 60-90 s.
    min_warm = 2

    def __init__(self, seed: int):
        super().__init__(seed)
        self.rows: dict[str, int] = {}  # output rows of each query, from its checked cold call

    def generate(self, root: str) -> dict:
        self.sf = os.path.join(root, "tables")
        return gen.write_tables(self.sf, np.random.default_rng(DATA_SEED),
                                self.scale, self.n_doc, self.n_emb)

    def corpus_key(self) -> str:
        return f"seed={DATA_SEED} scale={self.scale} docs={self.n_doc} embs={self.n_emb}"

    def order(self, i: int) -> list[str]:
        qs = list(self.queries)
        random.Random(f"{self.seed}:{i}").shuffle(qs)
        return qs

    def call(self, spark, name: str, phase: str, traced: bool = False):
        """One registered-query call: build the DataFrame, then run it.
        Cold calls collect to pandas (for the output check); warm calls
        write to the noop sink, which materialises every column."""
        from frontpage_spark.queries import QUERIES

        pdf = None
        with self.spans.span("op", phase=phase, query=name) as op:
            try:
                with self.spans.span("build", phase=phase, query=name):
                    df = QUERIES[name](spark, self.sf)
                with self.spans.span("exec", phase=phase, query=name):
                    if phase == "cold":
                        pdf = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                op.attrs["ok"] = True
            except Exception:  # an op that raises is counted, the run goes on
                _warn(f"{name} ({phase}) raised:\n{traceback.format_exc()}")
                op.attrs["ok"] = False
        if traced and pdf is not None:
            op.attrs["catalyst"] = catalyst_phases(df)
        spark.catalog.clearCache()
        return op, pdf

    def cold(self, spark, traced: bool) -> None:
        for name in self.order(-1):
            op, pdf = self.call(spark, name, "cold", traced)
            if pdf is None:
                continue
            problems = self.verify(name, pdf)
            if problems:
                _warn(f"CHECK FAIL {name}: {' | '.join(problems)}")
                op.attrs["ok"] = False
            else:
                self.rows[name] = len(pdf)

    def warm(self, spark, i: int) -> bool:
        for name in self.order(i):
            self.call(spark, name, "warm")
        return True

    def verify(self, name: str, pdf) -> list[str]:
        with open(DIGESTS, encoding="utf-8") as f:
            rec = json.load(f)
        if rec.get("corpus") != self.corpus_key():
            return [f"digests were recorded for {rec.get('corpus')!r}, not {self.corpus_key()!r}"]
        got, want = output_digest(pdf), rec["digests"].get(name)
        return [] if got == want else [f"digest {got[:12]} != recorded {str(want)[:12]}"]

    def per_query(self, phase: str, span: str = "op", wall: bool = True) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {q: [] for q in self.queries}
        for s in self.spans.named(span, phase=phase):
            out[s.attrs["query"]].append(s.dur if wall else s.run_dur)
        return out

    def end_to_end(self, wall: bool = False) -> dict:
        """warm_s sums each query's median warm call; items_per_s is the
        output rows (pairs, clusters, terms, ...) the warm calls returned
        per second of their duration, so queries weigh by what they return."""
        dur = operator.attrgetter("dur" if wall else "run_dur")
        warm = self.ops("warm")
        rows = sum(self.rows.get(s.attrs["query"], 0) for s in warm)
        return {
            "warm_s": sum(median(ds) for ds in self.per_query("warm", wall=wall).values()),
            "cold_s": sum(dur(s) for s in self.ops("cold")),
            "items_per_s": rows / sum(dur(s) for s in warm) if warm else 0.0,
        }

    def report(self) -> list[str]:
        e, w = self.end_to_end(), self.end_to_end(wall=True)
        warm = [s.dur for s in self.ops("warm")]
        v, pct, n = tail(warm)
        return [f"dedup_warm_s {w['warm_s']:.4f} s wall, {e['warm_s']:.4f} s steal-adjusted",
                f"dedup_cold_s {w['cold_s']:.4f} s wall, {e['cold_s']:.4f} s steal-adjusted",
                f"output rows {sum(self.rows.values())} a pass, {w['items_per_s']:.1f} rows/s wall,"
                f" {e['items_per_s']:.1f} steal-adjusted",
                f"corpus {self.n_doc} documents, {self.n_emb} embeddings",
                f"query call p50 {median(warm):.4f} s, p{pct} {v:.4f} s (n={n})"]


# ---------------------------------------------------------------------------
# crawl_etl
# ---------------------------------------------------------------------------

_INGEST_RE = re.compile(r"ingest: sink now has (\d+) rows \((\d+) dead-lettered")
_ETL_RE = re.compile(r"etl: sink now has (\d+) rows")
_GOLDEN_FIELDS = ["post_title", "post_body", "poster_age", "locations", "other_ads"]


class CrawlEtl(Workload):
    name = "crawl_etl"
    min_warm = 3  # cycles of 4-8 s on 4 cores; see CorpusDedup.min_warm

    def __init__(self, seed: int, seconds: int):
        super().__init__(seed)
        # one cold wave, then enough for cycles of >= 1 s; a run that
        # uses every wave up ends its warm phase early
        self.n_waves = 2 + max(self.min_warm, seconds)

    def generate(self, root: str) -> dict:
        self.root = root
        self.plan = gen.CrawlPlan(os.path.join(root, "inputs"), np.random.default_rng(self.seed),
                                  WAVE_SIZE, self.n_waves)
        self.reset("run0")
        return self.plan.shares()

    def reset(self, tag: str) -> None:
        super().reset(tag)
        sinks = os.path.join(self.root, tag)
        self.raw, self.clean, self.chk = (os.path.join(sinks, d) for d in ("raw", "clean", "chk"))
        self.next_wave = 0
        self.raw_rows = self.clean_rows = 0

    def cycle(self, phase: str) -> None:
        from frontpage_spark.__main__ import main

        w = self.next_wave
        self.next_wave += 1
        out = io.StringIO()
        with self.spans.span("op", phase=phase, wave=w) as op:
            try:
                with self.spans.span("ingest", phase=phase), contextlib.redirect_stdout(out):
                    rc_ingest = main([
                        "ingest", "--urls", self.plan.wave_files[w], "--html-dir", self.plan.html_dir,
                        "--out", self.raw, "--max-retries", "0", "--scrape-date", SCRAPE_DATE,
                    ])
                with self.spans.span("etl", phase=phase), contextlib.redirect_stdout(out):
                    rc_etl = main([
                        "etl", "--raw", self.raw, "--dim", self.plan.sites_csv, "--out", self.clean,
                        "--stream", "--checkpoint", self.chk,
                    ])
                op.attrs["ok"] = rc_ingest == 0 and rc_etl == 0
            except Exception:
                _warn(f"cycle {w} ({phase}) raised:\n{traceback.format_exc()}")
                op.attrs["ok"] = False
        problems = self._check_counts(w, out.getvalue(), op)
        if problems:
            _warn(f"CHECK FAIL cycle {w}: {' | '.join(problems)}")
            op.attrs["ok"] = False

    def _check_counts(self, w: int, printed: str, op) -> list[str]:
        """The row counts ``main`` prints must equal what the generator
        says the sinks hold after wave ``w``."""
        ing, etl = _INGEST_RE.search(printed), _ETL_RE.search(printed)
        if not ing or not etl:
            return [f"unexpected output {printed!r}"]
        raw, dead, clean = int(ing.group(1)), int(ing.group(2)), int(etl.group(1))
        urls = set(self.plan.wave_urls[w])
        want = {
            "raw": len(self.plan.live_after(w + 1)),
            "dead": len(urls - set(self.plan.doc_of)),
            "clean": len(self.plan.expected_clean(w + 1)),
        }
        got = {"raw": raw, "dead": dead, "clean": clean}
        op.attrs.update(urls=len(self.plan.wave_urls[w]), new_raw=raw - self.raw_rows,
                        committed=clean - self.clean_rows)
        self.raw_rows, self.clean_rows = raw, clean
        return [f"{k}: sink says {got[k]}, generator says {want[k]}" for k in got if got[k] != want[k]]

    def cold(self, spark, traced: bool) -> None:
        self.cycle("cold")

    def warm(self, spark, i: int) -> bool:
        if self.next_wave >= len(self.plan.wave_files):
            return False
        self.cycle("warm")
        return True

    def check(self, spark) -> list[str]:
        """The clean sink holds exactly one row per distinct live URL on a
        known site, no uniq_id twice, and each row's extracted fields
        equal the golden extraction of the page it was cut from."""
        import pyarrow.parquet as pq

        rows = spark.read.parquet(self.clean).select("ad_url", "uniq_id", *_GOLDEN_FIELDS).toPandas()
        problems = []
        want = self.plan.expected_clean(self.next_wave)
        got = set(rows["ad_url"])
        if got != want or len(rows) != len(want):
            problems.append(f"sink has {len(rows)} rows / {len(got)} urls, expected {len(want)}"
                            f" (missing {len(want - got)}, unexpected {len(got - want)})")
        if rows["uniq_id"].duplicated().any():
            problems.append(f"{int(rows['uniq_id'].duplicated().sum())} repeated uniq_id")
        golden = pq.read_table(gen.GOLDEN).to_pandas().set_index("k")
        bad = 0
        for rec in rows.itertuples(index=False):
            k = self.plan.doc_of.get(rec.ad_url)
            if k is None:
                continue
            g = golden.loc[k]
            if any((getattr(rec, f) or "") != (g[f] or "") for f in _GOLDEN_FIELDS):
                bad += 1
        if bad:
            problems.append(f"{bad} rows differ from fixtures/html_golden.parquet")
        return problems

    def end_to_end(self, wall: bool = False) -> dict:
        dur = operator.attrgetter("dur" if wall else "run_dur")
        warm = self.ops("warm")
        walls = [dur(s) for s in warm]
        urls = sum(s.attrs.get("urls", 0) for s in warm)
        cold = self.ops("cold")
        return {
            "warm_s": median(walls),
            "cold_s": dur(cold[0]) if cold else 0.0,
            "items_per_s": urls / sum(walls) if walls else 0.0,
        }

    def report(self) -> list[str]:
        e, w = self.end_to_end(), self.end_to_end(wall=True)
        v, pct, n = tail([s.dur for s in self.ops("warm")])
        return [f"etl_urls_per_s {w['items_per_s']:.2f} urls/s wall, {e['items_per_s']:.2f} steal-adjusted",
                f"etl_cycle_p50_s {w['warm_s']:.4f} s wall, {e['warm_s']:.4f} s steal-adjusted",
                f"etl_cycle_tail_s {v:.4f} s wall (p{pct}, n={n} warm cycles)",
                f"etl_first_cycle_s {w['cold_s']:.4f} s wall, {e['cold_s']:.4f} s steal-adjusted",
                f"wave {WAVE_SIZE} urls; shares recrawl {gen.RECRAWL_SHARE}, dead {gen.DEAD_SHARE},"
                f" unknown site {gen.UNKNOWN_SHARE}"]


def make(name: str, seed: int, seconds: int) -> Workload:
    if name == "crawl_etl":
        return CrawlEtl(seed, seconds)
    if name == "corpus_dedup":
        return CorpusDedup(seed)
    raise ValueError(f"unknown workload {name!r}")


#: The workloads BENCHMARK.json lists, with why each was chosen.
WORKLOADS = {
    "crawl_etl": "the paper's raw-to-committed poll loop: the only write path, streaming and fetch load",
    "corpus_dedup": "the 12 similarity and dedup heavies: build, Catalyst, shuffle and gemm Python workers",
}

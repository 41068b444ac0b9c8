"""Custom Spark 4 Python DataSource: the paginated listing scan as a
first-class ``spark.read.format("frontpage_listing")`` source.

The reference walks listing pages 1..49 serially and stops on the
first empty page (``/root/reference/frontpage/scraper.py:53-70``); the
engine's operator form is ``sources.paginated_scan``. This module
exposes the same contract through Spark's DataSource V2 Python API so
a listing crawl *plans* like any other table: one InputPartition per
page (pages fetch in parallel across executors — the serial reference
loop becomes embarrassingly parallel), and an ``EqualTo("page", n)``
predicate prunes partitions BEFORE any fetch happens (pushFilters),
the same contract parquet scans get from partition pruning.

The row payload here is a deterministic synthetic listing (md5-derived
ids/titles) — the injectable-fetcher stand-in for live HTTP, matching
the repo-wide harness-safe policy; a production source would issue the
fetch inside ``read`` and keep exactly this partition/pushdown shape.
"""

from __future__ import annotations

import hashlib
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    InputPartition,
    SimpleDataSourceStreamReader,
    DataSourceWriter,
    WriterCommitMessage,
)

LISTING_SCHEMA = "page int, slot int, ad_id string, title string"
MAX_PAGES = 49  # the reference's range(1, 50) pagination bound


class ListingDataSource(DataSource):
    """``spark.dataSource.register(ListingDataSource)`` then
    ``spark.read.format("frontpage_listing").option("n_pages", 8).load()``."""

    @classmethod
    def name(cls) -> str:
        return "frontpage_listing"

    def schema(self) -> str:
        return LISTING_SCHEMA

    def reader(self, schema) -> "ListingReader":
        return ListingReader(self.options)

    def simpleStreamReader(self, schema) -> "ListingStreamReader":
        return ListingStreamReader(self.options)


class ListingReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n_pages = min(int(options.get("n_pages", MAX_PAGES)), MAX_PAGES)
        self.rows_per_page = int(options.get("rows_per_page", 50))
        self.seed = options.get("seed", "fp")
        self._pages: set[int] | None = None

    def pushFilters(self, filters):
        """Accept ``page = N`` equality predicates (partition pruning —
        pruned pages are never planned, let alone fetched); everything
        else is returned for Spark to evaluate post-scan."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("page",):
                keep = {int(f.value)}
                self._pages = keep if self._pages is None else self._pages & keep
            else:
                yield f

    def partitions(self):
        pages = range(1, self.n_pages + 1)
        if self._pages is not None:
            pages = [p for p in pages if p in self._pages]
        return [InputPartition(p) for p in pages]

    def read(self, partition: InputPartition):
        page = partition.value
        for slot in range(self.rows_per_page):
            h = hashlib.md5(f"{self.seed}:{page}:{slot}".encode()).hexdigest()
            yield (page, slot, h[:12], f"ad {h[:6]} on page {page}")


class ListingStreamReader(SimpleDataSourceStreamReader):
    """Streaming form of the listing crawl: each micro-batch reads the
    next ``pages_per_batch`` pages (offset = last page read), stopping
    at the 49-page bound — the reference's polled crawl loop
    (``scraper.py:53-70`` + the 600 s ETL poll) as a checkpointable
    Structured Streaming source. Offsets are plain dicts, so restart
    resumes exactly after the last committed page; ``readBetweenOffsets``
    replays a committed range deterministically (the payload is a pure
    function of (seed, page, slot)), which is what makes the source
    exactly-once replayable."""

    def __init__(self, options) -> None:
        self.n_pages = min(int(options.get("n_pages", MAX_PAGES)), MAX_PAGES)
        self.rows_per_page = int(options.get("rows_per_page", 50))
        self.pages_per_batch = int(options.get("pages_per_batch", 2))
        self.seed = options.get("seed", "fp")

    def initialOffset(self) -> dict:
        return {"page": 0}

    def _rows(self, lo: int, hi: int):
        for page in range(lo + 1, hi + 1):
            for slot in range(self.rows_per_page):
                h = hashlib.md5(f"{self.seed}:{page}:{slot}".encode()).hexdigest()
                yield (page, slot, h[:12], f"ad {h[:6]} on page {page}")

    def read(self, start: dict):
        lo = int(start["page"])
        hi = min(lo + self.pages_per_batch, self.n_pages)
        # a list_iterator, not a generator: the protocol needs an
        # iterator (next() probes emptiness when the offset stalls) that
        # is ALSO picklable (the prefetch cache ships through the runner)
        return iter(list(self._rows(lo, hi))), {"page": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(list(self._rows(int(start["page"]), int(end["page"]))))


# --------------------------------------------------------------------------
# txlog sink: Spark's write API -> the transaction log's commit protocol
# --------------------------------------------------------------------------

@dataclass
class TxlogCommitMessage(WriterCommitMessage):
    rel_path: str
    n_rows: int


class TxlogDataSource(DataSource):
    """``df.write.format("txlog").option("path", table).mode("append")``
    — the engine's multi-version transaction log (``ext/txlog.py``)
    surfaced through Spark's DataSource V2 Python write API, giving the
    plain DataFrame writer the log's atomicity: executor tasks
    materialize invisible files, and ONE driver-side commit makes them
    all visible (or none, on abort) — the two-phase commit every
    DSv2 sink implements, arbitrated here by the log's O_EXCL claim."""

    @classmethod
    def name(cls) -> str:
        return "txlog"

    def writer(self, schema, overwrite: bool) -> "TxlogWriter":
        if overwrite:
            raise ValueError("txlog sink supports append mode only (use txlog.overwrite)")
        return TxlogWriter(self.options["path"], schema)


class TxlogWriter(DataSourceWriter):
    def __init__(self, table: str, schema) -> None:
        self.table = table
        self.fields = [f.name for f in schema.fields]
        # all tasks of one write land in one uuid dir = one commit
        self.rel_dir = os.path.join("data", uuid.uuid4().hex)

    def write(self, iterator) -> TxlogCommitMessage:
        """Executor side: drain this task's rows into ONE parquet part
        under the (not-yet-referenced) commit dir. Arrow writes the
        file; nothing references it until commit() publishes the log
        entry, so failed/speculative tasks leak only vacuum()-able
        garbage — never partial table state."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        rows = [tuple(r) for r in iterator]
        part = TaskContext.get().partitionId()
        rel = os.path.join(self.rel_dir, f"part-{part:05d}.parquet")
        out = os.path.join(self.table, rel)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        cols = list(zip(*rows)) if rows else [[] for _ in self.fields]
        table = pa.table({n: list(c) for n, c in zip(self.fields, cols)})
        pq.write_table(table, out)
        return TxlogCommitMessage(rel_path=rel, n_rows=len(rows))

    def commit(self, messages) -> None:
        """Driver side: one log commit referencing every task's file —
        readers see all of this write or none of it. Claims auto-rebase
        and checkpoint exactly as ``txlog.append`` does."""
        from . import txlog

        add = [m.rel_path for m in messages if m is not None and m.n_rows > 0]
        txlog.commit_append(self.table, {"op": "append", "add": add, "remove": [], "stats": {}})

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None:
                try:
                    os.unlink(os.path.join(self.table, m.rel_path))
                except OSError:
                    pass

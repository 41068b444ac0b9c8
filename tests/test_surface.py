"""Reachability guard for the engine's API surface.

Every top-level def or class in ``frontpage_spark/`` must be reached
from the program, be a registered query, or be listed in ``TEST_ONLY``
with the reason it stays although only tests call it. "Reached" means
a Name, Attribute or import-alias reference to it, outside its own
definition, in ``frontpage_spark/``, ``tools/``, ``perfbench/``,
``bench.py`` or ``__spark_entry__.py``. The reach is transitive: a
reference inside an unreached def does not count, so a helper that
only test-only code calls is unreached too (iterated to a fixpoint).
Docstrings and string literals do not count. Names are matched bare,
not resolved to their module, so a def whose name another module also
uses counts as reached.
"""

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "frontpage_spark"
REACH_FROM = [
    PKG, ROOT / "tools", ROOT / "perfbench", ROOT / "bench.py", ROOT / "__spark_entry__.py"
]

# "<module under frontpage_spark>.<name>" -> why it stays. COVERAGE ids
# (S1, F16, ST3, ...) are SURVEY.md §2 inventory entries.
TEST_ONLY = {
    "functions.strip_crlf": "F9 \\r\\n strip; sql_api's SQL twin is tested against it",
    "functions.json_encode": "F16 JSON encode (COVERAGE F16)",
    "incremental.stream_dedup": "O(batch) watermark dedup, a ROADMAP direction 3 candidate",
    "incremental.windowed_counts": "ST3/ST6 watermarked tumbling windows (COVERAGE ST3, ST6)",
    "incremental.stateful_user_counts": "custom stateful operator whose state survives restart",
    "incremental.stateful_seen_filter": "transformWithState first-seen filter, direction 3 candidate",
    "incremental.stateful_event_type_counts": "transformWithState MapState (COVERAGE row)",
    "jdbc.write_jdbc": "S7 typed warehouse sink over JDBC (COVERAGE S7 row)",
    "jdbc.insert_if_absent": "S4 insert-if-absent over JDBC (COVERAGE S4)",
    "jdbc.jdbc_delta_scan": "S8 delta scan with NOT IN pushed to the database (COVERAGE S8)",
    "jdbc.pushdown_query": "S8 server-side query scan behind insert_if_absent and jdbc_delta_scan",
    "jdbc._check_ident": "identifier guard on the table names jdbc_delta_scan splices into SQL",
    "jdbc._pg_quote": "Postgres identifier quoting for jdbc_delta_scan's key column",
    "jdbc._opts": "url + properties option map shared by the three JDBC forms",
    "pipeline.validate_batch": "ST4 dead-letter split; README maps etl_process.py:292 to it",
    "pipeline.quarantine_append": "ST4 durable dead-letter sink, paired with validate_batch",
    "pipeline.observed_batch": "single-pass batch metrics, reused by ROADMAP direction 1",
    "plans.release_kept": "deterministic teardown of keep() frames for cache-hygiene checks",
    "plans.write_bucketed": "bucketed co-located join layout (COVERAGE storage row)",
    "plans.write_partitioned": "hive-partitioned write, directory pruning (COVERAGE row)",
    "plans.compact": "small-file compaction for streaming sinks (COVERAGE storage row)",
    "plans.count_exchanges": "plan-shape probe behind the shuffle-free layout assertions",
    "plans.write_zordered": "Z-order clustered write with file skipping (COVERAGE storage row)",
    "sources.paginated_scan": "S1/P4 paginated listing scan (COVERAGE S1, P4)",
    "sources.text_params": "S6 text-list param source (COVERAGE S6)",
    "sources.jsonl_stream": "streaming form of jsonl_source for ST1/ST4 feeds",
    "sql_api.register_functions": "§2.5 scalars as SQL functions (COVERAGE API row)",
    "sql_api.register_udtfs": "chunk_tokens table function (COVERAGE API row)",
    "sql_api.ChunkTokens": "the UDTF class register_udtfs registers as chunk_tokens",
    "ext.multimodal.apply": "an operator over a stored media table; the fused synthesize path is tested against it",
    "ext.multimodal.resize": "BMP nearest-neighbour resize (COVERAGE multimodal row)",
    "ext.pysource.ListingDataSource": "S1 as a registered Python DataSource (spark.read.format)",
    "ext.pysource.TxlogDataSource": "txlog sink through the DataSource V2 write API",
    "ext.pysource.ListingReader": "batch reader ListingDataSource hands spark.read",
    "ext.pysource.ListingStreamReader": "stream reader ListingDataSource hands spark.readStream",
    "ext.pysource.TxlogWriter": "per-task writer TxlogDataSource hands the write API",
    "ext.pysource.TxlogCommitMessage": "TxlogWriter's per-task commit message",
    "ext.similarity.cosine_pairs": "exact reference the blocked cosine path is tested against",
    "ext.textstats.char_entropy": "per-row reference that with_char_entropy is tested against",
    "ext.txlog.overwrite": "txlog: the atomic replace commit the append-only TxlogDataSource points to",
    "ext.txlog.history": "txlog: a ROADMAP direction 3 candidate (per-file stats, atomic commits)",
    "ext.txlog.scan": "txlog: a ROADMAP direction 3 candidate",
    "ext.txlog.merge": "txlog: the one optimistic MERGE commit (TxConflict on a lost race)",
    "ext.txlog.vacuum": "txlog: a ROADMAP direction 3 candidate",
    "ext.txlog.file_changes": "txlog: a ROADMAP direction 3 candidate",
    "ext.txlog.row_diff": "txlog: a ROADMAP direction 3 candidate",
    "ext.txlog.compact": "txlog: a ROADMAP direction 3 candidate",
}


def _py_files(path: Path):
    return [path] if path.suffix == ".py" else sorted(path.rglob("*.py"))


def _names(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]


def _is_registered_query(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", []):
        target = d.func if isinstance(d, ast.Call) else d
        if isinstance(target, ast.Name) and target.id == "register":
            return True
    return False


def _unreached() -> set[str]:
    loose: Counter = Counter()  # references outside every engine def
    defs = []  # (qualified name, node, Counter of the names inside it)
    for root in REACH_FROM:
        for f in _py_files(root):
            tree = ast.parse(f.read_text(), str(f))
            loose.update(_names(tree))
            if PKG in f.parents:
                module = ".".join(f.relative_to(PKG).with_suffix("").parts)
                for node in tree.body:
                    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                        inner = Counter(_names(node))
                        loose.subtract(inner)
                        defs.append((f"{module}.{node.name}", node, inner))
    unreached: set[str] = set()
    while True:
        refs = loose.copy()
        for qual, _node, inner in defs:
            if qual not in unreached:
                refs.update(inner)
        found = {
            qual
            for qual, node, inner in defs
            if not _is_registered_query(node) and refs[node.name] - inner[node.name] <= 0
        }
        if found == unreached:
            return unreached
        unreached = found


def test_every_engine_def_is_reached_or_listed():
    unreached = _unreached()
    unlisted = sorted(unreached - set(TEST_ONLY))
    assert not unlisted, (
        f"only tests reach {unlisted}: call it from the engine, delete it, "
        "or list it in TEST_ONLY with the reason it stays"
    )
    stale = sorted(set(TEST_ONLY) - unreached)
    assert not stale, (
        f"TEST_ONLY lists {stale}, which the program now reaches or no longer defines"
    )

"""frontpage_spark benchmark: crawl_etl and corpus_dedup (see README.md).

  python3 perfbench/run.py --workload crawl_etl|corpus_dedup \
      --seed N --seconds S --trace 0|1

Run it from the repository root. It pins the environment
(``SPARK_GRAFT_CPUS`` = usable cores, local and temp dirs under
``.perfbench_work/``, the program's own driver memory at JVM launch),
starts the program's own session (``frontpage_spark.session.get_spark``)
three times to time set-up, generates the workload's inputs from
``--seed``, runs the cold phase (warm-up, part of set-up) and then warm
passes for ``--seconds`` (at least the workload's minimum), checks every
output, and prints ``# ``-prefixed report lines followed by one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
Spark's event log, Catalyst phase capture and a streaming listener for
the measured context, reports the per-layer metrics, and then measures
again without tracing to report the tracing overhead (traced first, so
JIT warm-up can only inflate the overhead, never hide it).

``--write-manifest`` rewrites ``BENCHMARK.json`` from the definitions
below; ``--record-digests`` re-verifies corpus_dedup against its DuckDB
oracles and records the output digests its runs check against.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()

RUN_SECONDS = 5
#: Set-ups per run. setup_s = JVM launch (once per process) + the median
#: set-up (SparkSession start + input generation) + warm-up (the cold
#: phase: the first calls in the fresh JVM, which is what a first CLI
#: call pays). Later set-ups stop the previous session and start a new
#: one in the same JVM; the cold phase runs once, after the last.
SETUPS = 3

#: The driver heap the program's own session asks for
#: (``session.get_spark``). ``spark.driver.memory`` only takes effect when
#: the JVM is launched, and the benchmark launches it before get_spark
#: runs, so the same value is passed at launch.
DRIVER_MEMORY = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

#: (name, unit, better, bound) -- printed by every --trace 0 run. Their
#: durations are steal-adjusted (``tracing.Span.run_dur``); the report
#: lines print raw walls beside them.
END_TO_END = [
    ("warm_s", "s", "lower", 0.25),
    ("items_per_s", "1/s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
]

#: (name, unit, better) -- printed by every --trace 1 run; a layer a
#: workload does not exercise reads 0
PER_LAYER = [
    ("ingest.call_s", "s", "lower"),
    ("etl.call_s", "s", "lower"),
    ("sources.fetch_rows_per_url", "ratio", "lower"),
    ("html.extract_rows_per_ad", "ratio", "lower"),
    ("etl.read_amplification", "ratio", "lower"),
    ("etl.write_bytes_per_ad", "bytes", "lower"),
    ("etl.committed_ratio", "ratio", "higher"),
    ("stream.trigger_s", "s", "lower"),
    ("stream.add_batch_s", "s", "lower"),
    ("stream.planning_s", "s", "lower"),
    ("stream.offset_log_s", "s", "lower"),
    ("stream.startup_s", "s", "lower"),
    ("queries.build_cold_s", "s", "lower"),
    ("queries.build_warm_s", "s", "lower"),
    ("queries.exec_s", "s", "lower"),
    ("queries.build_jobs", "count", "lower"),
    ("catalyst.analysis_s", "s", "lower"),
    ("catalyst.optimization_s", "s", "lower"),
    ("catalyst.planning_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_wait_s", "s", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("shuffle.write_bytes", "bytes", "lower"),
    ("shuffle.read_bytes", "bytes", "lower"),
    ("shuffle.fetch_wait_s", "s", "lower"),
    ("shuffle.spill_bytes", "bytes", "lower"),
    ("python.boot_s", "s", "lower"),
    ("python.init_s", "s", "lower"),
    ("python.total_s", "s", "lower"),
    ("python.rows", "count", "lower"),
    ("python.bytes_sent", "bytes", "lower"),
    ("setup.session_s", "s", "lower"),
    ("setup.generate_s", "s", "lower"),
    ("setup.warmup_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.overhead_share", "ratio", "lower"),
    # Unbounded: under the program's 8g driver heap, G1 sizes the heap by
    # GC timing, and the peak varied 3.6-5.5 GB between runs of the same
    # work. Every run still prints it.
    ("peak_rss_mb", "MB", "lower"),
]


def manifest() -> dict:
    from perfbench.workloads import WORKLOADS

    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": why} for n, why in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------

def pin_env(work: str) -> None:
    """Everything Spark and Python write goes under ``work``; the
    parallelism is the cores this process may use (the program's own
    fallback is 32)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no JVM perf-counter files under /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEMORY}"
        f" --driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work}'"
        f" --conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )


def env_snapshot() -> dict:
    with open("/proc/meminfo") as f:
        mem = {line.split(":")[0]: int(line.split()[1]) for line in f}
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem["MemTotal"] // 1024,
        "mem_available_mb": mem["MemAvailable"] // 1024,
        "loadavg": list(os.getloadavg()),
    }


def stop_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = SparkContext._jvm = None


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def start_session(name: str, log_dir: str | None):
    from frontpage_spark.session import get_spark

    from perfbench.tracing import enable_event_log

    enable_event_log(log_dir)
    spark = get_spark(f"perfbench-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_passes(wl, spark, seconds: int) -> int:
    """Warm passes until ``seconds`` have passed and at least
    ``wl.min_warm`` passes ran. Returns the pass count."""
    t0, n = time.time(), 0
    while n < wl.min_warm or time.time() - t0 < seconds:
        if not wl.warm(spark, n):
            break
        n += 1
    return n


def heap_problems(spark) -> tuple[str, list[str]]:
    """The driver JVM's max heap must be the driver memory the program
    asks for; a smaller one would measure another configuration."""
    jvm = spark.sparkContext._jvm
    got = jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
    want = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsMb(DRIVER_MEMORY)
    line = f"driver heap max {got:.0f} MB (spark.driver.memory {DRIVER_MEMORY} = {want} MB)"
    return line, ([] if got >= 0.9 * want else [f"driver heap {got:.0f} MB, the program asks for {want} MB"])


def run(args, work: str) -> tuple[dict, list[str], int, int, bool]:
    from pyspark import SparkContext

    from perfbench import tracing as tr, workloads
    from perfbench.tracing import Spans, median

    lines: list[str] = []
    wl = workloads.make(args.workload, args.seed, args.seconds)
    setup = Spans()
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    env_start = env_snapshot()
    with setup.span("gateway"):  # the JVM starts once per process
        SparkContext._ensure_initialized()
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        with setup.span("setup", i=i):
            with setup.span("session"):
                spark = start_session(args.workload, log_dir if i == SETUPS - 1 else None)
            with setup.span("generate"):
                inputs = wl.generate(os.path.join(work, f"setup{i}"))
    heap_line, problems = heap_problems(spark)
    listener = None
    if args.trace:
        listener = tr.stream_listener()
        spark.streams.addListener(listener)
    with setup.span("warmup"):
        wl.cold(spark, args.trace)
    passes = warm_passes(wl, spark, args.seconds)
    problems += wl.check(spark)
    ops = wl.ops()
    e2e = wl.end_to_end()
    e2e["setup_s"] = (setup.named("gateway")[0].run_dur + median(s.run_dur for s in setup.named("setup"))
                      + setup.named("warmup")[0].run_dur)
    lines += wl.report()
    layers = None
    if args.trace:
        app_id = spark.sparkContext.applicationId
        spark.streams.removeListener(listener)
        spark.stop()  # closes the event log file
        evlog = tr.EventLog(tr.find_event_log(log_dir, app_id))
        layers = layer_metrics(wl, setup, evlog, listener, passes)
        spark = start_session(args.workload, None)
        wl.reset("run1")
        wl.cold(spark, False)
        warm_passes(wl, spark, args.seconds)
        plain = wl.end_to_end()
        ops += wl.ops()
        layers["trace.overhead_s"] = e2e["warm_s"] - plain["warm_s"]
        layers["trace.overhead_share"] = layers["trace.overhead_s"] / plain["warm_s"]
        lines.append(f"tracing overhead: warm_s traced {e2e['warm_s']:.4f} s,"
                     f" untraced {plain['warm_s']:.4f} s")
    peak_rss_mb = tr.tree_peak_rss_mb()
    spark.stop()

    lines.insert(0, f"env start {json.dumps(env_start)}")
    lines.insert(1, f"env end   {json.dumps(env_snapshot())}")
    lines.insert(2, f"workload {args.workload} seed {args.seed}: inputs {json.dumps(inputs)}")
    lines.insert(3, f"warm passes {passes}; JVM launch {setup.named('gateway')[0].dur:.3f} s,"
                    f" set-ups {[round(s.dur, 3) for s in setup.named('setup')]},"
                    f" warm-up {setup.named('warmup')[0].dur:.3f} s")
    lines.insert(4, heap_line)
    lines.append(f"setup_s {e2e['setup_s']:.4f} s steal-adjusted; host steal share during"
                 f" set-up {median(s.steal_share for s in setup.spans):.1%},"
                 f" warm passes {median(s.steal_share for s in wl.ops('warm')):.1%} (median of spans)")
    lines.append(f"peak_rss_mb {peak_rss_mb:.1f} MB")
    failed = sum(1 for s in ops if not s.attrs.get("ok")) + bool(problems)
    attempted = len(ops) + 1  # the end-of-run check
    for p in problems:
        lines.append(f"CHECK FAIL {p}")
    lines.append(f"failed_op_share {failed / attempted:.4f} ({failed}/{attempted})")
    if layers is not None:
        layers["peak_rss_mb"] = peak_rss_mb
        lines.append("per-layer:")
        lines += [f"  {n:28s} {layers[n]:.6g} {u}" for n, u, _ in PER_LAYER]
        metrics = {n: {"value": layers[n], "unit": u} for n, u, _ in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u, _, _ in END_TO_END}
    return metrics, lines, attempted, failed, failed == 0


def layer_metrics(wl, setup, evlog, listener, passes: int) -> dict:
    """Per-layer numbers of the traced measurement. Event-log and
    listener figures are per warm pass (one crawl cycle, or one call of
    every query)."""
    from perfbench.tracing import median

    out = {n: 0.0 for n, _, _ in PER_LAYER}
    sp = wl.spans
    warm_ops = wl.ops("warm")
    p = max(passes, 1)
    t0, t1 = warm_ops[0].t0, warm_ops[-1].t1
    ev = evlog.window(t0, t1)

    out["setup.session_s"] = median(s.dur for s in setup.named("session"))
    out["setup.generate_s"] = median(s.dur for s in setup.named("generate"))
    out["setup.warmup_s"] = setup.named("warmup")[0].dur
    for name, key, scale in [
        ("spark.jobs", "jobs", 1), ("spark.stages", "stages", 1), ("spark.tasks", "tasks", 1),
        ("spark.task_wait_s", "wait_ms", 1e-3), ("spark.executor_run_s", "run_ms", 1e-3),
        ("spark.executor_cpu_s", "cpu_ns", 1e-9), ("spark.gc_s", "gc_ms", 1e-3),
        ("shuffle.write_bytes", "shuffle_write", 1), ("shuffle.read_bytes", "shuffle_read", 1),
        ("shuffle.fetch_wait_s", "fetch_wait_ms", 1e-3), ("shuffle.spill_bytes", "spill", 1),
        ("python.boot_s", "py.boot", 1), ("python.init_s", "py.init", 1),
        ("python.total_s", "py.total", 1), ("python.rows", "py.rows", 1),
        ("python.bytes_sent", "py.bytes_sent", 1),
    ]:
        out[name] = ev.get(key, 0.0) * scale / p

    if wl.name == "crawl_etl":
        urls = sum(s.attrs.get("urls", 0) for s in warm_ops)
        new_raw = sum(s.attrs.get("new_raw", 0) for s in warm_ops)
        committed = sum(s.attrs.get("committed", 0) for s in warm_ops)
        etl_calls = [s.dur for s in sp.named("etl", phase="warm")]
        out["ingest.call_s"] = median(s.dur for s in sp.named("ingest", phase="warm"))
        out["etl.call_s"] = median(etl_calls)
        out["sources.fetch_rows_per_url"] = ev.get("py.rows@MapInPandas", 0.0) / max(urls, 1)
        out["html.extract_rows_per_ad"] = ev.get("py.rows@ArrowEvalPython", 0.0) / max(new_raw, 1)
        out["etl.read_amplification"] = ev.get("records_read", 0.0) / max(urls, 1)
        out["etl.write_bytes_per_ad"] = ev.get("bytes_written", 0.0) / max(committed, 1)
        out["etl.committed_ratio"] = committed / max(urls, 1)
        batches = listener.between(t0, t1)
        total = {k: sum(b.get(k, 0) for b in batches) / 1000.0 / p
                 for k in ("triggerExecution", "addBatch", "queryPlanning", "walCommit", "commitOffsets")}
        out["stream.trigger_s"] = total["triggerExecution"]
        out["stream.add_batch_s"] = total["addBatch"]
        out["stream.planning_s"] = total["queryPlanning"]
        out["stream.offset_log_s"] = total["walCommit"] + total["commitOffsets"]
        out["stream.startup_s"] = sum(etl_calls) / p - total["triggerExecution"]
    else:
        builds = wl.per_query("warm", "build")
        execs = wl.per_query("warm", "exec")
        out["queries.build_cold_s"] = sum(s.dur for s in sp.named("build", phase="cold"))
        out["queries.build_warm_s"] = sum(median(d) for d in builds.values())
        out["queries.exec_s"] = sum(median(d) for d in execs.values())
        out["queries.build_jobs"] = sum(
            evlog.window(s.t0, s.t1).get("jobs", 0) for s in sp.named("build", phase="warm")
        ) / p
        for op in wl.ops("cold"):
            for k, v in op.attrs.get("catalyst", {}).items():
                out[f"catalyst.{k}_s"] += v
    return out


def record_digests(work: str) -> int:
    """Run corpus_dedup's cold pass, compare every output with its
    DuckDB oracle, and only if all match write perfbench/digests.json."""
    from frontpage_spark.queries import ORACLES
    from tools.check import compare, duckdb_con

    from perfbench import workloads

    wl = workloads.CorpusDedup(0)
    spark = start_session("record", None)
    wl.generate(os.path.join(work, "record"))
    con = duckdb_con(wl.sf)
    digests, bad = {}, 0
    for name in wl.queries:
        _, pdf = wl.call(spark, name, "cold")
        problems = compare(name, pdf, con.execute(ORACLES[name]).fetchdf())
        print(f"{'FAIL' if problems else 'PASS'} {name} {' | '.join(problems)}")
        bad += bool(problems)
        digests[name] = workloads.output_digest(pdf)
    con.close()
    spark.stop()
    if bad:
        return 1
    with open(workloads.DIGESTS, "w", encoding="utf-8") as f:
        json.dump({"corpus": wl.corpus_key(), "digests": digests}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {workloads.DIGESTS}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", choices=["crawl_etl", "corpus_dedup"])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=int, default=RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--write-manifest", action="store_true")
    p.add_argument("--record-digests", action="store_true")
    args = p.parse_args(argv)

    sys.path[0] = ROOT  # modules import as perfbench.*, the program as frontpage_spark
    if args.write_manifest:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w", encoding="utf-8") as f:
            json.dump(manifest(), f, indent=2)
            f.write("\n")
        return 0
    if not (args.workload or args.record_digests):
        p.error("--workload is required")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload or 'record'}-{os.getpid()}")
    pin_env(work)
    try:
        import frontpage_spark.session  # noqa: F401
        import tools.check  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    try:
        if args.record_digests:
            return record_digests(work)
        metrics, lines, attempted, failed, correct = run(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(f"# {line}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

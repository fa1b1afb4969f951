"""Warm, many-sample benchmark of the retail analytics engine.

    python3 warmbench/run.py --workload medallion_serving --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed`` into ``.bench_work/``; a Spark session warms up untimed at full
input size until pass time has settled, then runs measured passes until
``--seconds`` of them have run, each into fresh output directories.
Outputs are checked against DuckDB SQL after timing. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer metrics of traced passes, each run just before an untraced one).
The line before it holds the details: input sizes, sample counts, the tail
percentile used, problems.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import concurrent.futures  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name -> unit; the order is the order of the output
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "ops_per_s": "1/s",
    "rows_per_s": "1/s",
    "bytes_written_per_input_byte": "ratio",
}
_ETL_FIELDS = {
    "call_s": "s", "driver_gap_s": "s", "jobs": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s", "slot_busy_ratio": "ratio",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "output_bytes": "bytes",
    "files_written": "count",
}
PER_LAYER = {
    **{f"etl.{layer}.{k}": u for layer in ("bronze", "silver", "gold_etl") for k, u in _ETL_FIELDS.items()},
    "sources.writers.call_s": "s",
    "sources.writers.files_written": "count",
    "sources.writers.output_bytes": "bytes",
    "sources.writers.bytes_per_file": "bytes",
    "sources.readers.call_s": "s",
    "sources.readers.input_bytes": "bytes",
    "plans.build.call_s": "s",
    "plans.build.jobs": "count",
    "plans.build.driver_gap_s": "s",
    "plans.run.call_s": "s",
    "plans.run.driver_gap_s": "s",
    "plans.run.analysis_ms": "ms",
    "plans.run.optimization_ms": "ms",
    "plans.run.planning_ms": "ms",
    "plans.run.jobs": "count",
    "plans.run.tasks": "count",
    "plans.run.executor_run_s": "s",
    "plans.run.slot_busy_ratio": "ratio",
    "plans.run.shuffle_write_bytes": "bytes",
    "plans.run.spill_bytes": "bytes",
    "streaming.cdc_scd2.call_s": "s",
    "streaming.cdc_scd2.jobs_per_batch": "count",
    "streaming.cdc_scd2.driver_gap_s": "s",
    "streaming.cdc_scd2.trigger_ms": "ms",
    "streaming.cdc_scd2.add_batch_ms": "ms",
    "streaming.cdc_scd2.query_planning_ms": "ms",
    "streaming.cdc_scd2.wal_commit_ms": "ms",
    "streaming.cdc_scd2.latest_offset_ms": "ms",
    "streaming.cdc_scd2.batch_latency_growth": "ratio",
    "sources.versioned_store.write_split_s": "s",
    "sources.versioned_store.read_s": "s",
    "sources.versioned_store.bytes_per_commit": "bytes",
    "sources.versioned_store.bytes_per_commit_growth": "ratio",
    "sources.versioned_store.files_per_commit": "count",
    "sources.versioned_store.rows_written_per_change": "ratio",
    "session.call_s": "s",
    "jvm.peak_rss_mb": "MB",
    "jvm.gc_s": "s",
    "trace.overhead_ratio": "ratio",
}


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def nearest_rank(sorted_xs: list[float], rank: int) -> float:
    return sorted_xs[max(1, min(rank, len(sorted_xs))) - 1]


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest nearest-rank percentile with at
    least ten samples above it. With fewer than 20 samples no percentile at
    or above the median qualifies, and the median is reported (percentile
    50) rather than a figure below it."""
    xs = sorted(values)
    n = len(xs)
    if not n:
        return 0.0, 0.0
    k = n - 10
    median_rank = math.ceil(n / 2)
    if k < median_rank:
        return nearest_rank(xs, median_rank), 50.0
    return nearest_rank(xs, k), 100.0 * k / n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def p50(values: list[float]) -> float:
    """Nearest-rank median: a value as measured, and never above the tail."""
    xs = sorted(values)
    return nearest_rank(xs, math.ceil(len(xs) / 2)) if xs else 0.0


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


# ---------------------------------------------------------------------------
# Spark session lifetime
# ---------------------------------------------------------------------------


def start_session(work: str, event_log_dir: str | None = None):
    from pwc_challenge_dataengineer_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's temporary files inside the work directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file:" + event_log_dir,
        })
    return get_spark("warmbench", master=f"local[{cpu_count()}]", extra_conf=conf)


def stop_jvm(spark) -> None:
    """Stop the session, then end the gateway JVM (it exits when its stdin
    closes) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def stage_totals(sc, ranges: list[tuple[int, int]]) -> dict:
    """Shuffle-write and spill bytes of the stages whose ids fall in the
    half-open ``ranges``, from Spark's in-memory status store."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
    it = store.stageList(None, *defaults).iterator()
    out = {"shuffle_write_bytes": 0, "spill_bytes": 0}
    while it.hasNext():
        st = it.next()
        if any(lo <= st.stageId() < hi for lo, hi in ranges):
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
    return out


def jvm_stats(spark) -> dict:
    from pyspark import SparkContext

    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    gc_ms = sum(b.getCollectionTime() for b in beans)
    rss_kb = 0.0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    rss_kb = float(line.split()[1])
    return {"gc_s": gc_ms / 1e3, "peak_rss_mb": rss_kb / 1024.0}


# ---------------------------------------------------------------------------
# Measurement
# ---------------------------------------------------------------------------


def one_pass(wl, spark, tracer, tag: str, index: int):
    """One pass; a pass that raises counts all its planned operations as
    raised and leaves nothing to check."""
    from warmbench.workloads import Pass, clear_storage

    t0 = time.perf_counter()
    try:
        with tracer.span("pass", index=index):
            return wl.run_pass(spark, tracer, tag)
    except Exception as exc:
        traceback.print_exc()
        with contextlib.suppress(Exception):
            clear_storage(spark)
        return Pass.raised_all(wl.planned_ops, time.perf_counter() - t0,
                               f"pass {tag} raised {type(exc).__name__}: {str(exc).splitlines()[0][:300]}")


def measure(wl, spark, seconds: float, tracer=None) -> tuple[list, list]:
    """Whole untraced passes until at least ``seconds`` of pass time. With
    a ``tracer``, each is preceded by a traced pass, so the two kinds are
    equally warm; any warm-up left would count against the traced ones."""
    from warmbench.trace import NullTracer

    untraced, traced = [], []
    while not untraced or sum(p.seconds for p in untraced) < seconds:
        i = len(untraced)
        if tracer is not None:
            wl.patch(tracer)
            tracer.listen()
            try:
                traced.append(one_pass(wl, spark, tracer, f"t{i}", i))
            finally:
                tracer.unpatch()
        untraced.append(one_pass(wl, spark, NullTracer(), f"m{i}", i))
        if untraced[-1].broken:
            break
    return untraced, traced


def end_to_end(setup_s: float, passes: list, stages: dict) -> tuple[dict, dict]:
    ops = [x for p in passes for x in p.ops_ms]
    tail_ms, tail_pct = tail(ops)
    written = sum(p.output_bytes() for p in passes) + stages["shuffle_write_bytes"] + stages["spill_bytes"]
    values = {
        "setup_s": setup_s,
        "op_p50_ms": p50(ops),
        "op_tail_ms": tail_ms,
        "ops_per_s": ratio(len(ops), sum(p.ops_s for p in passes)),
        "rows_per_s": ratio(sum(p.rows for p in passes), sum(p.rows_s for p in passes)),
        "bytes_written_per_input_byte": ratio(written, sum(p.input_bytes for p in passes)),
    }
    detail = {"samples": len(ops), "tail_percentile": tail_pct, "passes": len(passes),
              "pass_s": [p.seconds for p in passes], "ops_ms": [round(x) for x in ops],
              "written_bytes": written, **stages}
    return values, detail


def fold_trace(log_dir: str, tracer, traced: list, untraced: list) -> tuple[dict, dict]:
    """Fold the complete event log (the JVM has stopped) onto the spans."""
    from warmbench import trace

    jobs = trace.read_event_log(trace.event_log_file(log_dir))
    trace.fold(tracer.spans, jobs)
    return per_layer(tracer.spans, traced, untraced), {"spans": tracer.spans, "jobs": jobs}


def per_layer(spans: list, passes: list, untraced: list) -> dict:
    """Per-layer figures: medians over the traced ``passes`` of per-pass
    totals, or per micro-batch / per commit where the name says so.
    ``untraced`` are the passes that alternated with them."""
    from warmbench.trace import layer_totals, pass_of

    cores = cpu_count()
    out = {k: 0.0 for k in PER_LAYER}

    def med(rows: list[dict], key: str) -> float:
        return median([r.get(key, 0.0) for r in rows])

    for layer in ("bronze", "silver", "gold_etl"):
        rows = layer_totals(spans, f"etl.{layer}")
        for k in _ETL_FIELDS:
            if k == "slot_busy_ratio":
                out[f"etl.{layer}.{k}"] = median([r["executor_run_s"] / (r["call_s"] * cores) for r in rows])
            else:
                out[f"etl.{layer}.{k}"] = med(rows, k)
    rows = layer_totals(spans, "sources.writers")
    out["sources.writers.call_s"] = med(rows, "call_s")
    out["sources.writers.files_written"] = med(rows, "files_written")
    out["sources.writers.output_bytes"] = med(rows, "output_bytes")
    out["sources.writers.bytes_per_file"] = median(
        [r["output_bytes"] / r["files_written"] for r in rows if r.get("files_written")])
    out["sources.readers.call_s"] = med(layer_totals(spans, "sources.readers"), "call_s")
    out["sources.readers.input_bytes"] = med(layer_totals(spans, "sources.readers"), "read_bytes")
    rows = layer_totals(spans, "plans.build")
    for k in ("call_s", "jobs", "driver_gap_s"):
        out[f"plans.build.{k}"] = med(rows, k)
    rows = layer_totals(spans, "plans.run")
    for k in ("call_s", "driver_gap_s", "jobs", "tasks", "executor_run_s", "shuffle_write_bytes", "spill_bytes"):
        out[f"plans.run.{k}"] = med(rows, k)
    for k in ("analysis_ms", "optimization_ms", "planning_ms"):
        out[f"plans.run.{k}"] = med(rows, k)
    if rows:
        out["plans.run.slot_busy_ratio"] = median([r["executor_run_s"] / (r["call_s"] * cores) for r in rows])

    measured = pass_of(spans)

    def spans_named(name: str) -> list[dict]:
        return [s for s in spans if s["name"] == name and s["id"] in measured]

    batches = spans_named("streaming.cdc_scd2")
    if batches:
        out["streaming.cdc_scd2.call_s"] = median([s["call_s"] for s in batches])
        out["streaming.cdc_scd2.jobs_per_batch"] = median([s["jobs"] for s in batches])
        out["streaming.cdc_scd2.driver_gap_s"] = median([s["driver_gap_s"] for s in batches])
        durations = [d for p in passes for d in p.detail.get("durations", [])]
        for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                          ("queryPlanning", "query_planning_ms"), ("walCommit", "wal_commit_ms"),
                          ("latestOffset", "latest_offset_ms")):
            out[f"streaming.cdc_scd2.{name}"] = median([d[key] for d in durations])
        # growth over the change batches; batch 0 is the snapshot
        out["streaming.cdc_scd2.batch_latency_growth"] = median(
            [_growth(p.ops_ms[1:]) for p in passes if len(p.ops_ms) > 1])
        commits = spans_named("sources.versioned_store.write_split")
        reads = spans_named("sources.versioned_store.read")
        out["sources.versioned_store.write_split_s"] = median([s["call_s"] for s in commits])
        out["sources.versioned_store.read_s"] = median([s["call_s"] for s in reads]) if reads else 0.0
        sizes: dict[int, list[float]] = {}
        for s in commits:
            sizes.setdefault(measured[s["id"]], []).append(s["bytes_on_disk"])
        out["sources.versioned_store.bytes_per_commit"] = median([b for v in sizes.values() for b in v])
        out["sources.versioned_store.bytes_per_commit_growth"] = median(
            [_growth(v[1:]) for v in sizes.values() if len(v) > 1])
        out["sources.versioned_store.files_per_commit"] = median([s.get("files_written", 0) for s in commits])
        rows_written = sum(_parquet_rows(s["path"]) for s in commits)
        out["sources.versioned_store.rows_written_per_change"] = ratio(rows_written, sum(p.rows for p in passes))

    out["trace.overhead_ratio"] = ratio(median([p.seconds for p in passes]), median([p.seconds for p in untraced]))
    return out


def _growth(values: list[float]) -> float:
    """p50 of the last third over p50 of the first third."""
    third = max(1, len(values) // 3)
    first = median(values[:third])
    return median(values[-third:]) / first if first else 0.0


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    total = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                total += pq.read_metadata(os.path.join(root, name)).num_rows
    return total


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())  # read when the package is imported
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    try:
        import pwc_challenge_dataengineer_spark  # noqa: F401
    except ImportError as exc:
        print(f"warmbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from warmbench import checks, trace, workloads
    from warmbench.trace import NullTracer

    if args.workload not in workloads.WORKLOADS:
        print(f"warmbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    spark = None
    try:
        # inputs are generated while the JVM starts; both count in setup_s
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            generated = pool.submit(wl.generate)
            t0 = time.perf_counter()
            spark = start_session(work, log_dir)
            session_s = time.perf_counter() - t0
            inputs = generated.result()
        tracer = trace.Tracer(spark) if args.trace else None
        try:
            wl.warmup(spark, NullTracer())
            warm_error = None
        except Exception as exc:  # nothing can be measured; every operation counts as raised
            traceback.print_exc()
            warm_error = f"warm-up raised {type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
        setup_s = time.time() - PROCESS_START
        if warm_error:
            passes, traced = [workloads.Pass.raised_all(wl.planned_ops, 0.0, warm_error)], []
        else:
            passes, traced = measure(wl, spark, args.seconds, tracer)
        stages = stage_totals(spark.sparkContext, [r for p in passes for r in p.stage_ranges])
        values, detail = end_to_end(setup_s, passes, stages)
        jvm = jvm_stats(spark)
        # the checks need no Spark: stop the JVM meanwhile (which also
        # completes the event log)
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            stopped = pool.submit(stop_jvm, spark)
            spark = None
            con = checks.connect()
            wl.check(con, passes + traced)
            con.close()
            stopped.result()
        metrics, trace_out = values, None
        if args.trace:
            metrics, trace_out = fold_trace(log_dir, tracer, traced, passes) if traced else (
                {k: 0.0 for k in PER_LAYER}, {})
            metrics.update({"session.call_s": session_s, "jvm.peak_rss_mb": jvm["peak_rss_mb"],
                            "jvm.gc_s": jvm["gc_s"]})
        all_passes = passes + traced
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(len(p.ops_ms) + p.raised for p in all_passes)
    failed = sum(p.failed_ops + p.raised for p in all_passes)
    problems = [msg for p in all_passes for msg in p.problems]
    units = PER_LAYER if args.trace else END_TO_END
    detail.update({"workload": args.workload, "seed": args.seed, "inputs": inputs,
                   "session_s": session_s, "jvm": jvm, "problems": sorted(set(problems))[:20]})
    if trace_out is not None:
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        text = json.dumps({"detail": detail, "per_layer": metrics, "end_to_end": values, **trace_out},
                          indent=1, default=str)
        with open(os.path.join(out_dir, f"trace_{args.workload}_seed{args.seed}.json"), "w") as fh:
            fh.write(text.replace(ROOT + os.sep, ""))  # paths relative to the checkout
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

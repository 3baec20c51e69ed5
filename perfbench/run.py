"""The repository benchmark.

    python3 perfbench/run.py --workload olap_interactive --seed 1 --seconds 20 --trace 0

Generates seeded parquet inputs, runs one workload in a closed loop with
one client on ``local[<cores>]``, checks every output, and prints one
JSON line last: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, taken from spans, job groups, physical plans and
the Spark event log (see ``spans.py``). All files live under
``perfbench/.work`` (inputs, deleted at exit), ``perfbench/.traces``
(span dumps) and ``perfbench/.results`` (last untraced result per
workload, the baseline of the tracing-overhead line).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Spark settings, identical on both sides of any comparison
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "1g"
#: small enough that the batch table (16 files) scans as >= 16 partitions
#: while the interactive table (4 files) stays under 16
MAX_PARTITION_BYTES = "8m"
#: data generation runs this many times per run; ``setup_s`` is the
#: session start, their median and the warm-up
SETUP_REPEATS = 3

def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def start_session(work: str, traced: bool):
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.files.maxPartitionBytes", MAX_PARTITION_BYTES)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={tmp} "
                # the whole heap is resident from the start, so peak RSS
                # does not depend on when the collector grows the heap
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")
        .config("spark.pyspark.python", sys.executable)
    )
    if traced:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", events)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    # a later session in this process must launch a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def end_to_end(ctx, setup_s: float, peak_mb: float) -> dict:
    lat = ctx.tracer.query_latencies()
    scanned = sum(o.rows for o in ctx.outcomes)
    return {
        "query_p50_s": statistics.median(lat),
        "rows_per_s": scanned / sum(lat),
        "peak_rss_mb": peak_mb,
        "setup_s": setup_s,
    }


def per_layer(ctx, groups: dict, wall_s: float, cores: int, e2e: dict) -> dict:
    """The per-layer metrics of a traced run (all of ``BENCHMARK.json``'s
    ``per_layer`` list; a layer the workload never enters reads 0)."""
    from spans import median_or_zero
    from workloads import OLAP_LAYERS

    tr = ctx.tracer
    out = {}
    jobs_by_span = {}
    for s in tr.spans:
        if "jobs" in s:
            jobs_by_span.setdefault(s["name"], []).append(s["jobs"])
    for layer in OLAP_LAYERS:
        out[f"{layer}.plan_s"] = median_or_zero(tr.durations(f"{layer}.plan"))
        plans = jobs_by_span.get(f"{layer}.plan", [])
        out[f"{layer}.eager_jobs"] = sum(plans) / len(plans) if plans else 0.0
    for layer in OLAP_LAYERS + ("rolling",):
        out[f"{layer}.exec_s"] = median_or_zero(tr.durations(f"{layer}.exec"))
    for fn in ("quality", "dedup", "decontam", "similarity"):
        out[f"functions.{fn}.exec_s"] = median_or_zero(tr.durations(f"functions.{fn}.exec"))
    out["sources.read_s"] = median_or_zero(tr.durations("sources.read"))
    fan = ctx.summary.get("fan_out_exchanges", [])
    out["sources.fan_out_exchanges"] = sum(fan) / len(fan) if fan else 0.0
    out["sinks.write_s"] = median_or_zero(tr.durations("sinks.write"))
    sink = ctx.summary.get("sink", [])
    out["sinks.files_written"] = statistics.median(f for f, _ in sink) if sink else 0.0
    out["sinks.bytes_written"] = statistics.median(b for _, b in sink) if sink else 0.0

    n_queries = max(1, len(tr.query_latencies()))
    totals = {}
    for group in tr.groups():
        for k, v in groups.get(group, {}).items():
            totals[k] = totals.get(k, 0.0) + v
    for k in ("jobs", "stages", "tasks", "scheduler_delay_s", "executor_run_s",
              "executor_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "python_bytes_sent"):
        out[f"spark.{k}"] = totals.get(k, 0.0) / n_queries
    out["spark.core_busy_frac"] = totals.get("executor_run_s", 0.0) / (wall_s * cores)

    plans = tr.plans or [{}]
    for k, name in (("scans", "plan.scans_per_query"),
                    ("exchanges", "plan.exchanges_per_query"),
                    ("python_nodes", "plan.python_nodes_per_query"),
                    ("redundant_scans", "plan.redundant_scans")):
        out[name] = sum(p.get(k, 0) for p in plans) / len(plans)
    out["trace.query_p50_s"] = e2e["query_p50_s"]
    out["trace.rows_per_s"] = e2e["rows_per_s"]
    return out


def layer_breakdown(ctx, groups: dict) -> dict:
    """Spark counters and self time per span name (written with the spans)."""
    by_name = {}
    for s in ctx.tracer.spans:
        g = groups.get(s.get("group"), {})
        acc = by_name.setdefault(s["name"], {})
        for k, v in g.items():
            acc[k] = acc.get(k, 0.0) + v
    return by_name


def _load_units(kind: str) -> dict:
    """Metric name -> unit for ``kind`` (``end_to_end`` or ``per_layer``)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[kind]}


def run(workload: str, seed: int, seconds: float, traced: bool, scale: str = "full",
        corrupt=None) -> dict:
    """Run one workload; returns the result object the CLI prints."""
    import duckdb

    import spans as tracing
    import workloads as W

    wl = W.WORKLOADS[workload]
    work = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the JVM launcher and the Python workers put scratch files in TMPDIR
    tmpdir = os.environ.get("TMPDIR")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    spark = None
    try:
        t0 = time.perf_counter()
        spark, cores = start_session(work, traced)
        duck = duckdb.connect()
        duck.execute("SET threads TO 4")
        duck.execute("SET memory_limit = '1GB'")
        duck.execute(f"SET temp_directory = '{os.path.join(work, 'duck')}'")
        tracer = tracing.Tracer(spark, traced)
        ctx = W.Context(spark=spark, tracer=tracer, duck=duck, work=work, seed=seed,
                        sizes=W.SIZES[scale], corrupt=corrupt)
        session_s = time.perf_counter() - t0
        generate_s = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.setup(ctx)
            generate_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm_up(ctx)
        warm_up_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(generate_s) + warm_up_s
        tracer.clear()

        t1 = time.perf_counter()
        wl.run(ctx, seconds)
        wall_s = time.perf_counter() - t1
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_mb = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)
        duck.close()
        stop_session(spark)
        spark = None

        e2e = end_to_end(ctx, setup_s, peak_mb)
        failed = sum(1 for o in ctx.outcomes if not o.ok)
        attempted = len(ctx.outcomes)
        for o in ctx.outcomes:
            if not o.ok:
                print(f"check failed: {o.template}: {o.detail}", file=sys.stderr)
        lat = tracer.query_latencies()
        # reported only with at least ten samples beyond it
        p90 = statistics.quantiles(lat, n=10)[-1] if len(lat) >= 100 else None
        print(json.dumps({
            "workload": workload, "seed": seed, "queries": len(lat),
            "error_rate": failed / attempted,
            "query_p90_s": p90, "input": ctx.summary.get("input"),
            "setup": {"session_s": session_s, "generate_s": generate_s,
                      "warm_up_s": warm_up_s},
        }))

        results_dir = os.path.join(HERE, ".results")
        baseline_path = os.path.join(results_dir, f"{workload}-{scale}.json")
        if traced:
            log = tracing.find_event_log(os.path.join(work, "events"))
            groups = tracing.parse_event_log(log) if log else {}
            metrics = per_layer(ctx, groups, wall_s, cores, e2e)
            overhead = None
            if os.path.exists(baseline_path):
                with open(baseline_path) as f:
                    base = json.load(f)
                overhead = {k: e2e[k] - base[k] for k in ("query_p50_s", "rows_per_s")}
                print(json.dumps({"tracing_overhead_vs_untraced": overhead,
                                  "untraced_seed": base.get("seed")}))
            tracer.dump(
                os.path.join(HERE, ".traces", f"{workload}-{seed}.json"),
                {"workload": workload, "seed": seed, "end_to_end": e2e,
                 "tracing_overhead": overhead,
                 "per_span_counters": layer_breakdown(ctx, groups)},
            )
            units = _load_units("per_layer")
        else:
            metrics = e2e
            units = _load_units("end_to_end")
            os.makedirs(results_dir, exist_ok=True)
            with open(baseline_path, "w") as f:
                json.dump({**e2e, "seed": seed}, f)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        if tmpdir is None:
            os.environ.pop("TMPDIR", None)
        else:
            os.environ["TMPDIR"] = tmpdir
        tempfile.tempdir = None


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["olap_interactive", "olap_batch", "text_curation"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)
    try:
        import pandas_weights_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    warnings.filterwarnings("ignore")
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

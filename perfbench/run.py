"""Benchmark of the tiny_search_engine_spark core engine.

    python3 perfbench/run.py --workload serve|refresh --seed N \
        --seconds S --trace 0|1

Runs one workload in one process on a ``local[nproc]`` session and prints,
as the last line of stdout, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` enables Spark's event log and reports the per-layer
metrics (see perfbench/README.md). A line before it carries the host
record. The package is imported from the directory above this one;
every scratch file lives under ``.perfbench_work/`` there and is removed
when the run ends, whether it succeeded or not. Any error exits non-zero
without printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_BASE = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "servable_cpu_s": "s",
    "serving_cpu_ms_per_query": "ms",
    "index_bytes_per_source_byte": "ratio",
}
# wall-clock figures, which repeat worse than CPU seconds on a shared
# 4-core host: reported per layer from the traced run instead
DEMOTED = {  # per-layer name -> (value key, unit)
    "run.servable_s": ("servable_s", "s"),
    "run.serving_qps": ("serving_qps", "queries/s"),
    "build.build_index.docs_per_s": ("build_docs_per_s", "docs/s"),
    "query.wand_topk.qps": ("wand_qps", "queries/s"),
    "query.tiered_wand_topk.qps": ("tiered_qps", "queries/s"),
    "query.bm25_topk.qps": ("exact_qps", "queries/s"),
    "run.prune_s": ("prune_s", "s"),
    "query.tiered_wand_topk.small_batch_s_p50": ("small_batch_s_p50", "s"),
    "run.peak_rss_mb": ("peak_rss_mb", "MB"),
}

TRACED_CALLS = (  # (call name, is a query call)
    ("build.build_index", False),
    ("query.choose_prune_m", False),
    ("build.prune_store", False),
    ("query.wand_topk", True),
    ("query.tiered_wand_topk", True),
    ("query.bm25_topk", True),
    ("streaming.ingest_available_now", False),
    ("streaming.compact_incremental", False),
    ("build.prune_store_incremental", False),
)
BUILD_STAGES = ("docs_raw", "doc_term", "term_stats", "doc_stats", "postings", "term_stats_write")


def canary(iters: int = 3_000_000) -> float:
    """Single-thread spin, seconds. A diagnostic that makes a throttled
    run identifiable; it never corrects a number."""
    t = time.perf_counter()
    x = 0
    for i in range(iters):
        x += i * i
    return time.perf_counter() - t


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def clear_stale_work() -> None:
    """Remove work dirs left by runs that were killed before cleanup."""
    if not os.path.isdir(WORK_BASE):
        return
    for name in os.listdir(WORK_BASE):
        pid = name.split("-")[1] if name.startswith("run-") else ""
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK_BASE, name), ignore_errors=True)


def prepare_env(work: str) -> None:
    """Point every scratch path of this process, its JVM and its Python
    workers into *work*, and give the workers the package path."""
    for sub in ("tmp", "local", "stores", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # compile caches would land in the package and benchmark directories
    # and make a checkout's first run differ from the rest
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.dont_write_bytecode = True
    os.environ["TSE_WORK_DIR"] = os.path.join(work, "stores")
    os.environ["TSE_SPARK_LOCAL_DIR"] = os.path.join(work, "local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    sys.path[:0] = [ROOT, HERE]


def session_conf(work: str, trace: bool) -> dict[str, str]:
    driver_mb = max(1024, min(8192, mem_total_mb() // 4))
    conf = {
        "spark.driver.memory": f"{driver_mb}m",
        # a heap committed in full at start: the GC's work then does not
        # follow the timing of heap growth, which made its CPU vary
        "spark.driver.extraJavaOptions":
            f"-Xms{driver_mb}m -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            # Spark 4.1 compresses with zstd by default; keep it readable
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })
    return conf


def host_record(spark, nproc: int) -> dict:
    import pyarrow
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc,
        "mem_total_mb": mem_total_mb(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "python": sys.version.split()[0],
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
    }


def layer_metrics(b, trace_dir: str, setup_calls: int, store) -> dict[str, float]:
    """Per-layer metrics from the event log plus the driver-side probes."""
    from eventlog import attribute, family, read_events

    att = attribute(read_events(trace_dir), b.calls)
    out: dict[str, float] = {"session.get_spark_s": b.values["get_spark_s"]}
    for name, is_query in TRACED_CALLS:
        for k, v in family(b.calls, att.usage, name, {"setup", "timed"}, is_query).items():
            out[f"{name}.{k}"] = v
    out["query.tiered_wand_topk.tier1_frac"] = (
        b.tier1_queries / b.answered_queries if b.answered_queries else 0.0
    )
    with open(os.path.join(store.lineage_path, "build.json")) as fh:
        stages = json.load(fh)["stage_seconds"]
    for st in BUILD_STAGES:
        out[f"build.stage_s.{st}"] = float(stages.get(st, 0.0))
    out["query.tiered_wand_topk.small_batch_s_tail"] = b.values["small_batch_s_tail"]
    out["run.failed_frac"] = b.tally.failed_frac
    out["run.timed_rounds"] = b.values["rounds"]
    # every job submitted after set-up must belong to exactly one call
    setup_end = b.calls[setup_calls - 1].t1 if setup_calls else 0.0
    out["trace.unattributed_jobs"] = sum(1 for _, t in att.unattributed if t > setup_end)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.makedirs(WORK_BASE, exist_ok=True)
    clear_stale_work()
    work = os.path.join(WORK_BASE, f"run-{os.getpid()}-{time.time_ns()}")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        prepare_env(work)
        canary_before = canary()
        t_setup = time.perf_counter()
        # import errors (package or toolchain missing) end the run here
        import workloads
        from tiny_search_engine_spark.session import get_spark

        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"choose from {sorted(workloads.WORKLOADS)}")
        nproc = len(os.sched_getaffinity(0))
        spark = get_spark(
            app_name=f"perfbench_{args.workload}",
            master=f"local[{nproc}]",
            shuffle_partitions=nproc,
            extra_conf=session_conf(work, bool(args.trace)),
        )
        get_spark_s = time.perf_counter() - t_setup
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

        b = workloads.Bench(spark, args.seed)
        b.values["get_spark_s"] = get_spark_s
        store = workloads.WORKLOADS[args.workload](b, args.seconds)
        setup_calls = next(i for i, c in enumerate(b.calls) if c.phase == "timed")
        values = dict(b.values)
        values["setup_s"] = values["setup_end"] - t_setup
        values["peak_rss_mb"] = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        e2e = {k: values[k] for k in END_TO_END}

        host = host_record(spark, nproc)
        probes = b.layer_probes(store) if args.trace else {}
        host["canary_before_s"] = canary_before
        host["canary_after_s"] = canary()
        shutdown(spark)
        spark = None

        if args.trace:
            metrics = layer_metrics(b, os.path.join(work, "events"), setup_calls, store)
            metrics.update(probes)
            metrics["host.canary_before_s"] = host["canary_before_s"]
            metrics["host.canary_after_s"] = host["canary_after_s"]
            for k, v in e2e.items():
                metrics[f"traced.{k}"] = v
            for k, (key, _) in DEMOTED.items():
                metrics[k] = values.get(key, 0.0)
            units = per_layer_units()
            report = {k: {"value": float(metrics[k]), "unit": units[k]} for k in units}
        else:
            report = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
        for what in b.tally.failures:
            print(f"FAILED: {what}", file=sys.stderr)
        print(json.dumps({"host": host, "workload": args.workload, "seed": args.seed,
                          "timed_rounds": b.values["rounds"],
                          "prune_m": b.values.get("prune_m"),
                          "small_batches": len(b.samples.get("tiered", [])),
                          "serving_cpu_ms_samples": b.samples["serving_cpu_ms"],
                          "tier1_queries": b.tier1_queries, "answered_queries": b.answered_queries,
                          "small_batch_tail_pct": b.values["small_batch_tail_pct"]}))
        print(json.dumps({
            "correct": b.tally.failed == 0,
            "attempted": b.tally.attempted,
            "failed": b.tally.failed,
            "metrics": report,
        }))
        return 0
    finally:
        try:
            if spark is not None:
                try:
                    shutdown(spark)
                except Exception as e:  # the run already failed; report and clean up
                    print(f"session shutdown failed: {e!r}", file=sys.stderr)
        finally:  # also when reporting fails, e.g. on a closed stderr
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(WORK_BASE)
            except OSError:  # another run's work dir is still there
                pass


def shutdown(spark) -> None:
    """Stop the session and wait for its JVM (which takes the Python
    workers with it) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def per_layer_units() -> dict[str, str]:
    """The per-layer metric names (as BENCHMARK.json lists them) → unit."""
    from eventlog import FAMILY

    unit_of = {"wall_s": "s", "task_cpu_s": "s", "task_run_s": "s", "python_s": "s",
               "python_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_s": "s",
               "jobs": "count", "tasks": "count", "rows_read_per_result": "ratio"}
    units = {"session.get_spark_s": "s"}
    for name, is_query in TRACED_CALLS:
        for k in FAMILY + (("rows_read_per_result",) if is_query else ()):
            units[f"{name}.{k}"] = unit_of[k]
    units.update({
        "query.tiered_wand_topk.tier1_frac": "ratio",
        "tokenizer.docs_per_s": "docs/s",
        "tokenizer.queries_per_s": "queries/s",
        "compress.decode_postings_per_s": "postings/s",
        "compress.encode_postings_per_s": "postings/s",
        "compress.bytes_per_posting": "bytes",
    })
    for st in BUILD_STAGES:
        units[f"build.stage_s.{st}"] = "s"
    units.update({k: u for k, (_, u) in DEMOTED.items()})
    units.update({
        "query.tiered_wand_topk.small_batch_s_tail": "s",
        "run.failed_frac": "ratio",
        "run.timed_rounds": "count",
        "trace.unattributed_jobs": "count",
        "host.canary_before_s": "s",
        "host.canary_after_s": "s",
    })
    for k, u in END_TO_END.items():
        units[f"traced.{k}"] = u
    return units


if __name__ == "__main__":
    sys.exit(main())

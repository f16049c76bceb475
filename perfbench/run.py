"""Benchmark entry point.

    python3 perfbench/run.py --workload {olap_sql,llm_curation,warehouse_dml}
        --seed N --seconds S --trace {0,1}

Run from the repository root. The seed generates every input (star-schema
tables, raw FHVHV months, statement parameters, per-pass query order);
the engine only ever sees those generated files. One process, one
closed-loop client: each operation is issued after the previous one
completes. Spark runs as ``local[<cores available to this process>]``.

Phases:
1. set-up (``setup_s``): session start, the workload's warm-up, and for
   ``warehouse_dml`` the empty-table init. For the query workloads the
   warm-up is one pass that also collects every result for the output
   check; only its Spark time counts as set-up.
2. timed loop: whole passes until ``--seconds`` have elapsed and at
   least ``MIN_PASSES`` passes are done.
3. checks outside the timed loop (DuckDB oracle / mirror).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans
around every call into the engine's modules and prints the per-layer
metrics instead. Every run writes its full result (environment, all
metrics, failures) under ``perfbench/.work/results``; traced runs also
write their spans there. The last stdout line is the result JSON.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "nyc_taxi_data_warehouse_spark"
WORKLOADS = ("olap_sql", "llm_curation", "warehouse_dml")
SF = 0.01  # star-schema scale of the query workloads (lineitem = 60k rows)
DML_MONTHS = [(2023, 1), (2023, 2)]
DML_ROWS = 10_000  # rows per raw month
# Whole passes per run, at least: on 4 cores an olap pass takes about
# 3 s, an llm pass about 6.5 s and a warehouse pass (two months, 18
# statements) about 11 s.
MIN_PASSES = {"olap_sql": 3, "llm_curation": 2, "warehouse_dml": 1}

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "read_p50_ms": "ms",
}


def per_layer_names() -> dict[str, str]:
    from perfbench import catalog, warehouse_dml

    units = {"session.get_spark_s": "s", "session.warmup_s": "s"}
    for t in catalog.SCAN_TABLES:
        units[f"sources.scan_ms.{t}"] = "ms"
    for f in catalog.FAMILIES:
        units[f"queries.{f}.build_ms"] = "ms"
        units[f"queries.{f}.drain_ms"] = "ms"
        units[f"queries.{f}.n_shuffles"] = "count"
        units[f"queries.{f}.shuffle_bytes"] = "bytes"
        units[f"queries.{f}.spill_bytes"] = "bytes"
    for op in warehouse_dml.ALL_OPS:
        units[f"warehouse.{op}.ms"] = "ms"
    for op in ("load_month", "delete", "update", "optimize"):
        units[f"warehouse.{op}.bytes_written"] = "bytes"
    for op in ("delete", "update"):
        units[f"warehouse.{op}.rows_affected"] = "count"
    units.update({
        "warehouse.live_files": "count",
        "warehouse.manifest_bytes": "bytes",
        "warehouse.versions": "count",
        "warehouse.select_scan.files_read_frac": "ratio",
        "warehouse.write_p50_ms": "ms",
        "warehouse.write_tail_ms": "ms",
        "warehouse.write_amp": "ratio",
        "warehouse.space_amp": "ratio",
        "trace.pass_s": "s",
        "trace.top_spans_s": "s",
    })
    return units


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout, and size Spark to the cores this process may use."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: HotSpot writes its perf-data file to /tmp
    # whatever java.io.tmpdir says
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the engine's 8 GB default heap is far more than sf0.01 needs
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    import tempfile

    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
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
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str, tracer) -> dict:
    from nyc_taxi_data_warehouse_spark import session

    from perfbench import catalog, datagen, warehouse_dml

    with tracer.span("session.get_spark"):
        t0 = time.perf_counter()
        spark = session.get_spark(
            app_name=f"perfbench-{args.workload}",
            warehouse_dir=os.path.join(work, "spark-warehouse"),
        )
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t0
    env = {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "spark_version": spark.version,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "seed": args.seed,
        "workload": args.workload,
        "run_seconds": args.seconds,
    }
    try:
        if args.workload == "warehouse_dml":
            env.update({"months": len(DML_MONTHS), "rows_per_month": DML_ROWS})
            wl = warehouse_dml.WarehouseWorkload(
                spark, os.path.join(work, "dml"), args.seed, DML_ROWS, DML_MONTHS, tracer
            )
            env["statements"] = [op for op, _ in wl.plan]
            # the warm-up is the measured pass itself, at full size, on a
            # table of its own: after a smaller one (one month, 1k rows)
            # the first timed pass runs up to ~1.5x slower than the next
            t0 = time.perf_counter()
            with tracer.span("warmup"):
                wl.init_table()
                wl.warm_pass()
            warmup_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl.init_table()
            setup_s = get_spark_s + warmup_s + (time.perf_counter() - t0)
            between = wl.init_table
            data_bytes = sum(os.path.getsize(p) for p, _, _ in wl.raw.values())
        else:
            env.update({"sf": SF, "entries": catalog.WORKLOADS[args.workload]})
            sf_dir = datagen.write_star_schema(os.path.join(work, "data"), args.seed, SF)
            data_bytes = sum(
                os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir)
            )
            wl = catalog.CatalogWorkload(args.workload, spark, sf_dir, args.seed, SF, tracer)
            with tracer.span("warmup"):
                # only the engine's side of the warm-up/check pass is set-up
                warmup_s = wl.warm_and_check()
            setup_s = get_spark_s + warmup_s
            between = None
        deadline = time.perf_counter() + args.seconds
        for n in itertools.count(1):
            wl.run_pass()
            if n >= MIN_PASSES[args.workload] and time.perf_counter() >= deadline:
                break
            if between:
                between()
        if args.workload == "warehouse_dml":
            wl.readback_check()
            wl.close()
        metrics = {"setup_s": setup_s, **wl.end_to_end()}
        if tracer.enabled:
            layer = {k: 0.0 for k in per_layer_names()}
            layer.update(wl.per_layer())
            layer["session.get_spark_s"] = get_spark_s
            layer["session.warmup_s"] = warmup_s
            metrics["_per_layer"] = layer
    finally:
        stop_spark(spark)
    env["data_bytes"] = data_bytes
    env["ram_bytes"] = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {
        "env": env,
        "metrics": metrics,
        "attempted": wl.attempted,
        "failures": wl.failures,
        "samples": wl.samples,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results_dir = os.path.join(HERE, ".work", "results")
    os.makedirs(results_dir, exist_ok=True)
    isolate(work)
    # import the benchmark as the ``perfbench`` package, not its modules
    # as top-level names next to the engine's
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    from perfbench import spans

    tracer = spans.Tracer() if args.trace else spans.NullTracer()
    try:
        res = run(args, work, tracer)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    m = res["metrics"]
    failed = len(res["failures"])
    attempted = max(res["attempted"], 1)
    stem = os.path.join(
        results_dir, f"{args.workload}.seed{args.seed}.trace{args.trace}.{os.getpid()}"
    )
    res["failed_frac"] = failed / attempted
    with open(stem + ".json", "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    if tracer.enabled:
        tracer.write(stem + ".spans.json")

    for msg in res["failures"]:
        print(f"FAILED {msg}")
    shown = {k: v for k, v in m.items() if not k.startswith("_")}
    summary = " ".join(f"{k}={v:.4g}{END_TO_END[k]}" for k, v in shown.items())
    extra = {k[1:]: v for k, v in m.items() if k.startswith("_") and k != "_per_layer"}
    print(
        f"{args.workload} seed={args.seed} {summary} failed_frac={res['failed_frac']:.4g} "
        + " ".join(f"{k}={v:.4g}" for k, v in extra.items())
    )
    if args.trace:
        units = per_layer_names()
        out = {k: {"value": v, "unit": units[k]} for k, v in m["_per_layer"].items()}
    else:
        out = {k: {"value": shown[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Lakehouse benchmark launcher.

    python3 lakebench/run.py --workload symbol_lookup --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root. Sizes the Spark session for the host,
runs one workload (see ``workloads.py``) with inputs generated from
``--seed``, checks every output, and prints a detail line and then,
as the last line, one JSON result object. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics from
a traced run and writes its spans under ``.lakebench_work/spans/``.

Exits non-zero without a result line when the package cannot be
imported or the run itself breaks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ingest_rows_per_s": "rows/s",
    "stored_bytes_per_row": "B/row",
}

OP_TYPES = ("trigger", "lookup", "append", "vwap", "movers", "resample",
            "range", "asof")
PER_LAYER = {
    "session.start_s": "s",
    "streaming.trigger_ms": "ms",
    "streaming.overhead_ms": "ms",
    "txnlog.append.p50_ms": "ms",
    "txnlog.append.p90_ms": "ms",
    "txnlog.append.calls": "count",
    "txnlog.optimize.ms": "ms",
    "txnlog.optimize.calls": "count",
    "txnlog.bytes_written_per_row": "B/row",
    "txnlog.live_files": "count",
    "txnlog.log_files": "count",
    "txnlog.checkpoints": "count",
    "txnlog.snapshot.ms": "ms",
    "txnlog.prune.ms": "ms",
    "txnlog.files_kept_ratio": "ratio",
    "txnlog.scan.exec_ms": "ms",
    "lakehouse.ingest_batch.ms": "ms",
    "lakehouse.rows_rejected": "count",
    "lakehouse.query.plan_ms": "ms",
    "lakehouse.query.exec_ms": "ms",
    "lakehouse.rows_scanned_per_row_returned": "ratio",
    "lakehouse.sql.vwap.ms": "ms",
    "lakehouse.sql.movers.ms": "ms",
    "lakehouse.sql.resample.ms": "ms",
    "asof.join.ms": "ms",
    **{f"spark.{c}_per_op.{op}": "count"
       for op in OP_TYPES for c in ("jobs", "stages", "tasks")},
    "bench.op_self_ms": "ms",
    "trace.overhead_ratio": "ratio",
}


def host_sizing() -> dict:
    """Spark parallelism = usable CPUs; driver heap a quarter of RAM,
    at most 4 GiB (the largest input is ~100 MB of Parquet)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    mem_gb = max(1, min(4, kb // (4 << 20)))
    return {"cpus": cpus, "ram_gb": round(kb / (1 << 20), 1),
            "driver_memory": f"{mem_gb}g"}


def start_spark(work: str, sizing: dict):
    from market_data_lakehouse_spark import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="lakebench",
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM by closing its stdin (the
    gateway exits on EOF) and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "market_data_lakehouse_spark")):
        print("market_data_lakehouse_spark not found next to lakebench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from spans import peak_rss_mb, summary
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    sizing = host_sizing()
    base = os.path.join(ROOT, ".lakebench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(sizing["cpus"]),
        "SPARK_DRIVER_MEMORY": sizing["driver_memory"],
        "PYSPARK_PYTHON": sys.executable,
    })
    time.tzset()

    wl = WORKLOADS[args.workload](args.seed, args.seconds, work, bool(args.trace))
    spark = None
    try:
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t

        t = time.perf_counter()
        spark = start_spark(work, sizing)
        session_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.setup(spark)
        setup_s = session_s + time.perf_counter() - t

        t = time.perf_counter()
        wl.measure(t + args.seconds)
        measure_s = time.perf_counter() - t
        wl.finish()
        gw = spark.sparkContext._gateway
        rss = peak_rss_mb(getattr(getattr(gw, "proc", None), "pid", None))
    finally:
        if spark is not None:
            stop_spark(spark)

    spans_path = None
    if args.trace:
        os.makedirs(os.path.join(base, "spans"), exist_ok=True)
        spans_path = os.path.join(
            base, "spans", f"{args.workload}-seed{args.seed}.json")
        with open(spans_path, "w") as f:
            json.dump(wl.rec.spans, f)
    shutil.rmtree(work, ignore_errors=True)

    ops = summary(wl.op_ms)
    if args.trace:
        values = {k: 0.0 for k in PER_LAYER}
        values["session.start_s"] = session_s
        values.update(wl.layer)
        units = PER_LAYER
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_ms": ops.get("p50", 0.0),
            "ingest_rows_per_s": wl.ingest_rate,
            "stored_bytes_per_row": wl.stored,
        }
        units = END_TO_END
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": sizing, "spark_master": f"local[{sizing['cpus']}]",
        "prepare_s": prepare_s, "session_start_s": session_s,
        "setup_s": setup_s, "measure_s": measure_s, "ops": ops,
        "peak_rss_mb": rss,
        "failed_op_ratio": wl.failed / max(1, wl.attempted),
        "errors": wl.errors, "spans_file": spans_path, **wl.detail,
    }
    print("detail " + json.dumps(detail, default=str))
    print(json.dumps({
        "correct": wl.failed == 0 and wl.attempted > 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                    for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

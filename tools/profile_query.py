"""Per-stage profile of one or more bench/registry queries.

Runs each named query end-to-end through the noop sink (guide
section 1.4) inside a session with the UI enabled, then reads the
UI REST API for per-job and per-stage wall/metrics so the time can
be attributed: scan vs shuffle-read vs compute vs scheduling, and —
for multi-action lifecycle queries — which JOB inside the query owns
the wall. Prints a compact report; optionally dumps
``.explain("formatted")`` next to it.

Usage:
    python tools/profile_query.py [--sf DIR] [--runs N] [--explain DIR] q1 [q2 ...]

Names may be bench labels (q_triangle_count) or registry names
(g2_triangle_count).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, HEAVY  # noqa: E402
from market_data_lakehouse_spark.queries import REGISTRY  # noqa: E402
from market_data_lakehouse_spark.session import get_spark  # noqa: E402


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.load(r)


def resolve(name: str) -> str:
    if name in REGISTRY:
        return name
    merged = {**HEADLINE, **HEAVY}
    if name in merged:
        return merged[name]
    raise SystemExit(f"unknown query {name!r}")


def profile(spark, base: str, qname: str, sf_dir: str, runs: int):
    fn = REGISTRY[qname].fn
    results = []
    for i in range(runs):
        jobs_before = {j["jobId"] for j in _api(base, "/jobs")}
        spark.sparkContext.setJobDescription(f"profile:{qname}:run{i}")
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        jobs = [
            j for j in _api(base, "/jobs") if j["jobId"] not in jobs_before
        ]
        results.append((wall, jobs))
    # report the FASTEST run (bench policy: min over passes)
    wall, jobs = min(results, key=lambda r: r[0])
    print(f"\n=== {qname}: wall {wall:.3f}s over {len(jobs)} jobs "
          f"(min of {runs} runs: {[round(w,3) for w,_ in results]}) ===")
    stage_rows = []
    total_job_ms = 0
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        sub = j.get("submissionTime")
        comp = j.get("completionTime")
        dur = "?"
        if sub and comp:
            from datetime import datetime

            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            d = (datetime.strptime(comp, fmt) - datetime.strptime(sub, fmt)).total_seconds()
            dur = f"{d:7.3f}s"
            total_job_ms += d
        print(f"  job {j['jobId']:>4} {dur} stages={len(j.get('stageIds', []))} "
              f"tasks={j.get('numTasks', '?')}")
        for sid in j.get("stageIds", []):
            try:
                st = _api(base, f"/stages/{sid}")
            except Exception:
                continue
            for attempt in st:
                if attempt.get("status") not in ("COMPLETE", "FAILED"):
                    continue
                stage_rows.append(attempt)
    print(f"  sum(job walls) = {total_job_ms:.3f}s "
          f"(gap to query wall = driver/planning time)")
    stage_rows.sort(key=lambda s: -(s.get("executorRunTime") or 0))
    print(f"  top stages by executorRunTime:")
    for s in stage_rows[:12]:
        name = s.get("name", "")[:70]
        print(
            f"    stage {s['stageId']:>4} tasks={s['numTasks']:>3} "
            f"run={s.get('executorRunTime', 0)/1000:7.2f}s "
            f"cpu={s.get('executorCpuTime', 0)/1e9:7.2f}s "
            f"shR={s.get('shuffleReadBytes', 0)/1e6:8.2f}MB "
            f"shW={s.get('shuffleWriteBytes', 0)/1e6:8.2f}MB "
            f"in={s.get('inputBytes', 0)/1e6:8.2f}MB  {name}"
        )
    return wall


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--explain", default=None,
                    help="directory to write <query>.txt explain dumps")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    spark = get_spark(
        "profile_query", extra_conf={"spark.ui.enabled": "true"}
    )
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"
    # warm the session so run 0 of the first query doesn't eat
    # executor spin-up
    spark.range(1).write.format("noop").mode("overwrite").save()

    for name in args.queries:
        qname = resolve(name)
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = REGISTRY[qname].fn(spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            txt = buf.getvalue()
            with open(os.path.join(args.explain, f"{qname}.txt"), "w") as fh:
                fh.write(txt)
        profile(spark, base, qname, args.sf, args.runs)
    spark.stop()


if __name__ == "__main__":
    main()

"""Per-key empirical profiler (guide §1.1): run registry keys with the
noop sink on a UI-enabled session and break the time down per Spark job
and stage via the UI REST API (localhost:4040/api/v1).

Usage:
    python tools/profile_key.py [--sf-dir DIR] [--cpus N] [--reps N]
                                [--plans-out DIR] key [key ...]

For each key prints cold/warm wall times plus a per-job table (job
description, duration, stages with task count / shuffle read+write /
input bytes / spill) for the LAST (warm) run, so the dominant stage is
visible without the browser UI. Optionally saves .explain("formatted")
to <plans-out>/<key>_before.txt (or _after.txt via --suffix), with
run-varying ids and paths normalized away: dump the plans at two
commits and ``diff -r`` the directories — identical plans with a
slower wall time point at the host, a changed plan at the code.

Measurement-only tool: never touches registry/oracle surfaces.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from neo_olap_spark.registry import queries  # noqa: E402
from neo_olap_spark.session import get_spark  # noqa: E402


# UI on with enough history for the per-job REST breakdown; every
# other setting is the production session's.
UI_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.retainedJobs": "5000",
    "spark.ui.retainedStages": "5000",
}


def normalize_plan(text: str) -> str:
    """Strip run-varying tokens so identical physical plans diff empty:
    plan node ids `(12)`, codegen stage ids, exchange/subquery ids,
    the JVM-global counters (Spark 4's `plan_id=N`, RDD ids of
    checkpointed scans), file paths, statistics, and pointer-ish
    hex."""
    text = re.sub(r"\(\d+\)", "(#)", text)
    text = re.sub(r"\[codegen id : \d+\]", "[codegen id : #]", text)
    text = re.sub(r"\[id=#?\d+\]", "[id=#]", text)
    text = re.sub(r"plan_id=\d+", "plan_id=#", text)
    text = re.sub(r"RDD\[\d+\]", "RDD[#]", text)
    text = re.sub(r"#\d+L?", "#x", text)  # attribute exprIds
    text = re.sub(r"file:[^\],\s]+", "file:PATH", text)
    text = re.sub(r"0x[0-9a-f]+", "0xHEX", text)
    text = re.sub(r"subquery\d+", "subqueryN", text)
    text = re.sub(r"cte\d+", "cteN", text)
    return text


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=10) as r:
        return json.loads(r.read())


def _fmt_bytes(n: float) -> str:
    for unit in ("B", "K", "M", "G"):
        if abs(n) < 1024:
            return f"{n:.0f}{unit}"
        n /= 1024
    return f"{n:.1f}T"


def job_report(base: str, app_id: str, since_job: int) -> list[str]:
    jobs = [j for j in _api(base, f"/api/v1/applications/{app_id}/jobs")
            if j["jobId"] >= since_job]
    jobs.sort(key=lambda j: j["jobId"])
    stages = {s["stageId"]: s
              for s in _api(base, f"/api/v1/applications/{app_id}/stages")}
    out = []
    for j in jobs:
        try:
            t0 = time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S")
            t1 = time.strptime(j["completionTime"][:19], "%Y-%m-%dT%H:%M:%S")
            dur = time.mktime(t1) - time.mktime(t0)
        except (KeyError, ValueError):
            dur = -1
        frag = []
        for sid in j.get("stageIds", []):
            s = stages.get(sid)
            if not s or s.get("status") == "SKIPPED":
                continue
            frag.append(
                f"s{sid}[{s['numCompleteTasks']}t"
                f" in={_fmt_bytes(s.get('inputBytes', 0))}"
                f" sr={_fmt_bytes(s.get('shuffleReadBytes', 0))}"
                f" sw={_fmt_bytes(s.get('shuffleWriteBytes', 0))}"
                f" spill={_fmt_bytes(s.get('diskBytesSpilled', 0))}"
                f" rt={s.get('executorRunTime', 0) / 1000:.1f}s]"
            )
        desc = (j.get("description") or j.get("name") or "")[:60]
        out.append(f"  job {j['jobId']:>4} {dur:5.0f}s  {desc}  " + " ".join(frag))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plans-out", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--no-jobs", action="store_true",
                    help="skip the per-job REST breakdown")
    args = ap.parse_args()

    spark = get_spark("neo-olap-profile", cpus=args.cpus, conf=UI_CONF)
    qs = queries()
    spark.range(1000).selectExpr("sum(id)").collect()
    base = "http://localhost:4040"
    app_id = _api(base, "/api/v1/applications")[0]["id"]

    for key in args.keys:
        if key not in qs:
            print(f"{key}: NOT IN REGISTRY", flush=True)
            continue
        times = []
        last_job = -1
        for rep in range(args.reps):
            jobs_before = _api(base, f"/api/v1/applications/{app_id}/jobs")
            last_job = max((j["jobId"] for j in jobs_before), default=-1)
            spark.sparkContext.setJobDescription(f"{key} rep{rep}")
            t0 = time.perf_counter()
            df = qs[key](spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()
        print(f"\n=== {key}  times={times}", flush=True)
        if not args.no_jobs:
            for line in job_report(base, app_id, last_job + 1):
                print(line, flush=True)
        if args.plans_out:
            os.makedirs(args.plans_out, exist_ok=True)
            from neo_olap_spark.plans import plan_str

            df = qs[key](spark, args.sf_dir)
            with open(os.path.join(
                    args.plans_out, f"{key}_{args.suffix}.txt"), "w") as f:
                f.write(normalize_plan(plan_str(df)))
            spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()

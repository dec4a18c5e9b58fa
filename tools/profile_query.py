#!/usr/bin/env python
"""Per-query job/stage profile: run a headline query's operator plan (the
one bench.py times) with the UI enabled and print, for the STEADY-state execution,
every Spark job and stage with wall time, task count, and shuffle bytes.

    python tools/profile_query.py similarity_ivfpq_ann [more ...]

Separates driver-side gaps (planning, collects between jobs) from task
time — the fixed-cost anatomy of a sub-second bench query.  Uses the
bench-optimized layout when present (same as bench.py timings).
SPARK_GRAFT_SF_DIR overrides.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _rest(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}{path}") as r:
        return json.load(r)


def profile(spark, qs, name: str, sf_dir: str) -> None:
    from supersonic_spark.session import release_two_pass_caches

    sc = spark.sparkContext
    # warm run (JIT, Arrow workers, listing) — not profiled
    sc.setJobDescription(f"warm:{name}")
    qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    release_two_pass_caches()

    jobs_before = {j["jobId"] for j in _rest(spark, "/jobs")}
    sc.setJobDescription(f"steady:{name}")
    t0 = time.perf_counter()
    qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    sc.setJobDescription(None)
    release_two_pass_caches()

    jobs = [j for j in _rest(spark, "/jobs") if j["jobId"] not in jobs_before]
    jobs.sort(key=lambda j: j["jobId"])
    stages = {s["stageId"]: s for s in _rest(spark, "/stages")}

    def _ms(a, b) -> float:
        from datetime import datetime

        fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
        ta = datetime.strptime(a.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        tb = datetime.strptime(b.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        return (tb - ta).total_seconds() * 1000

    print(f"\n=== {name}: steady wall {wall*1000:.0f} ms, {len(jobs)} jobs ===")
    total_job_ms = 0.0
    prev_end = None
    for j in jobs:
        dur = _ms(j["submissionTime"], j["completionTime"])
        total_job_ms += dur
        gap = ""
        if prev_end is not None:
            g = _ms(prev_end, j["submissionTime"])
            if g > 5:
                gap = f"  (+{g:.0f} ms driver gap before)"
        prev_end = j["completionTime"]
        print(f"  job {j['jobId']:>4} {dur:7.0f} ms  {j.get('description','')[:60]}{gap}")
        for sid in sorted(j["stageIds"]):
            st = stages.get(sid)
            if not st or st["status"] == "SKIPPED":
                print(f"        stage {sid:>4} SKIPPED")
                continue
            sdur = _ms(st["firstTaskLaunchedTime"], st["completionTime"]) if st.get(
                "firstTaskLaunchedTime") else float("nan")
            print(
                f"        stage {sid:>4} {sdur:6.0f} ms  tasks={st['numCompleteTasks']:<4}"
                f" in={st['inputBytes']:>9} sh_r={st['shuffleReadBytes']:>9}"
                f" sh_w={st['shuffleWriteBytes']:>9}  {st['name'].split(' at ')[0]}"
            )
    print(f"  sum(job wall) {total_job_ms:.0f} ms; driver-side remainder "
          f"{wall*1000 - total_job_ms:.0f} ms (planning/collect gaps/noop commit)")


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_UI", "1")
    default_dir = "/tmp/ss_bench_opt_root_testdata_sf0.1"
    if not os.path.isdir(default_dir):
        default_dir = "/root/testdata/sf0.1"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", default_dir)

    from supersonic_spark.session import get_spark

    from __spark_entry__ import operators

    spark = get_spark("profile_query", ui=True)
    spark.sparkContext.setLogLevel("ERROR")
    qs = operators()
    for name in sys.argv[1:]:
        profile(spark, qs, name, sf_dir)


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Per-query job/stage profile: run a headline query's operator plan (the
one bench.py times) and print, for the STEADY-state execution, every Spark
job and stage with wall time, task count, and shuffle bytes, read from the
core status store (``plans.instrument.job_profile``; the UI stays off).

    python tools/profile_query.py similarity_ivfpq_ann [more ...]

Separates driver-side gaps (planning, collects between jobs) from task
time — the fixed-cost anatomy of a sub-second bench query.  Uses the
bench-optimized layout when present (same as bench.py timings).
SPARK_GRAFT_SF_DIR overrides.
"""

from __future__ import annotations

import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def profile(spark, qs, name: str, sf_dir: str) -> None:
    from supersonic_spark.plans.instrument import job_group, job_profile
    from supersonic_spark.session import release_two_pass_caches

    # warm run (JIT, Arrow workers, listing) — not profiled
    qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    release_two_pass_caches()

    group = f"profile:{name}:{uuid.uuid4().hex}"
    with job_group(spark, group, f"steady:{name}"):
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
    release_two_pass_caches()
    jobs = job_profile(spark, group)

    print(f"\n=== {name}: steady wall {wall*1000:.0f} ms, {len(jobs)} jobs ===")
    total_job_ms = 0.0
    prev_end = None
    for j in jobs:
        dur = j.completed_ms - j.submitted_ms
        total_job_ms += dur
        gap = ""
        if prev_end is not None and j.submitted_ms - prev_end > 5:
            gap = f"  (+{j.submitted_ms - prev_end} ms driver gap before)"
        prev_end = j.completed_ms
        print(f"  job {j.job_id:>4} {dur:7.0f} ms  {j.description[:60]}{gap}")
        for st in j.stages:
            if st.status == "SKIPPED":
                print(f"        stage {st.stage_id:>4} SKIPPED")
                continue
            sdur = st.completed_ms - st.launched_ms if st.launched_ms else float("nan")
            print(
                f"        stage {st.stage_id:>4} {sdur:6.0f} ms  tasks={st.num_complete_tasks:<4}"
                f" in={st.input_bytes:>9} sh_r={st.shuffle_read_bytes:>9}"
                f" sh_w={st.shuffle_write_bytes:>9}  {st.name.split(' at ')[0]}"
            )
    print(f"  sum(job wall) {total_job_ms:.0f} ms; driver-side remainder "
          f"{wall*1000 - total_job_ms:.0f} ms (planning/collect gaps/noop commit)")


def main() -> None:
    default_dir = "/tmp/ss_bench_opt_root_testdata_sf0.1"
    if not os.path.isdir(default_dir):
        default_dir = "/root/testdata/sf0.1"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", default_dir)

    from supersonic_spark.session import get_spark

    from __spark_entry__ import operators

    spark = get_spark("profile_query")
    spark.sparkContext.setLogLevel("ERROR")
    qs = operators()
    for name in sys.argv[1:]:
        profile(spark, qs, name, sf_dir)


if __name__ == "__main__":
    main()

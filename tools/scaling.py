#!/usr/bin/env python
"""Scaling-curve evidence: run a headline subset at sf0.001 / sf0.01 /
sf0.1 — plus a synthesized sf1 (tools/make_scale.py, 10× sf0.1, ~6M
lineitem rows) — and report wall time per scale factor plus the observed
scaling exponent between the two LARGEST points — the empirical answer
to "would this plan survive a 100× scale-up?".

A plan whose time grows ~linearly with data (exponent ≈ 1, after fixed
overhead stops dominating) is shuffle/partition healthy; a super-linear
exponent flags a shape that will not survive 1000×.  The sf1 point
matters because at sf≤0.1 scheduler overhead floors every query near
~0.3-1 s and the exponents read artificially low.  Writes SCALING.md.

Usage: python tools/scaling.py
  SPARK_GRAFT_SCALE_SFS  colon-separated sf dirs (overrides default list)
  SPARK_GRAFT_BENCH_RUNS steady repetitions per point (default 3)
The sf1 dir is generated on demand under /tmp/supersonic_scale/sf1.
"""

from __future__ import annotations

import math
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1_DIR = "/tmp/supersonic_scale/sf1"

#: (dir, scale factor) — scale factor drives the exponent denominator
DEFAULT_SFS = [
    ("/root/testdata/sf0.001", 0.001),
    ("/root/testdata/sf0.01", 0.01),
    ("/root/testdata/sf0.1", 0.1),
    (SF1_DIR, 1.0),
]

#: scan/shuffle-dominated shapes where the curve is meaningful (the
#: fixed-overhead-dominated sub-second queries would just measure the
#: scheduler).
QUERIES = [
    "tpch_q1",
    "tpch_q5_shape",
    "tpch_q21_shape",
    "hash_join_inner",
    "distinct_aggregate",
    "window_rank_orders",
    "dedup_minhash_estimate",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_incremental_minhash",
    "dedup_semantic_semdedup",
    "similarity_lsh_ann",
    "similarity_ivf_ann",
    "similarity_pq_ann",
    "similarity_ivfpq_ann",
    "asof_join_events",
    # one representative per remaining pipeline family (round 7) — the
    # 100× stance should be measured for text/sampling/sketch too, not
    # just the dedup/ANN family that broke at sf30
    "text_quality",
    "text_tfidf_topk",
    "sample_token_budget",
    "cms_heavy_hitters",
    # round 8: substring-level dedup (linear by construction — the curve
    # documents that no pair join sneaks in as the corpus grows)
    "dedup_substring_spans",
]


def _sf_label(sf: float, path: str) -> str:
    lab = f"sf{sf:g}"
    return lab + " (synth)" if path.startswith("/tmp/") else lab


def _resolve_sfs() -> list[tuple[str, float]]:
    env = os.environ.get("SPARK_GRAFT_SCALE_SFS")
    if env:
        out = []
        for p in env.split(":"):
            base = os.path.basename(p.rstrip("/"))
            out.append((p, float(base.replace("sf", ""))))
        return out
    sfs = list(DEFAULT_SFS)
    if not os.path.exists(os.path.join(SF1_DIR, "lineitem.parquet")):
        print(f"generating {SF1_DIR} (10x sf0.1) via tools/make_scale.py ...")
        subprocess.run(
            [sys.executable,
             os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "make_scale.py"), "10", SF1_DIR],
            check=True,
        )
    return sfs


def main() -> None:
    from supersonic_spark.session import get_spark

    import bench
    from __spark_entry__ import operators

    global QUERIES
    # after a perf-relevant engine change, re-measure only the affected
    # queries (their SCALING_RAW cells must be deleted first — the merge
    # is a min, so stale fast cells would mask a regression)
    subset = os.environ.get("SPARK_GRAFT_SCALE_QUERIES")
    if subset:
        QUERIES = [q.strip() for q in subset.split(",") if q.strip()]
    sfs = _resolve_sfs()
    spark = get_spark("scaling_curve")
    spark.sparkContext.setLogLevel("ERROR")
    # operator plans, without the oracle checks that wrap the hash/approx
    # names (right for correctness, wrong for a scaling curve)
    qs = operators()
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    results: dict[str, dict[str, float]] = {q: {} for q in QUERIES}
    opt_dirs: dict[str, str] = {}
    for sf_dir, sf in sfs:
        # Same storage-optimized ingest as bench.py: the driver's parquet is
        # single-row-group (1-task scans), which would otherwise make small
        # SFs read SLOWER than the splittable synthesized sf1 and corrupt
        # the exponent (a negative slope was observed for exactly this
        # reason).  File count scales with the data so task size stays
        # roughly constant across SFs (8 files at sf0.1 — the measured
        # sweet spot — up to 64).
        big = min(64, max(8, round(8 * sf / 0.1)))
        opt_dirs[sf_dir], _ = bench._optimize_layout(spark, sf_dir, big_files=big)
    # TWO full passes with the min taken across passes: a co-tenant CPU
    # burst (this host's load average sits near 20) lasting a few minutes
    # would otherwise poison every query of whichever SF block it lands
    # on and flip exponent signs; it is very unlikely to hit the same
    # (query, SF) cell in both passes.
    import json

    ckpt_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING_CKPT.json",
    )
    n_cells = 0
    for _pass in range(2):
        for sf_dir, _sf in sfs:
            opt = opt_dirs[sf_dir]
            for name in QUERIES:
                print(f"pass {_pass + 1}/2  {os.path.basename(sf_dir)}  {name} ...",
                      flush=True)
                qs[name](spark, opt).write.format("noop").mode("overwrite").save()
                best = results[name].get(sf_dir, float("inf"))
                for _ in range(n_runs):
                    t0 = time.perf_counter()
                    qs[name](spark, opt).write.format("noop").mode("overwrite").save()
                    best = min(best, time.perf_counter() - t0)
                results[name][sf_dir] = best
                # two-pass operators persist intermediates they cannot
                # release themselves; drop them so a multi-SF sweep does
                # not accumulate cached partitions between cells
                from supersonic_spark.session import release_two_pass_caches

                release_two_pass_caches()
                # checkpoint after every cell: an interrupted multi-hour
                # sweep (big synth SFs run 10-60s PER EXECUTION) salvages
                # everything measured so far — rerun, or hand-merge the
                # checkpoint into SCALING_RAW.json (same schema, min-safe)
                n_cells += 1
                with open(ckpt_path, "w") as f:
                    json.dump({q_: c for q_, c in results.items() if c}, f, indent=1)

    # Merge with previously recorded mins (SCALING_RAW.json): the host's
    # co-tenant load is intermittent and can poison arbitrary (query, SF)
    # cells for several minutes — longer than one in-run pass.  The min
    # across ALL recorded steady runs is the defensible steady-state
    # estimator (same rationale as min-of-k within a run); the sidecar
    # makes it monotone across invocations.
    raw_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING_RAW.json",
    )
    if os.path.exists(raw_path):
        with open(raw_path) as f:
            prev = json.load(f)
        for name, cells in prev.items():
            mine = results.setdefault(name, {})
            for sf_dir, t in cells.items():
                mine[sf_dir] = min(mine[sf_dir], t) if sf_dir in mine else t
    with open(raw_path, "w") as f:
        json.dump(results, f, indent=1)
    if os.path.exists(ckpt_path):
        os.remove(ckpt_path)  # completed: everything is in SCALING_RAW.json

    # Report over EVERY SF ever recorded in SCALING_RAW (sorted by sf),
    # not just the dirs measured THIS invocation — so a targeted run
    # (e.g. SPARK_GRAFT_SCALE_SFS=sf10:sf30 to add one new point)
    # re-renders the full curve instead of truncating the table.
    seen: dict[str, float] = {}
    for cells in results.values():
        for p in cells:
            base = os.path.basename(p.rstrip("/"))
            try:
                seen[p] = float(base.replace("sf", ""))
            except ValueError:
                pass
    for p, sf in sfs:
        seen[p] = sf
    all_sfs = sorted(seen.items(), key=lambda kv: kv[1])

    hi_path, hi_sf = all_sfs[-1]
    lo_path, lo_sf = all_sfs[-2]
    ratio = hi_sf / lo_sf
    hdr = " | ".join(f"{_sf_label(sf, p)} (s)" for p, sf in all_sfs)
    lines = [
        "# SCALING — wall time vs scale factor (min of %d steady runs)" % n_runs,
        "",
        "Evidence for the 100 TB stance: the exponent is",
        f"log(t_{_sf_label(hi_sf, hi_path).split()[0]} / "
        f"t_{_sf_label(lo_sf, lo_path).split()[0]}) / log({ratio:g}) — the two",
        "largest points — so exponent ≈ 1 means linear scaling (healthy",
        "shuffles/partitioning), < 1 means fixed overhead still dominates,",
        "> 1 flags a shape that breaks at 100×.  The sf1 point is",
        "synthesized by tools/make_scale.py (10× key-strided sf0.1; document",
        "words suffixed per replica and embedding dims permuted per replica",
        "so dedup/ANN pair structure grows linearly, not quadratically).",
        "Generated by tools/scaling.py on local[%s]."
        % os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()),
        "",
        f"| query | {hdr} | exponent |",
        "|" + "---|" * (len(all_sfs) + 2),
    ]

    report = [n for n in dict.fromkeys(list(QUERIES) + sorted(results))
              if all(p in results.get(n, {}) for p, _ in all_sfs)]
    for name in report:
        ts = [results[name][p] for p, _ in all_sfs]
        t_hi, t_lo = results[name][hi_path], results[name][lo_path]
        exp = math.log(t_hi / t_lo) / math.log(ratio) if t_lo > 0 else float("nan")
        cells = " | ".join(f"{t:.3f}" for t in ts)
        lines.append(f"| {name} | {cells} | {exp:.2f} |")
    out = "\n".join(lines) + "\n"
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "SCALING.md")
    with open(path, "w") as f:
        f.write(out)
    print(out)


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_steady_sec, "unit": "sec",
"queries": {name: steady_sec, ...}, "cold_queries": {name: first_run_sec},
"rows_processed": {name: input_rows}, "rows_per_sec": {name: throughput},
"sf": ...}.

Per-query timing = full plan execution to a count/collect-free sink
(df.write.format("noop")) so the measured cost is scan+compute+shuffle,
not driver materialization — mirroring the reference's per-cursor
throughput stats (benchmark/proto/benchmark.proto:11-75).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: headline queries: coverage across scan/filter/agg/join/sort/window/
#: dedup/similarity — the shapes that dominate at 100 TB.  Values are the
#: input tables each query scans (for rows-processed / rows-per-sec
#: reporting per BASELINE.md's benchmark.proto vocabulary).
HEADLINE: dict[str, list[str]] = {
    "tpch_q1": ["lineitem"],
    "tpch_q5_shape": ["region", "nation", "customer", "supplier", "orders", "lineitem"],
    "filter_predicate": ["lineitem"],
    "hash_join_inner": ["customer", "orders", "lineitem"],
    "hash_join_left": ["customer", "orders", "lineitem"],
    "distinct_aggregate": ["lineitem"],
    "sort_topk": ["orders"],
    "first_last_aggregate": ["events"],
    "stateful_running_sum": ["events"],
    "dedup_exact": ["documents"],
    "dedup_minhash_lsh": ["documents"],
    "dedup_minhash_estimate": ["documents"],
    "dedup_simhash": ["documents"],
    "multimodal_decode_png": ["documents"],
    "similarity_cosine_topk": ["embeddings"],
    "similarity_ivf_ann": ["embeddings"],
    "similarity_pq_ann": ["embeddings"],
    "similarity_ivfpq_ann": ["embeddings"],
    "text_quality": ["documents"],
    "tpch_q6_shape": ["lineitem"],
    "tpch_q10_shape": ["customer", "orders", "lineitem", "nation"],
    "tpch_q3_shape": ["customer", "orders", "lineitem"],
    "tpch_q18_shape": ["customer", "orders", "lineitem"],
    "json_extract_props": ["events"],
    "asof_join_events": ["events"],
    "window_rank_orders": ["orders"],
    "corpus_curation_pipeline": ["documents"],
    "tpch_q9_shape": ["part", "supplier", "orders", "lineitem", "nation"],
    "tpch_q13_shape": ["customer", "orders"],
    "tpch_q16_shape": ["part", "supplier", "lineitem"],
    "tpch_q21_shape": ["supplier", "orders", "lineitem", "nation"],
    "upsert_latest_events": ["events"],
    "text_repetition_signals": ["documents"],
    "window_navigation_events": ["events"],
    "approx_distinct_users": ["events"],
    "sketch_distinct_merge": ["events"],
    "skew_salted_join": ["events", "customer"],
    "line_dedup_boilerplate": ["documents"],
    "dedup_semantic_semdedup": ["embeddings"],
    "dedup_incremental_minhash": ["documents"],
    "similarity_ivf_index_probe": ["embeddings"],
    # round 8: newest pipeline families promoted into the perf-tracked set
    # (they were oracle-checked but a regression was invisible to bench)
    "multimodal_gif_frames": ["documents"],
    "multimodal_audio_wav": ["documents"],
    "sample_pack_sequences": ["documents"],
    "sample_token_budget": ["documents"],
    "sample_cap_per_key": ["documents"],
    "dedup_substring_spans": ["documents"],
}


def _table_rows(sf_dir: str) -> dict[str, int]:
    """Input-table row counts from parquet footers (no Spark jobs)."""
    import pyarrow.parquet as pq

    out = {}
    for tables in HEADLINE.values():
        for t in tables:
            if t not in out:
                out[t] = pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows
    return out


def _optimize_layout(spark, sf_dir: str, big_files: int = 8) -> tuple[str, float]:
    """One-time storage-optimized ingest (reported as ``ingest_sec``).

    The driver's testdata parquet is single-row-group — an UNSPLITTABLE
    scan unit, so every base scan runs as one task no matter how many
    cores exist.  An engine owns its storage layout (the reference reads
    its own FileInput format, file_io.h:16-19); the Spark-idiomatic
    equivalent is ingest-once into split-friendly parquet: big tables as 8
    files (≈75k rows/task at sf0.1 — measured sweet spot; 32 files adds
    more stage overhead than it removes), small dimensions as 1.  Ingest
    is timed and reported separately, like any load-then-query benchmark;
    queries measure pure execution.

    The classic fact tables (lineitem/orders/events) always get
    ``big_files``; every OTHER table's file count derives from its
    SOURCE BYTES (≈3 MB of source parquet per output file, capped at
    ``big_files``) instead of being pinned to 1: the pin is right at
    sf0.1 (documents = 5k rows → still 1 file, bench series unchanged)
    and catastrophically wrong at synth SFs — the round-6 sf30 sweep
    measured exponent 2.0-2.9 on the whole text/embedding family because
    documents/embeddings (182 MB, 1.5M docs at sf30) re-ingested as ONE
    single-row-group file, making every downstream shingle/fold/assign a
    one-task scan (30 idle cores; SCALING.md addendum).
    """
    import time as _t

    from supersonic_spark.session import load_tables

    from concurrent.futures import ThreadPoolExecutor

    def _src_bytes(name: str) -> int:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isdir(p):
            return sum(
                os.path.getsize(os.path.join(p, f))
                for f in os.listdir(p)
                if not f.startswith(("_", "."))
            )
        return os.path.getsize(p) if os.path.exists(p) else 0

    tag = sf_dir.rstrip("/").replace("/", "_")
    dst = os.path.join("/tmp", f"ss_bench_opt{tag}")
    t0 = _t.perf_counter()
    tables = load_tables(spark, sf_dir)

    def write(item):
        name, df = item
        if name in ("lineitem", "orders", "events"):
            n = big_files
        else:
            n = min(big_files, max(1, round(_src_bytes(name) / (3 << 20))))
        (df.repartition(n).write.mode("overwrite")
           .parquet(os.path.join(dst, f"{name}.parquet")))

    # concurrent write jobs — the scheduler interleaves the small tables
    # behind the big ones instead of paying 10 sequential job latencies
    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(write, tables.items()))
    return dst, round(_t.perf_counter() - t0, 3)


def _write_cold_report(here: str, steady: dict, cold: dict) -> None:
    """COLD.md: the worst cold/steady ratios, refreshed every bench run.

    The headline number is min-of-3 STEADY state — the honest figure for a
    long-lived session, but it hides what the FIRST run of a query pays
    (JVM/JIT warmup, Python-worker spin-up for Arrow UDF stages, codegen
    compilation, index/sidecar first reads).  Surfacing the ratio here
    keeps the bench gate un-gameable by steady-only reporting: a change
    that moved cost from steady state into setup would show up as a
    ratio regression in this table."""
    rows = sorted(
        ((cold[k] / steady[k], k) for k in steady if k in cold and steady[k] > 0),
        reverse=True,
    )
    total_cold = sum(cold.get(k, steady[k]) for k in steady)
    total_steady = sum(steady.values())
    lines = [
        "# COLD — first-run vs steady-state cost (from BENCH_DETAIL.json)",
        "",
        "Steady wall (the headline metric) is min-of-3 after a warmup run;",
        "this table reports what the FIRST execution of each query paid on",
        "a fresh session — JIT/codegen warmup, Python-worker (Arrow UDF)",
        "spin-up, first sidecar/index reads.  Regenerated by every bench.py",
        "run; a change that hides steady cost in setup shows up here.",
        "",
        f"Totals: cold {total_cold:.2f}s vs steady {total_steady:.2f}s "
        f"({total_cold / total_steady:.2f}x) over {len(rows)} queries.",
        "",
        "| query | cold (s) | steady (s) | ratio |",
        "|---|---|---|---|",
    ]
    for ratio, k in rows[:15]:
        lines.append(f"| {k} | {cold[k]:.3f} | {steady[k]:.3f} | {ratio:.1f}x |")
    lines += [
        "",
        "Worst offenders are the Arrow-UDF pipelines (first pandas-worker",
        "fork + numpy import) and multi-join TPC-H shapes (codegen compile);",
        "both are per-session, not per-query, costs — they amortize across",
        "a workload and do not grow with data size.",
        "",
    ]
    with open(os.path.join(here, "COLD.md"), "w") as f:
        f.write("\n".join(lines))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    orig_sf_dir = sf_dir
    from supersonic_spark.session import get_spark

    from __spark_entry__ import operators

    spark = get_spark("supersonic_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    # the operator plans, not their oracle checks: a hash/approx name's
    # registry build wraps the operator in exact ground truth, which would
    # time the check instead of the operator a user runs
    qs = operators()

    sf_dir, ingest_sec = _optimize_layout(spark, sf_dir)

    # warm the JVM + file listing once (excluded from timing)
    qs["tpch_q1"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # First run per query pays one-time costs (plan analysis,
    # whole-stage-codegen JIT, shuffle-file creation) that vary with session
    # age; steady state is then the MIN of SPARK_GRAFT_BENCH_RUNS (default 3)
    # further runs — the reference's bench infra isolates the same split
    # (OnCreateFinished vs OnBenchmarkFinished, cursor/core/benchmarks.h:
    # 30-57), and min-of-k suppresses host-level noise spikes (GC pauses,
    # co-tenant CPU) that a single sample is exposed to.  `value` sums the
    # steady-state times.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    results: dict[str, float] = {}
    cold: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    spread: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        cold[name] = round(time.perf_counter() - t0, 3)
        runs = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        results[name] = min(runs)
        samples[name] = runs
        # drop persisted two-pass intermediates (with_row_id /
        # token_budget_sample) so caches don't pile up across the loop
        from supersonic_spark.session import release_two_pass_caches

        release_two_pass_caches()
        # spread = (max-min)/min over the steady runs: >0.3 means the host
        # was noisy while this query ran and its min is still an upper bound
        spread[name] = round((max(runs) - min(runs)) / max(min(runs), 1e-9), 3)

    # rows processed (input rows scanned) and steady-state rows/s — the
    # reference's benchmark.proto vocabulary (rows_processed, throughput).
    # Counted from the ORIGINAL testdata (the optimized copy has identical
    # rows; its footers just live in multiple files).
    trows = _table_rows(orig_sf_dir)
    rows_processed = {n: sum(trows[t] for t in tabs) for n, tabs in HEADLINE.items()}
    rows_per_sec = {
        n: round(rows_processed[n] / results[n]) if results[n] > 0 else None
        for n in HEADLINE
    }

    sf = orig_sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # streaming-throughput GATE (supersonic_spark/streaming/gate.py): drain
    # the three representative stateful operators and fail LOUDLY on a
    # rows/sec collapse — the batch side has this via the BENCH_r* history,
    # the streaming side only had the periodic STREAMING.md sweep.  Floors
    # are calibrated to the sf0.1 drain, so the gate only arms there;
    # other SFs still report the measurement.
    from supersonic_spark.streaming.gate import (
        check_streaming_gate,
        measure_streaming_throughput,
    )

    # best-of-2 timed drains per operator (after the warm drain): the
    # Python-state lane's wall time is jitter-amplified (see
    # streaming/gate.py round-9 recalibration) — one co-tenant burst
    # must not fail the gate alone
    streaming_rps = {
        k: round(v)
        for k, v in measure_streaming_throughput(
            spark, orig_sf_dir, runs=2
        ).items()
    }
    if sf == "0.1":
        violations = check_streaming_gate(streaming_rps)
        streaming_gate = "pass" if not violations else "FAIL: " + "; ".join(
            violations
        )
        for v in violations:
            print(f"STREAMING GATE FAIL: {v}", file=sys.stderr)
    else:
        streaming_gate = "unarmed (floors calibrated at sf0.1)"

    lean = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(results.values()), 3),
        "unit": "sec",
        "queries": results,
        "ingest_sec": ingest_sec,
        "streaming_rows_per_sec": streaming_rps,
        "streaming_gate": streaming_gate,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # The driver records only the last ~2000 chars of stdout: keep the
    # contract line LEAN so it parses, and park the full per-query detail
    # (cold runs, rows processed, throughput) in BENCH_DETAIL.json.
    detail = dict(lean, cold_queries=cold, rows_processed=rows_processed,
                  rows_per_sec=rows_per_sec, steady_samples=samples,
                  steady_spread=spread)
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1)
    _write_cold_report(here, results, cold)
    line = json.dumps(lean)
    if len(line) > 1900:  # hard cap: stay inside the driver's tail window
        lean["queries"] = {
            k: v for k, v in sorted(results.items(), key=lambda x: -x[1])[:25]
        }
        lean["queries_truncated_see"] = "BENCH_DETAIL.json"
        line = json.dumps(lean)
    print(line)


if __name__ == "__main__":
    main()

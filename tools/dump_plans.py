#!/usr/bin/env python
"""Dump formatted physical plans of the operator plans bench.py times
(``__spark_entry__.operators()``).

    python tools/dump_plans.py
        regenerate PLANS.md: the headline queries plus the scale-pattern
        shapes whose plan IS the point, at sf0.01 (broadcast placement,
        pushdown, partial aggregation, codegen spans);
    python tools/dump_plans.py --round NN {before|after} [query ...]
        write the full explain of each headline query (or of the listed
        ones) to plans/rNN/<query>_<before|after>.txt — an optimization
        round's before/after evidence.  Reads the bench-optimized sf0.1
        copy when present, else raw sf0.1 (plan shape is layout-independent
        except for scan split counts).

SPARK_GRAFT_SF_DIR overrides the data directory in both modes.
"""

from __future__ import annotations

import argparse
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# the scale-pattern shapes PLANS.md shows beside the headline queries
# (no-exchange bucketed join, pruned partitioned scan, pushdown into a
# Python source, semi join with no right columns, ...)
SCALE_EXTRAS = [
    "bloom_prefilter_join_supplier",
    "prefilter_join_part_revenue",
    "serde_expression_textproto",
    "dedup_duplicate_clusters",
    "bucketed_join_orders",
    "partitioned_write_prune",
    "custom_python_source",
    "semi_join_active_customers",
    "hash_join_full_outer",
    "mode_aggregate",
    "moving_range_frame_events",
    "cube_aggregate",
    "lookup_index_join",
    "stats_aggregate_family",
    "expr_array_hof",
    "json_variant_extract",
]

NOTES = {
    "line_dedup_boilerplate": (
        "Document frequency aggregates on the 8-byte line hash "
        "(xxhash64 of the trimmed line) — the corpus-wide shuffle "
        "never carries raw line text.  The boilerplate set is "
        "broadcast back (tiny by construction: only lines in >cap of "
        "all documents), and reassembly is one groupBy per document "
        "with an array_sort over (pos, line) structs."
    ),
    "dedup_semantic_semdedup": (
        "SemDeDup: centroids train driver-side on a bounded sample; "
        "cell assignment is one Arrow-batched matmul; the only "
        "corpus-wide shuffle keys on the cell id, and the quadratic "
        "cosine scan runs strictly within cells.  The input is the full "
        "table plus 20 planted copies; the oracle check (exact-cosine "
        "ground truth on a 520-row slice) wraps this plan and is not in "
        "it."
    ),
    "bloom_prefilter_join_supplier": (
        "The Bloom bit-test (element_at over a literal word array + "
        "shiftleft mask conjunction) sits in the lineitem scan stage — "
        "the fact side's Exchange only sees surviving rows.  The sketch "
        "build is one bit_or aggregation over the filtered supplier "
        "keys (≤ num_bits/64 rows to the driver, bounded by "
        "construction)."
    ),
    "dedup_simhash": (
        "simhash64 is a per-row HOF fold — shuffle-free signature "
        "computation.  The explode→64-conditional-agg twin "
        "(simhash64_agg) was A/B-measured 4.6× SLOWER at sf0.1 "
        "(0.71 s vs 3.26 s): a 64-buffer HashAggregate falls out of "
        "whole-stage codegen, so it does strictly more interpreted "
        "work than the fold plus a shuffle the fold doesn't have."
    ),
    "bucketed_join_orders": (
        "At sf0.01 the small side fits under autoBroadcastJoinThreshold, "
        "so AQE picks a broadcast join here; with broadcast disabled the "
        "bucketed tables sort-merge-join with NO Exchange on either side "
        "(pinned by tests/test_scale_patterns.py::"
        "test_bucketed_join_no_exchange) — that is the shape a 100 TB "
        "fact-fact join takes."
    ),
}


def _explain(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def plans_md(spark, qs, headline) -> None:
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `tools/dump_plans.py` at {SF_DIR} (plan shapes are",
        "scale-factor independent; AQE may re-plan exchanges at runtime).",
        "Each plan is the operator plan bench.py times",
        "(`__spark_entry__.operators()`).  Codegen'd operators are marked `*`.",
        "",
    ]
    for name in headline + SCALE_EXTRAS:
        plan = _explain(spark, qs[name](spark, SF_DIR))
        out += [f"## {name}", "", "```", plan.split("\n\n")[0], "```", ""]
        # surface dynamic-partition-pruning evidence (it lives in the node
        # detail / Subqueries sections the tree split drops)
        dpp = [ln.strip() for ln in plan.splitlines() if "dynamicpruning" in ln]
        if dpp:
            out += ["```", *dpp[:2], "```", ""]
        if name in NOTES:
            out += [f"> {NOTES[name]}", ""]
    path = os.path.join(HERE, "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")


def round_plans(spark, qs, headline, rnd: str, suffix: str, only: list[str]) -> None:
    # bench.py's data: its ingested copy of sf0.1 (same directory naming
    # as bench._optimize_layout) when present, else the raw sf0.1
    raw = os.path.join(os.path.dirname(SF_DIR), "sf0.1")
    opt = "/tmp/ss_bench_opt" + raw.rstrip("/").replace("/", "_")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or (opt if os.path.isdir(opt) else raw)
    outdir = os.path.join(HERE, "plans", f"r{rnd}")
    os.makedirs(outdir, exist_ok=True)
    names = [n for n in headline if not only or n in only]
    names += [n for n in only if n not in headline and n in qs]
    for name in names:
        plan = _explain(spark, qs[name](spark, sf_dir))
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"query: {name}\nsf_dir: {sf_dir}\n\n{plan}")
        print(f"wrote {path}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--round", metavar="NN", help="write plans/rNN/ instead of PLANS.md")
    ap.add_argument("rest", nargs="*", metavar="{before|after} [query ...]")
    args = ap.parse_args()
    if args.round and (not args.rest or args.rest[0] not in ("before", "after")):
        ap.error("--round needs 'before' or 'after'")

    from supersonic_spark.session import get_spark

    import bench
    from __spark_entry__ import operators

    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs, headline = operators(), list(bench.HEADLINE)
    if args.round:
        round_plans(spark, qs, headline, args.round, args.rest[0], args.rest[1:])
    else:
        plans_md(spark, qs, headline)


if __name__ == "__main__":
    main()

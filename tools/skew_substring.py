#!/usr/bin/env python
"""Zipf-skew evidence for the substring_dup_spans WINDOW shape (round 9,
r8-verdict item 5 addendum).

The round-8 restructure computes per-gram document frequency as a window
over ONE partitioned gram stream (`Window.partitionBy("g")`, unbounded
sum).  The exposure the verdict flagged: a HUB gram — license/boilerplate
text shared by a large fraction of the corpus — puts every one of its
occurrences into one window partition, the same hot-key shape the removed
join had, now in window form.  It is linear and spillable by
construction; this sweep MEASURES the straggler bound instead of
asserting it.

Corpus (same Zipf discipline as tools/skew_sweep.py): ``HOT_FRACTION`` of
``SF``·50k documents share ONE ~40-word boilerplate template (with a tiny
per-doc tail mutation so span output stays per-doc), every other document
is gram-unique.  Every template gram therefore has df ≈ n_hot — each one
is a hub gram whose window frame buffers n_hot rows in a single task.

Reported: wall, output rows, and per-task max vs median executorRunTime
of the window stage (core status store, ``plans.instrument.job_profile``)
— on a real cluster the max task IS the stage wall, so max/median is the
number that must stay bounded (~10x per the verdict's done-criterion) for
the shape to be called scale-safe.  Appends the measured row to SKEW.md.

Usage: python tools/skew_substring.py [SF] [HOT_FRACTION]
  (defaults 10 and 0.03 → 500k docs, 15k hot)
"""

from __future__ import annotations

import os
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_corpus(spark, path: str, n_docs: int, hot_fraction: float) -> None:
    from pyspark.sql import functions as F

    n_hot = int(n_docs * hot_fraction)
    base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    # ~40-word boilerplate template: with k=8 word grams that is ~33
    # distinct hub grams, each with df == n_hot (every hot doc contains
    # every template gram exactly once).  The per-doc tail keeps the
    # documents distinct without creating new cross-doc grams.
    words = [f"boilerplate{i}" for i in range(40)]
    template = F.lit(" ".join(words))
    hot = F.concat_ws(
        " ", template, F.concat(F.lit("tail"), F.col("doc_id").cast("string"))
    )
    cold = F.concat_ws(
        " ",
        *[
            F.concat(F.lit(f"u{i}w"), F.col("doc_id").cast("string"))
            for i in range(12)
        ],
    )
    docs = base.select(
        "doc_id",
        F.when(F.col("doc_id") < n_hot, hot).otherwise(cold).alias("text"),
    )
    docs.repartition(32).write.mode("overwrite").parquet(path)


def main() -> None:
    from supersonic_spark.pipeline import dedup
    from supersonic_spark.plans.instrument import benchmark_operation, job_profile
    from supersonic_spark.session import get_spark

    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 10.0
    hot_fraction = float(sys.argv[2]) if len(sys.argv) > 2 else 0.03
    n_docs = int(50_000 * sf)
    n_hot = int(n_docs * hot_fraction)

    spark = get_spark("skew_substring")
    spark.sparkContext.setLogLevel("ERROR")
    path = f"/tmp/supersonic_scale/zipf_sub_sf{sf:g}_h{hot_fraction:g}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        print(f"building Zipf substring corpus: {n_docs} docs, {n_hot} hot → {path}")
        build_corpus(spark, path, n_docs, hot_fraction)
    docs = spark.read.parquet(path)

    # warm run (codegen), then the measured run in a job group of its own:
    # its row count comes from the same run, so no stage outside it is read
    dedup.substring_dup_spans(docs, "doc_id", "text").write.format(
        "noop").mode("overwrite").save()
    run = benchmark_operation(f"skew_substring:{uuid.uuid4().hex}",
                              dedup.substring_dup_spans(docs, "doc_id", "text"))
    wall, n_rows = run.wall_sec, run.rows

    # per-task summary of every stage in the measured run; the window
    # stage is the one with the largest max task
    rows = sorted(
        ((st.stage_id, st.num_complete_tasks, st.task_median_s, st.task_max_s)
         for j in job_profile(spark, run.group) for st in j.stages
         if st.status == "COMPLETE" and st.task_max_s is not None),
        key=lambda r: -r[3],
    )
    print(f"wall {wall:.2f}s, {n_rows} span rows; stages (by max task):")
    for sid, nt, med, mx in rows[:5]:
        ratio = mx / med if med > 0 else float("inf")
        print(f"  stage {sid}: {nt} tasks, med {med:.2f}s, max {mx:.2f}s, "
              f"max/med {ratio:.1f}x")

    if not rows:
        sys.exit(f"no stage summary for job group {run.group} came back from "
                 f"the status store; SKEW.md not updated")
    sid, nt, med, mx = rows[0]
    ratio = mx / med if med > 0 else float("inf")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "SKEW.md"), "a") as f:
        f.write(
            f"\n## substring_dup_spans hub-gram window row (round 9)\n\n"
            f"Zipf corpus: {n_docs:,} docs, {n_hot:,} ({hot_fraction:.0%}) "
            f"sharing one 41-token template (33 hub grams, df={n_hot:,} "
            f"each); every other doc gram-unique.  Measured steady run:\n\n"
            f"| corpus | wall | span rows | hottest stage | max task | "
            f"median task | max/median |\n|---|---|---|---|---|---|---|\n"
            f"| sf{sf:g}·zipf h{hot_fraction:g} | {wall:.2f} s | {n_rows:,} "
            f"| {nt} tasks | {mx:.2f} s | {med:.2f} s | {ratio:.1f}x |\n\n"
            f"The hub-gram frames buffer df(g) 24-byte rows through the "
            f"spillable window buffer — linear in df by construction; the "
            f"measured max/median bound above is the straggler exposure a "
            f"1000-executor cluster would see as stage wall.\n"
        )
    print(f"appended SKEW.md row (max/med {ratio:.1f}x)")


if __name__ == "__main__":
    main()

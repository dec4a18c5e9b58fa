#!/usr/bin/env python
"""Adversarial-skew evidence for the LSH dedup path: a Zipf-shaped
near-dup corpus — ONE hot template owning a few percent of all documents
— is the shape that breaks banded LSH at scale (the hot-bucket k² blowup
described in pipeline/dedup.py: a bucket of k docs is one join key, so
one task does k² signature comparisons while every other task is idle).

SCALING.md's synthetic replicas grow pair structure linearly BY
CONSTRUCTION (per-replica word suffixes), so they can never trip the
skew guard; this sweep builds the corpus that does:

- ``SF`` × the driver's sf0.1 documents table in row count (default 3 →
  150k docs), text structure matching (word-shingleable sentences);
- ``HOT_FRACTION`` of all docs (default 3% → 4500) share ONE template
  with a small per-doc mutation — enough to exceed the production
  pre-flight threshold (_AUTO_SALT_HOT = 4096) so ``skew_salt="auto"``
  genuinely triggers, exactly as a crawl corpus full of boilerplate
  pages would;
- every other doc is shingle-unique (no accidental pairs).

It then runs minhash_lsh_pairs twice — forced-unsalted vs
``skew_salt="auto"`` — asserts identical pair counts, and writes SKEW.md
with the chosen salt, per-block bound, and the wall-clock and max-task
A/B (max task read from the core status store through
``plans.instrument.job_profile``; the UI stays off).  The unsalted run
IS the failure mode being measured: its hot bucket is one task per band.

Usage: python tools/skew_sweep.py [SF] [HOT_FRACTION]
  (defaults 3 and 0.03; corpus cached under /tmp/supersonic_scale)
"""

from __future__ import annotations

import math
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_corpus(spark, path: str, n_docs: int, hot_fraction: float) -> None:
    from pyspark.sql import functions as F

    n_hot = int(n_docs * hot_fraction)
    base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    # hot docs: ONE exact boilerplate template (the error-page/cookie-banner
    # case every crawl corpus has) — identical shingle sets, identical
    # MinHash signatures, so ALL hot docs land in the same bucket of every
    # band: the maximal hot-bucket k² shape
    template = F.lit(
        "breaking news update from the wire service desk today read more inside"
    )
    cold = F.concat_ws(
        " ",
        *[
            F.concat(F.lit(f"u{i}w"), F.col("doc_id").cast("string"))
            for i in range(10)
        ],
    )
    docs = base.select(
        "doc_id",
        F.when(F.col("doc_id") < n_hot, template).otherwise(cold).alias("text"),
    )
    docs.repartition(32).write.mode("overwrite").parquet(path)


def main() -> None:
    from pyspark.sql import functions as F

    from supersonic_spark.pipeline import dedup
    from supersonic_spark.plans.instrument import job_group, job_profile
    from supersonic_spark.session import get_spark

    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 3.0
    hot_fraction = float(sys.argv[2]) if len(sys.argv) > 2 else 0.03
    n_docs = int(50_000 * sf)  # sf0.1 documents = 5k rows → sf1 = 50k
    n_hot = int(n_docs * hot_fraction)

    spark = get_spark("skew_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    path = f"/tmp/supersonic_scale/zipf_sf{sf:g}_h{hot_fraction:g}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        print(f"building Zipf corpus: {n_docs} docs, {n_hot} hot → {path}")
        build_corpus(spark, path, n_docs, hot_fraction)
    docs = spark.read.parquet(path)

    variant = os.environ.get("SKEW_SWEEP_VARIANT")
    if variant:  # subprocess worker: ONE variant, fresh JVM (see below)
        import json

        # SKEW_SWEEP_G overrides the pre-flight's g: the salted explode
        # replicates the signature-carrying banded table (g+1)/2× into
        # both join sorts, and this host's scratch disk cannot absorb the
        # pre-flight's choice at sf10 (g=8 ⇒ ~4.5× ⇒ >73 GB spill, died
        # ENOSPC twice).  A cluster sizes scratch per-executor; here we
        # measure the bound at a g the disk affords and report both.
        forced = os.environ.get("SKEW_SWEEP_G")
        salt = None if variant == "unsalted" else (
            int(forced) if forced else "auto")
        group = f"skew_sweep:{variant}:{uuid.uuid4().hex}"
        t0 = time.perf_counter()
        with job_group(spark, group):
            n_pairs = dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", threshold=0.5, verify="estimate",
                skew_salt=salt,
            ).count()
        wall = time.perf_counter() - t0
        # the straggler metric: on local[32] total wall-clock is work-bound
        # and hides a single hot task; a 1000-executor cluster's wall-clock
        # IS that task — max executorRunTime over the run's stages
        stages = [st for j in job_profile(spark, group) for st in j.stages
                  if st.status == "COMPLETE" and st.task_max_s is not None]
        top = max(stages, key=lambda st: st.task_max_s, default=None)
        max_task = top.task_max_s if top else 0.0
        print(f"max-task stage: {top.stage_id if top else -1}")
        # per-stage breakdown for diagnosing WHERE a straggler lives
        for st in sorted(stages, key=lambda st: st.stage_id):
            if st.task_max_s >= 5.0:
                print(f"stage {st.stage_id:4d}  tasks={st.num_tasks:5d}  "
                      f"med={st.task_median_s:7.1f}s  max={st.task_max_s:7.1f}s  "
                      f"{st.name[:70]}")
        print(f"RESULT {json.dumps([wall, n_pairs, max_task])}")
        return

    # what does the pre-flight decide? (production thresholds, no override;
    # banding reconstructed exactly as minhash_lsh_pairs builds it:
    # xxhash64 over 4-row signature slices, 16 bands of 64 hashes)
    sig = dedup.minhash_signature(
        dedup.word_shingles(F.col("text"), 3), num_hashes=64
    )
    rows = 64 // 16
    banded = docs.select(
        F.col("doc_id").alias("__id"), sig.alias("__sigarr")
    ).select(
        "__id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.slice(F.col("__sigarr"), b * rows + 1, rows)
                    ).alias("bucket"),
                )
                for b in range(16)
            ])
        ).alias("__b"),
    ).select("__id", F.col("__b.band").alias("band"), F.col("__b.bucket").alias("bucket"))
    g = dedup.auto_skew_salt(banded, ["band", "bucket"])
    print(f"auto_skew_salt decision: g = {g}")
    assert g is not None and g > 1, (
        f"adversarial corpus must trigger the salt (hot={n_hot} > "
        f"{dedup._AUTO_SALT_HOT}); got {g}"
    )
    g_preflight = g
    forced = os.environ.get("SKEW_SWEEP_G")
    if forced:
        g = int(forced)
        print(f"applying g = {g} (pre-flight chose {g_preflight}; "
              f"overridden for scratch-disk headroom)")
    block_bound = math.ceil(n_hot / g)

    # Each variant runs in its OWN subprocess/JVM: the unsalted run's
    # ~1.8B-pair shuffle leaves its spill/shuffle files on disk for the
    # session's lifetime, and at SF≥10 the second variant then dies on
    # ENOSPC (observed: salted run failed SPILL_OUT_OF_MEMORY/No space
    # left after the 534 s unsalted run).  A fresh JVM per variant frees
    # the first variant's scratch before the second starts.
    import json
    import subprocess

    results = {}
    for label in ("unsalted", "auto"):
        cached = os.environ.get(f"SKEW_SWEEP_CACHED_{label.upper()}")
        if cached:  # reuse a prior measurement (e.g. after the OTHER
            # variant failed on scratch-disk exhaustion) instead of
            # re-paying a multi-minute straggler run
            results[label] = tuple(json.loads(cached))
            wall, n_pairs, max_task = results[label]
            print(f"{label:9s}: {wall:7.2f}s wall  max-task {max_task:7.2f}s  "
                  f"{n_pairs} pairs  (cached)")
            continue
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), str(sf),
             str(hot_fraction)],
            env={**os.environ, "SKEW_SWEEP_VARIANT": label},
            capture_output=True, text=True,
        )
        if out.returncode != 0:
            print(out.stdout[-4000:])
            print(out.stderr[-8000:])
            raise RuntimeError(f"variant {label} failed")
        line = [l for l in out.stdout.splitlines() if l.startswith("RESULT ")][-1]
        results[label] = tuple(json.loads(line[len("RESULT "):]))
        wall, n_pairs, max_task = results[label]
        print(f"{label:9s}: {wall:7.2f}s wall  max-task {max_task:7.2f}s  "
              f"{n_pairs} pairs")
    assert results["unsalted"][1] == results["auto"][1], "pair sets must match"

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "SKEW.md"), "w") as f:
        f.write(
            "# SKEW — adversarial Zipf near-dup corpus (hot-template boilerplate)\n\n"
            "SCALING.md's replicas grow pair structure linearly by construction;\n"
            "this sweep (tools/skew_sweep.py) is the corpus shape that does NOT —\n"
            f"{n_docs:,} docs ({sf:g}× the sf0.1 documents table) with one hot\n"
            f"template owning {n_hot:,} docs ({hot_fraction:.1%}): every band maps\n"
            "the template to one bucket, so unsalted banding gives one task\n"
            "k² ≈ {:.1f}M signature comparisons per band.\n\n".format(
                (n_hot ** 2) / 2 / 1e6
            )
            + "| variant | wall (s) | max task (s) | pairs | note |\n|---|---|---|---|---|\n"
            + "| skew_salt=None | {:.2f} | {:.2f} | {:,} | hot bucket = 1 task/band |\n".format(
                results["unsalted"][0], results["unsalted"][2], results["unsalted"][1]
            )
            + "| salted | {:.2f} | {:.2f} | {:,} | g={} applied "
            "(pre-flight chose {}), block side ≤ {:,} docs |\n".format(
                results["auto"][0], results["auto"][2], results["auto"][1],
                g, g_preflight, block_bound
            )
            + "\nIdentical pair sets (asserted).  The pre-flight triggered at the\n"
            f"PRODUCTION thresholds (hot {n_hot:,} > {dedup._AUTO_SALT_HOT}); with it,\n"
            f"per-block work is bounded at ({block_bound:,})² regardless of how hot\n"
            "the template gets — the task-time bound that survives 100×.\n\n"
            "Reading the A/B: on local[32] total wall-clock is WORK-bound\n"
            "(every core has other buckets to chew), so the salt's win shows\n"
            "in the MAX-TASK column, not the wall column: on a 1000-executor\n"
            "cluster the stage's wall-clock IS its slowest task.  Unsalted,\n"
            f"the hot bucket is one {n_hot:,}²-comparison straggler task per\n"
            f"band; salted, no task exceeds ({block_bound:,})², so stage time\n"
            "stays ∝ total-work/cores no matter how hot the template gets.\n"
            "Max task = max executorRunTime over every stage of the run\n"
            "(core status store task summary, quantile 1.0).\n"
        )
    print("wrote SKEW.md")


if __name__ == "__main__":
    main()

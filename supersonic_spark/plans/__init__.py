"""Plan composition & instrumentation (SURVEY.md §2.6 Spy, §3.2 Operation
trees, §4.2 benchmark wiretaps).

- ``ops``        — Operation-tree style composition: build a pipeline of
  operator-layer functions and apply it lazily (CreateCursor ≈ the
  DataFrame; operation.h:35-82).
- ``instrument`` — Spy/SpyPrinter (spy.h:41-77) and the benchmark wiretap
  vocabulary (benchmark/proto/benchmark.proto:11-75) via df.observe, and
  per-job/stage profiles of a job group from the core status store.
"""

from supersonic_spark.plans.dot import plan_to_dot
from supersonic_spark.plans.instrument import spy
from supersonic_spark.plans.ops import Pipeline

__all__ = ["Pipeline", "plan_to_dot", "spy"]

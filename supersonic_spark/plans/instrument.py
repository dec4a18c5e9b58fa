"""Spy / benchmark wiretaps — cursor/core/spy.h:41-77 and
benchmark/proto/benchmark.proto:11-75.

The reference interposes a Spy cursor between operators to observe rows/
timing per Next() call.  Spark's native equivalents:

- ``spy(df, name, *metrics)`` → ``df.observe`` — zero-cost aggregate
  wiretap evaluated during the job (rows_processed ≈ count, plus any
  aggregate expression);
- ``benchmark_operation(name, df)`` → runs ``df`` to a no-op sink with a
  ``spy`` attached and returns a :class:`BenchmarkRun` (the benchmark.proto
  vocabulary: wall time, rows processed, rows/s).

The row count is plan-level: no extra pass over the data, unlike a
cache+count probe.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


@contextmanager
def job_group(spark: SparkSession, group_id: str, description: str = ""):
    """Cancellation scope — the Spark twin of ``Cursor::Interrupt()``
    (cursor/base/cursor.h:150-186).

    The reference's contract: Interrupt() may be called from ANOTHER
    thread, is asynchronous/best-effort, and the running query surfaces
    premature termination as an INTERRUPTED error from its next step.
    Spark's native equivalent is job-group cancellation: every action
    started inside this context is tagged with ``group_id``
    (``interruptOnCancel=True`` so executor task threads are actually
    interrupted, not just descheduled), and :func:`interrupt` from any
    thread cancels the whole group — the blocked action raises.  As in
    the reference, cancellation races completion: a query may still run
    to EOS before the cancel lands; callers must not rely on it.

    On a shared 1000-executor cluster this is the difference between
    "kill the runaway query" and "restart the application".
    """
    sc = spark.sparkContext
    # Scopes nest: restore the caller's group on exit (not clear it), so a
    # benchmark_operation inside an outer job_group doesn't strip the outer
    # scope's cancellability from subsequent actions on this thread.
    prev_id = sc.getLocalProperty("spark.jobGroup.id")
    prev_desc = sc.getLocalProperty("spark.job.description")
    prev_cancel = sc.getLocalProperty("spark.job.interruptOnCancel")
    sc.setJobGroup(group_id, description, interruptOnCancel=True)
    try:
        yield group_id
    finally:
        if prev_id is None:
            sc.setJobGroup(None, None)
        else:
            sc.setJobGroup(prev_id, prev_desc or "",
                           interruptOnCancel=(prev_cancel == "true"))


def interrupt(spark: SparkSession, group_id: str) -> None:
    """Cancel every active job in ``group_id`` (asynchronous/best-effort,
    callable from any thread) — ``Cursor::Interrupt()``,
    cursor/base/cursor.h:150-186.  The interrupted action raises a
    cancellation error in the thread that started it."""
    spark.sparkContext.cancelJobGroup(group_id)


def interrupt_stream(spark: SparkSession, query_name: str) -> bool:
    """Cursor::Interrupt for STREAMING queries (cursor/base/cursor.h:150-186
    applied to a continuous cursor): stop the active streaming query named
    ``query_name`` from any thread.  Spark's ``StreamingQuery.stop()`` is
    the streaming face of job-group cancellation — the in-flight micro-batch
    is interrupted and no further triggers fire.  Same contract as the
    reference: asynchronous/best-effort, races completion.  Sink consistency
    is the SINK's job — the engine's streaming writers commit whole batches
    behind batch-id manifests, so an interrupted drain leaves the last
    committed state and a re-drain resumes (pinned by
    test_stream_interrupt_sink_consistency).  Returns True if a query with
    that name was found and stopped."""
    for q_ in spark.streams.active:
        if q_.name == query_name:
            q_.stop()
            return True
    return False


def spy(df: DataFrame, observation: Observation | None = None, *metrics: Column):
    """Spy (spy.h:41-77): attach an observation point.  Returns
    (wired DataFrame, Observation); after an action, ``observation.get``
    yields the metrics (default: rows_processed)."""
    obs = observation or Observation()
    cols = list(metrics) or [F.count(F.lit(1)).alias("rows_processed")]
    return df.observe(obs, *cols), obs


@dataclass
class BenchmarkRun:
    """One measured execution — the benchmark.proto:11-75 vocabulary subset
    that maps to Spark: wall time, rows, throughput."""

    name: str
    wall_sec: float
    rows: int

    @property
    def rows_per_sec(self) -> float:
        return self.rows / self.wall_sec if self.wall_sec > 0 else float("inf")


def benchmark_operation(name: str, df: DataFrame) -> BenchmarkRun:
    """BenchmarkOperation (cursor/core/benchmarks.h:30-57): run to a no-op
    sink and report wall/rows/throughput.  Runs inside a
    :func:`job_group` (``bench:<name>``) so a hung measurement is
    cancellable from another thread via :func:`interrupt`."""
    wired, obs = spy(df)
    with job_group(df.sparkSession, f"bench:{name}", f"benchmark_operation {name}"):
        t0 = time.perf_counter()
        wired.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
    return BenchmarkRun(name=name, wall_sec=wall, rows=int(obs.get["rows_processed"]))

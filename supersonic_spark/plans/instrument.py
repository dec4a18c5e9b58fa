"""Spy / benchmark wiretaps — cursor/core/spy.h:41-77 and
benchmark/proto/benchmark.proto:11-75.

The reference interposes a Spy cursor between operators to observe rows/
timing per Next() call.  Spark's native equivalents:

- ``spy(df, name, *metrics)`` → ``df.observe`` — zero-cost aggregate
  wiretap evaluated during the job (rows_processed ≈ count, plus any
  aggregate expression);
- ``benchmark_operation(name, df)`` → runs ``df`` to a no-op sink with a
  ``spy`` attached and returns a :class:`BenchmarkRun` (the benchmark.proto
  vocabulary: wall time, rows processed, rows/s);
- ``job_profile(spark, group)`` → every job of one :func:`job_group`
  (a ``benchmark_operation``'s is ``BenchmarkRun.group``) with its stages'
  task counts, bytes, executor times and median/max task time, read from
  the session's core status store with the UI off — the per-cursor stats
  of benchmark.proto, at Spark's job/stage grain.

The row count is plan-level: no extra pass over the data, unlike a
cache+count probe.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

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
    group: str

    @property
    def rows_per_sec(self) -> float:
        return self.rows / self.wall_sec if self.wall_sec > 0 else float("inf")


def benchmark_operation(name: str, df: DataFrame) -> BenchmarkRun:
    """BenchmarkOperation (cursor/core/benchmarks.h:30-57): run to a no-op
    sink and report wall/rows/throughput.  Runs inside a
    :func:`job_group` (``bench:<name>``) so a hung measurement is
    cancellable from another thread via :func:`interrupt`."""
    wired, obs = spy(df)
    group = f"bench:{name}"
    with job_group(df.sparkSession, group, f"benchmark_operation {name}"):
        t0 = time.perf_counter()
        wired.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
    return BenchmarkRun(name=name, wall_sec=wall, rows=int(obs.get["rows_processed"]),
                        group=group)


@dataclass
class StageProfile:
    """One stage's last attempt.  Times are seconds, ``*_ms`` epoch ms;
    the task quantiles are None for a stage that ran no task."""

    stage_id: int
    status: str
    name: str
    num_tasks: int
    num_complete_tasks: int
    input_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    peak_execution_memory: int
    run_s: float
    cpu_s: float
    gc_s: float
    launched_ms: int | None
    completed_ms: int | None
    task_median_s: float | None
    task_max_s: float | None


@dataclass
class JobProfile:
    """One job of a group; ``*_ms`` are epoch ms."""

    job_id: int
    description: str
    submitted_ms: int | None
    completed_ms: int | None
    stages: list[StageProfile]


def _ms(opt) -> int | None:
    """Epoch ms of a Scala ``Option[Date]``."""
    return opt.get().getTime() if opt.isDefined() else None


def _stage(store, sid: int, quantiles) -> StageProfile | None:
    try:
        st = store.lastStageAttempt(sid)
    except Exception:  # py4j: a stage that never ran has no attempt
        return None
    med = mx = None
    if st.numCompleteTasks() > 0:
        summary = store.taskSummary(sid, st.attemptId(), quantiles)
        if summary.isDefined():
            rt = summary.get().executorRunTime()
            med, mx = rt.apply(0) / 1e3, rt.apply(1) / 1e3
    return StageProfile(
        stage_id=sid, status=st.status().toString(), name=st.name(),
        num_tasks=st.numTasks(), num_complete_tasks=st.numCompleteTasks(),
        input_bytes=st.inputBytes(), shuffle_read_bytes=st.shuffleReadBytes(),
        shuffle_write_bytes=st.shuffleWriteBytes(), spill_bytes=st.diskBytesSpilled(),
        peak_execution_memory=st.peakExecutionMemory(), run_s=st.executorRunTime() / 1e3,
        cpu_s=st.executorCpuTime() / 1e9, gc_s=st.jvmGcTime() / 1e3,
        launched_ms=_ms(st.firstTaskLaunchedTime()), completed_ms=_ms(st.completionTime()),
        task_median_s=med, task_max_s=mx,
    )


def job_profile(spark: SparkSession, group: str) -> list[JobProfile]:
    """Every job of job group ``group``, in job-id order, with its stages
    in stage-id order — read from the core status store
    (``statusStore()``), which Spark keeps with the UI off.

    Settles the listener bus first, so a call right after the group's
    last action sees all of it.  Only the group's jobs are listed: an
    action outside the group (a ``.count()`` before or after it) is not.
    Give each measured run a group id of its own — a reused id collects
    every run under it."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    jobs = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(jid)
        it, stages = job.stageIds().iterator(), []
        while it.hasNext():
            stages.append(_stage(store, it.next(), quantiles))
        desc = job.description()
        jobs.append(JobProfile(
            job_id=jid, description=desc.get() if desc.isDefined() else "",
            submitted_ms=_ms(job.submissionTime()), completed_ms=_ms(job.completionTime()),
            stages=sorted(filter(None, stages), key=lambda st: st.stage_id),
        ))
    return jobs

"""SparkSession construction and table loading tuned for the engine.

The reference has no session concept (it is an embedded library wired to a
BufferAllocator, base/memory/memory.h:100-809).  Its memory quotas, spilling
and block sizing all map to Spark configuration (SURVEY.md §4.2), so this
module is where those knobs live.

Scale stance: configs below are chosen so the same logical plans survive a
1000-executor / 100 TB deployment — AQE on (runtime re-plan, skew-join
handling, empty-relation propagation == the reference's empty-LHS hash-join
shortcut, NEWS v0.9.4), partition sizing via maxPartitionBytes, broadcast
threshold for dimension tables.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Runtime-settable SQL confs applied to any session we are handed.
#: (Session-level only; never requires restarting the JVM.)
RUNTIME_CONF = {
    # Deterministic timestamp semantics regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # The reference's default error policy is Quiet/Nulling (x/0 → NULL, no
    # query failure; operators.proto:10-14) — Signaling is opt-in per
    # expression (functions.policy).  Spark 4's ANSI default would make
    # every partial function Signaling, so turn it off.
    "spark.sql.ansi.enabled": "false",
    # AQE: runtime coalescing, skew-join splitting, empty-relation pruning.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF path (the only sanctioned Python hot path).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Keep timestamps µs-exact through Arrow.
    "spark.sql.execution.arrow.pyspark.fallback.enabled": "true",
    # The driver's events.parquet stores ts as TIMESTAMP(NANOS) which Spark
    # cannot map to TimestampType (µs); read the raw int64 and convert in
    # the loader (ns → µs truncation, matching DuckDB's ns→µs cast).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Let custom Python data sources receive pushed filters
    # (sources/python_source.py narrows its generated range with them).
    "spark.sql.python.filterPushdown.enabled": "true",
}


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _default_driver_mem() -> str:
    """Half of physical memory (MemTotal in /proc/meminfo), capped at 48g.

    local[32] runs all 32 tasks in this one JVM: 16g thrashes GC once the
    session accumulates state (observed 5-10× stage slowdowns), so a big
    host sizes the heap like the 32-core executor it actually is; a small
    one must not promise the JVM more heap than the machine has.  48g when
    MemTotal cannot be read."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "48g"
    return f"{min(48 * 1024, kb // 2048)}m"


def get_spark(app_name: str = "supersonic_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or get) a local session sized for local[$SPARK_GRAFT_CPUS].

    On a real cluster the same code runs unchanged; only master/partition
    counts differ (set spark.sql.shuffle.partitions ≈ 2-3× total cores there).

    The UI is off: its listener-bus bookkeeping measurably taxes short
    benchmark stages, and per-job/stage/task metrics come from the core
    status store instead (``plans.instrument.job_profile``).
    """
    cpus = _default_parallelism()
    sp = shuffle_partitions if shuffle_partitions is not None else max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # 16 MB, not Spark's 10 MB default scaled up: dimension tables are
        # ≤2 MB at every SF so they always broadcast, but a FACT-DERIVED
        # intermediate near the threshold picks a pathological plan — at
        # sf1, a 64 MB threshold let the filtered orders⋈customer side
        # (~600k rows) broadcast into the lineitem join and q5 ran 3.68 s;
        # at 16 MB the same join plans as sort-merge and runs 1.17 s, and
        # sf3 had already crossed 64 MB (getting the fast SMJ plan on 3×
        # the data).  sf0.1 times are unchanged.  At cluster scale the
        # same rule holds: broadcast dims, shuffle facts.
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply engine conf to an externally-created session (e.g. the driver's).

    Only touches runtime-settable SQL confs; silently skips anything the
    session refuses.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark


#: Persisted intermediates created by two-pass operators (with_row_id,
#: token_budget_sample).  The persist is load-bearing for correctness —
#: both passes must see ONE range partitioning, and repartitionByRange
#: re-samples boundaries per execution — but it outlives the query: the
#: returned DataFrame is lazy, so the operator cannot know when the
#: caller is done.  Harnesses that run many queries back-to-back (bench,
#: the scaling sweep) call :func:`release_two_pass_caches` between runs
#: so caches don't accumulate until LRU eviction.
_TWO_PASS_PERSISTS: list = []


def track_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for later release_two_pass_caches()."""
    df = df.persist()
    _TWO_PASS_PERSISTS.append(df)
    return df


def release_two_pass_caches() -> int:
    """Unpersist every tracked two-pass intermediate; returns the count.

    Safe to call anytime: already-consumed results are unaffected (they
    hold no reference to the cache), and an in-flight query would simply
    recompute — callers invoke this BETWEEN queries, not during."""
    n = len(_TWO_PASS_PERSISTS)
    while _TWO_PASS_PERSISTS:
        df = _TWO_PASS_PERSISTS.pop()
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass
    return n


@contextmanager
def session_timezone(spark: SparkSession, tz: str):
    """Run a block under a non-UTC session timezone (the reference's
    process-local timezone that the ``*Local`` datetime variants read,
    date_expressions.h:87-134).  Restores the previous setting on exit —
    the engine's parity guarantees elsewhere assume the UTC pin, so a
    leaked timezone change would silently shift every plain extractor."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        yield spark
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


#: (session id, sf_dir, names) -> loaded DataFrames.  Reading 10 parquet
#: footers + re-registering 10 temp views costs ~1s of driver time per
#: call, and every catalog query calls load_tables — memoizing makes the
#: per-query overhead one dict lookup.  DataFrames are immutable/lazy, so
#: reuse across queries is free; views persist for the session.
_TABLE_CACHE: dict[tuple, dict[str, DataFrame]] = {}


def load_tables(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> dict[str, DataFrame]:
    """Load the driver's parquet tables and register them as temp views.

    Equivalent of the reference's FileInput (cursor/infrastructure/
    file_io.h:74-77) with Parquet as the idiomatic on-disk format
    (SURVEY.md §2.1) — columnar, predicate-pushdown- and pruning-capable.
    Memoized per (session, sf_dir): repeat calls are free.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    apply_runtime_conf(spark)  # idempotent, ~ms — keep outside the memo
    # Key on the session-lifetime applicationId (id(spark) can be reused by
    # a new session after GC) plus each dataset's mtime, so regenerating a
    # parquet file under the same path invalidates the entry.  The stat
    # calls are ~µs each — negligible next to the ~1s they save.
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:  # pragma: no cover — e.g. Spark Connect
        app_id = f"pyid-{id(spark)}"
    sf_abs = os.path.abspath(sf_dir)

    def _mtime(p: str) -> int:
        try:  # file or dataset dir — either way mtime tracks rewrites
            return os.stat(p).st_mtime_ns
        except OSError:
            return -1

    paths = {n: os.path.join(sf_abs, f"{n}.parquet") for n in names}
    key = (app_id, sf_abs, tuple(names),
           tuple(_mtime(p) for p in paths.values()))
    hit = _TABLE_CACHE.get(key)
    if hit is not None:
        return dict(hit)
    # drop stale entries for the same (session, dir) with different mtimes
    for k in [k for k in _TABLE_CACHE if k[:2] == (app_id, sf_abs) and k != key]:
        del _TABLE_CACHE[k]
    out: dict[str, DataFrame] = {}
    for name in names:
        path = paths[name]
        if os.path.exists(path):
            df = spark.read.parquet(path)
            # nanosAsLong leaves NANOS-encoded timestamps as raw int64;
            # normalize to µs TimestampType (truncating ns→µs like a
            # DuckDB/Arrow ns→µs cast). Known case: events.ts.
            if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
                # integer `div` — a double division of ~1.7e18 ns loses µs
                df = df.withColumn(
                    "ts",
                    F.timestamp_micros(F.expr("ts div 1000")).cast(
                        "timestamp_ntz"  # parquet files are NTZ; keep all tables NTZ
                    ),
                )
            df.createOrReplaceTempView(name)
            out[name] = df
    _TABLE_CACHE[key] = out
    return dict(out)

"""Streaming operators.

Design: stateless operators (Project/Compute/Filter, the whole expression
library) work on streaming DataFrames unchanged — that is the payoff of the
expression layer being pure Column functions.  This module adds the
genuinely streaming-only pieces: watermarks, event-time windows, streaming
dedup, and custom keyed state.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T
from pyspark.errors import AnalysisException

from supersonic_spark.operators.aggregate import AggSpec, _one_agg


def read_stream(
    spark: SparkSession,
    path: str,
    schema,
    format: str = "parquet",
    max_files_per_trigger: int | None = None,
    **options,
) -> DataFrame:
    """Streaming FileInput: tail a directory as a stream (schema mandatory —
    streaming sources cannot infer)."""
    from supersonic_spark.schema import TupleSchema

    if isinstance(schema, TupleSchema):
        schema = schema.to_struct_type()
    reader = spark.readStream.format(format).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def events_stream(spark: SparkSession, sf_dir: str,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """Schema-adaptive streaming read of the driver's ``events`` table with
    ``ts`` normalized to µs ``TimestampType``.

    The testdata generator has shipped ``events.ts`` both as
    TIMESTAMP(NANOS) — which Spark can only surface as a raw int64 under
    ``nanosAsLong`` — and as TIMESTAMP(MICROS) across rounds, so the
    streaming read must NOT hardcode either; it probes the batch schema of
    the same file and normalizes (ns → µs truncation matches a DuckDB ns→µs
    cast; NTZ → TZ is value-preserving because the session is pinned UTC;
    watermarks reject TIMESTAMP_NTZ, hence TimestampType).

    ``events.parquet`` may be a single file (the driver's layout) or a
    multi-file dataset directory (a real ingest); both stream.  With
    ``max_files_per_trigger`` a multi-file dataset drains as several
    micro-batches — state genuinely carries across batches instead of the
    whole table arriving as one batch (how tools/stream_throughput.py
    exercises the stateful operators)."""
    import os

    from supersonic_spark.session import apply_runtime_conf

    apply_runtime_conf(spark)
    path = os.path.join(sf_dir, "events.parquet")
    batch_schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(batch_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isdir(path):
        stream = reader.parquet(path)  # dataset dir: stream its part files
    else:
        # file streams take a directory; the glob narrows it to this table
        stream = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    ts_type = batch_schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # integer `div` — a double division of ~1.7e18 ns loses µs
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def windowed_aggregate(
    df: DataFrame,
    ts_col: str,
    window: str,
    specs: list[AggSpec],
    keys: Iterable[str] = (),
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time tumbling/sliding window aggregation with late-data bound.

    The watermark makes state finite (the 100 TB/continuous story: state
    size ∝ keys × windows inside the watermark horizon, not history).
    """
    wm = df.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    return wm.groupBy(win.alias("window"), *[F.col(k) for k in keys]).agg(
        *[_one_agg(s) for s in specs]
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    lower: str,
    upper: str,
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join bounded by an event-time interval:
    ``right.right_ts ∈ [left.left_ts - lower, left.left_ts + upper]``.

    Both sides carry a watermark; with the time-range condition Spark can
    bound BOTH join-state buffers (rows age out once the other side's
    watermark passes their interval), so state is finite on unbounded
    streams — the thing a plain stream-stream equi-join cannot promise.
    The semantics are batch-equal for inner joins: draining a finite
    source via availableNow emits exactly the batch join's rows.

    ``keys`` must exist on both sides with the same names; ``left_ts`` /
    ``right_ts`` must be distinct TimestampType column names (Spark needs
    both in the condition to infer the state bound).
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = None
    for k in keys:
        c = lw[k] == rw[k]
        cond = c if cond is None else (cond & c)
    cond = (
        cond
        & (rw[right_ts] >= lw[left_ts] - F.expr(f"INTERVAL {lower}"))
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {upper}"))
    )
    out = lw.join(rw, cond, how)
    for k in keys:  # drop the right-side duplicate key columns
        out = out.drop(rw[k])
    return out


def stream_dedup(
    df: DataFrame, keys: list[str], ts_col: str | None = None, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup.  With ``ts_col``, uses
    dropDuplicatesWithinWatermark — state expires with the watermark
    (unbounded-safe); without, classic dropDuplicates (state grows with
    distinct keys — only for bounded key domains)."""
    if ts_col is not None:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def _drain_and_read(query, await_seconds: int, spark, sink_dir: str,
                    schema: "T.StructType") -> DataFrame:
    """Await an availableNow drain and read the sunk batches back.

    ``awaitTermination(timeout)`` returns False on TIMEOUT — reading the
    sink then would silently return a PARTIALLY drained result, so that is
    an error here (the in-flight query is stopped first).  A zero-batch
    stream never creates ``sink_dir``; that reads as an EMPTY DataFrame of
    the declared schema instead of path-not-found."""
    if not query.awaitTermination(await_seconds):
        query.stop()
        raise TimeoutError(
            f"streaming drain did not finish within {await_seconds}s; "
            f"sink at {sink_dir} is incomplete"
        )
    try:
        return (
            spark.read.option("recursiveFileLookup", "true")
            .schema(schema)
            .parquet(sink_dir)
        )
    except AnalysisException:
        # zero batches fired -> sink dir was never created
        return spark.createDataFrame([], schema)


def stream_dedup_against_index(
    stream_df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    sink_dir: str,
    threshold: float | None = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    shingle: str = "word",
    await_seconds: int = 300,
) -> DataFrame:
    """Streaming incremental near-dup detection: probe a document STREAM
    against a static :func:`~supersonic_spark.pipeline.dedup.minhash_band_index`
    and land (new_id, index_id, jaccard) pairs under idempotent per-batch
    parquet paths.  Blocks until the availableNow drain finishes and
    returns the sunk pairs re-read from ``sink_dir``.

    Each micro-batch runs the full BATCH operator
    (:func:`~supersonic_spark.pipeline.dedup.dedup_against_index`) via
    foreachBatch — correct without any streaming state because a pair is
    (new doc, indexed doc): the static side is complete in every batch and
    each new doc arrives in exactly one batch, so no pair can span batches.
    Batch output overwrites ``batch=<id>`` (exactly-once by idempotence,
    same sink recipe as the foreachbatch_sink query).

    This is the continuous-ingest front door at 100 TB: the corpus index
    is built once and only probed; per-trigger cost is O(arrivals) —
    signature folds on the new docs plus one pruned (band, bucket) join.
    """
    import os as _os

    from supersonic_spark.pipeline.dedup import dedup_against_index

    def write_batch(df: DataFrame, batch_id: int) -> None:
        out = dedup_against_index(
            df, index, id_col, text_col,
            num_hashes=num_hashes, bands=bands, shingle_words=shingle_words,
            shingle=shingle, threshold=threshold,
        )
        out.write.mode("overwrite").parquet(
            _os.path.join(sink_dir, f"batch={batch_id}")
        )

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    # explicit schema (derived from the inputs' id types) so an empty sink
    # (zero pairs anywhere) still reads as a valid empty DataFrame
    pair_schema = T.StructType(
        [
            T.StructField("new_id", stream_df.schema[id_col].dataType),
            T.StructField("index_id", index.schema[id_col].dataType),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )
    return _drain_and_read(q, await_seconds, stream_df.sparkSession,
                           sink_dir, pair_schema)


def stream_ann_index_probe(
    stream_queries: DataFrame,
    index_path: str,
    sink_dir: str,
    query_id: str,
    query_vec: str,
    k: int = 5,
    nprobe: int = 4,
    await_seconds: int = 300,
) -> DataFrame:
    """Streaming ANN: a stream of query vectors probes a PERSISTED
    :func:`~supersonic_spark.pipeline.similarity.ivf_index_build` index
    per micro-batch (foreachBatch → idempotent ``batch=<id>`` parquet),
    landing (query_id, corpus_id, cos, rank) top-k rows.  Blocks through
    the availableNow drain and returns the sunk results.

    Correct with zero streaming state: the index is static and complete
    in every trigger, and each query arrives in exactly one batch, so a
    query's entire top-k materializes within its batch.  This is the
    online-retrieval front door over the same artifact the batch jobs
    build — per-trigger cost is O(arrivals) assignment work plus a scan
    of only the probed cells' partitions.
    """
    import os as _os

    from pyspark.sql import Window

    from supersonic_spark.pipeline.similarity import ivf_index_probe

    spark = stream_queries.sparkSession
    idx_id_type = spark.read.parquet(index_path).schema["id"].dataType

    def write_batch(df: DataFrame, batch_id: int) -> None:
        out = ivf_index_probe(
            spark, index_path, df, query_id, query_vec, k=k, nprobe=nprobe
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("corpus_id")
        )
        out.withColumn("rank", F.row_number().over(w)).write.mode(
            "overwrite"
        ).parquet(_os.path.join(sink_dir, f"batch={batch_id}"))

    q = (
        stream_queries.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    pair_schema = T.StructType(
        [
            T.StructField("query_id", stream_queries.schema[query_id].dataType),
            T.StructField("corpus_id", idx_id_type),
            T.StructField("cos", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    return _drain_and_read(q, await_seconds, spark, sink_dir, pair_schema)


def stream_ann_ivfpq_probe(
    stream_queries: DataFrame,
    index_path: str,
    sink_dir: str,
    query_id: str,
    query_vec: str,
    k: int = 5,
    nprobe: int = 4,
    await_seconds: int = 300,
) -> DataFrame:
    """Streaming ANN over the PERSISTED IVF-PQ index
    (:func:`~supersonic_spark.pipeline.similarity.ivfpq_index_build`):
    each micro-batch of query vectors probes the cell-partitioned code
    rows via foreachBatch → idempotent ``batch=<id>`` parquet, landing
    (query_id, corpus_id, score, rank) top-k rows.  Same zero-state
    correctness argument as :func:`stream_ann_index_probe` — the index is
    static and complete in every trigger and a query's top-k materializes
    entirely within its batch.

    This is the billion-scale online-retrieval shape: the streamed side
    never touches float corpus vectors — per trigger it pays query
    LUT-building plus an m-lookup fold over only the probed cells'
    m-byte code rows.
    """
    import os as _os

    from supersonic_spark.pipeline.similarity import ivfpq_index_probe

    spark = stream_queries.sparkSession
    idx_id_type = spark.read.parquet(index_path).schema["id"].dataType

    def write_batch(df: DataFrame, batch_id: int) -> None:
        ivfpq_index_probe(
            spark, index_path, df, query_id, query_vec, k=k, nprobe=nprobe
        ).write.mode("overwrite").parquet(
            _os.path.join(sink_dir, f"batch={batch_id}")
        )

    q = (
        stream_queries.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    pair_schema = T.StructType(
        [
            T.StructField("query_id", stream_queries.schema[query_id].dataType),
            T.StructField("corpus_id", idx_id_type),
            T.StructField("score", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    return _drain_and_read(q, await_seconds, spark, sink_dir, pair_schema)


def stream_ivf_index_append(
    stream_vectors: DataFrame,
    index_path: str,
    vec_id: str,
    vec_col: str,
    await_seconds: int = 300,
) -> None:
    """CONTINUOUS ANN index maintenance: a stream of new vectors appends
    to a persisted :func:`~supersonic_spark.pipeline.similarity.
    ivf_index_build` index per micro-batch (foreachBatch →
    :func:`~supersonic_spark.pipeline.similarity.ivf_index_append`).
    Each trigger assigns only the arriving vectors against the sidecar
    centroids and lands them as new files inside the existing ``cell=``
    partitions — the existing inverted lists are never read or
    rewritten, so per-trigger cost is O(arrivals) regardless of index
    size.  Probes running against the same path see appended vectors as
    soon as their batch commits.

    Exactly-once: parquet append alone is at-least-once under batch
    REPLAY (a retried foreachBatch would re-append its rows).  Two
    layers close it: committed batch ids recorded in an
    ``_ivf_appended_batches.json`` sidecar skip clean replays cheaply,
    and the append itself goes through :func:`~supersonic_spark.
    pipeline.similarity.ivf_index_append_atomic` (stage under a hidden
    dir, sweep ``batch{id}-*`` leftovers, publish by rename) so even a
    crash BETWEEN the parquet commit and the manifest write converges
    to one copy when the batch replays — no residual duplicate window.

    Blocks through the availableNow drain; raises on timeout (a partial
    append is visible but incomplete — same contract as the other
    streaming drains here).
    """
    import json

    from supersonic_spark.pipeline.similarity import (
        _fs_read_text,
        _fs_write_text_atomic,
        ivf_index_append_atomic,
    )

    manifest = index_path.rstrip("/") + "/_ivf_appended_batches.json"

    def write_batch(df: DataFrame, batch_id: int) -> None:
        try:
            done = set(json.loads(_fs_read_text(df.sparkSession, manifest)))
        except Exception:
            done = set()
        if batch_id in done:
            return  # replayed batch: already committed
        ivf_index_append_atomic(df, vec_id, vec_col, index_path, tag=f"batch{batch_id}")
        _fs_write_text_atomic(df.sparkSession, manifest, json.dumps(sorted(done | {batch_id})))

    q = (
        stream_vectors.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(await_seconds):
        q.stop()
        raise TimeoutError(
            f"streaming index append did not finish within {await_seconds}s; "
            f"index at {index_path} holds a partial batch set"
        )


def stream_ivfpq_index_append(
    stream_vectors: DataFrame,
    index_path: str,
    vec_id: str,
    vec_col: str,
    await_seconds: int = 300,
) -> None:
    """PQ twin of :func:`stream_ivf_index_append`: a vector stream
    appends (id, cell, codes) rows to a persisted :func:`~supersonic_
    spark.pipeline.similarity.ivfpq_index_build` index per micro-batch.
    Encoding uses the sidecar centroids/codebooks only — per-trigger
    cost is O(arrivals) at any index size.  Same exactly-once layering:
    a ``_ivfpq_appended_batches.json`` manifest skips clean replays, and
    :func:`~supersonic_spark.pipeline.similarity.
    ivfpq_index_append_atomic`'s sweep/stage/publish-by-rename converges
    a crash-interrupted batch to one copy on replay."""
    import json

    from supersonic_spark.pipeline.similarity import (
        _fs_read_text,
        _fs_write_text_atomic,
        ivfpq_index_append_atomic,
    )

    manifest = index_path.rstrip("/") + "/_ivfpq_appended_batches.json"

    def write_batch(df: DataFrame, batch_id: int) -> None:
        try:
            done = set(json.loads(_fs_read_text(df.sparkSession, manifest)))
        except Exception:
            done = set()
        if batch_id in done:
            return  # replayed batch: already committed
        ivfpq_index_append_atomic(df, vec_id, vec_col, index_path, tag=f"batch{batch_id}")
        _fs_write_text_atomic(df.sparkSession, manifest, json.dumps(sorted(done | {batch_id})))

    q = (
        stream_vectors.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(await_seconds):
        q.stop()
        raise TimeoutError(
            f"streaming PQ index append did not finish within {await_seconds}s; "
            f"index at {index_path} holds a partial batch set"
        )


def stream_cms_build(
    stream_df: DataFrame,
    sketch_path: str,
    key_col: str,
    depth: int = 5,
    width: int = 1024,
    await_seconds: int = 300,
    checkpoint: str | None = None,
    query_name: str | None = None,
) -> DataFrame:
    """Continuous frequency monitoring: maintain a count-min sketch over
    a key STREAM.  Per micro-batch: build the batch's own sketch (the
    bounded depth×width aggregation), merge it with the committed sketch
    by bucket-wise sum (CMS merge is EXACT, so stream == batch by
    algebra, pinned by the query oracle), write the merged sketch to a
    fresh hidden ``_v{batch_id}`` version dir, then commit it in
    ``_cms_manifest.json``.  Readers resolve the manifest to the latest
    committed version, so a crash at any point leaves the previous
    version live, and a replayed batch id is skipped — exactly-once
    without in-place rewrites.  Versioning costs O(depth×width) per
    trigger, never O(stream): the sketch IS the state, bounded forever.

    This is the 100 TB shape for "what are the hot keys right now" over
    an unbounded stream (URL frequencies, user-id skew watch): the exact
    groupBy alternative needs unbounded state, the sketch needs 40 KB.

    Blocks through the availableNow drain; raises on timeout.  Returns
    the final committed sketch (depth, bucket, cnt).
    """
    import json

    from supersonic_spark.operators.analytics import cms_build, cms_merge
    from supersonic_spark.pipeline.similarity import (
        _fs_read_text,
        _fs_write_text_atomic,
    )

    spark = stream_df.sparkSession
    root = sketch_path.rstrip("/")
    manifest = f"{root}/_cms_manifest.json"

    def _latest_version_dir(sess) -> int | None:
        """Newest surviving ``_v{batch_id}`` dir — the recovery anchor when
        the manifest is missing or unreadable.  The version dir is written
        BEFORE the manifest commit, so the newest one is always a superset
        of the last committed state; resuming from it can never discard
        merged history (the failure ADVICE r5 flagged)."""
        jvm = sess._jvm
        hpath = jvm.org.apache.hadoop.fs.Path
        fs = hpath(root).getFileSystem(sess._jsc.hadoopConfiguration())
        vers = []
        for st in fs.globStatus(hpath(f"{root}/_v*")) or []:
            name = st.getPath().getName()
            try:
                vers.append(int(name[2:]))
            except ValueError:
                continue
        return max(vers) if vers else None

    def _committed(sess):
        try:
            m = json.loads(_fs_read_text(sess, manifest))
            return set(m["batches"]), m["version"]
        except Exception:
            # Manifest missing or corrupt.  Distinguish "fresh sketch"
            # (no version dirs) from "manifest lost": in the latter case
            # resume from the newest version dir instead of an empty
            # sketch — starting empty would silently discard all merged
            # history and the next GC would delete the old _v* dirs.
            ver = _latest_version_dir(sess)
            if ver is None:
                return set(), None
            return {ver}, ver

    def write_batch(df: DataFrame, batch_id: int) -> None:
        sess = df.sparkSession
        done, ver = _committed(sess)
        if batch_id in done:
            return  # replayed batch: already merged
        sk = cms_build(df, key_col, depth, width)
        if ver is not None:
            sk = cms_merge(sess.read.parquet(f"{root}/_v{ver}"), sk)
        sk.coalesce(1).write.mode("overwrite").parquet(f"{root}/_v{batch_id}")
        # Atomic publish (write-temp-then-rename): a crash mid-commit must
        # leave the previous manifest intact, never a truncated one.
        _fs_write_text_atomic(
            sess,
            manifest,
            json.dumps({"batches": sorted(done | {batch_id}), "version": batch_id}),
        )
        # GC: keep the new version and its predecessor (crash safety),
        # drop anything older
        jvm = sess._jvm
        hpath = jvm.org.apache.hadoop.fs.Path
        fs = hpath(root).getFileSystem(sess._jsc.hadoopConfiguration())
        keep = {f"_v{batch_id}"} | ({f"_v{ver}"} if ver is not None else set())
        for st in fs.globStatus(hpath(f"{root}/_v*")) or []:
            if st.getPath().getName() not in keep:
                fs.delete(st.getPath(), True)

    writer = stream_df.writeStream.foreachBatch(write_batch).trigger(
        availableNow=True
    )
    if query_name is not None:
        # a named query is addressable by plans.instrument.interrupt_stream
        # (the streaming face of Cursor::Interrupt) while it drains
        writer = writer.queryName(query_name)
    if checkpoint is not None:
        # production shape: a stable checkpoint makes restarts resume at the
        # next unprocessed file with CONTINUING batch ids (real exactly-once);
        # without it, every drain replays the source and relies solely on the
        # batch-id manifest to converge
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    if not q.awaitTermination(await_seconds):
        q.stop()
        raise TimeoutError(
            f"streaming CMS build did not finish within {await_seconds}s; "
            f"sketch at {sketch_path} holds a partial batch set"
        )
    # an interrupted drain (interrupt_stream / q.stop()) lands here too:
    # the returned sketch is the last COMMITTED version — whole batches
    # only, resumable by re-draining with the same checkpoint
    done, ver = _committed(spark)
    if ver is None:  # zero-batch stream: empty typed sketch
        return spark.createDataFrame(
            [], "depth int, bucket bigint, cnt bigint"
        )
    return spark.read.parquet(f"{root}/_v{ver}")


_RSUM_STATE = T.StructType([T.StructField("acc", T.DoubleType(), False)])


def stream_running_sum(
    df: DataFrame,
    key_col: str,
    value_col: str,
    out_col: str = "running_sum",
) -> DataFrame:
    """Streaming RunningSum (stateful_expressions.h:41-45 made continuous):
    per-key cumulative sum across micro-batches via applyInPandasWithState.

    Within a micro-batch, rows are accumulated in batch order; state carries
    the running total between batches.  This is the template for porting the
    reference's other stateful expressions to streams.
    """
    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType(), True),
            T.StructField("n", T.LongType(), False),
            T.StructField(out_col, T.DoubleType(), False),
        ]
    )

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        acc = state.get[0] if state.exists else 0.0
        n = 0
        for pdf in pdfs:
            vals = pdf[value_col].dropna()
            acc += float(vals.sum())
            n += len(pdf)
        state.update((acc,))
        yield pd.DataFrame({"key": [str(key[0])], "n": [n], out_col: [acc]})

    return (
        df.groupBy(F.col(key_col))
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=_RSUM_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def sessionize(
    df: DataFrame,
    ts_col: str,
    gap: str,
    specs: list[AggSpec],
    keys: Iterable[str] = (),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session windows: rows within ``gap`` of each other merge into one
    session per key.  Built-in ``session_window`` (state merges sessions
    incrementally and expires with the watermark); works identically on
    batch DataFrames, where the gap-merge runs as a regular aggregation."""
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = F.session_window(F.col(ts_col), gap)
    return df.groupBy(win.alias("session"), *[F.col(k) for k in keys]).agg(
        *[_one_agg(s) for s in specs]
    )


def _group_batch(pdfs: Iterator[pd.DataFrame], sort_cols, cols=None) -> pd.DataFrame:
    """Materialize a group's micro-batch and sort it GLOBALLY.

    applyInPandasWithState delivers a group's rows as MULTIPLE Arrow
    chunks (``spark.sql.execution.arrow.maxRecordsPerBatch`` rows each,
    default 10k) in shuffle arrival order — sorting each chunk
    independently silently breaks sequential semantics the moment a
    group exceeds one chunk.  Order-sensitive stateful operators must
    sort the WHOLE batch before replaying it.  Memory is bounded by one
    group's rows in ONE micro-batch (not the stream) — the same bound a
    correct sort needs anyway.

    ``cols``: extra column names the caller will read from the result —
    used to build a schema-correct EMPTY frame when the iterator yields
    zero chunks (a state-timeout invocation delivers no data; callers'
    zip-loops then emit nothing instead of crashing on chunks[0]).
    """
    chunks = [c for c in pdfs if len(c)]
    if not chunks:
        names = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        for c in cols or ():
            if c not in names:
                names.append(c)
        return pd.DataFrame({n: pd.Series(dtype="object") for n in names})
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    return pdf.sort_values(sort_cols)


_CHANGED_STATE = T.StructType(
    [T.StructField("last", T.StringType(), True), T.StructField("seen", T.BooleanType(), False)]
)


def stream_changed(
    df: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str,
    out_col: str = "changed",
) -> DataFrame:
    """Streaming Changed (stateful_expressions.h:30-39 made continuous):
    per key, flags rows whose value differs from the previous row's value —
    across micro-batch boundaries (state carries the last value).  Rows
    within a batch are processed in ``ts_col`` order; the first row ever
    seen per key is 'changed'."""
    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType(), True),
            T.StructField(ts_col, T.TimestampType(), True),
            T.StructField("value", T.StringType(), True),
            T.StructField(out_col, T.BooleanType(), False),
        ]
    )

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        last, seen = (state.get if state.exists else (None, False))
        rows = {"key": [], ts_col: [], "value": [], out_col: []}
        pdf = _group_batch(pdfs, ts_col, (value_col,))
        for ts, v in zip(pdf[ts_col], pdf[value_col].astype("string")):
            v = None if pd.isna(v) else str(v)
            changed = (not seen) or (v != last)
            rows["key"].append(str(key[0]))
            rows[ts_col].append(ts)
            rows["value"].append(v)
            rows[out_col].append(bool(changed))
            last, seen = v, True
        state.update((last, seen))
        yield pd.DataFrame(rows)

    return df.groupBy(F.col(key_col)).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_CHANGED_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_SMUDGE_STATE = T.StructType([T.StructField("carry", T.DoubleType(), True)])


def stream_smudge(
    df: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str,
    out_col: str = "filled",
) -> DataFrame:
    """Streaming Smudge/LOCF (stateful_expressions.h:47-52 made continuous):
    per key, NULL values take the last non-NULL value — carried across
    micro-batches in keyed state."""
    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType(), True),
            T.StructField(ts_col, T.TimestampType(), True),
            T.StructField(out_col, T.DoubleType(), True),
        ]
    )

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        carry = state.get[0] if state.exists else None
        rows = {"key": [], ts_col: [], out_col: []}
        pdf = _group_batch(pdfs, ts_col, (value_col,))
        for ts, v in zip(pdf[ts_col], pdf[value_col]):
            if not pd.isna(v):
                carry = float(v)
            rows["key"].append(str(key[0]))
            rows[ts_col].append(ts)
            rows[out_col].append(carry)
        state.update((carry,))
        yield pd.DataFrame(rows)

    return df.groupBy(F.col(key_col)).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_SMUDGE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_SMUDGE_IF_STATE = T.StructType([T.StructField("carry", T.DoubleType(), True)])


def stream_smudge_if(
    df: DataFrame,
    key_col: str,
    value_col: str,
    cond_col: str,
    ts_col: str,
    out_col: str = "filled",
) -> DataFrame:
    """Streaming SmudgeIf (stateful_expressions.h:64-69 made continuous):
    per key, rows where ``cond_col`` holds inherit the last anchor row's
    value; rows where it doesn't anchor a new value — the anchor carried
    across micro-batches in keyed state.  Matches the batch
    ``functions.stateful.smudge_if`` semantics: NULL cond counts as false
    (anchor); a NULL-valued anchor row inherits the previous anchor."""
    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType(), True),
            T.StructField(ts_col, T.TimestampType(), True),
            T.StructField(out_col, T.DoubleType(), True),
        ]
    )

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        carry = state.get[0] if state.exists else None
        rows = {"key": [], ts_col: [], out_col: []}
        pdf = _group_batch(pdfs, ts_col, (value_col, cond_col))
        for ts, v, c in zip(pdf[ts_col], pdf[value_col], pdf[cond_col]):
            anchored = (pd.isna(c) or not bool(c))
            if anchored and not pd.isna(v):
                carry = float(v)
            rows["key"].append(str(key[0]))
            rows[ts_col].append(ts)
            rows[out_col].append(carry)
        state.update((carry,))
        yield pd.DataFrame(rows)

    return df.groupBy(F.col(key_col)).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_SMUDGE_IF_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_RMIN_STATE = T.StructType([T.StructField("cur_min", T.DoubleType(), True)])


def stream_running_min_with_flush(
    df: DataFrame,
    key_col: str,
    value_col: str,
    flush_col: str,
    ts_col: str,
    out_col: str = "running_min",
) -> DataFrame:
    """Streaming RunningMinWithFlush (stateful_expressions.h:54-61 made
    continuous): per key, emits the running minimum including the current
    row; after a row whose ``flush_col`` is true, the minimum restarts on
    the NEXT row.  The open segment's minimum is the only keyed state, so
    state size is one double per key regardless of stream length."""
    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType(), True),
            T.StructField(ts_col, T.TimestampType(), True),
            T.StructField(out_col, T.DoubleType(), True),
        ]
    )

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        cur = state.get[0] if state.exists else None
        rows = {"key": [], ts_col: [], out_col: []}
        pdf = _group_batch(pdfs, ts_col, (value_col, flush_col))
        for ts, v, fl in zip(pdf[ts_col], pdf[value_col], pdf[flush_col]):
            if not pd.isna(v) and (cur is None or float(v) < cur):
                cur = float(v)
            rows["key"].append(str(key[0]))
            rows[ts_col].append(ts)
            rows[out_col].append(cur)
            if not pd.isna(fl) and bool(fl):
                cur = None                     # restart on the next row
        state.update((cur,))
        yield pd.DataFrame(rows)

    return df.groupBy(F.col(key_col)).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_RMIN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_LOCF_RMIN_STATE = T.StructType(
    [
        T.StructField("carry", T.DoubleType(), True),
        T.StructField("cur_min", T.DoubleType(), True),
    ]
)


def stream_locf_running_min(
    df: DataFrame,
    key_col: str,
    value_col: str,
    flush_col: str,
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """COMPOSED stateful pipeline per key — Smudge/LOCF feeding
    RunningMinWithFlush (stateful_expressions.h:47-52 into :54-61), the
    sequential-composition semantics of stateful_bound_expressions.cc:802-904
    made continuous: each row first fills its value forward (NULL takes the
    last non-NULL), then the FILLED series runs through a running minimum
    that restarts on the row after ``flush_col`` is true.

    This is the composition where state-boundary bugs hide: the LOCF carry
    and the open segment's minimum must BOTH survive micro-batch boundaries,
    and the flush must reset only the min, never the carry.  State is two
    doubles per key regardless of stream length.  Row order within and
    across batches is (``ts_col``, ``id_col``) — a total order, so the
    drained result is row-for-row equal to the batch window composition
    ``running_min_with_flush(smudge(v))`` (pinned by the
    ``stateful_composed_stream`` catalog oracle).

    Output: (key string, <id_col> long, filled double, run_min double).
    """
    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType(), True),
            T.StructField(id_col, T.LongType(), True),
            T.StructField("filled", T.DoubleType(), True),
            T.StructField("run_min", T.DoubleType(), True),
        ]
    )

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        carry, cur_min = (state.get if state.exists else (None, None))
        rows = {"key": [], id_col: [], "filled": [], "run_min": []}
        pdf = _group_batch(pdfs, [ts_col, id_col], (value_col, flush_col))
        for rid, v, fl in zip(pdf[id_col], pdf[value_col], pdf[flush_col]):
            if not pd.isna(v):
                carry = float(v)
            if carry is not None and (cur_min is None or carry < cur_min):
                cur_min = carry
            rows["key"].append(str(key[0]))
            rows[id_col].append(int(rid))
            rows["filled"].append(carry)
            rows["run_min"].append(cur_min)
            if not pd.isna(fl) and bool(fl):
                cur_min = None  # flush restarts the min, NOT the carry
        state.update((carry, cur_min))
        yield pd.DataFrame(rows)

    return df.groupBy(F.col(key_col)).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_LOCF_RMIN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_upsert_latest(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Streaming CDC upsert: continuously maintained latest-row-per-key over
    a stream of change records (the stream twin of setops.upsert_latest).

    Declarative stateful aggregation — max_by over a lexicographic
    (order, tiebreak) struct under groupBy(keys) — so Spark's state store
    keeps exactly one row per key, updates fold in map-side, and stale
    (out-of-order) change records never overwrite newer state.  Run with
    outputMode("update") to emit only keys whose latest row changed in the
    micro-batch; no Python state machinery involved.
    """
    cols = df.columns
    order = [F.col(order_col)]
    if tiebreak is not None:
        order.append(F.col(tiebreak))
    payload = F.struct(*[F.col(c) for c in cols])
    agged = df.groupBy(*[F.col(k) for k in keys]).agg(
        F.max_by(payload, F.struct(*order)).alias("__row")
    )
    return agged.select(*[F.col(f"__row.{c}").alias(c) for c in cols])

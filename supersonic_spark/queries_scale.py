"""Scale-pattern query catalog: the operators whose whole point is surviving
a 1000-executor / 100 TB deployment — navigation windows, sketch-based
distinct counting, explicit skew salting, bucketed co-located joins,
non-parquet source round-trips, and the watermark-bounded stream-stream
join.  All oracle-checked against DuckDB at sf0.01.

Determinism: navigation functions carry a unique total order; sums
accumulate in DECIMAL; the HLL check is a boolean error-bound predicate
(both engines' sketches sit far inside the bound at these cardinalities);
salting/bucketing change plan shape only, never values.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from supersonic_spark.operators import aggregate as agg
from supersonic_spark.operators import analytics, core, join as join_ops
from supersonic_spark.operators.aggregate import AggSpec, Aggregation
from supersonic_spark.queries import _dec, _scratch, _t, q
from supersonic_spark.session import load_tables
from supersonic_spark.sources import io as ss_io


@q(
    "window_navigation_events",
    """SELECT event_id, user_id,
              LAG(value) OVER w AS prev_value,
              LEAD(event_type) OVER w AS next_type,
              NTILE(4) OVER w AS quartile,
              FIRST_VALUE(ts) OVER w AS first_ts
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
)
def q_window_navigation_events(spark, sf_dir):
    """Navigation/offset window family (beyond-reference: supersonic's only
    order-dependent surface is the stateful expressions, SURVEY.md §2.7):
    lag/lead/ntile/first_value over one (user, time) window.  Scale shape:
    all four functions share a single Window node — one shuffle on user_id,
    one sort, regardless of how many navigation outputs ride it."""
    t = _t(spark, sf_dir)
    ev = t["events"].select("event_id", "user_id", "ts", "event_type", "value")
    out = analytics.window_navigation(
        ev,
        partition="user_id",
        order=["ts", "event_id"],
        exprs={
            "prev_value": F.lag("value"),
            "next_type": F.lead("event_type"),
            "quartile": F.ntile(4),
            "first_ts": F.first("ts"),
        },
    )
    return out.select(
        "event_id", "user_id", "prev_value", "next_type", "quartile", "first_ts"
    )


@q(
    "approx_distinct_users",
    """SELECT event_type,
              COUNT(DISTINCT user_id) AS n_exact,
              abs(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
                <= 0.05 * COUNT(DISTINCT user_id) AS approx_ok
       FROM events GROUP BY event_type""",
)
def q_approx_distinct_users(spark, sf_dir):
    """HyperLogLog++ approximate distinct next to the exact count.  The
    reference reserves an estimated-distinct knob but never implements it
    (proto/specification.proto:33-37) — this completes the intent.  The
    oracle compares a sketch-error-bound BOOLEAN (both engines' HLL
    estimates sit far inside ±5% at these cardinalities), not the raw
    estimate, which is engine-specific.  Scale: exact distinct shuffles the
    whole key domain; the sketch is a constant-size mergeable state — at
    100 TB that is the difference between a re-shuffle and a map-side
    combine (see aggregate.approx_distinct_aggregate).

    Plan shape (round-8 optimization): mixing count_distinct with
    approx_count_distinct in ONE agg makes Catalyst's distinct-rewrite
    carry the partial HLL±2% state — 2^p ≈ 410 longs, ~3.3 KB — through
    the first exchange FOR EVERY (event_type, user_id) group, and update
    the sketch once per input row.  Deduplicating first and aggregating
    the distinct pairs computes the identical result (count(*) over the
    dedup IS count_distinct; HLL register sets are duplicate-insensitive,
    so the sketch over distinct pairs equals the sketch over raw rows)
    with a 16-byte-row first shuffle and one sketch update per DISTINCT
    pair — the exchange narrows by ~200× and the heavy partial state
    exists only in the per-event_type final aggregation."""
    t = _t(spark, sf_dir)
    pairs = t["events"].select("event_type", "user_id").distinct()
    # count("user_id") (not count(*)) so a NULL user_id stays excluded,
    # exactly like count_distinct over the raw rows
    out = pairs.groupBy("event_type").agg(
        F.count("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id", 0.02).alias("n_approx"),
    )
    return out.select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("n_approx") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("approx_ok"),
    )


@q(
    "approx_percentile_bound",
    """SELECT o_orderstatus,
              round(quantile_cont(o_totalprice, 0.5), 2) AS p50_exact,
              abs(approx_quantile(o_totalprice, 0.5)
                  - quantile_cont(o_totalprice, 0.5))
                <= 0.02 * (max(o_totalprice) - min(o_totalprice)) AS approx_ok
       FROM orders GROUP BY o_orderstatus""",
)
def q_approx_percentile_bound(spark, sf_dir):
    """Approximate percentile (mergeable quantile sketch) next to the
    exact answer, same pattern as the HLL queries: the oracle pins the
    exact median and an error-bound BOOLEAN (each engine's sketch stays
    within 2% of the value range), because sketch estimates are
    engine-specific.  At 100 TB the exact percentile is a full sort per
    group; the sketch is one map-side-combined pass."""
    t = _t(spark, sf_dir)
    out = t["orders"].groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("exact"),
        F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000)).alias("approx"),
        F.max("o_totalprice").alias("hi"),
        F.min("o_totalprice").alias("lo"),
    )
    return out.select(
        "o_orderstatus",
        F.round("exact", 2).alias("p50_exact"),
        (
            F.abs(F.col("approx") - F.col("exact"))
            <= 0.02 * (F.col("hi") - F.col("lo"))
        ).alias("approx_ok"),
    )


@q(
    "skew_salted_join",
    """SELECT c_mktsegment, COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
       FROM events e JOIN customer c ON e.user_id = c.c_custkey
       GROUP BY c_mktsegment""",
)
def q_skew_salted_join(spark, sf_dir):
    """Explicit salted join (the companion to skew_salted_aggregate): left
    rows take a deterministic salt, the right side replicates
    ``salt_buckets``×, and the join key widens to (key, salt) — a hot key's
    rows split across ``salt_buckets`` tasks instead of one straggler.
    Values are provably identical to the plain join (the oracle IS the
    plain join).  At 100 TB this is the manual fallback when AQE's runtime
    skew splitting can't see the skew (e.g. pre-shuffled inputs)."""
    t = _t(spark, sf_dir)
    ev = t["events"].select("user_id", _dec("value").alias("value_d"))
    cust = t["customer"].select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    j = agg.salted_join(ev, cust, on=["user_id"], salt_buckets=8)
    return agg.group_aggregate(
        j,
        ["c_mktsegment"],
        [
            AggSpec(Aggregation.COUNT, None, "n"),
            AggSpec(Aggregation.SUM, "value_d", "total", output_type="double"),
        ],
    )


@q(
    "bucketed_join_orders",
    """SELECT o_orderpriority, COUNT(*) AS n,
              CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       GROUP BY o_orderpriority""",
)
def q_bucketed_join_orders(spark, sf_dir):
    """Bucketed co-located join: both fact tables are persisted bucketed
    (and sorted) on the join key, so the join reads bucket i against bucket
    i with NO exchange on either side — the shuffle is paid once at write
    time and amortized over every later join/aggregation on that key (the
    100 TB answer to repeatedly joining the same fact tables).  The plan
    shape (no Exchange under the SortMergeJoin) is pinned by
    tests/test_scale_patterns.py; values hash-match the plain join."""
    t = _t(spark, sf_dir)
    tmp = os.path.join(tempfile.gettempdir(), "ss_bucketed")
    li = t["lineitem"].select("l_orderkey", _dec("l_quantity").alias("qty_d"))
    orders = t["orders"].select("o_orderkey", "o_orderpriority")
    ss_io.write_bucketed_table(
        li, "ss_bkt_lineitem", ["l_orderkey"], 8, sort_cols=["l_orderkey"],
        path=os.path.join(tmp, "lineitem"),
    )
    ss_io.write_bucketed_table(
        orders, "ss_bkt_orders", ["o_orderkey"], 8, sort_cols=["o_orderkey"],
        path=os.path.join(tmp, "orders"),
    )
    lb = ss_io.read_table(spark, "ss_bkt_lineitem")
    ob = ss_io.read_table(spark, "ss_bkt_orders").withColumnRenamed(
        "o_orderkey", "l_orderkey"
    )
    j = join_ops.hash_join(lb, ob, on="l_orderkey")
    return agg.group_aggregate(
        j,
        ["o_orderpriority"],
        [
            AggSpec(Aggregation.COUNT, None, "n"),
            AggSpec(Aggregation.SUM, "qty_d", "total_qty", output_type="double"),
        ],
    )


@q(
    "source_csv_roundtrip",
    """SELECT n_regionkey, COUNT(*) AS n, MIN(n_name) AS first_name
       FROM nation GROUP BY n_regionkey""",
)
def q_source_csv_roundtrip(spark, sf_dir):
    """CSV source/sink round-trip (FileInput/FileOutput with a text format,
    file_io.h:64-77): write nation as CSV, read it back with an EXPLICIT
    schema (inference is a full extra pass at 100 TB — file_input refuses
    csv without one), aggregate, and hash-match against the original
    parquet.  Exercises quoting, header handling, and string/int fidelity
    through the text round-trip."""
    t = _t(spark, sf_dir)
    path = os.path.join(tempfile.gettempdir(), "ss_src_csv_nation")
    nat = t["nation"].select("n_nationkey", "n_name", "n_regionkey")
    ss_io.file_output(nat, path, format="csv", mode="overwrite", header="true")
    back = ss_io.file_input(
        spark, path, format="csv",
        schema="n_nationkey bigint, n_name string, n_regionkey bigint",
        header="true",
    )
    return agg.group_aggregate(
        back,
        ["n_regionkey"],
        [
            AggSpec(Aggregation.COUNT, None, "n"),
            AggSpec(Aggregation.MIN, "n_name", "first_name"),
        ],
    )


@q(
    "source_orc_roundtrip",
    """SELECT c_mktsegment, COUNT(*) AS n,
              CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
       FROM customer GROUP BY c_mktsegment""",
)
def q_source_orc_roundtrip(spark, sf_dir):
    """ORC source/sink round-trip: the second columnar container Spark
    ships natively (predicate pushdown + column pruning work like parquet).
    Write customer as ORC, read back, aggregate, hash-match the original.
    Avro is NOT exercised: this build has no spark-avro module jar, and
    file_input raises a clear error for it rather than half-supporting."""
    t = _t(spark, sf_dir)
    path = os.path.join(tempfile.gettempdir(), "ss_src_orc_customer")
    cust = t["customer"].select("c_custkey", "c_mktsegment", "c_acctbal")
    ss_io.file_output(cust, path, format="orc", mode="overwrite")
    back = ss_io.file_input(
        spark, path, format="orc",
        schema="c_custkey bigint, c_mktsegment string, c_acctbal double",
    )
    back = back.withColumn("bal_d", _dec("c_acctbal"))
    return agg.group_aggregate(
        back,
        ["c_mktsegment"],
        [
            AggSpec(Aggregation.COUNT, None, "n"),
            AggSpec(Aggregation.SUM, "bal_d", "total_bal", output_type="double"),
        ],
    )


@q(
    "source_json_roundtrip",
    """SELECT s_nationkey, COUNT(*) AS n,
              CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal,
              MIN(s_name) AS first_name
       FROM supplier GROUP BY s_nationkey""",
)
def q_source_json_roundtrip(spark, sf_dir):
    """JSON-lines source/sink round-trip: write supplier as newline-JSON,
    read back with an explicit schema, aggregate, hash-match the original.
    Doubles survive exactly (Spark writes shortest round-trip decimal
    repr); sums still accumulate in DECIMAL so the aggregate is
    order-independent on both engines."""
    t = _t(spark, sf_dir)
    path = os.path.join(tempfile.gettempdir(), "ss_src_json_supplier")
    sup = t["supplier"].select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    ss_io.file_output(sup, path, format="json", mode="overwrite")
    back = ss_io.file_input(
        spark, path, format="json",
        schema="s_suppkey bigint, s_name string, s_nationkey bigint, s_acctbal double",
    )
    back = back.withColumn("bal_d", _dec("s_acctbal"))
    return agg.group_aggregate(
        back,
        ["s_nationkey"],
        [
            AggSpec(Aggregation.COUNT, None, "n"),
            AggSpec(Aggregation.SUM, "bal_d", "total_bal", output_type="double"),
            AggSpec(Aggregation.MIN, "s_name", "first_name"),
        ],
    )


@q(
    "sketch_distinct_merge",
    """WITH daily AS (
         SELECT CAST(ts AS DATE) AS d, event_type, user_id FROM events
       )
       SELECT event_type,
              COUNT(DISTINCT user_id) AS n_exact,
              abs(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
                <= 0.05 * COUNT(DISTINCT user_id) AS sketch_ok
       FROM daily GROUP BY event_type""",
)
def q_sketch_distinct_merge(spark, sf_dir):
    """Mergeable distinct-count sketches (Apache DataSketches HLL): build
    one sketch per (day, event_type) partition, then MERGE the per-day
    sketches up to event_type with hll_union_agg — the pre-aggregation
    pattern that makes distinct counting O(sketch) instead of O(key
    domain) at 100 TB: daily sketch tables union over arbitrary date
    ranges without touching raw data again.  The oracle pins the exact
    count and an error-bound boolean (HLL at lgK=12 is ~1.6% rsd — far
    inside ±5%); the estimate itself is engine-specific."""
    t = _t(spark, sf_dir)
    daily = t["events"].select(
        F.col("ts").cast("date").alias("d"), "event_type", "user_id"
    )
    sketches = daily.groupBy("d", "event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = sketches.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_approx")
    )
    exact = daily.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    out = exact.join(merged, "event_type")
    return out.select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("n_approx") - F.col("n_exact")) <= 0.05 * F.col("n_exact")
        ).alias("sketch_ok"),
    )


@q(
    "semi_join_active_customers",
    """SELECT c.c_custkey, c.c_name, c.c_mktsegment
       FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_totalprice > 300000)""",
)
def q_semi_join_active_customers(spark, sf_dir):
    """LEFT SEMI join — the EXISTS shape made explicit (the reference's
    closest analog is ForeignFilter, foreign_filter.h:21-48; Spark's
    left_semi emits each left row at most once, never duplicating on
    multiple matches, and ships NO right-side columns through the
    shuffle)."""
    t = _t(spark, sf_dir)
    big_orders = core.filter_op(
        t["orders"], F.col("o_totalprice") > 300000, ["o_custkey"]
    ).withColumnRenamed("o_custkey", "c_custkey")
    return join_ops.hash_join(
        t["customer"].select("c_custkey", "c_name", "c_mktsegment"),
        big_orders,
        on="c_custkey",
        how="left_semi",
    )


@q(
    "hash_join_full_outer",
    """SELECT COALESCE(c.c_custkey, o.o_custkey) AS c_custkey,
              c.c_name, o.n_orders
       FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 700) c
       FULL OUTER JOIN (
         SELECT o_custkey, COUNT(*) AS n_orders
         FROM orders WHERE o_custkey > 300 GROUP BY o_custkey
       ) o ON c.c_custkey = o.o_custkey""",
)
def q_hash_join_full_outer(spark, sf_dir):
    """FULL OUTER hash join — declared in the reference's JoinType enum but
    never implemented (proto/supersonic.proto:108-113; hash_join.h:37-38
    supports INNER/LEFT only): parity-plus via Spark's native full outer.
    The two offset filters guarantee rows on all three paths (left-only,
    matched, right-only)."""
    t = _t(spark, sf_dir)
    cust = core.filter_op(
        t["customer"], F.col("c_custkey") <= 700, ["c_custkey", "c_name"]
    )
    ords = agg.group_aggregate(
        core.filter_op(t["orders"], F.col("o_custkey") > 300, ["o_custkey"]),
        ["o_custkey"],
        [AggSpec(Aggregation.COUNT, None, "n_orders")],
    ).withColumnRenamed("o_custkey", "c_custkey")
    return join_ops.hash_join(cust, ords, on="c_custkey", how="full_outer")


@q(
    "cross_join_region_nation",
    """SELECT r_name, n_name FROM region CROSS JOIN nation""",
)
def q_cross_join_region_nation(spark, sf_dir):
    """Cartesian product (absent in the reference — no nested-loop join,
    SURVEY.md §2.3): exposed for the small-dimension grid case; Spark
    plans a broadcast nested loop, never a shuffle."""
    t = _t(spark, sf_dir)
    return join_ops.cross_join(
        t["region"].select("r_name"), t["nation"].select("n_name")
    )


_KMEANS_ORACLE = """
SELECT COUNT(*)::BIGINT AS n_points, TRUE AS all_assigned_ok,
       TRUE AS assignment_optimal_ok
FROM embeddings
"""


@q("kmeans_embeddings", _KMEANS_ORACLE)
def q_kmeans_embeddings(spark, sf_dir):
    """Distributed spherical k-means (Lloyd's) on the embeddings table —
    per iteration one Arrow-batched assignment scan (no shuffle) + one
    k×dim partial-aggregated mean shuffle; only the k×dim model state
    circulates through the driver.  Checked on the Lloyd's invariants the
    oracle can pin: every vector is assigned to exactly one cluster
    (count preserved), and the final assignment is OPTIMAL w.r.t. the
    final centroids — each point's cosine to its own centroid is within
    float tolerance of its max cosine over all centroids (argmax
    correctness, re-verified JVM-side against the Arrow-side assignment)."""
    from supersonic_spark.pipeline.similarity import cosine, kmeans_lloyd

    t = _t(spark, sf_dir)
    emb = t["embeddings"]
    assigned, centroids = kmeans_lloyd(emb, "vec_id", "embedding", k=8, iters=3)
    cent_rows = [(ci, [float(x) for x in v]) for ci, v in enumerate(centroids)]
    cent = spark.createDataFrame(cent_rows, "cid int, cvec array<double>")
    scored = (
        assigned.join(emb.select("vec_id", "embedding"), "vec_id")
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "cluster", "cid",
            cosine(F.col("embedding"), F.col("cvec")).alias("cc"),
        )
    )
    per_point = scored.groupBy("vec_id", "cluster").agg(
        F.max("cc").alias("best"),
        F.max(F.when(F.col("cid") == F.col("cluster"), F.col("cc"))).alias("own"),
    )
    agg_row = per_point.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.coalesce(
            F.sum((F.col("own") < F.col("best") - 1e-9).cast("int")), F.lit(0)
        ).alias("n_suboptimal"),
    )
    n_emb = emb.agg(F.count(F.lit(1)).alias("n_emb"))
    return agg_row.crossJoin(n_emb).select(
        F.col("n_points").cast("long").alias("n_points"),
        (F.col("n_points") == F.col("n_emb")).alias("all_assigned_ok"),
        (F.col("n_suboptimal") == 0).alias("assignment_optimal_ok"),
    )


@q(
    "repeating_block_synth",
    """SELECT n_regionkey, COUNT(*) AS n,
              CAST(SUM(copy_id) AS BIGINT) AS copy_sum
       FROM nation, range(400) t(copy_id) GROUP BY n_regionkey""",
)
def q_repeating_block_synth(spark, sf_dir):
    """RepeatingBlock (testing/repeating_block.h — the reference's
    benchmark feeder): a small block fans out N× via a cross join against
    spark.range, which PARALLELIZES on the range side, so a 25-row block
    synthesizes arbitrarily large inputs with no driver materialization.
    The copy-id sum pins that every copy index appears exactly once per
    block row."""
    from supersonic_spark.sources.repeating import repeating_block

    t = _t(spark, sf_dir)
    rep = repeating_block(
        t["nation"].select("n_nationkey", "n_regionkey"), 400, copy_col="copy_id"
    )
    return agg.group_aggregate(
        rep,
        ["n_regionkey"],
        [
            AggSpec(Aggregation.COUNT, None, "n"),
            AggSpec(Aggregation.SUM, "copy_id", "copy_sum"),
        ],
    )


@q(
    "moving_range_frame_events",
    """SELECT event_id, user_id,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS tr_sum,
              COUNT(*) OVER w AS tr_n
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts
                    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""",
)
def q_moving_range_frame_events(spark, sf_dir):
    """Time-interval RANGE frame (vs the ROWS frames of
    moving_window_agg): each event aggregates the user's trailing ONE
    HOUR, however many rows that is.  Spark's rangeBetween needs a
    numeric order key, so the frame runs over unix_micros(ts) with a
    ±µs-exact 3.6e9 µs bound — identical semantics to the oracle's
    INTERVAL frame; peers (equal ts) are all included, so no unique-order
    tie-break is needed for SUM/COUNT determinism."""
    from pyspark.sql.window import Window

    t = _t(spark, sf_dir)
    ev = t["events"].select(
        "event_id", "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        _dec("value").alias("value_d"),
    ).withColumn("ts_us", F.unix_micros("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum("value_d").over(w).cast("double").alias("tr_sum"),
        F.count(F.lit(1)).over(w).alias("tr_n"),
    )


@q(
    "expr_hashing",
    """SELECT n_nationkey,
              md5(n_name) AS name_md5,
              sha256(concat(n_name, '|', CAST(n_regionkey AS VARCHAR)))
                AS compound_sha
       FROM nation""",
)
def q_expr_hashing(spark, sf_dir):
    """Deterministic hashing family (SupersonicFingerprint/SupersonicHash,
    hashing_expressions.h:28-35).  The engine's native workhorse is
    xxhash64 (seeded, 64-bit, codegen) — used throughout dedup/sampling —
    but xxhash64 isn't cross-engine comparable, so the PORTABLE members
    (md5, sha256: bit-identical everywhere) carry the oracle; parity of
    the xxhash64-based operators is pinned by their unit tests instead."""
    t = _t(spark, sf_dir)
    return t["nation"].select(
        "n_nationkey",
        F.md5("n_name").alias("name_md5"),
        F.sha2(
            F.concat(F.col("n_name"), F.lit("|"), F.col("n_regionkey").cast("string")),
            256,
        ).alias("compound_sha"),
    )


@q(
    "expr_array_hof",
    r"""SELECT doc_id,
              len(words)::INT AS n_words,
              array_to_string(words[1:3], ' ') AS first3,
              len(list_filter(words, w -> length(w) > 4))::INT AS n_long,
              list_aggregate(list_transform(words, w -> length(w)), 'sum')::BIGINT
                AS total_chars,
              list_sort(words)[1] AS first_alpha
       FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
             FROM documents WHERE doc_id % 20 = 0)""",
)
def q_expr_array_hof(spark, sf_dir):
    """Array / higher-order-function family (beyond-reference: supersonic
    is strictly flat-relational, SURVEY.md §1.1 — but arrays are the spine
    of the embedding/token pipelines here): slice, transform, filter,
    aggregate-fold, sort — all JVM-evaluated over the array column, no
    Python.  DuckDB's list_* functions are the oracle dialect."""
    t = _t(spark, sf_dir)
    docs = t["documents"].filter(F.col("doc_id") % 20 == 0)
    words = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select("doc_id", words.alias("words"))
    return base.select(
        "doc_id",
        F.size("words").alias("n_words"),
        F.array_join(F.slice("words", 1, 3), " ").alias("first3"),
        F.size(F.filter("words", lambda w: F.length(w) > 4)).alias("n_long"),
        F.aggregate(
            F.transform("words", lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
        F.array_sort("words")[0].alias("first_alpha"),
    )


_SERDE_ORACLE = """SELECT l_orderkey, l_linenumber,
              l_extendedprice * (1 - l_discount) AS revenue,
              CASE l_returnflag WHEN 'R' THEN 'returned'
                                WHEN 'A' THEN 'accepted'
                                ELSE 'neither' END AS flag_word
       FROM lineitem
       WHERE l_quantity > 45 AND l_discount <= 0.05"""


@q("serde_expression_eval", _SERDE_ORACLE)
def q_serde_expression_eval(spark, sf_dir):
    """Serialized expression trees end-to-end (SURVEY.md §2.8/§3.3 — the
    reference's BuildExpressionFromProto is its only query language):
    compute columns AND the filter predicate arrive as JSON
    CONSTANT/VARIABLE/OPERATION trees, deserialize through
    functions.serde into the §2.7 expression layer, and run through the
    normal operator pipeline — plans as data, bound at execution."""
    from supersonic_spark.functions.serde import expression_from_json, expressions_from_json

    def op(name, *args):
        return {"operation": {"operator": name, "arguments": list(args)}}

    def var(n):
        return {"variable": n}

    def const(t, v):
        return {"constant": {"type": t, "value": v}}

    t = _t(spark, sf_dir)
    predicate = expression_from_json(
        op("AND",
           op("GREATER", var("l_quantity"), const("DOUBLE", 45.0)),
           op("LESS_OR_EQUAL", var("l_discount"), const("DOUBLE", 0.05)))
    )
    computed = expressions_from_json({
        "l_orderkey": var("l_orderkey"),
        "l_linenumber": var("l_linenumber"),
        "revenue": op("MULTIPLY", var("l_extendedprice"),
                      op("MINUS", const("DOUBLE", 1.0), var("l_discount"))),
        "flag_word": op("CASE", var("l_returnflag"),
                        const("STRING", "neither"),
                        const("STRING", "R"), const("STRING", "returned"),
                        const("STRING", "A"), const("STRING", "accepted")),
    })
    filtered = core.filter_op(t["lineitem"], predicate)
    return core.compute(filtered, computed)


@q("serde_expression_textproto", _SERDE_ORACLE)
def q_serde_expression_textproto(spark, sf_dir):
    """Wire-format parity for §2.8: the SAME query as serde_expression_eval,
    but every expression arrives as a protobuf TEXT-FORMAT
    common.ExpressionDescription string (utils/proto/expressions.proto:292,
    deserialized in the reference by build_expression_from_proto.cc:754) —
    parsed by functions.textproto without any protobuf runtime, mapped onto
    the shared JSON deserializer, and hash-checked against the same
    oracle."""
    from supersonic_spark.functions.textproto import expression_from_textproto

    t = _t(spark, sf_dir)
    predicate = expression_from_textproto("""
        type: OPERATION
        operation {
          type: AND
          argument { type: OPERATION operation { type: GREATER
              argument { type: VARIABLE variable { name: "l_quantity" } }
              argument { type: CONSTANT constant { type: DOUBLE double_value: 45.0 } } } }
          argument { type: OPERATION operation { type: LESS_OR_EQUAL
              argument { type: VARIABLE variable { name: "l_discount" } }
              argument { type: CONSTANT constant { type: DOUBLE double_value: 0.05 } } } }
        }""")
    computed = {
        "l_orderkey": expression_from_textproto(
            'type: VARIABLE variable { name: "l_orderkey" }'),
        "l_linenumber": expression_from_textproto(
            'type: VARIABLE variable { name: "l_linenumber" }'),
        "revenue": expression_from_textproto("""
            type: OPERATION
            operation {
              type: MULTIPLY
              argument { type: VARIABLE variable { name: "l_extendedprice" } }
              argument { type: OPERATION operation { type: SUBTRACT
                  argument { type: CONSTANT constant { type: DOUBLE double_value: 1.0 } }
                  argument { type: VARIABLE variable { name: "l_discount" } } } }
            }"""),
        # CASE layout per expressions.proto:101-105 —
        # CASE arg0 WHEN arg2 THEN arg3 WHEN arg4 THEN arg5 ELSE arg1
        "flag_word": expression_from_textproto("""
            type: OPERATION
            operation {
              type: CASE
              argument { type: VARIABLE variable { name: "l_returnflag" } }
              argument { type: CONSTANT constant { type: STRING string_value: "neither" } }
              argument { type: CONSTANT constant { type: STRING string_value: "R" } }
              argument { type: CONSTANT constant { type: STRING string_value: "returned" } }
              argument { type: CONSTANT constant { type: STRING string_value: "A" } }
              argument { type: CONSTANT constant { type: STRING string_value: "accepted" } }
            }"""),
    }
    filtered = core.filter_op(t["lineitem"], predicate)
    return core.compute(filtered, computed)


@q(
    "serde_tuple_textproto",
    """SELECT o_orderkey, o_totalprice * 1.1 AS inflated,
              upper(o_orderpriority) AS prio
       FROM orders WHERE o_totalprice > 100000""",
)
def q_serde_tuple_textproto(spark, sf_dir):
    """TUPLE parity (§2.8): the reference's CompoundExpression — a
    multi-output select list with aliases (BuildTupleFromProto,
    build_expression_from_proto.cc:737-752) — arrives as one text-format
    TUPLE ExpressionDescription and lands as the engine's compute select
    list."""
    from supersonic_spark.functions.textproto import (
        expression_from_textproto,
        select_list_from_textproto,
    )

    t = _t(spark, sf_dir)
    cols = select_list_from_textproto("""
        type: TUPLE
        tuple {
          expression {
            expression { type: VARIABLE variable { name: "o_orderkey" } }
            alias: "o_orderkey"
          }
          expression {
            expression { type: OPERATION operation { type: MULTIPLY
                argument { type: VARIABLE variable { name: "o_totalprice" } }
                argument { type: CONSTANT constant { type: DOUBLE double_value: 1.1 } } } }
            alias: "inflated"
          }
          expression {
            expression { type: OPERATION operation { type: TOUPPER
                argument { type: VARIABLE variable { name: "o_orderpriority" } } } }
            alias: "prio"
          }
        }""")
    pred = expression_from_textproto("""
        type: OPERATION operation { type: GREATER
          argument { type: VARIABLE variable { name: "o_totalprice" } }
          argument { type: CONSTANT constant { type: DOUBLE double_value: 100000.0 } } }""")
    return core.compute(core.filter_op(t["orders"], pred), cols)


@q(
    "serde_plan_eval",
    """SELECT o_orderpriority, COUNT(*) AS n,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       WHERE c.c_mktsegment = 'BUILDING'
       GROUP BY o_orderpriority
       ORDER BY o_orderpriority""",
)
def q_serde_plan_eval(spark, sf_dir):
    """A WHOLE Operation tree shipped as JSON (§3.2 as data): scan → join
    → filter → compute → group-aggregate → sort arrives as one nested
    plan document, deserializes through plans.serde into the operator
    layer (expressions inside it through functions.serde), and binds to
    the session's tables — the engine twin of the reference's
    Operation-factory nesting (primer.cc:281-286) with proto wrappers."""
    from supersonic_spark.plans.serde import operation_from_json

    tables = _t(spark, sf_dir)
    plan = {
        "op": "sort",
        "order": [{"column": "o_orderpriority"}],
        "input": {
            "op": "group_aggregate",
            "keys": ["o_orderpriority"],
            "aggregations": [
                {"function": "COUNT", "output": "n"},
                {"function": "SUM", "input": "price_d", "output": "total",
                 "output_type": "double"},
            ],
            "input": {
                "op": "compute",
                "exprs": {
                    "o_orderpriority": {"variable": "o_orderpriority"},
                    # DECIMAL accumulation for the order-independent sum
                    # (DDL pass-through in the serde cast table)
                    "price_d": {"operation": {"operator": "CAST_TO", "arguments": [
                        {"constant": {"type": "STRING", "value": "DECIMAL(12,2)"}},
                        {"variable": "o_totalprice"}]}},
                },
                "input": {
                    "op": "filter",
                    "predicate": {"operation": {"operator": "EQUAL", "arguments": [
                        {"variable": "c_mktsegment"},
                        {"constant": {"type": "STRING", "value": "BUILDING"}}]}},
                    "input": {
                        "op": "hash_join",
                        "on": ["c_custkey"],
                        "how": "inner",
                        "inputs": [
                            {"op": "compute", "keep_input": True, "exprs": {
                                "c_custkey": {"variable": "o_custkey"}},
                             "input": {"op": "scan", "table": "orders"}},
                            {"op": "project",
                             "columns": ["c_custkey", "c_mktsegment"],
                             "input": {"op": "scan", "table": "customer"}},
                        ],
                    },
                },
            },
        },
    }
    return operation_from_json(spark, plan, tables)


@q(
    "unpivot_lineitem_measures",
    """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
              l_quantity AS value FROM lineitem
       UNION ALL
       SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
       UNION ALL
       SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""",
)
def q_unpivot_lineitem_measures(spark, sf_dir):
    """UNPIVOT/melt — the inverse of pivot_table (wide measures → long
    (measure, value) rows, the normalization step before generic
    per-measure aggregation).  Spark's unpivot expands map-side (an
    Expand node, no shuffle, no UNION re-scan — the oracle's 3× UNION
    ALL re-reads the table 3 times; the engine reads it once)."""
    t = _t(spark, sf_dir)
    return t["lineitem"].unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "value",
    )


@q(
    "recursive_cte_chain",
    """WITH RECURSIVE walk(k, depth) AS (
         SELECT n_nationkey, 0 FROM nation WHERE n_nationkey = 0
         UNION ALL
         SELECT n.n_nationkey, w.depth + 1
         FROM nation n JOIN walk w ON n.n_nationkey = w.k + 1
         WHERE w.depth < 20
       )
       SELECT k, depth FROM walk""",
)
def q_recursive_cte_chain(spark, sf_dir):
    """Recursive CTE (Spark 4; beyond-reference — supersonic has no
    iteration construct at all): a 21-step walk over the nation chain,
    each iteration a join of the frontier against the base table.  The
    declarative form of the iterate-until-fixpoint loops the engine
    otherwise hand-rolls (connected_components, kmeans_lloyd) — right at
    100 TB when the frontier is small; hand-rolled loops with explicit
    checkpoints win when it isn't."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """WITH RECURSIVE walk(k, depth) AS (
             SELECT n_nationkey, 0 FROM nation WHERE n_nationkey = 0
             UNION ALL
             SELECT n.n_nationkey, w.depth + 1
             FROM nation n JOIN walk w ON n.n_nationkey = w.k + 1
             WHERE w.depth < 20
           )
           SELECT k, depth FROM walk"""
    )


@q(
    "mode_aggregate",
    """WITH c AS (
         SELECT l_returnflag, l_quantity, COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag, l_quantity
       ), r AS (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                      ORDER BY n DESC, l_quantity DESC) AS rn
         FROM c
       )
       SELECT l_returnflag, l_quantity AS mode_qty, n AS mode_n
       FROM r WHERE rn = 1""",
)
def q_mode_aggregate(spark, sf_dir):
    """Deterministic statistical mode: Spark's builtin ``mode()`` breaks
    frequency ties arbitrarily, so the engine shape is count-then-argmax —
    a (group, value) count aggregation followed by top-1-per-group with a
    total order (count desc, value desc).  Two partial-agg'd shuffles,
    deterministic on ANY engine; dogfoods analytics.top_n_per_group."""
    t = _t(spark, sf_dir)
    counts = agg.group_aggregate(
        t["lineitem"].select("l_returnflag", "l_quantity"),
        ["l_returnflag", "l_quantity"],
        [AggSpec(Aggregation.COUNT, None, "n")],
    )
    top = analytics.top_n_per_group(
        counts,
        partition="l_returnflag",
        order=[F.col("n").desc(), F.col("l_quantity").desc()],
        n=1,
    )
    return top.select(
        "l_returnflag", F.col("l_quantity").alias("mode_qty"), F.col("n").alias("mode_n")
    )


@q(
    "stats_aggregate_family",
    """SELECT l_returnflag,
              round(corr(l_extendedprice, l_quantity), 6) AS price_qty_corr,
              round(covar_samp(l_extendedprice, l_quantity), 4) AS price_qty_covar,
              round(stddev_samp(l_discount), 6) AS discount_sd,
              round(var_pop(l_tax), 6) AS tax_var,
              round(skewness(l_quantity), 4) AS qty_skew,
              round(kurtosis(l_quantity), 4) AS qty_kurt
       FROM lineitem GROUP BY l_returnflag""",
)
def q_stats_aggregate_family(spark, sf_dir):
    """Statistical moment aggregates (beyond-reference: supersonic stops at
    SUM/MIN/MAX/COUNT, proto/supersonic.proto:91-99): correlation,
    covariance, stddev/variance, skewness, kurtosis — each a single-pass
    mergeable moment sketch in Spark's HashAggregate (partial moments
    combine map-side like any decomposable agg; no second pass over the
    data).  Rounded to 4-6dp (skew/kurt 4dp — their higher moments wobble at 1e-6 between engines): the moment SUMS are float-order-dependent
    across partitionings, the rounded statistics are not."""
    t = _t(spark, sf_dir)
    li = t["lineitem"]
    out = li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("price_qty_corr"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias("price_qty_covar"),
        F.round(F.stddev_samp("l_discount"), 6).alias("discount_sd"),
        F.round(F.var_pop("l_tax"), 6).alias("tax_var"),
        F.round(F.skewness("l_quantity"), 4).alias("qty_skew"),
        F.round(F.kurtosis("l_quantity"), 4).alias("qty_kurt"),
    )
    return out


@q(
    "lookup_index_join",
    """WITH probe AS (
         SELECT o_orderkey, o_custkey,
                ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS query_id
         FROM orders WHERE o_totalprice > 400000
       )
       SELECT p.query_id, p.o_orderkey, c.c_name, c.c_mktsegment
       FROM probe p JOIN customer c ON p.o_custkey = c.c_custkey""",
)
def q_lookup_index_join(spark, sf_dir):
    """LookupIndex / MultiLookup (cursor/base/lookup_index.h:23-80): point
    lookups of a probe block against a broadcast index, carrying the
    reference's ``query_ids`` side-vector — which probe ROW each match
    belongs to — as an explicit row-id column (row-id discipline,
    SURVEY.md §7.4).  The index side broadcasts; no shuffle touches the
    probe stream."""
    t = _t(spark, sf_dir)
    probe = core.filter_op(
        t["orders"], F.col("o_totalprice") > 400000, ["o_orderkey", "o_custkey"]
    )
    idx = t["customer"].select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_mktsegment"
    )
    out = join_ops.lookup_join(
        probe, idx, on="o_custkey", query_id_order=["o_orderkey"]
    )
    return out.select("query_id", "o_orderkey", "c_name", "c_mktsegment")


@q(
    "cube_aggregate",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
       FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
)
def q_cube_aggregate(spark, sf_dir):
    """CUBE — all 2^k grouping-set combinations in one pass (absent in the
    reference, SURVEY.md §2.4; completes the rollup/grouping-sets/cube
    trio).  Spark expands the sets map-side (the same Expand trick as the
    reference's DISTINCT NULL-fanout, hybrid_group_utils.h:15-50), so the
    cube costs one shuffle regardless of how many subtotal levels it
    emits."""
    t = _t(spark, sf_dir)
    li = t["lineitem"].select(
        "l_returnflag", "l_linestatus", _dec("l_quantity").alias("qty_d")
    )
    return agg.group_aggregate_cube(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            AggSpec(Aggregation.COUNT, None, "n"),
            AggSpec(Aggregation.SUM, "qty_d", "sum_qty", output_type="double"),
        ],
    )


@q(
    "json_variant_extract",
    """SELECT event_type, COUNT(*) AS n,
              SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS total_k
       FROM events GROUP BY event_type""",
)
def q_json_variant_extract(spark, sf_dir):
    """VariantType semi-structured path (Spark 4): ``parse_json`` once
    into the binary variant encoding, then ``variant_get`` typed field
    access — at 100 TB the parse-once/access-many shape beats re-parsing
    JSON text per extraction (json_extract_props is the text-path twin).
    Aggregates are exact integers, so the oracle is engine-portable."""
    t = _t(spark, sf_dir)
    v = F.parse_json(F.col("props"))
    ev = t["events"].select(
        "event_type", F.variant_get(v, "$.k", "long").alias("k")
    )
    return agg.group_aggregate(
        ev,
        ["event_type"],
        [
            AggSpec(Aggregation.COUNT, None, "n"),
            AggSpec(Aggregation.SUM, "k", "total_k"),
        ],
    )


@q(
    "partitioned_write_prune",
    """SELECT event_type, COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
       FROM events
       WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
       GROUP BY event_type""",
)
def q_partitioned_write_prune(spark, sf_dir):
    """Hive-partitioned write + partition pruning: events land under
    d=<date> directories (file_output partition_by); the date filter then
    prunes at the LISTING level — unselected partitions are never opened,
    the foundational scan-reduction lever at 100 TB (before row-group
    stats, before pushdown).  The executed plan's PartitionFilters prove
    it (pinned by tests/test_scale_patterns.py)."""
    from supersonic_spark.sources import io as ss_io

    tables = load_tables(spark, sf_dir)
    dst = _scratch("ss_part_events", sf_dir)
    # always rewrite: a cached copy could silently go stale if the
    # source tables are regenerated while /tmp persists
    ss_io.file_output(
        tables["events"].withColumn("d", F.col("ts").cast("date")),
        dst,
        mode="overwrite",
        partition_by=["d"],
    )
    ev = spark.read.parquet(dst).filter(
        F.col("d").between("2024-01-10", "2024-01-12")
    )
    return agg.group_aggregate(
        ev.withColumn("value_d", _dec("value")),
        ["event_type"],
        [
            AggSpec(Aggregation.COUNT, None, "n"),
            AggSpec(Aggregation.SUM, "value_d", "total", output_type="double"),
        ],
    )


@q(
    "custom_python_source",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(i) AS BIGINT) AS total,
              CAST(MIN(i) AS BIGINT) AS lo, CAST(MAX(i) AS BIGINT) AS hi
       FROM range(90000, 100000) t(i)""",
)
def q_custom_python_source(spark, sf_dir):
    """Custom Python data source (the reference's FileInput/Generate
    extensibility re-expressed on Spark's DataSource API,
    sources/python_source.py): a splittable, pushdown-aware sequence
    source.  The ``id >= 90000`` filter is pushed INTO the source
    (pushFilters narrows the generated range before any row exists), so
    the scan produces 10k rows, not 100k — the custom-source equivalent
    of parquet predicate pushdown, pinned by
    tests/test_scale_patterns.py."""
    from supersonic_spark.sources.python_source import register

    register(spark)
    df = (
        spark.read.format("supersonic_seq")
        .option("n", 100_000)
        .option("numPartitions", 8)
        .load()
        .filter(F.col("id") >= 90_000)
    )
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("id").alias("total"),
        F.min("id").alias("lo"),
        F.max("id").alias("hi"),
    )


_NGRAM_ORACLE = r"""
WITH base AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents
  WHERE doc_id % 50 = 0
), g AS (
  SELECT doc_id,
         unnest([array_to_string(words[i:i+2], ' ')
                 for i in range(1, len(words) - 2 + 1)]) AS ngram,
         generate_subscripts([x for x in range(1, len(words) - 2 + 1)], 1) - 1
           AS pos
  FROM base WHERE len(words) >= 3
)
SELECT doc_id, CAST(pos AS INT) AS pos, ngram FROM g
"""


@q("udtf_ngrams", _NGRAM_ORACLE)
def q_udtf_ngrams(spark, sf_dir):
    """Python UDTF (rows → TABLE), completing the runtime extensibility
    trio (UDF/UDAF/UDTF) the reference only has at compile time
    (SURVEY.md §2.7): word trigrams with positions via a LATERAL table
    function, hash-matched against a DuckDB list-comprehension unnest.
    Sampled to 1 in 50 docs — the UDTF path is row-at-a-time Python by
    design (the JVM posexplode pipelines remain the bulk path)."""
    from supersonic_spark.functions.udf import ngram_udtf

    t = _t(spark, sf_dir)
    spark.udtf.register("ss_ngrams", ngram_udtf(3))
    t["documents"].filter(F.col("doc_id") % 50 == 0).createOrReplaceTempView(
        "ss_udtf_docs"
    )
    return spark.sql(
        """SELECT d.doc_id, t.pos, t.ngram
           FROM ss_udtf_docs d, LATERAL ss_ngrams(d.text) t"""
    )


@q(
    "streaming_foreachbatch_sink",
    """SELECT event_id, user_id, value FROM events
       WHERE event_type = 'purchase'""",
)
def q_streaming_foreachbatch_sink(spark, sf_dir):
    """foreachBatch parquet sink with idempotent per-batch paths: the
    stream's purchases land under batch=<id> directories (reruns
    overwrite the same path — exactly-once by idempotence, the standard
    production sink recipe when the target lacks transactions); the
    returned DataFrame re-reads what was SUNK, so the oracle checks the
    full write-read cycle, not just the in-flight stream."""
    from supersonic_spark.streaming.ops import events_stream

    load_tables(spark, sf_dir)
    out_dir = _scratch("ss_foreachbatch_sink", sf_dir)

    def write_batch(df, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"batch={batch_id}"))

    stream = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
    )
    (
        stream.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(300)
    )
    return (
        spark.read.option("recursiveFileLookup", "true")
        .schema("event_id long, user_id long, value double")
        .parquet(out_dir)
    )


@q(
    "streaming_multibatch_window_agg",
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start, event_type,
              COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
       FROM events GROUP BY 1, 2""",
)
def q_streaming_multibatch_window_agg(spark, sf_dir):
    """TRUE incremental processing: the events table is split into 4
    files and streamed with maxFilesPerTrigger=1, so availableNow drains
    it in 4 micro-batches — the windowed state MERGES partial counts/sums
    across batches (the thing single-batch drains never exercise) and the
    final complete-mode result still hash-matches the batch SQL."""
    from supersonic_spark.operators.aggregate import AggSpec, Aggregation
    from supersonic_spark.streaming.ops import windowed_aggregate

    tables = load_tables(spark, sf_dir)
    # always rewrite (stale-cache guard: source tables can be regenerated
    # between rounds while /tmp persists)
    src = _scratch("ss_multibatch_src", sf_dir)
    tables["events"].repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("value_d", F.col("value").cast("decimal(12,2)"))
    )
    agged = windowed_aggregate(
        stream,
        "ts",
        "1 hour",
        [
            AggSpec(Aggregation.COUNT, None, "n"),
            AggSpec(Aggregation.SUM, "value_d", "total", output_type="double"),
        ],
        keys=["event_type"],
        watermark="1 hour",
    )
    sink = "ss_stream_multibatch_agg"
    for q_ in spark.streams.active:
        if q_.name == sink:
            q_.stop()
    (
        agged.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
        .awaitTermination(300)
    )
    return spark.table(sink).select(
        F.col("window.start").cast("timestamp_ntz").alias("win_start"),
        "event_type",
        "n",
        "total",
    )


@q(
    "streaming_dedup_events",
    """SELECT event_id, user_id, event_type FROM events
       WHERE event_type IN ('signup', 'purchase')""",
)
def q_streaming_dedup_events(spark, sf_dir):
    """Streaming exact dedup with watermark-bounded state
    (dropDuplicatesWithinWatermark): the source is the events table
    duplicated 2× (every row arrives twice — the at-least-once delivery
    scenario), and the deduped stream hash-matches SELECT DISTINCT.
    State expires with the watermark, so the dedup runs forever on
    unbounded streams — the exactly-once ingestion front door at
    100 TB/day."""
    from supersonic_spark.streaming.ops import stream_dedup

    tables = load_tables(spark, sf_dir)
    src = _scratch("ss_dedup_src", sf_dir)
    ev = tables["events"].withColumn("ts", F.col("ts").cast("timestamp")).select(
        "event_id", "user_id", "event_type", "ts"
    ).filter(F.col("event_type").isin("signup", "purchase"))
    ev.unionAll(ev).coalesce(2).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "event_id long, user_id long, event_type string, ts timestamp"
    ).parquet(src)
    deduped = stream_dedup(
        stream, ["event_id"], ts_col="ts", watermark="31 days"
    )
    sink = "ss_stream_dedup"
    for q_ in spark.streams.active:
        if q_.name == sink:
            q_.stop()
    (
        deduped.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination(300)
    )
    return spark.table(sink).select("event_id", "user_id", "event_type")


@q(
    "streaming_incremental_matview",
    """SELECT event_type, COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
       FROM events GROUP BY event_type""",
)
def q_streaming_incremental_matview(spark, sf_dir):
    """Incremental materialized-view maintenance: the stream drains in 4
    micro-batches (maxFilesPerTrigger=1) and foreachBatch folds each
    batch into a persisted aggregate table with
    ``incremental_group_aggregate`` — partial-agg the delta, merge with
    the prior state, never rescan history (the reference documents
    exactly this merge as the caller's job after
    BestEffortGroupAggregate, aggregate.h:237-241; here it is the 100 TB
    rollup-table maintenance loop).  State alternates between two paths
    (read-path ≠ write-path, since a Spark job cannot overwrite its own
    input); the final table hash-matches the one-shot batch aggregate."""
    from supersonic_spark.operators.aggregate import incremental_group_aggregate

    tables = load_tables(spark, sf_dir)
    src = _scratch("ss_matview_src", sf_dir)
    tables["events"].repartition(4).write.mode("overwrite").parquet(src)
    state_root = _scratch("ss_matview_state", sf_dir)
    os.makedirs(state_root)

    # state stays DECIMAL across merges (double accumulation would drift
    # off the oracle's exact decimal total); cast once at the end.
    specs = [
        AggSpec(Aggregation.COUNT, None, "n"),
        AggSpec(Aggregation.SUM, "value_d", "total"),
    ]
    state_schema = "event_type string, n long, total decimal(22,2)"
    paths = {"cur": None, "flip": 0}

    def fold_batch(df, batch_id: int) -> None:
        delta = df.withColumn("value_d", F.col("value").cast("decimal(12,2)"))
        sess = df.sparkSession
        state = (
            sess.read.schema(state_schema).parquet(paths["cur"])
            if paths["cur"]
            else sess.createDataFrame([], state_schema)
        )
        new_state = incremental_group_aggregate(
            state, delta, ["event_type"], specs
        ).select(
            "event_type", "n", F.col("total").cast("decimal(22,2)").alias("total")
        )
        nxt = os.path.join(state_root, f"state_{paths['flip'] % 2}")
        new_state.write.mode("overwrite").parquet(nxt)
        paths["cur"], paths["flip"] = nxt, paths["flip"] + 1

    schema = spark.read.parquet(src).schema
    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(fold_batch)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(300)
    )
    return (
        spark.read.schema(state_schema)
        .parquet(paths["cur"])
        .select("event_type", "n", F.col("total").cast("double").alias("total"))
    )


@q(
    "streaming_interval_join",
    """SELECT p.event_id, p.user_id, p.ts AS p_ts,
              v.ts AS view_ts, v.value AS view_value
       FROM events p JOIN events v
         ON p.user_id = v.user_id
        AND p.event_type = 'purchase' AND v.event_type = 'view'
        AND v.ts >= p.ts - INTERVAL 24 HOUR AND v.ts <= p.ts""",
)
def q_streaming_interval_join(spark, sf_dir):
    """Stream-stream join with BATCH-EQUAL semantics: each purchase joins
    the same user's view events from the trailing 24 h — two watermarked
    file streams, event-time interval condition, drained via availableNow
    and hash-matched against the batch SQL join.  The watermark + interval
    bound BOTH state buffers (rows age out once the other stream's
    watermark passes their window) — the property that makes stream-stream
    joins runnable forever at 100 TB/day ingest."""
    from supersonic_spark.streaming.ops import (
        events_stream,
        stream_stream_interval_join,
    )

    load_tables(spark, sf_dir)  # applies runtime conf (UTC)
    purch = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("p_ts"))
    )
    views = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"), F.col("value").alias("view_value"))
    )
    j = stream_stream_interval_join(
        purch, views, ["user_id"], "p_ts", "view_ts",
        lower="24 hours", upper="0 seconds", watermark="1 hour",
    )
    sink = "ss_stream_interval_join"
    for q_ in spark.streams.active:
        if q_.name == sink:
            q_.stop()
    (
        j.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination(300)
    )
    return spark.table(sink).select(
        "event_id",
        "user_id",
        F.col("p_ts").cast("timestamp_ntz").alias("p_ts"),
        F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
        "view_value",
    )

"""Event-analytics + corpus-vocabulary query catalog (beyond-reference:
supersonic has no window frames, funnels, cohorts, or text analysis —
SURVEY.md §2.7/§2.9).  All oracle-checked against DuckDB.

Determinism: window frames carry a total order (ts, event_id tie-break);
money/value sums accumulate in DECIMAL inside the frame; funnel depths and
cohort offsets are integer arithmetic on MIN timestamps — exact on both
engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from supersonic_spark.operators import aggregate as agg
from supersonic_spark.operators import analytics, core, join as join_ops
from supersonic_spark.operators import sort as sort_ops
from supersonic_spark.operators.aggregate import AggSpec, Aggregation
from supersonic_spark.operators.sort import SortKey
from supersonic_spark.pipeline import textstats
from supersonic_spark.queries import _dec, _scratch, _t, q


@q(
    "moving_window_agg_events",
    """SELECT event_id, user_id,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS mov_sum,
              COUNT(*) OVER w AS mov_n,
              CAST(MAX(value) OVER w AS DOUBLE) AS mov_max
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""",
)
def q_moving_window_agg_events(spark, sf_dir):
    """Frame-spec moving aggregates (7-row trailing window per user).
    Scale shape: one shuffle on user_id; all three frames evaluate in a
    single Window node; DECIMAL accumulation keeps the trailing sum exact
    under any frame evaluation order."""
    t = _t(spark, sf_dir)
    ev = core.compute(
        t["events"],
        {"event_id": F.col("event_id"), "user_id": F.col("user_id"),
         "ts": F.col("ts"), "value": F.col("value"), "value_d": _dec("value")},
    )
    out = analytics.moving_window_agg(
        ev,
        partition="user_id",
        order=["ts", "event_id"],
        aggs={
            "mov_sum_d": F.sum("value_d"),
            "mov_n": F.count(F.lit(1)),
            "mov_max": F.max("value"),
        },
        frame=(-6, 0),
    )
    return out.select(
        "event_id", "user_id",
        F.col("mov_sum_d").cast("double").alias("mov_sum"),
        "mov_n",
        F.col("mov_max").cast("double").alias("mov_max"),
    )


@q(
    "funnel_events",
    """WITH per_user AS (
         SELECT user_id,
                MIN(ts) FILTER (event_type = 'view') AS t_0,
                MIN(ts) FILTER (event_type = 'click') AS t_1,
                MIN(ts) FILTER (event_type = 'purchase') AS t_2
         FROM events GROUP BY user_id)
       SELECT CASE
                WHEN t_0 IS NOT NULL AND t_1 IS NOT NULL AND t_1 > t_0
                 AND t_2 IS NOT NULL AND t_2 > t_1 THEN 3
                WHEN t_0 IS NOT NULL AND t_1 IS NOT NULL AND t_1 > t_0 THEN 2
                WHEN t_0 IS NOT NULL THEN 1
                ELSE 0 END AS depth,
              COUNT(*) AS n_users
       FROM per_user
       GROUP BY 1
       ORDER BY depth""",
)
def q_funnel_events(spark, sf_dir):
    """Ordered funnel view -> click -> purchase, reported as a depth
    distribution.  Scale shape: the funnel operator is one conditional-MIN
    aggregation on user_id (no self-joins, no event sorting); the depth
    distribution is a 4-key map-side-combined count."""
    t = _t(spark, sf_dir)
    per_user = analytics.funnel(
        t["events"], "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )
    out = agg.group_aggregate(
        per_user, ["depth"], [AggSpec(Aggregation.COUNT, None, "n_users")]
    )
    return sort_ops.sort(out, [SortKey("depth")]).select("depth", "n_users")


@q(
    "cohort_retention_events",
    """WITH firsts AS (
         SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
         FROM events GROUP BY user_id),
       activity AS (
         SELECT DISTINCT user_id, date_trunc('week', ts) AS period
         FROM events)
       SELECT cohort_week,
              CAST(date_diff('day', cohort_week, period) / 7 AS INT) AS week_offset,
              COUNT(DISTINCT user_id) AS n_users
       FROM activity JOIN firsts USING (user_id)
       GROUP BY cohort_week, week_offset
       ORDER BY cohort_week, week_offset""",
)
def q_cohort_retention_events(spark, sf_dir):
    """Weekly cohort retention matrix.  Scale shape: two hash shuffles
    (per-user first-event MIN, then the (cohort, offset) rollup of the
    distinct user-week activity matrix) — no windows, no broadcast of the
    user-dimension firsts table (cohort_retention docstring)."""
    t = _t(spark, sf_dir)
    out = analytics.cohort_retention(t["events"], "user_id", "ts", granularity="week")
    out = core.compute(
        out,
        {
            "cohort_week": F.col("cohort"),
            "week_offset": F.col("offset"),
            "n_users": F.col("n_users"),
        },
    )
    return sort_ops.sort(out, [SortKey("cohort_week"), SortKey("week_offset")]).select(
        "cohort_week", "week_offset", "n_users"
    )


@q(
    "text_vocab_topk",
    """WITH toks AS (
         SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS token
         FROM documents)
       SELECT token, COUNT(*) AS n
       FROM toks
       WHERE token <> ''
       GROUP BY token
       ORDER BY n DESC, token
       LIMIT 100""",
)
def q_text_vocab_topk(spark, sf_dir):
    """Corpus vocabulary top-100 (training-data pipeline: tokenizer vocab /
    frequency analysis).  Scale shape: explode multiplies rows, but partial
    aggregation combines per-task before one token shuffle; the final
    top-k is TakeOrderedAndProject, never a full vocabulary sort."""
    t = _t(spark, sf_dir)
    return textstats.vocab_topk(t["documents"], "text", k=100).select("token", "n")


@q(
    "histogram_order_totals",
    """SELECT bin,
              0.0 + bin * 25000.0 AS bin_lo,
              0.0 + (bin + 1) * 25000.0 AS bin_hi,
              COUNT(*) AS n
       FROM (SELECT CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - 0.0) / 25000.0) AS INT) AS bin
             FROM orders
             WHERE o_totalprice >= 0.0 AND o_totalprice < 500000.0)
       GROUP BY bin
       ORDER BY bin""",
)
def q_histogram_order_totals(spark, sf_dir):
    """Fixed-width histogram (20 bins over order totals).  Scale shape:
    pure arithmetic + a 20-key hash aggregation — constant-size shuffle
    regardless of input rows, no sort, no sketch."""
    t = _t(spark, sf_dir)
    out = analytics.histogram(t["orders"], "o_totalprice", 0.0, 500000.0, 20)
    return sort_ops.sort(out, [SortKey("bin")]).select("bin", "bin_lo", "bin_hi", "n")


@q(
    "text_tfidf_topk",
    """WITH pairs AS (
         SELECT doc_id,
                unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS token
         FROM documents),
       tf AS (SELECT doc_id, token, COUNT(*) AS tf
              FROM pairs WHERE token <> '' GROUP BY doc_id, token),
       df_ AS (SELECT token, COUNT(*) AS doc_freq FROM tf GROUP BY token),
       n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
       scored AS (
         SELECT doc_id, tf.token AS token, tf, doc_freq,
                ROUND(tf * (LN((n_docs + 1.0) / (doc_freq + 1.0)) + 1.0), 6) AS tfidf
         FROM tf JOIN df_ ON tf.token = df_.token CROSS JOIN n)
       SELECT doc_id, token, tf, doc_freq, tfidf
       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY tfidf DESC, token) AS rn
             FROM scored)
       WHERE rn <= 5
       ORDER BY doc_id, tfidf DESC, token""",
)
def q_text_tfidf_topk(spark, sf_dir):
    """Per-document top-5 TF-IDF terms (training-data pipeline: salient-term
    extraction / keyword features).  tfidf is rounded to 6dp on BOTH sides
    before ranking, so the ln-ulp engine difference can neither change
    values nor flip the (tfidf, token) tie-broken order.  Scale shape: see
    textstats.tfidf — pair shuffle, vocabulary rollup, 1-row N broadcast,
    then one doc-key window keeping 5×docs rows."""
    t = _t(spark, sf_dir)
    out = textstats.tfidf_topk(t["documents"], "doc_id", "text", k=5)
    return sort_ops.sort(
        out, [SortKey("doc_id"), SortKey("tfidf", ascending=False), SortKey("token")]
    ).select("doc_id", "token", "tf", "doc_freq", "tfidf")


@q(
    "event_transitions",
    """SELECT prev_type, event_type, COUNT(*) AS n
       FROM (SELECT lag(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS prev_type,
                    event_type
             FROM events)
       WHERE prev_type IS NOT NULL
       GROUP BY prev_type, event_type
       ORDER BY prev_type, event_type""",
)
def q_event_transitions(spark, sf_dir):
    """Event-transition (Markov) matrix: per-user previous-event pairing
    via lag over a total order, then a 25-key count.  Scale shape: one
    user_id shuffle for the window, map-side-combined rollup after."""
    from pyspark.sql import Window

    t = _t(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = t["events"].select(
        F.lag("event_type").over(w).alias("prev_type"), "event_type"
    )
    ev = core.filter_op(ev, F.col("prev_type").isNotNull())
    out = agg.group_aggregate(
        ev, ["prev_type", "event_type"], [AggSpec(Aggregation.COUNT, None, "n")]
    )
    return sort_ops.sort(out, [SortKey("prev_type"), SortKey("event_type")]).select(
        "prev_type", "event_type", "n"
    )


@q(
    "anomaly_zscore_events",
    """WITH stats AS (
         SELECT user_id,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean_v,
                CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                  / COUNT(*) AS mean_sq,
                COUNT(*) AS n
         FROM events GROUP BY user_id)
       SELECT event_id, user_id,
              CAST(value AS DOUBLE) AS value,
              ROUND((value - mean_v) / sqrt(mean_sq - mean_v * mean_v), 6) AS zscore
       FROM events JOIN stats USING (user_id)
       WHERE n >= 30
         AND ABS((value - mean_v) / sqrt(mean_sq - mean_v * mean_v)) > 3.0
       ORDER BY event_id""",
)
def q_anomaly_zscore_events(spark, sf_dir):
    """Per-user z-score outliers (|z| > 3).  The mean and E[v²] accumulate
    in DECIMAL (exact, order-independent); only the final z arithmetic is
    IEEE double, identical per-row on both engines (rounded to 6dp for
    portability of the reported score).  Scale shape: one user_id shuffle
    for stats, then a same-key join back — co-partitioned, AQE may
    broadcast the stats side (user-dimension cardinality)."""
    t = _t(spark, sf_dir)
    ev = core.compute(
        t["events"],
        {"event_id": F.col("event_id"), "user_id": F.col("user_id"),
         "value": F.col("value"), "v_d": F.col("value").cast("decimal(18,2)")},
    )
    stats = agg.group_aggregate(
        ev.withColumn("v_sq_d", F.col("v_d") * F.col("v_d")),
        ["user_id"],
        [
            AggSpec(Aggregation.SUM, "v_d", "sum_v", output_type="double"),
            AggSpec(Aggregation.SUM, "v_sq_d", "sum_sq", output_type="double"),
            AggSpec(Aggregation.COUNT, None, "n"),
        ],
    )
    stats = core.compute(
        stats,
        {"user_id": F.col("user_id"),
         "mean_v": F.col("sum_v") / F.col("n"),
         "mean_sq": F.col("sum_sq") / F.col("n"),
         "n": F.col("n")},
    )
    j = join_ops.hash_join(ev.drop("v_d"), stats, on="user_id")
    z = (F.col("value") - F.col("mean_v")) / F.sqrt(
        F.col("mean_sq") - F.col("mean_v") * F.col("mean_v")
    )
    j = core.filter_op(j, (F.col("n") >= 30) & (F.abs(z) > 3.0))
    j = core.compute(
        j,
        {"event_id": F.col("event_id"), "user_id": F.col("user_id"),
         "value": F.col("value").cast("double"),
         "zscore": F.round(z, 6)},
    )
    return sort_ops.sort(j, [SortKey("event_id")]).select(
        "event_id", "user_id", "value", "zscore"
    )


_KEY_PROFILE_ORACLE = """
WITH c AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total_rows,
             count(*) AS n_distinct_keys FROM c)
SELECT o_custkey, n,
       round(CAST(n AS DOUBLE) / total_rows, 6) AS share,
       n_distinct_keys, total_rows
FROM c CROSS JOIN t
ORDER BY n DESC, o_custkey LIMIT 20
"""


@q("key_profile_orders_custkey", _KEY_PROFILE_ORACLE)
def q_key_profile_orders_custkey(spark, sf_dir):
    """Join-key skew profile: top-20 heaviest customer keys in orders with
    their share of all rows — the pre-flight check for salting/AQE sizing."""
    t = _t(spark, sf_dir)
    return analytics.key_profile(t["orders"], ["o_custkey"], k=20)


_UPSERT_ORACLE = """
WITH u AS (
  SELECT *, 0 AS src FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT *, 1 AS src FROM events WHERE event_id % 2 = 1
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, src DESC, event_id DESC) AS rn
  FROM u
)
SELECT event_id, ts, user_id, event_type, value, props
FROM r WHERE rn = 1 ORDER BY user_id
"""


@q("upsert_latest_events", _UPSERT_ORACLE)
def q_upsert_latest_events(spark, sf_dir):
    """CDC upsert merge: latest event per user from an existing/updates
    split — one max_by hash aggregation, no window sort."""
    from supersonic_spark.operators import setops

    t = _t(spark, sf_dir)
    ev = t["events"]
    existing = core.filter_op(ev, F.col("event_id") % 2 == 0)
    updates = core.filter_op(ev, F.col("event_id") % 2 == 1)
    out = setops.upsert_latest(existing, updates, ["user_id"], "ts", tiebreak="event_id")
    return sort_ops.sort(out, [SortKey("user_id")])


_CMS_ORACLE = """
WITH c AS (SELECT l_suppkey, count(*) AS exact_cnt FROM lineitem GROUP BY 1),
     t AS (SELECT * FROM c ORDER BY exact_cnt DESC, l_suppkey LIMIT 10)
SELECT l_suppkey, exact_cnt,
       TRUE AS est_ge_exact_ok, TRUE AS merge_matches_full_ok,
       TRUE AS conservation_ok
FROM t ORDER BY exact_cnt DESC, l_suppkey
"""


@q("cms_heavy_hitters", _CMS_ORACLE)
def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch frequency estimation: the bounded-memory scale
    path past exact key_profile when key cardinality is billions.  Exact
    top-10 suppkey counts are the oracle-matched half; the in-plan
    booleans pin the sketch's deterministic guarantees, each recomputed
    corpus-wide inside the plan: est >= exact for every probed key
    (overestimate-only), merge(build(even), build(odd)) == build(full)
    row-for-row (exact mergeability — the per-shard rollup property),
    and per-depth counter sums == |lineitem| (conservation)."""
    depth, width = 4, 256
    t = _t(spark, sf_dir)
    li = t["lineitem"]
    sk = analytics.cms_build(li, "l_suppkey", depth, width)
    ska = analytics.cms_build(
        li.filter(F.col("l_orderkey") % 2 == 0), "l_suppkey", depth, width
    )
    skb = analytics.cms_build(
        li.filter(F.col("l_orderkey") % 2 == 1), "l_suppkey", depth, width
    )
    merged = analytics.cms_merge(ska, skb)
    mm = merged.withColumnRenamed("cnt", "cnt_m").join(
        sk, ["depth", "bucket"], "full"
    )
    merge_ok = mm.agg(
        (
            F.coalesce(
                F.sum(
                    (
                        F.col("cnt_m").isNull()
                        | F.col("cnt").isNull()
                        | (F.col("cnt_m") != F.col("cnt"))
                    ).cast("int")
                ),
                F.lit(0),
            )
            == 0
        ).alias("merge_matches_full_ok")
    )
    n_total = li.agg(F.count(F.lit(1)).alias("__n"))
    cons_ok = (
        sk.groupBy("depth")
        .agg(F.sum("cnt").alias("__s"))
        .crossJoin(F.broadcast(n_total))
        .agg(
            (
                F.coalesce(F.sum((F.col("__s") != F.col("__n")).cast("int")), F.lit(0))
                == 0
            ).alias("conservation_ok")
        )
    )
    exact = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("exact_cnt"))
    topk = exact.orderBy(F.col("exact_cnt").desc(), "l_suppkey").limit(10)
    est = analytics.cms_estimate(
        sk, topk.select("l_suppkey"), "l_suppkey", depth, width
    )
    return (
        topk.join(est, "l_suppkey")
        .crossJoin(F.broadcast(merge_ok))
        .crossJoin(F.broadcast(cons_ok))
        .select(
            "l_suppkey",
            "exact_cnt",
            (F.col("est") >= F.col("exact_cnt")).alias("est_ge_exact_ok"),
            "merge_matches_full_ok",
            "conservation_ok",
        )
        .orderBy(F.col("exact_cnt").desc(), "l_suppkey")
    )


_STREAM_CMS_ORACLE = """
WITH c AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1),
     t AS (SELECT * FROM c ORDER BY exact_cnt DESC, user_id LIMIT 10)
SELECT user_id, exact_cnt,
       TRUE AS est_ge_exact_ok, TRUE AS stream_matches_batch_ok
FROM t ORDER BY exact_cnt DESC, user_id
"""


@q("streaming_cms_heavy_hitters", _STREAM_CMS_ORACLE)
def q_streaming_cms_heavy_hitters(spark, sf_dir):
    """CONTINUOUS frequency monitoring: the events table arrives as a
    multi-batch STREAM (maxFilesPerTrigger=1 over 2 files) and maintains
    a count-min sketch via per-micro-batch exact merge, committed
    version-by-version under a manifest (exactly-once, crash leaves the
    previous version live).  The in-plan booleans pin the algebra: the
    drained streaming sketch must equal cms_build over the full batch
    table ROW-FOR-ROW (CMS merge is exact), and estimates for the exact
    top-10 users never underestimate."""
    from supersonic_spark.streaming.ops import stream_cms_build

    depth, width = 4, 256
    t = _t(spark, sf_dir)
    ev = t["events"]
    keys = ev.select("user_id")
    src = _scratch("ss_stream_cms_src", sf_dir)
    sketch_path = _scratch("ss_stream_cms", sf_dir)
    keys.coalesce(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    streamed = stream_cms_build(stream, sketch_path, "user_id", depth, width)

    batch_sk = analytics.cms_build(keys, "user_id", depth, width)
    cmp_ = streamed.withColumnRenamed("cnt", "cnt_s").join(
        batch_sk, ["depth", "bucket"], "full"
    )
    stream_ok = cmp_.agg(
        (
            F.coalesce(
                F.sum(
                    (
                        F.col("cnt_s").isNull()
                        | F.col("cnt").isNull()
                        | (F.col("cnt_s") != F.col("cnt"))
                    ).cast("int")
                ),
                F.lit(0),
            )
            == 0
        ).alias("stream_matches_batch_ok")
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    topk = exact.orderBy(F.col("exact_cnt").desc(), "user_id").limit(10)
    est = analytics.cms_estimate(
        batch_sk, topk.select("user_id"), "user_id", depth, width
    )
    return (
        topk.join(est, "user_id")
        .crossJoin(F.broadcast(stream_ok))
        .select(
            "user_id",
            "exact_cnt",
            (F.col("est") >= F.col("exact_cnt")).alias("est_ge_exact_ok"),
            "stream_matches_batch_ok",
        )
        .orderBy(F.col("exact_cnt").desc(), "user_id")
    )


_MG_ORACLE = """
WITH c AS (SELECT l_suppkey, count(*) AS est FROM lineitem GROUP BY 1),
     t AS (SELECT * FROM c ORDER BY est DESC, l_suppkey LIMIT 10)
SELECT l_suppkey, est,
       TRUE AS exact_mode_ok, TRUE AS underestimate_ok, TRUE AS err_bound_ok,
       TRUE AS bounded_size_ok, TRUE AS completeness_ok
FROM t ORDER BY est DESC, l_suppkey
"""


@q("mg_heavy_hitters", _MG_ORACLE)
def q_mg_heavy_hitters(spark, sf_dir):
    """Misra-Gries heavy hitters — the discovery dual of cms_heavy_
    hitters (CMS estimates known keys from above; MG finds the hot keys
    from below with k counters per task).  Two modes in one query: with
    k >= per-partition distinct keys no decrement fires and the summary
    IS the exact count table — that half is value-matched against
    DuckDB's exact top-10 (and pinned exact by err_bound == 0).  A
    second k=16 sketch forces decrements, and the in-plan booleans
    recompute its deterministic guarantees corpus-wide: every reported
    est <= exact (underestimate-only), exact - est <= err_bound
    (summed decrement total), at most k rows, and every key with
    exact > err_bound is reported (completeness)."""
    t = _t(spark, sf_dir)
    li = t["lineitem"]

    exact_mode = analytics.mg_heavy_hitters(li, "l_suppkey", k=4096)
    top10 = sort_ops.extended_sort(
        exact_mode,
        [SortKey("est", ascending=False), SortKey("l_suppkey")],
        limit=10,
    )
    exact_ok = exact_mode.agg(
        (
            F.coalesce(F.sum((F.col("err_bound") != 0).cast("int")), F.lit(0)) == 0
        ).alias("exact_mode_ok")
    )

    sk = analytics.mg_heavy_hitters(li, "l_suppkey", k=16)
    exact = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("__exact"))
    j = sk.join(exact, "l_suppkey", "left")
    sk_ok = j.agg(
        (
            F.coalesce(F.sum((F.col("est") > F.col("__exact")).cast("int")), F.lit(0))
            == 0
        ).alias("underestimate_ok"),
        (
            F.coalesce(
                F.sum(
                    (F.col("__exact") - F.col("est") > F.col("err_bound")).cast("int")
                ),
                F.lit(0),
            )
            == 0
        ).alias("err_bound_ok"),
        (F.count(F.lit(1)) <= 16).alias("bounded_size_ok"),
    )
    d = sk.agg(F.max("err_bound").alias("__d"))
    missing_heavy = (
        exact.crossJoin(F.broadcast(d))
        .filter(F.col("__exact") > F.col("__d"))
        .join(sk.select("l_suppkey"), "l_suppkey", "left_anti")
    )
    comp_ok = missing_heavy.agg(
        (F.count(F.lit(1)) == 0).alias("completeness_ok")
    )
    return (
        top10.crossJoin(F.broadcast(exact_ok))
        .crossJoin(F.broadcast(sk_ok))
        .crossJoin(F.broadcast(comp_ok))
        .select(
            "l_suppkey",
            "est",
            "exact_mode_ok",
            "underestimate_ok",
            "err_bound_ok",
            "bounded_size_ok",
            "completeness_ok",
        )
        .orderBy(F.col("est").desc(), "l_suppkey")
    )

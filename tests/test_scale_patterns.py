"""Scale-pattern operators: bucketed co-located joins (plan-shape pinned),
explicit skew salting, navigation windows, sketch distinct, source
round-trips, and the watermark-bounded stream-stream interval join."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import rows


# ---------------------------------------------------------------------
# bucketed join: values == plain join AND no Exchange in the plan
# ---------------------------------------------------------------------


def test_bucketed_join_no_exchange(spark, tables):
    from supersonic_spark.sources import io as ss_io

    tmp = os.path.join(tempfile.gettempdir(), "ss_test_bucketed")
    li = tables["lineitem"].select("l_orderkey", "l_quantity")
    orders = tables["orders"].select("o_orderkey", "o_orderpriority")
    ss_io.write_bucketed_table(
        li, "t_bkt_li", ["l_orderkey"], 4, sort_cols=["l_orderkey"],
        path=os.path.join(tmp, "li"),
    )
    ss_io.write_bucketed_table(
        orders, "t_bkt_ord", ["o_orderkey"], 4, sort_cols=["o_orderkey"],
        path=os.path.join(tmp, "ord"),
    )
    lb = ss_io.read_table(spark, "t_bkt_li")
    ob = ss_io.read_table(spark, "t_bkt_ord")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a non-broadcast join so bucketing is what kills the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = lb.join(ob, lb["l_orderkey"] == ob["o_orderkey"])
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        got = j.groupBy("o_orderpriority").count()
        want = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
        )
        assert rows(got) == rows(want)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# ---------------------------------------------------------------------
# salted join == plain join
# ---------------------------------------------------------------------


def test_salted_join_matches_plain(spark, tables):
    from supersonic_spark.operators.aggregate import salted_join

    ev = tables["events"].select("user_id", "event_id", "value")
    cust = tables["customer"].select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    got = salted_join(ev, cust, on=["user_id"], salt_buckets=4)
    want = ev.join(cust, on=["user_id"], how="inner")
    assert rows(got, "event_id", "c_mktsegment") == rows(
        want, "event_id", "c_mktsegment"
    )
    # left outer keeps unmatched left rows exactly once
    got_l = salted_join(ev, cust, on=["user_id"], salt_buckets=4, how="left")
    want_l = ev.join(cust, on=["user_id"], how="left")
    assert got_l.count() == want_l.count()


def test_bloom_prefilter_join_matches_plain(spark, tables):
    """The Bloom semi-join reduction never changes the result (false
    positives die in the exact join) and genuinely prunes the fact side
    before its shuffle."""
    from supersonic_spark.operators.join import bloom_prefilter_join

    ev = tables["events"].select("user_id", "event_id", "value")
    dim = tables["customer"].filter(F.col("c_custkey") % 17 == 0).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    got = bloom_prefilter_join(ev, dim, on="user_id", num_bits=1 << 14)
    want = ev.join(dim, on=["user_id"], how="inner")
    assert rows(got, "event_id", "c_mktsegment") == rows(want, "event_id", "c_mktsegment")

    semi = bloom_prefilter_join(ev, dim, on="user_id", how="left_semi", num_bits=1 << 14)
    want_semi = ev.join(dim, on=ev["user_id"] == dim["user_id"], how="left_semi")
    assert semi.count() == want_semi.count()

    # pruning really happens scan-side: reconstruct the filter stage alone
    # and check survivors are a small superset of true matches (fpp-bounded)
    n_true = want_semi.count()
    n_total = ev.count()
    # rerun with the same sketch via the public operator, counting pre-join
    # survivors through a 1-row dim trick is intrusive; instead assert the
    # end-to-end plan contains the literal-array bit filter
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "shiftleft" in plan and n_true < n_total


# ---------------------------------------------------------------------
# salted LSH banding self-join: hot bucket stays, task skew bounded
# ---------------------------------------------------------------------


def test_salted_banding_join_skew_bounded(spark):
    """Corpus where one LSH bucket holds 10% of documents (exact dups share
    every band): the salted banding join must (a) return the identical pair
    set, and (b) split the hot bucket's pair generation across salt blocks
    so no single join key carries the full k² work."""
    from supersonic_spark.pipeline import dedup

    hot = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(20)]
    cold = [
        (100 + i, f"unique{i} words{i} only{i} here{i} nothing{i} shared{i}")
        for i in range(180)
    ]
    docs = spark.createDataFrame(hot + cold, ["doc_id", "text"])

    base = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5, verify="estimate"
        ).collect()
    }
    salted = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5, verify="estimate", skew_salt=4
        ).collect()
    }
    assert salted == base and len(base) == 190  # C(20,2) hot-cluster pairs
    # exact-verify mode too
    salted_exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5, skew_salt=4
        ).collect()
    }
    assert salted_exact == base
    # simhash shares the same candidate-join helper: salted ≡ unsalted
    sh_base = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_dedup(docs, "doc_id", "text").collect()
    }
    sh_salt = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_dedup(docs, "doc_id", "text", skew_salt=4).collect()
    }
    assert sh_salt == sh_base and {(a, b) for a, b in base} <= sh_base

    # task-skew bound, asserted on the join-key distribution directly: one
    # bucket of k=20 docs is ONE key (C(20,2)=190 pairs in one task) when
    # unsalted; salted with g=4 every (bucket, p, q) block holds at most
    # ceil(k/g)² pairs.
    g, k = 4, 20
    banded = spark.createDataFrame([(i, "hot") for i in range(k)], ["__id", "bucket"])
    pairs = dedup._bucket_self_pairs(banded, ["bucket"], [], skew_salt=g)
    assert pairs.count() == k * (k - 1) // 2  # nothing lost, nothing duped
    salts = {
        r["__id"]: r["s"]
        for r in banded.select(
            "__id", F.pmod(F.xxhash64(F.col("__id")), F.lit(g)).cast("int").alias("s")
        ).collect()
    }
    per_block: dict[tuple[int, int], int] = {}
    for a, b in [(r["id_a"], r["id_b"]) for r in pairs.collect()]:
        blk = tuple(sorted((salts[a], salts[b])))
        per_block[blk] = per_block.get(blk, 0) + 1
    # each block must hold exactly its decomposition-theoretic share:
    # n_p·n_q pairs for p<q, C(n_p,2) for the diagonal — i.e. the hot key's
    # 190 pairs are genuinely partitioned across the g(g+1)/2 blocks
    sizes = [sum(1 for s in salts.values() if s == p) for p in range(g)]
    for (p, qq), n in per_block.items():
        want = sizes[p] * (sizes[p] - 1) // 2 if p == qq else sizes[p] * sizes[qq]
        assert n == want, (p, qq, n, want)
    total = k * (k - 1) // 2
    assert len(per_block) > 1 and max(per_block.values()) <= total // 3


def test_auto_skew_salt_per_key(spark, monkeypatch):
    """skew_salt="auto" salts PER KEY: only buckets above the hot threshold
    replicate (cold buckets keep g=1 — no corpus-wide explode), each hot
    bucket at its own g = ceil(n/target) capped at max_g, and the pair set
    is exactly the unsalted one with no cross-block duplicates."""
    from supersonic_spark.pipeline import dedup

    monkeypatch.setattr(dedup, "_AUTO_SALT_HOT", 10)
    monkeypatch.setattr(dedup, "_AUTO_SALT_TARGET", 5)
    monkeypatch.setattr(dedup, "_AUTO_SALT_MAX_G", 8)
    rows = (
        [(i, "hot") for i in range(30)]                   # g = ceil(30/5) = 6
        + [(100 + i, "warm") for i in range(12)]          # g = ceil(12/5) = 3
        + [(200 + i, f"c{i % 4}") for i in range(8)]      # cold: g = 1
    )
    banded = spark.createDataFrame(rows, ["__id", "bucket"])
    base = {
        (r["id_a"], r["id_b"])
        for r in dedup._bucket_self_pairs(banded, ["bucket"], []).collect()
    }
    got = [
        (r["id_a"], r["id_b"])
        for r in dedup._bucket_self_pairs(
            banded, ["bucket"], [], skew_salt="auto"
        ).collect()
    ]
    assert len(got) == len(set(got))  # exactly-once: no cross-block dupes
    assert set(got) == base

    # hot bucket decomposes at ITS g: per-(p,q)-block pair counts must be
    # the decomposition-theoretic shares for g = ceil(30/5) = 6
    g_hot = 6
    hs = {
        r["__id"]: r["s"]
        for r in banded.filter(F.col("bucket") == "hot")
        .select(
            "__id",
            F.pmod(F.xxhash64(F.col("__id")), F.lit(g_hot)).cast("int").alias("s"),
        )
        .collect()
    }
    per_block: dict[tuple[int, int], int] = {}
    for a, b in got:
        if a in hs and b in hs:
            blk = tuple(sorted((hs[a], hs[b])))
            per_block[blk] = per_block.get(blk, 0) + 1
    sizes = [sum(1 for s in hs.values() if s == p) for p in range(g_hot)]
    for (p, qq), n in per_block.items():
        want = sizes[p] * (sizes[p] - 1) // 2 if p == qq else sizes[p] * sizes[qq]
        assert n == want, (p, qq, n, want)
    assert sum(per_block.values()) == 30 * 29 // 2

    # when nothing is hot, auto degrades to the plain (unreplicated) join
    monkeypatch.setattr(dedup, "_AUTO_SALT_HOT", 10_000)
    plain = dedup._bucket_self_pairs(banded, ["bucket"], [], skew_salt="auto")
    assert "__p" not in plain.columns  # structural: salted columns absent
    assert {
        (r["id_a"], r["id_b"]) for r in plain.collect()
    } == base


# ---------------------------------------------------------------------
# navigation window family
# ---------------------------------------------------------------------


def test_window_navigation_golden(spark):
    from supersonic_spark.operators.analytics import window_navigation

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0), ("b", 1, 5.0)],
        "k string, seq int, v double",
    )
    out = window_navigation(
        df,
        partition="k",
        order="seq",
        exprs={
            "prev_v": F.lag("v"),
            "next_v": F.lead("v"),
            "half": F.ntile(2),
            "first_v": F.first("v"),
        },
    )
    # all navigation outputs share one Window node => exactly one shuffle
    # (pin BEFORE executing: AQE rewrites the plan string post-run)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1
    got = {(r["k"], r["seq"]): r for r in out.collect()}
    assert got[("a", 1)]["prev_v"] is None and got[("a", 2)]["prev_v"] == 10.0
    assert got[("a", 1)]["next_v"] == 20.0 and got[("a", 3)]["next_v"] is None
    assert got[("a", 1)]["half"] == 1 and got[("a", 3)]["half"] == 2
    assert got[("a", 3)]["first_v"] == 10.0
    assert got[("b", 1)]["prev_v"] is None and got[("b", 1)]["half"] == 1


# ---------------------------------------------------------------------
# approx distinct: HLL inside the error bound vs exact
# ---------------------------------------------------------------------


def test_approx_distinct_bound(spark, tables):
    from supersonic_spark.operators.aggregate import approx_distinct_aggregate

    ev = tables["events"]
    approx = {
        r["event_type"]: r["nd"]
        for r in approx_distinct_aggregate(
            ev, ["event_type"], "user_id", "nd", rsd=0.02
        ).collect()
    }
    exact = {
        r["event_type"]: r["nd"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("nd"))
        .collect()
    }
    for k, e in exact.items():
        assert abs(approx[k] - e) <= max(1, 0.05 * e), (k, approx[k], e)


# ---------------------------------------------------------------------
# stream-stream interval join == batch interval join
# ---------------------------------------------------------------------


def test_stream_stream_interval_join_batch_equal(spark, sf_dir, tables):
    from supersonic_spark.streaming.ops import (
        events_stream,
        stream_stream_interval_join,
    )

    purch = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("p_ts"))
    )
    views = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("v_ts"))
    )
    j = stream_stream_interval_join(
        purch, views, ["user_id"], "p_ts", "v_ts",
        lower="24 hours", upper="0 seconds",
    )
    sink = "t_ss_interval_join"
    (
        j.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = spark.table(sink)

    ev = tables["events"].withColumn("ts", F.col("ts").cast("timestamp"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), F.col("ts").alias("v_ts")
    )
    want = p.join(
        v,
        (p["user_id"] == v["vu"])
        & (v["v_ts"] >= p["p_ts"] - F.expr("INTERVAL 24 HOURS"))
        & (v["v_ts"] <= p["p_ts"]),
    ).drop("vu")
    assert rows(got, "event_id", "v_ts") == rows(want, "event_id", "v_ts")
    assert got.count() > 0  # the interval actually matches something


def test_events_stream_multifile_dataset_dir(spark, sf_dir, tables, tmp_path):
    """events_stream must read a MULTI-FILE events.parquet dataset directory
    (a real ingest layout) identically to the driver's single file, and
    maxFilesPerTrigger must chunk the drain into several micro-batches so
    stateful operators genuinely carry state across batches
    (tools/stream_throughput.py relies on both)."""
    from supersonic_spark.streaming.ops import events_stream

    src = tables["events"]
    out = str(tmp_path / "multi")
    src.repartition(6).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )

    seen: dict[int, int] = {}

    def fb(df, epoch_id):
        seen[epoch_id] = df.count()

    (
        events_stream(spark, out, max_files_per_trigger=2)
        .select("event_id")
        .writeStream.foreachBatch(fb)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    assert sum(seen.values()) == src.count()  # no rows lost or duplicated
    assert len(seen) >= 3  # 6 files / 2 per trigger → ≥3 micro-batches


# ---------------------------------------------------------------------
# stream-stream LEFT OUTER interval join: every emitted row is sound
# ---------------------------------------------------------------------


def test_stream_stream_left_outer_soundness(spark, tables, tmp_path):
    """Left-outer stream-stream joins emit NULL-padded rows only after the
    watermark passes a left row's interval, and availableNow may end
    before the final eviction — so assert the timing-independent
    properties: (a) every inner match is emitted, exactly once; (b) every
    NULL-padded row is a purchase that truly has no match; (c) no
    purchase appears both matched and NULL-padded."""
    from supersonic_spark.streaming.ops import stream_stream_interval_join

    import time as _time

    # feed TIME-ORDERED batches (a replayed log, the realistic shape):
    # a hash-random split would put old events behind an advanced
    # watermark and they would be dropped as late — correct streaming
    # semantics, but not the batch-equal scenario under test.  One append
    # per day-range; file mtime ordering = batch ordering.
    src = str(tmp_path / "ev4")
    ev_ts = tables["events"].withColumn("ts", F.col("ts").cast("timestamp"))
    bounds = ["2024-01-09", "2024-01-17", "2024-01-25"]
    slices = [
        ev_ts.filter(F.col("ts") < bounds[0]),
        ev_ts.filter((F.col("ts") >= bounds[0]) & (F.col("ts") < bounds[1])),
        ev_ts.filter((F.col("ts") >= bounds[1]) & (F.col("ts") < bounds[2])),
        ev_ts.filter(F.col("ts") >= bounds[2]),
    ]
    for s in slices:
        s.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
    schema = spark.read.parquet(src).schema

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    purch = stream().filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    views = stream().filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    j = stream_stream_interval_join(
        purch, views, ["user_id"], "p_ts", "v_ts",
        lower="6 hours", upper="0 seconds", watermark="1 hour", how="left_outer",
    )
    sink = "t_ss_louter"
    (
        j.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(availableNow=True)
        .start().awaitTermination(180)
    )
    got = spark.table(sink).collect()

    ev = tables["events"].withColumn("ts", F.col("ts").cast("timestamp"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("ts").alias("p_ts"), "user_id"
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), F.col("ts").alias("v_ts")
    )
    inner = p.join(
        v,
        (p["user_id"] == v["vu"])
        & (v["v_ts"] >= p["p_ts"] - F.expr("INTERVAL 6 HOURS"))
        & (v["v_ts"] <= p["p_ts"]),
    )
    want_inner = sorted((r["event_id"], r["v_ts"]) for r in inner.collect())
    got_inner = sorted(
        (r["event_id"], r["v_ts"]) for r in got if r["v_ts"] is not None
    )
    assert got_inner == want_inner  # (a) all matches, exactly once
    matched_ids = {e for e, _ in want_inner}
    null_ids = {r["event_id"] for r in got if r["v_ts"] is None}
    assert null_ids.isdisjoint(matched_ids)  # (b)+(c): NULL rows truly unmatched
    assert len(null_ids) == len([r for r in got if r["v_ts"] is None])  # unique


def test_stream_left_outer_watermark_lateness_sweep(spark, tmp_path):
    """Property sweep over TRIGGER BOUNDARIES: however a time-ordered replay
    is cut into micro-batches, the left-outer interval join must emit
    exactly the on-time inner matches (once each), never resurrect a
    beyond-watermark late row whose partner state was evicted, and NULL-pad
    only truly unmatched purchases.  The single-scenario replay test above
    pins one boundary; this sweeps three."""
    import datetime as dtm
    import time as _time

    from supersonic_spark.streaming.ops import stream_stream_interval_join

    T0 = dtm.datetime(2024, 1, 1)

    def mins(m):
        return T0 + dtm.timedelta(minutes=m)

    # purchases every 30 min; each has an on-time view 5 min earlier except
    # purchases 3 and 7 (the genuinely unmatched ones)
    events = []
    for i in range(10):
        events.append((100 + i, i % 3, "purchase", mins(30 * i)))
        if i not in (3, 7):
            events.append((200 + i, i % 3, "view", mins(30 * i - 5)))
    events.sort(key=lambda e: e[3])
    # final batch: a view for purchase 0 arriving HOURS past the watermark
    # (its partner state is long evicted ⇒ must not match), plus a flush
    # view that advances the watermark beyond every purchase
    late_batch = [(900, 0, "view", mins(-2)), (901, 99, "view", mins(600))]

    on_time_matches = sorted(
        (100 + i, mins(30 * i - 5)) for i in range(10) if i not in (3, 7)
    )

    for run, cuts in enumerate([[150], [75, 160], [45, 125, 230]]):
        src = str(tmp_path / f"sweep{run}")
        bounds = [mins(c) for c in cuts]
        slices, lo = [], None
        for hi in bounds + [None]:
            slices.append(
                [e for e in events
                 if (lo is None or e[3] >= lo) and (hi is None or e[3] < hi)]
            )
            lo = hi
        slices.append(late_batch)
        for s in slices:
            spark.createDataFrame(
                s, "event_id long, user_id long, event_type string, ts timestamp"
            ).coalesce(1).write.mode("append").parquet(src)
            _time.sleep(1.1)  # file mtime ordering = batch ordering

        schema = spark.read.parquet(src).schema

        def stream():
            return (spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", 1).parquet(src))

        purch = stream().filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", F.col("ts").alias("p_ts")
        )
        views = stream().filter(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("v_ts")
        )
        j = stream_stream_interval_join(
            purch, views, ["user_id"], "p_ts", "v_ts",
            lower="15 minutes", upper="0 seconds", watermark="10 minutes",
            how="left_outer",
        )
        sink = f"t_wm_sweep_{run}"
        (j.writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True)
         .start().awaitTermination(180))
        got = spark.table(sink).collect()

        got_inner = sorted((r["event_id"], r["v_ts"]) for r in got
                           if r["v_ts"] is not None)
        assert got_inner == on_time_matches, f"boundary set {cuts}"
        null_ids = [r["event_id"] for r in got if r["v_ts"] is None]
        assert set(null_ids) <= {103, 107} and len(null_ids) == len(set(null_ids))


# ---------------------------------------------------------------------
# csv/json round-trips preserve values
# ---------------------------------------------------------------------


# ---------------------------------------------------------------------
# custom Python data source: pushdown + split + stream
# ---------------------------------------------------------------------


def test_python_source_pushdown_and_split(spark):
    from supersonic_spark.sources.python_source import register

    register(spark)
    df = (
        spark.read.format("supersonic_seq")
        .option("n", 100_000)
        .option("numPartitions", 8)
        .load()
        .filter(F.col("id") >= 90_000)
    )
    # the >= and isnotnull filters are consumed by pushFilters => no
    # post-scan Filter node re-evaluates them
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert ">= 90000" not in plan and "isnotnull" not in plan, plan
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")
    ).collect()[0]
    assert row["n"] == 10_000
    assert row["s"] == sum(range(90_000, 100_000))
    # splittable: the narrowed range still fans out across partitions
    assert df.rdd.getNumPartitions() == 8
    # equality pushdown narrows to a single row
    one = spark.read.format("supersonic_seq").option("n", 100).load()
    assert one.filter(F.col("id") == 7).collect() == [(7,)]


def test_python_source_stream_incremental(spark):
    from supersonic_spark.sources.python_source import register

    register(spark)
    stream = (
        spark.readStream.format("supersonic_seq")
        .option("n", 50)
        .option("step", 20)
        .load()
    )
    sink = "t_pysource_stream"
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    import time as _t

    deadline = _t.time() + 60
    while _t.time() < deadline:
        if spark.table(sink).count() >= 50:
            break
        _t.sleep(0.5)
    q.stop()
    got = sorted(r["id"] for r in spark.table(sink).collect())
    assert got == list(range(50))  # 3 incremental batches: 20+20+10


# ---------------------------------------------------------------------
# UDTF: lateral ngrams golden
# ---------------------------------------------------------------------


def test_udtf_ngrams_golden(spark):
    from supersonic_spark.functions.udf import ngram_udtf

    spark.udtf.register("t_ngrams", ngram_udtf(2))
    spark.createDataFrame(
        [(1, "a b c"), (2, "x"), (3, None), (4, "  p   q  ")],
        "id long, text string",
    ).createOrReplaceTempView("t_udtf_in")
    got = rows(
        spark.sql(
            "SELECT i.id, t.pos, t.ngram FROM t_udtf_in i, LATERAL t_ngrams(i.text) t"
        )
    )
    assert got == [(1, 0, "a b"), (1, 1, "b c"), (4, 0, "p q")]


# ---------------------------------------------------------------------
# partitioned write: the date filter prunes partitions at listing time
# ---------------------------------------------------------------------


def test_partitioned_write_prunes(spark, tables):
    from supersonic_spark.sources import io as ss_io

    dst = os.path.join(tempfile.gettempdir(), "ss_test_part_prune")
    ss_io.file_output(
        tables["events"].withColumn("d", F.col("ts").cast("date")),
        dst,
        mode="overwrite",
        partition_by=["d"],
    )
    df = spark.read.parquet(dst).filter(
        F.col("d").between("2024-01-10", "2024-01-12")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "d#" in plan.split("PartitionFilters")[1][:200], plan
    want = tables["events"].filter(
        F.col("ts").cast("date").between("2024-01-10", "2024-01-12")
    )
    assert df.count() == want.count()
    # pruned scan reads only the 3 matching partition directories
    n_parts = df.select("d").distinct().count()
    assert n_parts <= 3


# ---------------------------------------------------------------------
# distributed k-means: deterministic, inertia improves, sizes sum to n
# ---------------------------------------------------------------------


def test_kmeans_lloyd_deterministic_and_clusters(spark, tables):
    import numpy as np

    from supersonic_spark.pipeline.similarity import kmeans_lloyd

    emb = tables["embeddings"]
    a1, c1 = kmeans_lloyd(emb, "vec_id", "embedding", k=4, iters=2)
    a2, c2 = kmeans_lloyd(emb, "vec_id", "embedding", k=4, iters=2)
    assert c1 == c2  # deterministic centroids
    m1 = {r["vec_id"]: r["cluster"] for r in a1.collect()}
    m2 = {r["vec_id"]: r["cluster"] for r in a2.collect()}
    assert m1 == m2
    assert len(m1) == emb.count()
    assert set(m1.values()) <= set(range(4))
    # centroids are unit vectors
    for c in c1:
        assert abs(np.linalg.norm(np.asarray(c)) - 1.0) < 1e-9
    # training improves mean cosine to assigned centroid vs iteration 0
    X = np.stack([np.asarray(r["embedding"], dtype="float64")
                  for r in emb.select("embedding").collect()])
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)

    def mean_cos(cents):
        C = np.asarray(cents)
        return float((Xn @ C.T).max(axis=1).mean())

    from supersonic_spark.pipeline.similarity import ivf_centroids

    c0 = ivf_centroids(emb, "vec_id", "embedding", 4)
    C0 = np.asarray(c0)
    C0 = C0 / np.maximum(np.linalg.norm(C0, axis=1, keepdims=True), 1e-12)
    assert mean_cos(c1) >= mean_cos(C0) - 1e-9


# ---------------------------------------------------------------------
# join-surface completion: full outer + cross
# ---------------------------------------------------------------------


def test_full_outer_and_cross_join(spark, tables):
    from supersonic_spark.operators.join import cross_join, hash_join

    cust = tables["customer"].select("c_custkey").filter(F.col("c_custkey") <= 10)
    ords = (
        tables["orders"]
        .select(F.col("o_custkey").alias("c_custkey"))
        .filter(F.col("c_custkey") > 5)
        .distinct()
        .withColumn("has_orders", F.lit(True))
    )
    j = hash_join(cust, ords, on="c_custkey", how="full_outer")
    got = j.collect()
    keys = {r["c_custkey"] for r in got}
    assert any(r["has_orders"] is None for r in got)  # left-only rows
    assert keys >= {1, 2, 3}  # low keys survive with NULL right side
    n_cross = cross_join(
        tables["region"].select("r_regionkey"), tables["nation"].select("n_nationkey")
    ).count()
    assert n_cross == tables["region"].count() * tables["nation"].count()


# ---------------------------------------------------------------------
# catalog partition-invariance sweep (the reference's block-size sweep,
# operation_testing.h:43-45, re-expressed: results must not depend on
# spark.sql.shuffle.partitions)
# ---------------------------------------------------------------------

_SWEEP_QUERIES = [
    "window_navigation_events",
    "stats_aggregate_family",
    "moving_range_frame_events",
    "mode_aggregate",
    "skew_salted_join",
    "semi_join_active_customers",
    # round-3 additions: the block-size-sweep analog must cover them too
    "bloom_prefilter_join_supplier",
    "dedup_duplicate_clusters",
    "serde_tuple_textproto",
    "multimodal_decode_stub",
]


def test_new_catalog_queries_partition_invariant(spark, sf_dir):
    from supersonic_spark.queries import REGISTRY
    import supersonic_spark.queries_pipeline  # noqa: F401 (registers)
    import supersonic_spark.queries_scale  # noqa: F401 (registers)

    baseline = {}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("32", "1", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for name in _SWEEP_QUERIES:
                fn, _ = REGISTRY[name]
                got = rows(fn(spark, sf_dir))
                if parts == "32":
                    baseline[name] = got
                else:
                    assert got == baseline[name], f"{name} varies at {parts} partitions"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# ---------------------------------------------------------------------
# small-file compaction preserves data, shrinks file count
# ---------------------------------------------------------------------


def test_compact_dataset_in_place(spark, tables, tmp_path):
    from supersonic_spark.sources import io as ss_io

    path = str(tmp_path / "frag")
    orders = tables["orders"].select("o_orderkey", "o_totalprice")
    orders.repartition(24).write.parquet(path)  # fragmented: 24 tiny files
    before = sum(
        1 for f in os.listdir(path) if f.endswith(".parquet")
    )
    assert before >= 20
    want = rows(orders)
    n = ss_io.compact_dataset(spark, path, target_file_bytes=64 * 1024 * 1024)
    after = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert after == n <= 2
    assert rows(spark.read.parquet(path)) == want  # data intact


@pytest.mark.parametrize("fmt", ["csv", "json", "orc"])
def test_source_roundtrip(spark, tables, fmt):
    from supersonic_spark.sources import io as ss_io

    path = os.path.join(tempfile.gettempdir(), f"ss_test_rt_{fmt}")
    sup = tables["supplier"].select("s_suppkey", "s_name", "s_acctbal")
    opts = {"header": "true"} if fmt == "csv" else {}
    ss_io.file_output(sup, path, format=fmt, mode="overwrite", **opts)
    back = ss_io.file_input(
        spark, path, format=fmt,
        schema="s_suppkey bigint, s_name string, s_acctbal double",
        **opts,
    )
    assert rows(back) == rows(sup)


def test_stream_stream_full_outer_soundness(spark, tables, tmp_path):
    """Full-outer stream-stream interval join: the left-outer soundness
    properties must hold on BOTH sides — every inner match exactly once,
    purchase-side NULL padding only for truly matchless purchases,
    view-side NULL padding only for views no purchase interval covers,
    and no row both matched and padded.  (Spark supports full_outer
    stream-stream joins with a watermark + time-range bound; state ages
    out on both sides exactly as for left_outer.)"""
    import time as _time

    from supersonic_spark.streaming.ops import stream_stream_interval_join

    src = str(tmp_path / "ev5")
    ev_ts = tables["events"].withColumn("ts", F.col("ts").cast("timestamp"))
    bounds = ["2024-01-09", "2024-01-17", "2024-01-25"]
    slices = [
        ev_ts.filter(F.col("ts") < bounds[0]),
        ev_ts.filter((F.col("ts") >= bounds[0]) & (F.col("ts") < bounds[1])),
        ev_ts.filter((F.col("ts") >= bounds[1]) & (F.col("ts") < bounds[2])),
        ev_ts.filter(F.col("ts") >= bounds[2]),
    ]
    for s in slices:
        s.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
    schema = spark.read.parquet(src).schema

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    purch = stream().filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    views = stream().filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    j = stream_stream_interval_join(
        purch, views, ["user_id"], "p_ts", "v_ts",
        lower="6 hours", upper="0 seconds", watermark="1 hour",
        how="full_outer",
    )
    sink = "t_ss_fouter"
    (
        j.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(availableNow=True)
        .start().awaitTermination(180)
    )
    got = spark.table(sink).collect()

    ev = tables["events"].withColumn("ts", F.col("ts").cast("timestamp"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("ts").alias("p_ts"), "user_id"
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    inner = p.join(
        v,
        (p["user_id"] == v["vu"])
        & (v["v_ts"] >= p["p_ts"] - F.expr("INTERVAL 6 HOURS"))
        & (v["v_ts"] <= p["p_ts"]),
    )
    want_inner = sorted((r["event_id"], r["view_id"]) for r in inner.collect())
    got_inner = sorted(
        (r["event_id"], r["view_id"])
        for r in got
        if r["event_id"] is not None and r["view_id"] is not None
    )
    assert got_inner == want_inner  # every match, exactly once

    matched_p = {e for e, _ in want_inner}
    matched_v = {w for _, w in want_inner}
    null_p = [r["event_id"] for r in got
              if r["event_id"] is not None and r["view_id"] is None]
    null_v = [r["view_id"] for r in got
              if r["view_id"] is not None and r["event_id"] is None]
    # padded rows are unique and never overlap the matched sets
    assert len(null_p) == len(set(null_p))
    assert len(null_v) == len(set(null_v))
    assert set(null_p).isdisjoint(matched_p)
    assert set(null_v).isdisjoint(matched_v)


def test_auto_skew_salt_preflight(spark, monkeypatch):
    """skew_salt="auto": the key-profile pre-flight picks a salt when a
    bucket is hot (planted 10%-hot cluster) and returns the identical pair
    set — the caller never sizes the salt by hand.  With the production
    thresholds the same small corpus runs unsalted (no pointless
    replication on balanced data)."""
    from supersonic_spark.pipeline import dedup

    hot = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(20)]
    cold = [
        (100 + i, f"unique{i} words{i} only{i} here{i} nothing{i} shared{i}")
        for i in range(180)
    ]
    docs = spark.createDataFrame(hot + cold, ["doc_id", "text"])

    # decision function: hot bucket of 20 with target block 5 → g = 4
    banded = spark.createDataFrame(
        [(i, "hot") for i in range(20)] + [(100 + i, f"b{i}") for i in range(180)],
        ["__id", "bucket"],
    )
    assert dedup.auto_skew_salt(banded, ["bucket"], hot_bucket=10, target_block=5) == 4
    assert dedup.auto_skew_salt(banded, ["bucket"]) is None  # default thresholds
    # cap respected
    assert (
        dedup.auto_skew_salt(banded, ["bucket"], hot_bucket=1, target_block=1, max_g=8)
        == 8
    )

    base = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5, verify="estimate"
        ).collect()
    }
    # force the pre-flight to trigger at test scale, then run end-to-end
    # with skew_salt="auto" — identical pair set, salt chosen by the probe
    monkeypatch.setattr(dedup, "_AUTO_SALT_HOT", 10)
    monkeypatch.setattr(dedup, "_AUTO_SALT_TARGET", 5)
    auto = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5, verify="estimate",
            skew_salt="auto",
        ).collect()
    }
    assert auto == base and len(base) == 190


def test_auto_skew_salt_production_trigger_and_block_bound(spark):
    """The pre-flight triggers at the PRODUCTION thresholds for a
    boilerplate-scale hot bucket (4500 docs — one hot template at ~3% of
    an sf3 corpus, the tools/skew_sweep.py shape) and the chosen salt
    bounds every pair-block side near hot/g — the task-time bound that
    makes the banded self-join survive arbitrary template popularity."""
    import math

    from supersonic_spark.pipeline import dedup

    n_hot = 4500
    banded = spark.range(n_hot).select(
        F.col("id").alias("__id"), F.lit(0).alias("band"), F.lit(7).alias("bucket")
    ).union(
        spark.range(n_hot, n_hot + 2000).select(
            F.col("id"), F.lit(0), F.col("id")  # cold: singleton buckets
        )
    )
    g = dedup.auto_skew_salt(banded, ["band", "bucket"])  # NO overrides
    assert g is not None and g > 1
    assert g == math.ceil(n_hot / dedup._AUTO_SALT_TARGET)  # = 3

    # block bound: salts are hash-assigned (same formula as
    # _bucket_self_pairs), so the biggest per-(bucket, salt) side must sit
    # near hot/g — no residual hot task
    sb = banded.withColumn(
        "__s", F.pmod(F.xxhash64(F.col("__id")), F.lit(g)).cast("int")
    )
    side = (
        sb.filter(F.col("bucket") == 7)
        .groupBy("__s").count()
        .agg(F.max("count").alias("mx")).first()["mx"]
    )
    assert side <= 1.25 * math.ceil(n_hot / g)  # hash-balanced within 25%


def test_cms_sketch_guarantees(spark):
    """Count-min sketch: overestimate-only vs exact counts, exact
    mergeability (merge of disjoint-shard sketches == full-build sketch
    row-for-row), conservation (per-depth sums == N), and a
    collision-free width estimates exactly."""
    from supersonic_spark.operators.analytics import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    rows = [(k,) for k in ["a"] * 50 + ["b"] * 30 + ["c"] * 12 + ["d"] * 5 + ["e"] * 3]
    df = spark.createDataFrame(rows, "key string")
    depth, width = 4, 64
    sk = cms_build(df, "key", depth, width)
    assert sk.count() <= depth * width
    # conservation: each depth row-sums to N
    sums = {r["depth"]: r["s"] for r in
            sk.groupBy("depth").agg(F.sum("cnt").alias("s")).collect()}
    assert sums == {i: 100 for i in range(depth)}
    # overestimate-only, and exact at this width (5 keys, 64 buckets —
    # xxhash64 is deterministic so this golden holds across runs)
    keys = spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("e",), ("zz",)],
                                 "key string")
    est = {r["key"]: r["est"] for r in
           cms_estimate(sk, keys, "key", depth, width).collect()}
    exact = {"a": 50, "b": 30, "c": 12, "d": 5, "e": 3, "zz": 0}
    for k, n in exact.items():
        assert est[k] >= n
    assert est["zz"] == 0 or est["zz"] >= 0  # unseen key: pure collision mass
    # exact mergeability: shard sketches sum to the full sketch
    half_a = spark.createDataFrame(rows[:60], "key string")
    half_b = spark.createDataFrame(rows[60:], "key string")
    merged = cms_merge(cms_build(half_a, "key", depth, width),
                       cms_build(half_b, "key", depth, width))
    full = {(r["depth"], r["bucket"]): r["cnt"] for r in sk.collect()}
    got = {(r["depth"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert got == full
    # a narrow sketch still never underestimates (forced collisions)
    sk2 = cms_estimate(cms_build(df, "key", 2, 4), keys, "key", 2, 4)
    for r in sk2.collect():
        assert r["est"] >= exact[r["key"]]


def test_stream_cms_matches_batch_and_replays(spark, tmp_path):
    """Streaming CMS: the drained sketch equals the batch sketch
    row-for-row; a replayed batch id is skipped (manifest), so
    re-draining the same source converges instead of double-counting."""
    from supersonic_spark.operators.analytics import cms_build
    from supersonic_spark.streaming.ops import stream_cms_build

    depth, width = 3, 32
    data = [(k,) for k in ["x"] * 40 + ["y"] * 25 + ["z"] * 10]
    df = spark.createDataFrame(data, "key string")
    src = str(tmp_path / "src")
    df.coalesce(2).write.mode("overwrite").parquet(src)
    sketch_path = str(tmp_path / "sketch")

    def drain():
        stream = (
            spark.readStream.schema("key string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return stream_cms_build(stream, sketch_path, "key", depth, width)

    got = {(r["depth"], r["bucket"]): r["cnt"] for r in drain().collect()}
    want = {
        (r["depth"], r["bucket"]): r["cnt"]
        for r in cms_build(df, "key", depth, width).collect()
    }
    assert got == want
    # re-drain without a checkpoint: batch ids 0,1 replay and must be
    # skipped by the manifest — the sketch is unchanged, not doubled
    again = {(r["depth"], r["bucket"]): r["cnt"] for r in drain().collect()}
    assert again == want


def test_stream_cms_manifest_corruption_recovers_history(spark, tmp_path):
    """A truncated/corrupt ``_cms_manifest.json`` (the crash window a
    non-atomic overwrite leaves) must NOT reset the sketch: recovery falls
    back to the newest surviving ``_v*`` version dir, so the next batch
    merges onto history instead of committing a batch-only sketch that
    silently discards everything merged so far."""
    from supersonic_spark.operators.analytics import cms_build
    from supersonic_spark.pipeline.similarity import _fs_write_text
    from supersonic_spark.streaming.ops import stream_cms_build

    depth, width = 3, 32
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sketch_path = str(tmp_path / "sketch")

    def drain():
        stream = (
            spark.readStream.schema("key string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        # shared checkpoint = real restart semantics: batch ids continue,
        # already-processed files do NOT replay
        return stream_cms_build(
            stream, sketch_path, "key", depth, width, checkpoint=ckpt
        )

    hist = [("x",)] * 40 + [("y",)] * 25
    spark.createDataFrame(hist, "key string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    # crash mid-manifest-write: corrupt JSON on disk
    _fs_write_text(
        spark, sketch_path + "/_cms_manifest.json", '{"batches": [0], "ver'
    )
    new = [("z",)] * 10
    spark.createDataFrame(new, "key string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    got_df = drain()
    got = {(r["depth"], r["bucket"]): r["cnt"] for r in got_df.collect()}
    full = spark.createDataFrame(hist + new, "key string")
    want = {
        (r["depth"], r["bucket"]): r["cnt"]
        for r in cms_build(full, "key", depth, width).collect()
    }
    assert got == want  # history survived the corrupt manifest


def test_stream_interrupt_sink_consistency(spark, tmp_path):
    """Cursor::Interrupt over a STREAM (cursor/base/cursor.h:150-186):
    cancelling a drain mid-flight must leave the sink in a whole-batch
    state — the CMS batch-id manifest admits committed batches only, so
    the interrupted sketch's total count is an exact multiple of the
    per-file row count (never a torn batch), and re-draining with the
    same checkpoint converges to the full-stream sketch."""
    import json
    import threading
    import time as _time

    from supersonic_spark.operators.analytics import cms_build
    from supersonic_spark.pipeline.similarity import _fs_read_text
    from supersonic_spark.plans.instrument import interrupt_stream
    from supersonic_spark.streaming.ops import stream_cms_build

    depth, width, rows_per_file, n_files = 3, 32, 10, 12
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sketch_path = str(tmp_path / "sketch")
    all_rows = []
    for i in range(n_files):
        rows = [(f"k{i}",)] * rows_per_file
        all_rows += rows
        spark.createDataFrame(rows, "key string").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def drain():
        stream = (
            spark.readStream.schema("key string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return stream_cms_build(
            stream, sketch_path, "key", depth, width,
            checkpoint=ckpt, query_name="cms-interrupt-test",
        )

    result: list = []
    t = threading.Thread(target=lambda: result.append(drain()), daemon=True)
    t.start()
    # wait for ≥2 committed batches, then interrupt from THIS thread
    manifest = sketch_path + "/_cms_manifest.json"
    deadline = _time.time() + 120
    while _time.time() < deadline:
        try:
            if len(json.loads(_fs_read_text(spark, manifest))["batches"]) >= 2:
                break
        except Exception:
            pass
        _time.sleep(0.05)
    else:
        raise AssertionError("no batches committed before deadline")
    assert interrupt_stream(spark, "cms-interrupt-test")
    t.join(120)
    assert not t.is_alive() and result, "interrupted drain should return"

    # whole batches only: total count is an exact multiple of the file size
    partial = result[0].filter(F.col("depth") == 0).agg(
        F.sum("cnt").alias("n")
    ).collect()[0]["n"] or 0
    assert partial % rows_per_file == 0
    assert 0 < partial <= rows_per_file * n_files

    # re-drain with the same checkpoint: resumes and converges to the full sketch
    final = drain()
    got = {(r["depth"], r["bucket"]): r["cnt"] for r in final.collect()}
    want = {
        (r["depth"], r["bucket"]): r["cnt"]
        for r in cms_build(
            spark.createDataFrame(all_rows, "key string"), "key", depth, width
        ).collect()
    }
    assert got == want


def test_fs_write_text_atomic_overwrites(spark, tmp_path):
    """Atomic publish: overwriting an existing file lands the full new
    content (rename, not in-place truncate+write) and leaves no staging
    turd behind."""
    import os

    from supersonic_spark.pipeline.similarity import (
        _fs_read_text,
        _fs_write_text_atomic,
    )

    p = str(tmp_path / "m.json")
    _fs_write_text_atomic(spark, p, "AAAA")
    assert _fs_read_text(spark, p) == "AAAA"
    _fs_write_text_atomic(spark, p, "BB")
    assert _fs_read_text(spark, p) == "BB"
    assert not os.path.exists(p + ".__staging__")


def test_mg_heavy_hitters_guarantees(spark):
    """Misra-Gries sketch: bounded size, underestimate-only, error within
    the summed decrement bound D <= N/(k+1), guaranteed discovery of keys
    with freq > D, and exactness (err_bound == 0) when k exceeds the
    per-partition distinct-key count."""
    from collections import Counter

    from supersonic_spark.operators.analytics import mg_heavy_hitters

    keys = ["a"] * 400 + ["b"] * 100 + [f"c{i}" for i in range(200)]
    exact = Counter(keys)
    df = spark.createDataFrame([(x,) for x in keys], "key string")

    sk = mg_heavy_hitters(df, "key", k=8).collect()
    assert 0 < len(sk) <= 8
    d = sk[0]["err_bound"]
    assert d <= len(keys) / (8 + 1)
    for r in sk:
        assert r["est"] <= exact[r["key"]]
        assert exact[r["key"]] - r["est"] <= d
        assert r["err_bound"] == d
    got = {r["key"] for r in sk}
    # every key whose true frequency exceeds D must be discovered;
    # f(a)=400 and f(b)=100 both exceed the D <= 700/9 ceiling
    assert {x for x, c in exact.items() if c > d} <= got
    assert {"a", "b"} <= got

    # exact mode: k above the distinct-key count => no decrements ever
    full = mg_heavy_hitters(df, "key", k=1000).collect()
    assert all(r["err_bound"] == 0 for r in full)
    assert {r["key"]: r["est"] for r in full} == dict(exact)

    # NULL keys are excluded, not counted as a class
    with_null = spark.createDataFrame(
        [("x",), (None,), (None,), ("x",)], "key string"
    )
    nn = mg_heavy_hitters(with_null, "key", k=4).collect()
    assert {r["key"]: r["est"] for r in nn} == {"x": 2}


def test_ensure_parallelism_detects_single_row_group_scan(spark, tmp_path):
    """A single-row-group parquet file wider than maxPartitionBytes reports
    multiple byte-range partitions, but only ONE scan task receives rows
    (row groups are assigned by midpoint) — the exact cliff that serialized
    the dedup/ANN fold at sf30 (SCALING.md round-6 addendum) while the old
    getNumPartitions()-based ensure_parallelism declined to fire.  The
    engine must not depend on the ingest layout being friendly."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from supersonic_spark.operators.core import (
        effective_scan_splits,
        ensure_parallelism,
    )

    n = 20_000
    pdf = pd.DataFrame(
        {
            "doc_id": range(n),
            "text": [f"word{i} alpha beta gamma delta epsilon zeta" for i in range(n)],
        }
    )
    path = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pandas(pdf), path, row_group_size=n)  # ONE row group
    assert pq.ParquetFile(path).metadata.num_row_groups == 1

    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
    try:
        df = spark.read.parquet(path)
        byte_splits = df.rdd.getNumPartitions()
        assert byte_splits >= 2  # the over-report that fooled the old detector

        # ground truth: exactly one byte-range split actually gets rows
        per_part = (
            df.withColumn("__p", F.spark_partition_id())
            .groupBy("__p")
            .count()
            .collect()
        )
        assert len(per_part) == 1

        # the footer-based bound sees through the byte ranges...
        assert effective_scan_splits(df) == 1
        # ...so ensure_parallelism fires and the dense stage downstream
        # (the minhash fold runs directly on this) gets >= default
        # parallelism NON-EMPTY partitions
        out = ensure_parallelism(df)
        dp = spark.sparkContext.defaultParallelism
        spread = (
            out.withColumn("__p", F.spark_partition_id())
            .groupBy("__p")
            .count()
            .collect()
        )
        assert len(spread) >= min(dp, n)

        # narrow ops (select/filter) keep the scan bound visible
        narrowed = df.select("doc_id", "text").filter(F.col("doc_id") >= 0)
        assert effective_scan_splits(narrowed) == 1
        assert ensure_parallelism(narrowed).rdd.getNumPartitions() >= dp

        # a plan downstream of an exchange is NOT footer-bounded: the
        # shuffle's partitioning is real, so no spurious second shuffle
        shuffled = df.repartition(dp)
        assert ensure_parallelism(shuffled) is shuffled
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_ensure_parallelism_static_path_never_converts_to_rdd(spark, monkeypatch):
    """Under AQE, ``df.rdd`` is not a read-only probe: it MATERIALIZES every
    upstream exchange as real shuffle jobs at query-construction time (the
    round-9 profile found one wasted construction-time job per multimodal
    query, re-paid on every bench run).  When the plan's output partition
    count is provable from an explicit user repartition through
    partition-preserving ops, ensure_parallelism must decide WITHOUT
    touching df.rdd — pinned here by making the .rdd property explode."""
    from pyspark.sql import DataFrame

    from supersonic_spark.operators.core import (
        _pinned_repartition_count,
        ensure_parallelism,
    )

    dp = spark.sparkContext.defaultParallelism
    base = spark.range(1000).select(F.col("id").alias("doc_id"))

    pinned = base.repartition(dp).select("doc_id").filter(F.col("doc_id") >= 0)
    assert _pinned_repartition_count(pinned) == dp
    low = base.repartition(2).select("doc_id")
    assert _pinned_repartition_count(low) == 2
    # keyed repartition without an explicit N is AQE-coalescible: not provable
    assert _pinned_repartition_count(base.repartition("doc_id")) is None
    # ...and so is anything below a join/aggregate
    assert _pinned_repartition_count(base.groupBy("doc_id").count()) is None

    def boom(self):  # pragma: no cover - the assertion is "never called"
        raise AssertionError("ensure_parallelism touched df.rdd on a pinned plan")

    monkeypatch.setattr(DataFrame, "rdd", property(boom))
    assert ensure_parallelism(pinned) is pinned
    out = ensure_parallelism(low)  # provably 2 < dp: repartitions, still no .rdd
    assert out is not low


def test_effective_scan_splits_remote_listing_bound():
    """On remote stores (s3/gs/hdfs/...) the fat-file protection must not
    silently disappear: footers are never probed (a driver round-trip per
    object-store file is the cost the function exists to avoid), but the
    bound stays LISTING-based — one effective task per remote file, the
    pessimistic assumption that errs toward the protective repartition.
    Past max_files the answer is None (splits plentiful), same as local."""
    from supersonic_spark.operators.core import effective_scan_splits

    class _Conf:
        def get(self, key, default=None):
            return "134217728"

    class _Session:
        conf = _Conf()

    class _FakeScan:
        """Duck-typed stand-in: effective_scan_splits touches only
        inputFiles() and sparkSession.conf."""

        sparkSession = _Session()

        def __init__(self, files):
            self._files = files

        def inputFiles(self):
            return self._files

    # 3 remote parquet files -> 3 effective tasks (not None, not footer-read)
    s3 = [f"s3a://bucket/warehouse/part-{i:05d}.parquet" for i in range(3)]
    assert effective_scan_splits(_FakeScan(s3)) == 3

    # unsplittable compression on a remote path: still 1 per file
    gz = ["gs://bucket/logs/a.json.gz", "hdfs://nn/logs/b.json.gz"]
    assert effective_scan_splits(_FakeScan(gz)) == 2

    # mixed local+remote: local files keep the exact footer path — a
    # missing local file is still a bail-out (unknown layout), remote
    # contributes its listing bound
    mixed = ["s3a://bucket/x.parquet", "file:///nonexistent/y.parquet"]
    assert effective_scan_splits(_FakeScan(mixed)) is None

    # plentiful remote files: None, caller trusts getNumPartitions
    many = [f"s3a://bucket/p-{i}.parquet" for i in range(300)]
    assert effective_scan_splits(_FakeScan(many)) is None
    assert effective_scan_splits(_FakeScan([])) is None

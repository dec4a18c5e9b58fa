"""Physical-plan property regressions — the scale contract, asserted.

A query can be value-correct and still carry a plan that dies at 100 TB
(unpushed filters, unpruned columns, shuffle joins on broadcastable dims,
full sorts where top-k suffices).  These tests pin the plan shapes the
engine promises (README "Design for scale"); `.explain()` output is the
assertion surface.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from __spark_entry__ import operators, queries

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return queries()


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_and_column_pruning(spark, qs):
    plan = _plan(qs["filter_predicate"](spark, SF_DIR))
    assert "PushedFilters: [" in plan and "IsNotNull" in plan  # filter reaches the scan
    # projection pruning: the lineitem scan must not read all 11 columns
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas and all("l_comment" not in l for l in read_schemas)


def test_tfidf_token_join_never_broadcasts_the_corpus_side(spark, qs):
    """The tf↔doc_freq join must stay a SHUFFLED join: Catalyst's
    post-aggregate size estimate can undershoot the broadcast threshold
    and flip the CORPUS-sized tf table into the broadcast build — observed
    at the sf3 synth corpus, where broadcasting 3.6M tf rows pushed the
    join + top-k window partial into a 1-task AQE-coalesced stage (6.8 s
    serial; sf3 measured SLOWER than sf10).  At 100 TB that plan is a
    driver OOM.  The shuffle_hash hint on the vocab side pins the strategy
    for tfidf, unigram_logprob, and bigram_logprob."""
    from supersonic_spark.pipeline import textstats
    from supersonic_spark.session import load_tables

    docs = load_tables(spark, SF_DIR)["documents"]
    from supersonic_spark.pipeline import dedup as _dedup

    for build in (
        textstats.tfidf_topk(docs, "doc_id", "text", k=5),
        textstats.unigram_logprob(docs, "doc_id", "text"),
        textstats.bigram_logprob(docs, "doc_id", "text"),
    ):
        plan = _plan(build)
        assert "ShuffledHashJoin" in plan
        # the 1-row N/consts attach stays broadcast (that one is correct);
        # no OTHER broadcast join may appear — i.e. never on a token key
        bhj = [l for l in plan.splitlines() if "BroadcastHashJoin" in l]
        assert not bhj, f"token join broadcast a corpus-derived side: {bhj}"

    # substring_dup_spans used to share this fact<->aggregate-derived join
    # shape (gram stream vs doc-frequency set); the round-8 window
    # restructure computes the doc frequency over the SAME partitioned gram
    # stream, so its plan must now contain NO join at all — a join
    # reappearing means the broadcast-flip exposure is back with it.
    plan = _plan(_dedup.substring_dup_spans(docs, "doc_id", "text", k=4))
    joins = [l for l in plan.splitlines() if "Join" in l]
    assert not joins, f"substring spans re-grew a join: {joins}"


def test_topk_plans_take_ordered_not_full_sort(spark, qs):
    plan = _plan(qs["sort_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan  # ExtendedSort+LIMIT = true top-k


def test_dim_joins_broadcast(spark, qs):
    plan = _plan(qs["tpch_q5_shape"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange") >= 1  # agg shuffle exists
    # no shuffled sort-merge join of the dims
    assert "SortMergeJoin" not in plan


def test_aggregation_is_partial_then_final(spark, qs):
    plan = _plan(qs["tpch_q1"](spark, SF_DIR))
    # two HashAggregates around one Exchange = map-side combine before shuffle
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_expression_queries_stay_wholestage_codegen(spark, qs):
    plan = _plan(qs["expr_math"](spark, SF_DIR))
    # formatted mode marks codegen'd nodes with a leading '*'
    assert any(line.lstrip().startswith(("* Project", "*(")) or "* Project" in line
               for line in plan.splitlines())
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pipeline_python_is_arrow_batched_only(spark, qs):
    plan = _plan(qs["similarity_lsh_ann"](spark, SF_DIR))
    # pandas UDF (Arrow) is allowed; row-at-a-time Python is not
    assert "BatchEvalPython" not in plan


def test_no_cartesian_products_in_joins(spark, qs):
    for name in ("hash_join_inner", "hash_join_left", "rowid_merge_join", "tpch_q5_shape"):
        plan = _plan(qs[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name


def test_asof_join_single_exchange_no_nested_loop(spark, qs):
    """asof_join's scale contract: the merged-timeline LOCF shape — one
    shuffle on the key (plus AQE reads), a window, and crucially NO
    nested-loop/cartesian join and NO per-row range probe."""
    plan = _plan(qs["asof_join_events"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    # the union + window needs exactly one hash repartitioning on user_id
    # (formatted mode lists the node as "(n) Exchange" with its
    # hashpartitioning argument on a separate line)
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_range_join_is_equi_not_nested_loop(spark, qs):
    """range_join's scale contract: the bin discretization turns the
    non-equi BETWEEN into an equi hash join (broadcast or shuffled) —
    never Spark's nested-loop default for range predicates."""
    plan = _plan(qs["range_join_price_bands"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan  # Broadcast- or ShuffledHashJoin on the bin


def test_window_rank_single_shuffle(spark, qs):
    import re

    plan = _plan(qs["window_rank_orders"](spark, SF_DIR))
    assert "Window" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1  # partition keys only


def test_pivot_no_discovery_scan(spark, qs):
    """Explicit pivot values: exactly one scan of events (the implicit form
    adds a distinct-discovery job = a second full scan)."""
    import re

    plan = _plan(qs["pivot_event_types"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_tpch_semi_anti_shapes_are_hash_joins(spark, qs):
    """Q4's EXISTS and Q16's NOT IN must plan as hash semi-/anti-joins —
    never a nested-loop correlated probe (which would be per-row at scale)."""
    plan4 = _plan(qs["tpch_q4_shape"](spark, SF_DIR))
    assert "LeftSemi" in plan4
    assert "BroadcastNestedLoopJoin" not in plan4
    plan16 = _plan(qs["tpch_q16_shape"](spark, SF_DIR))
    assert "LeftAnti" in plan16
    assert "BroadcastNestedLoopJoin" not in plan16


def test_tpch_q21_no_self_join_explosion(spark, qs):
    """Q21's EXISTS/NOT-EXISTS pair is computed as one per-order profile
    aggregation, not two correlated lineitem self-joins: lineitem is
    scanned exactly ONCE (the profile carries the only-late-supplier's
    'R'-row count, so no join back to lineitem) and nothing goes
    nested-loop."""
    plan = _plan(qs["tpch_q21_shape"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # formatted mode puts the table path on the scan's Location detail
    # line (the tree line "Scan parquet (N)" never names the table — the
    # pre-r6 form of this assert matched nothing and passed vacuously)
    scans = [
        l for l in plan.splitlines()
        if "Location" in l and "lineitem" in l
    ]
    assert len(scans) == 1


def test_tpch_scalar_subqueries_broadcast_one_row(spark, qs):
    """Q11/Q15/Q22 thresholds are 1-row broadcasts riding a nested-loop
    with a single-row build side (constant work), never a shuffle."""
    for name in ("tpch_q11_shape", "tpch_q15_shape", "tpch_q22_shape"):
        plan = _plan(qs[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name


def test_tpch_q19_part_prefilter_broadcast(spark, qs):
    """Q19's OR-band predicate cannot push through the join, but the
    part-side union-of-bands must: the join stays broadcast and the
    lineitem scan reads only the 4 referenced columns."""
    plan = _plan(qs["tpch_q19_shape"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "ReadSchema" in line and "lineitem" in line:
            assert "l_shipdate" not in line and "l_returnflag" not in line


def test_pii_redact_is_zero_shuffle_codegen_map(spark):
    """PII detect+redact must compile to a pure map stage: no exchange, no
    Python eval — at 100 TB it's a scan→project pipeline."""
    from supersonic_spark.pipeline.textstats import pii_counts, pii_redact
    from supersonic_spark.session import load_tables

    docs = load_tables(spark, SF_DIR)["documents"]
    out = docs.select(
        "doc_id", *pii_counts("text"), pii_redact("text").alias("redacted")
    )
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "codegen id" in plan  # whole-stage codegen spans the project
    assert "EvalPython" not in plan


def test_repetition_signals_zero_shuffle_no_python(spark):
    """Per-document signals are row-local sorted-array expressions: the
    plan must contain NO exchange at all (the old explode→groupBy shape
    paid two corpus-wide shuffles for map-only work) and stay JVM-side."""
    from supersonic_spark.pipeline.textstats import repetition_signals
    from supersonic_spark.session import load_tables

    docs = load_tables(spark, SF_DIR)["documents"]
    plan = _plan(repetition_signals(docs, "doc_id", "text"))
    # the only allowed exchange is ensure_parallelism's ROUND-ROBIN spread
    # of the single-file test scan — never a keyed (hash/range) shuffle
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_joins_on_hash_digest(spark, qs):
    """The gram join must key on the 64-bit digest (narrow shuffle), never a
    cartesian or Python path."""
    plan = _plan(qs["dedup_decontaminate"](spark, SF_DIR))
    assert "xxhash64" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_unigram_logprob_lm_constants_broadcast(spark, qs):
    """The (total, V) constants must ride a 1-row broadcast, not a shuffle;
    token counts partial-aggregate before their exchange."""
    plan = _plan(qs["text_unigram_logprob"](spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert plan.count("HashAggregate") >= 4
    assert "EvalPython" not in plan


def test_prefilter_join_pushes_in_list_to_scan(spark, qs):
    plan = _plan(qs["prefilter_join_part_revenue"](spark, SF_DIR))
    # the dim side's key set must reach the fact scan as an IN pushdown
    assert "In(l_partkey" in plan


def test_q18_big_order_broadcast_builds_once(spark, qs):
    """tpch_q18_shape broadcasts the HAVING-filtered big-order key set into
    BOTH lineitem and orders.  Round 9 renamed the STREAM side (orders)
    instead of the build side so the two BroadcastExchange subtrees are
    byte-identical and AQE's stage cache resolves the second to
    ReusedExchange — without it the lineitem-wide aggregation behind the
    key set runs twice per query (at 100 TB, a full extra final-agg pass
    over the groupBy exchange).  Reuse is a runtime stage-cache decision,
    so the assertion surface is the FINAL plan after one execution."""
    df = qs["tpch_q18_shape"](spark, SF_DIR)
    df.collect()
    tree = _plan(df).split("\n\n")[0]
    final = tree.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    # every broadcast join has a build side; exactly one of them is the
    # reused big-order set instead of a BroadcastExchange of its own
    n_joins = final.count("BroadcastHashJoin")
    assert n_joins >= 2, final
    assert final.count("BroadcastExchange") == n_joins - 1, (
        "big-order broadcast build no longer reused - the second "
        "BroadcastExchange subtree stopped canonicalizing equal\n" + final
    )
    assert final.count("ReusedExchange") == 1, final


def test_plan_to_dot(spark, tables):
    """DOT plan rendering (dot_drawer parity): valid digraph, scan at a
    leaf, join and aggregate nodes present, edges child→parent."""
    from supersonic_spark.plans.dot import plan_to_dot

    from pyspark.sql import functions as F

    df = (
        tables["orders"].join(tables["customer"],
                              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment").count()
    )
    dot = plan_to_dot(df)
    assert dot.startswith("digraph plan {") and dot.rstrip().endswith("}")
    assert "Scan" in dot and "Join" in dot and "Aggregate" in dot
    assert "->" in dot
    # logical variants render too
    dot_opt = plan_to_dot(df, which="optimized")
    assert "Join" in dot_opt
    import pytest as _pytest
    with _pytest.raises(ValueError, match="which must be"):
        plan_to_dot(df, which="bogus")


def test_job_group_nesting_restores_outer_group(spark):
    """Nested cancellation scopes: an inner job_group (e.g. the implicit
    ``bench:<name>`` group inside benchmark_operation) must RESTORE the
    outer group on exit, not clear it — otherwise actions after the inner
    scope silently lose the outer scope's cancellability."""
    from supersonic_spark.plans.instrument import benchmark_operation, job_group

    sc = spark.sparkContext
    with job_group(spark, "outer-group", "outer scope"):
        benchmark_operation("nested", spark.range(10))
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer-group"
        assert sc.getLocalProperty("spark.job.interruptOnCancel") == "true"
        with job_group(spark, "inner-group", "inner scope"):
            assert sc.getLocalProperty("spark.jobGroup.id") == "inner-group"
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer-group"
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_job_profile_reads_only_the_groups_jobs(spark):
    """job_profile lists exactly the jobs of one benchmark_operation's
    group — an action outside it does not leak in — with stage bytes
    and task quantiles read from the status store while the UI is off."""
    from supersonic_spark.plans.instrument import benchmark_operation, job_profile

    assert spark.conf.get("spark.ui.enabled") == "false"
    tracker = spark.sparkContext.statusTracker()
    spark.range(1000).count()
    before = set(tracker.getJobIdsForGroup(None))
    run = benchmark_operation(
        "job-profile-test",
        spark.range(0, 20000, 1, 4).groupBy((F.col("id") % 13).alias("k")).count(),
    )
    jobs = job_profile(spark, run.group)
    assert jobs and [j.job_id for j in jobs] == sorted(tracker.getJobIdsForGroup(run.group))
    assert not before & {j.job_id for j in jobs}
    assert all("job-profile-test" in j.description for j in jobs)
    done = [st for j in jobs for st in j.stages if st.status == "COMPLETE"]
    writes = [st.stage_id for st in done if st.shuffle_write_bytes > 0]
    assert writes and any(st.shuffle_read_bytes > 0 and st.stage_id > writes[0]
                          for st in done)
    ran = [st for j in jobs for st in j.stages if st.num_complete_tasks > 0]
    assert ran and all(st.task_max_s >= st.task_median_s for st in ran)


def test_job_group_interrupt_cancels_running_query(spark):
    """Cursor::Interrupt (cursor/base/cursor.h:150-186): a long-running
    query started inside a job_group is cancellable from ANOTHER thread;
    the blocked action raises instead of running to completion."""
    import threading
    import time as _time

    from supersonic_spark.plans.instrument import interrupt, job_group

    err: list[Exception] = []
    started = threading.Event()

    def run():
        with job_group(spark, "test-interrupt", "cancellable long query"):
            started.set()
            try:
                (
                    spark.range(0, 1 << 36, 1, 8)
                    .selectExpr("sum(sha2(cast(id as string), 256))")
                    .write.format("noop").mode("overwrite").save()
                )
            except Exception as e:  # expected: cancellation surfaces here
                err.append(e)

    t = threading.Thread(target=run, daemon=True)
    t0 = _time.perf_counter()
    t.start()
    assert started.wait(30)
    # cancelJobGroup only reaches SUBMITTED jobs — poll until the group's
    # job is active (the reference contract has the same race: cursor.h
    # says interruption races completion and is best-effort)
    jst = spark.sparkContext._jsc.sc().statusTracker()
    for _ in range(300):
        if list(jst.getJobIdsForGroup("test-interrupt")):
            break
        _time.sleep(0.1)
    else:
        raise AssertionError("job never became active under the group")
    interrupt(spark, "test-interrupt")
    t.join(60)
    assert not t.is_alive(), "query was not interrupted"
    assert err, "cancelled action should raise, not complete"
    assert "cancel" in str(err[0]).lower() or "SparkException" in type(err[0]).__name__
    # the whole round-trip beat running 2^36 sha256 rows to EOS
    assert _time.perf_counter() - t0 < 60


def test_timed_operators_rebuild_no_index_and_run_no_check(spark):
    """What bench.py times is the operator: a second run of the IVF probe
    in one session probes the session's corpus index without rewriting
    it, and the semdedup plan carries no cross-joined check aggregates."""
    import os

    from supersonic_spark.queries_pipeline import _ivf_corpus_index

    ops = operators()
    ops["similarity_ivf_index_probe"](spark, SF_DIR).collect()
    sidecar = os.path.join(_ivf_corpus_index(spark, SF_DIR), "_ivf_centroids.json")
    built = os.stat(sidecar).st_mtime_ns
    ops["similarity_ivf_index_probe"](spark, SF_DIR).collect()
    assert os.stat(sidecar).st_mtime_ns == built

    plan = _plan(ops["dedup_semantic_semdedup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

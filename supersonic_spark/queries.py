"""Query catalog: one entry per implemented operator/function family from
SURVEY.md §2, each with a DuckDB oracle (ANSI SQL) where SQL-expressible.

This is the engine's behavioral spec in executable form — the Spark side is
built from supersonic_spark operators/functions (dogfooding the library);
the oracle side is plain SQL over the same parquet views.

Determinism rules used throughout (so value-hash comparison is exact):
- money/quantity aggregations go through DECIMAL (order-independent, exact)
  and only the final result is cast to DOUBLE;
- per-row double arithmetic is IEEE-deterministic in both engines — raw
  doubles are fine for non-aggregated columns;
- every LIMIT/window has a unique total order (explicit tie-breakers);
- order-dependent aggregates (CONCAT/FIRST/LAST) always carry an explicit
  order (SURVEY.md §7.4 item 1);
- output column names are aliased identically on both sides.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from supersonic_spark.functions import (
    arithmetic as ar,
    comparison as cmp_,
    datetime_fn as dt,
    logic,
    math_fn as m,
    regexp_fn as re_,
    stateful,
    strings as st,
)
from supersonic_spark.operators import aggregate as agg
from supersonic_spark.operators import analytics, core, join as join_ops, setops
from supersonic_spark.operators import sort as sort_ops
from supersonic_spark.operators.aggregate import AggSpec, Aggregation
from supersonic_spark.operators.sort import SortKey
from supersonic_spark.pipeline import dedup, multimodal, similarity, textstats
from supersonic_spark.session import load_tables

Build = Callable[[SparkSession, str], DataFrame]
Check = Callable[[SparkSession, str, DataFrame], DataFrame]
QuerySpec = tuple[Build, "str | None"]
#: name -> (verified build, DuckDB oracle SQL)
REGISTRY: dict[str, QuerySpec] = {}
#: name -> the operator plan a user runs (what the benchmarks time)
OPERATORS: dict[str, Build] = {}


def q(name: str, oracle: str | None = None, check: Check | None = None):
    """Register ``fn`` as the operator plan for ``name``.  Without a
    ``check`` the operator's output IS the oracle-verified result; with
    one, ``check(spark, sf_dir, fn(spark, sf_dir))`` wraps the operator's
    output into the oracle's shape (exact ground truth + invariant
    booleans), so the bench and the oracle run the same operator."""

    def deco(fn):
        OPERATORS[name] = fn
        build = fn if check is None else (lambda spark, d: check(spark, d, fn(spark, d)))
        REGISTRY[name] = (build, oracle)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return load_tables(spark, sf_dir)


def _scratch(prefix: str, sf_dir: str) -> str:
    """An emptied scratch directory for ``sf_dir``'s run of a query that
    persists an artifact (index, stream source, sink):
    ``<tmp>/<prefix><sf_dir with "/" as "_">``."""
    tag = sf_dir.rstrip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"{prefix}{tag}")
    shutil.rmtree(path, ignore_errors=True)
    return path


def _dec(col, p=12, s=2):
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({p},{s})")


# =====================================================================
# §2.1/2.2 — scan / project / compute / filter / limit / generate
# =====================================================================

@q(
    "scan_project",
    """SELECT p_partkey AS part_id, p_name AS part_name, p_retailprice AS retail
       FROM part""",
)
def q_scan_project(spark, sf_dir):
    """Project (cursor/core/project.h:30): select+rename, no computation."""
    t = _t(spark, sf_dir)
    return core.project(
        t["part"], {"p_partkey": "part_id", "p_name": "part_name", "p_retailprice": "retail"}
    )


@q(
    "compute_expr",
    """SELECT l_orderkey, l_linenumber,
              l_extendedprice * (1 - l_discount) AS revenue,
              l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
       FROM lineitem""",
)
def q_compute_expr(spark, sf_dir):
    """Compute (cursor/core/compute.h:32): expression tree over each block.
    Per-row IEEE double arithmetic — bit-deterministic on both engines."""
    t = _t(spark, sf_dir)
    li = t["lineitem"]
    revenue = ar.multiply("l_extendedprice", ar.minus(F.lit(1.0), "l_discount"))
    charge = ar.multiply(revenue, ar.plus(F.lit(1.0), "l_tax"))
    return core.compute(
        li,
        {
            "l_orderkey": F.col("l_orderkey"),
            "l_linenumber": F.col("l_linenumber"),
            "revenue": revenue,
            "charge": charge,
        },
    )


@q(
    "filter_predicate",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1997-01-01'
         AND l_discount >= 0.05 AND l_discount <= 0.07
         AND l_quantity < 24""",
)
def q_filter_predicate(spark, sf_dir):
    """Filter (cursor/core/filter.h:35): NULL predicate ⇒ drop (SQL WHERE).
    Predicates reach the parquet scan as PushedFilters."""
    t = _t(spark, sf_dir)
    pred = (
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & cmp_.greater_or_equal("l_discount", F.lit(0.05))
        & cmp_.less_or_equal("l_discount", F.lit(0.07))
        & cmp_.less("l_quantity", F.lit(24.0))
    )
    return core.filter_op(
        t["lineitem"], pred, ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]
    )


@q(
    "limit_offset",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_orderkey LIMIT 50 OFFSET 100""",
)
def q_limit_offset(spark, sf_dir):
    """Limit(offset, limit) (cursor/core/limit.h:29) with explicit order."""
    t = _t(spark, sf_dir)
    out = core.limit(t["orders"], 50, offset=100, order=[F.col("o_orderkey")])
    return out.select("o_orderkey", "o_totalprice")


@q(
    "generate_sequence",
    """SELECT i AS id, i * 2 AS double_id, i * i AS square, i % 7 AS bucket
       FROM range(1000) t(i)""",
)
def q_generate_sequence(spark, sf_dir):
    """Generate(count) + Sequence()/Const* synthesis (generate.h:32,
    terminal_expressions.h:60) == spark.range."""
    df = core.generate(spark, 1000)
    return core.compute(
        df,
        {
            "id": F.col("id"),
            "double_id": F.col("id") * 2,
            "square": F.col("id") * F.col("id"),
            "bucket": F.col("id") % 7,
        },
    )


# =====================================================================
# §2.4 — aggregations
# =====================================================================

_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""


@q("tpch_q1", _Q1_ORACLE)
def q_tpch_q1(spark, sf_dir):
    """GroupAggregate (aggregate.h:224-228) — TPC-H Q1 shape.  DECIMAL
    accumulation ⇒ order-independent exact sums; partial aggregation
    (BestEffortGroupAggregate, aggregate.h:233-250) is Spark's map-side
    combine, automatic."""
    t = _t(spark, sf_dir)
    li = core.filter_op(
        t["lineitem"], F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp_ntz")
    )
    one = F.lit(1).cast("decimal(3,0)")
    li = core.compute(
        li,
        {
            "l_returnflag": F.col("l_returnflag"),
            "l_linestatus": F.col("l_linestatus"),
            "qty_d": _dec("l_quantity"),
            "price_d": _dec("l_extendedprice"),
            "disc_price_d": _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2)),
            "charge_d": _dec("l_extendedprice")
            * (one - _dec("l_discount", 4, 2))
            * (one + _dec("l_tax", 4, 2)),
        },
    )
    out = agg.group_aggregate(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            AggSpec(Aggregation.SUM, "qty_d", "sum_qty", output_type="double"),
            AggSpec(Aggregation.SUM, "price_d", "sum_base_price", output_type="double"),
            AggSpec(Aggregation.SUM, "disc_price_d", "sum_disc_price", output_type="double"),
            AggSpec(Aggregation.SUM, "charge_d", "sum_charge", output_type="double"),
            AggSpec(Aggregation.COUNT, None, "count_order"),
        ],
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        "count_order",
    )


@q(
    "scalar_aggregate",
    """SELECT COUNT(*) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total,
              MIN(o_totalprice) AS min_total,
              MAX(o_totalprice) AS max_total,
              MIN(o_orderpriority) AS min_priority
       FROM orders""",
)
def q_scalar_aggregate(spark, sf_dir):
    """ScalarAggregate (aggregate.h:338-345): one row even on empty input."""
    t = _t(spark, sf_dir)
    ord_ = core.compute(t["orders"], {"total_d": _dec("o_totalprice")}, keep_input=True)
    return agg.scalar_aggregate(
        ord_,
        [
            AggSpec(Aggregation.COUNT, None, "n_orders"),
            AggSpec(Aggregation.SUM, "total_d", "sum_total", output_type="double"),
            AggSpec(Aggregation.MIN, "o_totalprice", "min_total"),
            AggSpec(Aggregation.MAX, "o_totalprice", "max_total"),
            AggSpec(Aggregation.MIN, "o_orderpriority", "min_priority"),
        ],
    )


@q(
    "distinct_aggregate",
    """SELECT l_returnflag,
              COUNT(DISTINCT l_suppkey) AS n_suppliers,
              CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_distinct_qty,
              COUNT(*) AS n_rows
       FROM lineitem GROUP BY l_returnflag""",
)
def q_distinct_aggregate(spark, sf_dir):
    """DISTINCT aggregation (aggregate.h:118-123; hybrid rewrite
    aggregate_groups.cc:492-533 == Catalyst RewriteDistinctAggregates)."""
    t = _t(spark, sf_dir)
    li = core.compute(t["lineitem"], {"qty_d": _dec("l_quantity")}, keep_input=True)
    return agg.group_aggregate(
        li,
        ["l_returnflag"],
        [
            AggSpec(Aggregation.COUNT, "l_suppkey", "n_suppliers", distinct=True),
            AggSpec(Aggregation.SUM, "qty_d", "sum_distinct_qty", distinct=True, output_type="double"),
            AggSpec(Aggregation.COUNT, None, "n_rows"),
        ],
    )


@q(
    "concat_aggregate",
    """SELECT c_nationkey,
              string_agg(c_name, ',' ORDER BY c_name) AS names,
              COUNT(*) AS n
       FROM (SELECT * FROM customer WHERE c_custkey <= 200) GROUP BY c_nationkey""",
)
def q_concat_aggregate(spark, sf_dir):
    """CONCAT aggregation (proto/supersonic.proto:95; buffer impl
    aggregation_operators.h:230-233) with explicit value order."""
    t = _t(spark, sf_dir)
    cust = core.filter_op(t["customer"], F.col("c_custkey") <= 200)
    return agg.group_aggregate(
        cust,
        ["c_nationkey"],
        [
            AggSpec(Aggregation.CONCAT, "c_name", "names", order_by=("c_name",)),
            AggSpec(Aggregation.COUNT, None, "n"),
        ],
    )


@q(
    "first_last_aggregate",
    """SELECT o_custkey,
              first(o_orderkey ORDER BY o_orderdate, o_orderkey) AS first_order,
              last(o_orderkey ORDER BY o_orderdate, o_orderkey) AS last_order,
              COUNT(*) AS n_orders
       FROM orders GROUP BY o_custkey""",
)
def q_first_last_aggregate(spark, sf_dir):
    """FIRST/LAST (proto/supersonic.proto:96-97) with the explicit-order
    contract — implemented as min_by/max_by over a packed sort key (single
    shuffle, no window)."""
    t = _t(spark, sf_dir)
    return agg.group_aggregate(
        t["orders"],
        ["o_custkey"],
        [
            AggSpec(Aggregation.FIRST, "o_orderkey", "first_order", order_by=("o_orderdate", "o_orderkey")),
            AggSpec(Aggregation.LAST, "o_orderkey", "last_order", order_by=("o_orderdate", "o_orderkey")),
            AggSpec(Aggregation.COUNT, None, "n_orders"),
        ],
    )


@q(
    "group_aggregate_with_limit",
    """WITH agged AS (
         SELECT o_orderpriority,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total,
                COUNT(*) AS cnt
         FROM orders GROUP BY o_orderpriority
       ), ranked AS (
         SELECT *, ROW_NUMBER() OVER (ORDER BY o_orderpriority) AS rk FROM agged
       )
       SELECT o_orderpriority, sum_total, cnt FROM ranked WHERE rk <= 3
       UNION ALL
       SELECT NULL AS o_orderpriority,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total,
              COUNT(*) AS cnt
       FROM orders
       WHERE o_orderpriority IN (SELECT o_orderpriority FROM ranked WHERE rk > 3)
       HAVING COUNT(*) > 0""",
)
def q_group_aggregate_with_limit(spark, sf_dir):
    """BoundGroupAggregateWithLimit (aggregate.h:267-276): first N unique
    keys aggregated; the rest lumped into one NULL-keyed overflow row."""
    t = _t(spark, sf_dir)
    ord_ = core.compute(t["orders"], {"total_d": _dec("o_totalprice")}, keep_input=True)
    out = agg.group_aggregate_with_limit(
        ord_,
        ["o_orderpriority"],
        [
            AggSpec(Aggregation.SUM, "total_d", "sum_total_d"),
            AggSpec(Aggregation.COUNT, None, "cnt"),
        ],
        limit=3,
    )
    return out.select(
        "o_orderpriority", F.col("sum_total_d").cast("double").alias("sum_total"), "cnt"
    )


# =====================================================================
# §2.5 — sort / top-k
# =====================================================================

@q(
    "sort_topk",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
)
def q_sort_topk(spark, sf_dir):
    """ExtendedSort+LIMIT (sort.h:103-106) ⇒ TakeOrderedAndProject (true
    distributed top-k: k-heap per task, only k rows shuffle)."""
    t = _t(spark, sf_dir)
    out = sort_ops.extended_sort(
        t["orders"],
        [SortKey("o_totalprice", ascending=False), SortKey("o_orderkey")],
        limit=10,
    )
    return out.select("o_orderkey", "o_custkey", "o_totalprice")


@q(
    "sort_case_insensitive",
    """SELECT c_custkey, c_mktsegment FROM customer
       ORDER BY lower(c_mktsegment) DESC, c_custkey LIMIT 15""",
)
def q_sort_case_insensitive(spark, sf_dir):
    """ExtendedSort per-key case-insensitivity (specification.proto:12-30)."""
    t = _t(spark, sf_dir)
    out = sort_ops.extended_sort(
        t["customer"],
        [SortKey("c_mktsegment", ascending=False, case_insensitive=True), SortKey("c_custkey")],
        limit=15,
    )
    return out.select("c_custkey", "c_mktsegment")


# =====================================================================
# §2.3 — joins
# =====================================================================

@q(
    "hash_join_inner",
    """SELECT l.l_orderkey,
              CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
              strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
              o.o_orderpriority
       FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE c.c_mktsegment = 'BUILDING'
         AND o.o_orderdate < TIMESTAMP '1998-01-01'
         AND l.l_shipdate > TIMESTAMP '1998-01-01'
       GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
       ORDER BY revenue DESC, l.l_orderkey LIMIT 10""",
)
def q_hash_join_inner(spark, sf_dir):
    """HashJoinOperation INNER (hash_join.h:35-69) — TPC-H Q3 shape.
    Build-side choice == broadcast of the filtered dimension."""
    t = _t(spark, sf_dir)
    cust = core.filter_op(t["customer"], F.col("c_mktsegment") == "BUILDING", ["c_custkey"])
    orders = core.filter_op(
        t["orders"],
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"),
        ["o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"],
    )
    li = core.filter_op(
        t["lineitem"],
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz"),
        ["l_orderkey", "l_extendedprice", "l_discount"],
    )
    j = join_ops.hash_join(
        orders, cust.withColumnRenamed("c_custkey", "o_custkey"), on="o_custkey",
        unique_right=True,
    )
    j = join_ops.hash_join(
        li, j.withColumnRenamed("o_orderkey", "l_orderkey"), on="l_orderkey",
        unique_right=True,
    )
    one = F.lit(1).cast("decimal(3,0)")
    j = core.compute(
        j,
        {"rev_d": _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))},
        keep_input=True,
    )
    out = agg.group_aggregate(
        j,
        ["l_orderkey", "o_orderdate", "o_orderpriority"],
        [AggSpec(Aggregation.SUM, "rev_d", "revenue", output_type="double")],
    )
    out = sort_ops.extended_sort(
        out, [SortKey("revenue", ascending=False), SortKey("l_orderkey")], limit=10
    )
    return out.select(
        "l_orderkey",
        "revenue",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        "o_orderpriority",
    )


@q(
    "hash_join_left",
    """SELECT n.n_nationkey, n.n_name,
              COUNT(c.c_custkey) AS cust_cnt,
              COALESCE(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 0.0) AS total_acctbal
       FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
       GROUP BY n.n_nationkey, n.n_name""",
)
def q_hash_join_left(spark, sf_dir):
    """HashJoin LEFT_OUTER (hash_join.h:37-38)."""
    t = _t(spark, sf_dir)
    cust = core.compute(
        t["customer"], {"c_nationkey": F.col("c_nationkey"), "c_custkey": F.col("c_custkey"),
                        "bal_d": _dec("c_acctbal")},
    )
    j = join_ops.hash_join(
        t["nation"], cust.withColumnRenamed("c_nationkey", "n_nationkey"), on="n_nationkey",
        how="left",
    )
    out = agg.group_aggregate(
        j,
        ["n_nationkey", "n_name"],
        [
            AggSpec(Aggregation.COUNT, "c_custkey", "cust_cnt"),
            AggSpec(Aggregation.SUM, "bal_d", "total_acctbal", output_type="double"),
        ],
    )
    return out.select(
        "n_nationkey", "n_name", "cust_cnt",
        F.coalesce(F.col("total_acctbal"), F.lit(0.0)).alias("total_acctbal"),
    )


@q(
    "rowid_merge_join",
    """SELECT n.n_nationkey, n.n_name, r.r_name
       FROM nation n
       JOIN (SELECT r_name, ROW_NUMBER() OVER (ORDER BY r_name) - 1 AS rid
             FROM region) r
         ON n.n_regionkey = r.rid""",
)
def q_rowid_merge_join(spark, sf_dir):
    """RowidMergeJoin (rowid_merge_join.h:24-49): positional join of an INT64
    key against the right side's row id under an explicit order."""
    t = _t(spark, sf_dir)
    out = join_ops.rowid_merge_join(
        t["nation"], "n_regionkey", t["region"].select("r_name"), ["r_name"]
    )
    return out.select("n_nationkey", "n_name", "r_name")


@q(
    "foreign_filter",
    """WITH d AS (
         SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS new_fk
         FROM (SELECT DISTINCT o_orderkey FROM orders WHERE o_totalprice > 400000)
       )
       SELECT d.new_fk AS l_orderkey, l.l_partkey, l.l_quantity
       FROM lineitem l JOIN d ON l.l_orderkey = d.o_orderkey""",
)
def q_foreign_filter(spark, sf_dir):
    """ForeignFilter (foreign_filter.h:21-48): semi-join on FK + rewrite the
    FK to the filtered dimension's new row-id ordinals."""
    t = _t(spark, sf_dir)
    dim = core.filter_op(t["orders"], F.col("o_totalprice") > 400000)
    out = join_ops.foreign_filter(t["lineitem"], "l_orderkey", dim, "o_orderkey")
    return out.select("l_orderkey", "l_partkey", "l_quantity")


@q(
    "anti_join",
    """SELECT c_custkey, c_nationkey FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def q_anti_join(spark, sf_dir):
    """Anti-join (superset: reference's closest is ForeignFilter's semi-join
    complement; free in Spark — SURVEY.md §2.3 'not in the reference')."""
    t = _t(spark, sf_dir)
    keys = t["orders"].select(F.col("o_custkey").alias("c_custkey")).distinct()
    return t["customer"].join(keys, "c_custkey", "left_anti").select("c_custkey", "c_nationkey")


@q(
    "prefilter_join_part_revenue",
    """SELECT p.p_brand,
              CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
              COUNT(*) AS n_items
       FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       WHERE p.p_size = 1
       GROUP BY p.p_brand ORDER BY p.p_brand""",
)
def q_prefilter_join_part_revenue(spark, sf_dir):
    """Runtime scan-pushdown join: the filtered part side's distinct keys
    are materialized (bounded) and pushed into the lineitem scan as an
    IN-list, so parquet row groups that can't match are skipped before the
    exact join runs (PushedFilters: In(l_partkey, ...)).  The result is
    byte-for-byte the plain join — only the bytes READ change."""
    t = _t(spark, sf_dir)
    dim = core.filter_op(t["part"], F.col("p_size") == 1, ["p_partkey", "p_brand"])
    fact = core.project(t["lineitem"], ["l_partkey", "l_extendedprice"])
    j = join_ops.prefilter_join(fact, dim, on=("l_partkey", "p_partkey"))
    j = core.compute(j, {"price_d": _dec("l_extendedprice")}, keep_input=True)
    out = agg.group_aggregate(
        j,
        ["p_brand"],
        [
            AggSpec(Aggregation.SUM, "price_d", "revenue", output_type="double"),
            AggSpec(Aggregation.COUNT, None, "n_items"),
        ],
    )
    return sort_ops.sort(out, [SortKey("p_brand")])


@q(
    "bloom_prefilter_join_supplier",
    """SELECT s.s_nationkey,
              CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty,
              COUNT(*) AS n_items
       FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
       WHERE s.s_acctbal > 9000
       GROUP BY s.s_nationkey ORDER BY s.s_nationkey""",
)
def q_bloom_prefilter_join_supplier(spark, sf_dir):
    """Bloom semi-join reduction: the filtered supplier keys fold into a
    driver-bounded Bloom sketch (bit_or word aggregation) whose probe is a
    codegen'd literal-array bit test in the lineitem scan stage — the fact
    side's shuffle sees only surviving rows, with no exact-IN-list size cap.
    False positives die in the exact join, so the oracle IS the plain
    join."""
    t = _t(spark, sf_dir)
    dim = core.filter_op(
        t["supplier"], F.col("s_acctbal") > 9000, ["s_suppkey", "s_nationkey"]
    )
    fact = core.project(t["lineitem"], ["l_suppkey", "l_quantity"])
    j = join_ops.bloom_prefilter_join(
        fact, dim, on=("l_suppkey", "s_suppkey"), num_bits=1 << 17
    )
    j = core.compute(j, {"qty_d": _dec("l_quantity")}, keep_input=True)
    out = agg.group_aggregate(
        j,
        ["s_nationkey"],
        [
            AggSpec(Aggregation.SUM, "qty_d", "qty", output_type="double"),
            AggSpec(Aggregation.COUNT, None, "n_items"),
        ],
    )
    return sort_ops.sort(out, [SortKey("s_nationkey")])


# =====================================================================
# §2.6 — set / stream combination
# =====================================================================

@q(
    "merge_union_all",
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       WHERE o_orderstatus = 'F' AND o_totalprice > 300000
       UNION ALL
       SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       WHERE o_orderstatus = 'O' AND o_totalprice < 5000""",
)
def q_merge_union_all(spark, sf_dir):
    """MergeUnionAll (merge_union_all.h:30-45): UNION ALL + shared order
    (order is semantically irrelevant to the hash compare; the operator
    applies it)."""
    t = _t(spark, sf_dir)
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    a = core.filter_op(
        t["orders"], (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 300000), cols
    )
    b = core.filter_op(
        t["orders"], (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") < 5000), cols
    )
    return setops.merge_union_all([a, b], [SortKey("o_orderkey")])


@q(
    "coalesce_zip",
    """WITH c AS (SELECT c_custkey, c_name, ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS rn
                  FROM (SELECT * FROM customer ORDER BY c_custkey LIMIT 50)),
            s AS (SELECT s_suppkey, s_name, ROW_NUMBER() OVER (ORDER BY s_suppkey) - 1 AS rn
                  FROM (SELECT * FROM supplier ORDER BY s_suppkey LIMIT 50))
       SELECT c.c_custkey, c.c_name, s.s_suppkey, s.s_name
       FROM c JOIN s USING (rn)""",
)
def q_coalesce_zip(spark, sf_dir):
    """Coalesce (coalesce.h:17-40): HORIZONTAL positional zip — schema is the
    concatenation of inputs; row i pairs with row i."""
    t = _t(spark, sf_dir)
    c50 = sort_ops.extended_sort(
        t["customer"].select("c_custkey", "c_name"), [SortKey("c_custkey")], limit=50
    )
    s50 = sort_ops.extended_sort(
        t["supplier"].select("s_suppkey", "s_name"), [SortKey("s_suppkey")], limit=50
    )
    out = setops.coalesce_zip([c50, s50], [["c_custkey"], ["s_suppkey"]])
    return out.select("c_custkey", "c_name", "s_suppkey", "s_name")


@q(
    "setops_intersect_except",
    """SELECT nk, 'both' AS tag FROM
         (SELECT DISTINCT c_nationkey AS nk FROM customer
          INTERSECT SELECT DISTINCT s_nationkey AS nk FROM supplier) t
       UNION ALL
       SELECT nk, 'cust_only' AS tag FROM
         (SELECT DISTINCT c_nationkey AS nk FROM customer
          EXCEPT SELECT DISTINCT s_nationkey AS nk FROM supplier) t2""",
)
def q_setops_intersect_except(spark, sf_dir):
    """INTERSECT/EXCEPT/DISTINCT — absent in the reference, free in Spark
    (SURVEY.md §2.6 last row); exposed as engine superset."""
    t = _t(spark, sf_dir)
    cust = setops.distinct(t["customer"].select(F.col("c_nationkey").alias("nk")))
    supp = setops.distinct(t["supplier"].select(F.col("s_nationkey").alias("nk")))
    both = setops.intersect(cust, supp).withColumn("tag", F.lit("both"))
    only = setops.except_all(cust, supp).withColumn("tag", F.lit("cust_only"))
    return both.unionByName(only)


@q(
    "scan_view_selection",
    """WITH base AS (
         SELECT p_partkey, p_name, ROW_NUMBER() OVER (ORDER BY p_partkey) - 1 AS rid
         FROM part
       ), sel(pos, rid) AS (VALUES (0, 5), (1, 3), (2, 5), (3, 17))
       SELECT sel.pos, base.p_partkey, base.p_name
       FROM sel JOIN base USING (rid)""",
)
def q_scan_view_selection(spark, sf_dir):
    """ScanViewWithSelection (scan_view.h:43-49): row-id selection vector
    with repeats, over an explicit row order."""
    t = _t(spark, sf_dir)
    out = core.scan_view_with_selection(
        t["part"].select("p_partkey", "p_name"), [5, 3, 5, 17], ["p_partkey"]
    )
    return out.select("pos", "p_partkey", "p_name")


@q(
    "tpch_q5_shape",
    """SELECT n.n_name,
              CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                       * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
       FROM region r
       JOIN nation n ON n.n_regionkey = r.r_regionkey
       JOIN customer c ON c.c_nationkey = n.n_nationkey
       JOIN orders o ON o.o_custkey = c.c_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
       WHERE r.r_name = 'ASIA'
         AND o.o_orderdate >= TIMESTAMP '1996-01-01'
         AND o.o_orderdate < TIMESTAMP '1998-01-01'
       GROUP BY n.n_name
       ORDER BY revenue DESC, n.n_name""",
)
def q_tpch_q5_shape(spark, sf_dir):
    """TPC-H Q5 shape: 6-table join pipeline composed from engine operators.
    Scale shape: region/nation/supplier/customer broadcast (small dims);
    the only big shuffles are orders⋈lineitem on orderkey and the final
    1-key aggregation, which partial-aggregates map-side."""
    t = _t(spark, sf_dir)
    region = core.filter_op(t["region"], F.col("r_name") == "ASIA", ["r_regionkey"])
    nation = join_ops.hash_join(
        t["nation"].select("n_nationkey", "n_name", "n_regionkey"),
        region.withColumnRenamed("r_regionkey", "n_regionkey"),
        on="n_regionkey", unique_right=True,
    ).select("n_nationkey", "n_name")
    cust = join_ops.hash_join(
        t["customer"].select("c_custkey", "c_nationkey"),
        nation.withColumnRenamed("n_nationkey", "c_nationkey"),
        on="c_nationkey", broadcast_right=True,
    )
    orders = core.filter_op(
        t["orders"],
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")),
        ["o_orderkey", "o_custkey"],
    )
    ord_c = join_ops.hash_join(
        orders, cust.withColumnRenamed("c_custkey", "o_custkey"),
        on="o_custkey", broadcast_right=True,
    )
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    j = join_ops.hash_join(
        li, ord_c.withColumnRenamed("o_orderkey", "l_orderkey"), on="l_orderkey",
    )
    supp = t["supplier"].select(
        F.col("s_suppkey").alias("l_suppkey"), F.col("s_nationkey").alias("c_nationkey")
    )
    j = join_ops.hash_join(j, supp, on=["l_suppkey", "c_nationkey"], broadcast_right=True)
    one = F.lit(1).cast("decimal(3,0)")
    j = core.compute(
        j,
        {"rev_d": _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))},
        keep_input=True,
    )
    out = agg.group_aggregate(
        j, ["n_name"], [AggSpec(Aggregation.SUM, "rev_d", "revenue", output_type="double")]
    )
    return sort_ops.extended_sort(
        out, [SortKey("revenue", ascending=False), SortKey("n_name")]
    ).select("n_name", "revenue")


@q(
    "tpch_q3_shape",
    """SELECT l.l_orderkey,
              CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                       * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
              o.o_orderdate, o.o_orderpriority
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE c.c_mktsegment = 'BUILDING'
         AND o.o_orderdate < TIMESTAMP '1998-06-01'
         AND l.l_shipdate > TIMESTAMP '1998-06-01'
       GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
       ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
       LIMIT 10""",
)
def q_tpch_q3_shape(spark, sf_dir):
    """TPC-H Q3 shape (shipping-priority): selective dim filter broadcast
    into the fact join, grouped revenue, true top-k.  Scale shape: the
    filtered customer segment broadcasts; orders⋈lineitem shuffles on
    orderkey once; TakeOrderedAndProject caps the sort at k rows per
    partition — no global sort materialization."""
    t = _t(spark, sf_dir)
    cust = core.filter_op(
        t["customer"], F.col("c_mktsegment") == "BUILDING", ["c_custkey"]
    )
    cutoff = F.lit("1998-06-01").cast("timestamp_ntz")
    orders = core.filter_op(
        t["orders"], F.col("o_orderdate") < cutoff,
        ["o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"],
    )
    ord_c = join_ops.hash_join(
        orders, cust.withColumnRenamed("c_custkey", "o_custkey"),
        on="o_custkey", broadcast_right=True,
    )
    li = core.filter_op(
        t["lineitem"], F.col("l_shipdate") > cutoff,
        ["l_orderkey", "l_extendedprice", "l_discount"],
    )
    j = join_ops.hash_join(
        li, ord_c.withColumnRenamed("o_orderkey", "l_orderkey"), on="l_orderkey"
    )
    one = F.lit(1).cast("decimal(3,0)")
    j = core.compute(
        j,
        {"rev_d": _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))},
        keep_input=True,
    )
    out = agg.group_aggregate(
        j,
        ["l_orderkey", "o_orderdate", "o_orderpriority"],
        [AggSpec(Aggregation.SUM, "rev_d", "revenue", output_type="double")],
    )
    return sort_ops.extended_sort(
        out,
        [SortKey("revenue", ascending=False), SortKey("o_orderdate"), SortKey("l_orderkey")],
        limit=10,
    ).select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")


@q(
    "tpch_q18_shape",
    """WITH big AS (
         SELECT l_orderkey FROM lineitem
         GROUP BY l_orderkey
         HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250)
       SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
              CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
       GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
       ORDER BY o.o_totalprice DESC, o.o_orderkey
       LIMIT 100""",
)
def q_tpch_q18_shape(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): a grouped HAVING filter
    produces a key set that semi-joins the fact pipeline.  Scale shape: the
    big-order key set is the output of a partial-aggregated groupBy (tiny —
    broadcast back against lineitem and orders), so the heavy table is
    scanned twice but shuffled only once, on the qualifying keys."""
    t = _t(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", _dec("l_quantity").alias("qty_d"))
    big = agg.group_aggregate(
        li, ["l_orderkey"], [AggSpec(Aggregation.SUM, "qty_d", "sum_qty")]
    )
    big = core.filter_op(big, F.col("sum_qty") > 250, ["l_orderkey"])
    li_big = join_ops.hash_join(
        li, big, on="l_orderkey", broadcast_right=True, unique_right=True
    )
    # orders' key is renamed to l_orderkey on the STREAM side so both
    # broadcast builds of ``big`` are byte-identical subtrees: Spark's
    # ReuseExchange then materializes the big-order key set ONCE and ships
    # one broadcast to both joins — renaming the build side instead (the
    # previous shape) made the two BroadcastExchanges canonically different
    # and the lineitem-wide aggregation behind ``big`` ran twice (round-9;
    # the profiler showed two back-to-back stages re-reading the same
    # aggregate exchange).
    orders = join_ops.hash_join(
        t["orders"].select(
            F.col("o_orderkey").alias("l_orderkey"),
            "o_custkey", "o_orderdate", "o_totalprice",
        ),
        big,
        on="l_orderkey", broadcast_right=True, unique_right=True,
    )
    ord_c = join_ops.hash_join(
        orders,
        t["customer"].select(
            F.col("c_custkey").alias("o_custkey"), "c_name"
        ),
        on="o_custkey", broadcast_right=True,
    )
    j = join_ops.hash_join(li_big, ord_c, on="l_orderkey")
    out = agg.group_aggregate(
        j,
        ["c_name", "o_custkey", "l_orderkey", "o_orderdate", "o_totalprice"],
        [AggSpec(Aggregation.SUM, "qty_d", "total_qty", output_type="double")],
    )
    return sort_ops.extended_sort(
        out,
        [SortKey("o_totalprice", ascending=False), SortKey("l_orderkey")],
        limit=100,
    ).select(
        "c_name",
        F.col("o_custkey").alias("c_custkey"),
        F.col("l_orderkey").alias("o_orderkey"),
        "o_orderdate",
        "o_totalprice",
        "total_qty",
    )


@q(
    "skew_salted_aggregate",
    """SELECT event_type,
              COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total,
              MIN(user_id) AS min_user, MAX(user_id) AS max_user
       FROM events GROUP BY event_type""",
)
def q_skew_salted_aggregate(spark, sf_dir):
    """Two-phase salted aggregation (skew path): identical results to
    GroupAggregate, shuffle split over (key, salt) then recombined —
    event_type is a classic low-cardinality hot-key column."""
    t = _t(spark, sf_dir)
    ev = core.compute(
        t["events"],
        {"event_type": F.col("event_type"), "user_id": F.col("user_id"),
         "value_d": _dec("value")},
    )
    out = agg.salted_group_aggregate(
        ev,
        ["event_type"],
        [
            AggSpec(Aggregation.COUNT, None, "n"),
            AggSpec(Aggregation.SUM, "value_d", "total", output_type="double"),
            AggSpec(Aggregation.MIN, "user_id", "min_user"),
            AggSpec(Aggregation.MAX, "user_id", "max_user"),
        ],
        salt_buckets=8,
    )
    return out.select("event_type", "n", "total", "min_user", "max_user")


@q(
    "rollup_aggregate",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
              COUNT(*) AS n
       FROM lineitem
       GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
)
def q_rollup_aggregate(spark, sf_dir):
    """ROLLUP superset: hierarchical subtotals (engine extension beyond the
    reference's flat GroupAggregate)."""
    t = _t(spark, sf_dir)
    li = core.compute(
        t["lineitem"],
        {"l_returnflag": F.col("l_returnflag"), "l_linestatus": F.col("l_linestatus"),
         "qty_d": _dec("l_quantity")},
    )
    out = agg.group_aggregate_rollup(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            AggSpec(Aggregation.SUM, "qty_d", "sum_qty", output_type="double"),
            AggSpec(Aggregation.COUNT, None, "n"),
        ],
    )
    return out.select("l_returnflag", "l_linestatus", "sum_qty", "n")


@q(
    "grouping_sets_aggregate",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
              COUNT(*) AS n
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""",
)
def q_grouping_sets_aggregate(spark, sf_dir):
    """Explicit GROUPING SETS (generic rollup/cube): per-flag totals,
    per-status totals, and the grand total in ONE pass (map-side Expand —
    the same trick as the reference's DISTINCT NULL-fanout)."""
    t = _t(spark, sf_dir)
    li = core.compute(
        t["lineitem"],
        {"l_returnflag": F.col("l_returnflag"), "l_linestatus": F.col("l_linestatus"),
         "qty_d": _dec("l_quantity")},
    )
    out = agg.group_aggregate_grouping_sets(
        li,
        [["l_returnflag"], ["l_linestatus"], []],
        ["l_returnflag", "l_linestatus"],
        [
            AggSpec(Aggregation.SUM, "qty_d", "sum_qty", output_type="double"),
            AggSpec(Aggregation.COUNT, None, "n"),
        ],
    )
    return out.select("l_returnflag", "l_linestatus", "sum_qty", "n")


@q(
    "tpch_q6_shape",
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                     * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
              COUNT(*) AS n
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1997-01-01'
         AND l_discount BETWEEN 0.05 AND 0.07
         AND l_quantity < 24""",
)
def q_tpch_q6_shape(spark, sf_dir):
    """TPC-H Q6 shape: multi-predicate scan + scalar aggregate.  All four
    predicates reach the parquet scan (PushedFilters) — the plan is one
    codegen'd scan stage plus a 1-row final agg."""
    t = _t(spark, sf_dir)
    li = core.filter_op(
        t["lineitem"],
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24),
        ["l_extendedprice", "l_discount"],
    )
    li = core.compute(li, {"rev_d": _dec("l_extendedprice") * _dec("l_discount", 4, 2)})
    return agg.scalar_aggregate(
        li,
        [
            AggSpec(Aggregation.SUM, "rev_d", "revenue", output_type="double"),
            AggSpec(Aggregation.COUNT, None, "n"),
        ],
    )


@q(
    "tpch_q10_shape",
    """SELECT c.c_custkey, c.c_name,
              CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                       * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
              n.n_name
       FROM customer c
       JOIN orders o ON o.o_custkey = c.c_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       JOIN nation n ON n.n_nationkey = c.c_nationkey
       WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
         AND o.o_orderdate < TIMESTAMP '1996-07-01'
         AND l.l_returnflag = 'R'
       GROUP BY c.c_custkey, c.c_name, n.n_name
       ORDER BY revenue DESC, c.c_custkey LIMIT 20""",
)
def q_tpch_q10_shape(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue per customer, top 20.
    Scale shape: nation broadcast; customer⋈orders and orders⋈lineitem
    shuffle on their keys; top-k is TakeOrdered, not a global sort."""
    t = _t(spark, sf_dir)
    orders = core.filter_op(
        t["orders"],
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz")),
        ["o_orderkey", "o_custkey"],
    )
    li = core.filter_op(
        t["lineitem"], F.col("l_returnflag") == "R",
        ["l_orderkey", "l_extendedprice", "l_discount"],
    )
    j = join_ops.hash_join(
        li, orders.withColumnRenamed("o_orderkey", "l_orderkey"), on="l_orderkey"
    )
    cust = t["customer"].select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_nationkey"
    )
    j = join_ops.hash_join(j, cust, on="o_custkey")
    nat = t["nation"].select(F.col("n_nationkey").alias("c_nationkey"), "n_name")
    j = join_ops.hash_join(j, nat, on="c_nationkey", broadcast_right=True)
    one = F.lit(1).cast("decimal(3,0)")
    j = core.compute(
        j,
        {"rev_d": _dec("l_extendedprice") * (one - _dec("l_discount", 4, 2))},
        keep_input=True,
    )
    out = agg.group_aggregate(
        j,
        [F.col("o_custkey").alias("c_custkey"), F.col("c_name"), F.col("n_name")],
        [AggSpec(Aggregation.SUM, "rev_d", "revenue", output_type="double")],
    )
    out = sort_ops.extended_sort(
        out, [SortKey("revenue", ascending=False), SortKey("c_custkey")], limit=20
    )
    return out.select("c_custkey", "c_name", "revenue", "n_name")


@q(
    "json_extract_props",
    """SELECT event_id,
              CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
              event_type
       FROM events
       WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50""",
)
def q_json_extract_props(spark, sf_dir):
    """Semi-structured extraction (beyond-reference; training-data pipelines
    carry JSON sidecar columns): get_json_object stays JVM-side, and the
    derived predicate filters before any shuffle."""
    t = _t(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    ev = core.compute(
        t["events"],
        {"event_id": F.col("event_id"), "prop_k": k, "event_type": F.col("event_type")},
    )
    return core.filter_op(ev, F.col("prop_k") >= 50)


@q(
    "sort_nulls_ordering",
    """SELECT o_orderkey, flag_val
       FROM (SELECT o_orderkey,
                    CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_totalprice END AS flag_val
             FROM orders)
       ORDER BY flag_val DESC NULLS LAST, o_orderkey
       LIMIT 50""",
)
def q_sort_nulls_ordering(spark, sf_dir):
    """Sort NULL placement (sort.cc:44-46,72-77: NULLs partitioned to one
    end, caller-chosen): DESC with NULLS LAST through ExtendedSort."""
    t = _t(spark, sf_dir)
    o = core.compute(
        t["orders"],
        {
            "o_orderkey": F.col("o_orderkey"),
            "flag_val": F.when(F.col("o_orderstatus") != "O", F.col("o_totalprice")),
        },
    )
    out = sort_ops.extended_sort(
        o,
        [SortKey("flag_val", ascending=False, nulls_first=False), SortKey("o_orderkey")],
        limit=50,
    )
    return out.select("o_orderkey", "flag_val")


@q(
    "window_rank_orders",
    """SELECT o_custkey, o_orderkey,
              CAST(ROW_NUMBER() OVER w AS INT) AS rn,
              CAST(RANK() OVER w AS INT) AS rnk,
              CAST(DENSE_RANK() OVER w AS INT) AS drnk,
              CAST(NTILE(4) OVER w AS INT) AS quartile
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey)""",
)
def q_window_rank_orders(spark, sf_dir):
    """Ranking-window family (beyond-reference: supersonic has no window
    functions): row_number/rank/dense_rank/ntile per customer over a total
    order.  One shuffle on the partition key; no global sort."""
    t = _t(spark, sf_dir)
    out = analytics.window_rank(
        t["orders"].select("o_custkey", "o_orderkey", "o_totalprice"),
        partition=["o_custkey"],
        order=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        rankers={"rn": "row_number", "rnk": "rank", "drnk": "dense_rank"},
        ntile={"quartile": 4},
    )
    return out.select("o_custkey", "o_orderkey", "rn", "rnk", "drnk", "quartile")


@q(
    "top_n_per_group",
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
       FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                    ROW_NUMBER() OVER (PARTITION BY o_custkey
                                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
             FROM orders)
       WHERE rn <= 3""",
)
def q_top_n_per_group(spark, sf_dir):
    """Top-N per key (here: each customer's 3 largest orders) — the window
    filter prunes to n×groups rows before anything downstream."""
    t = _t(spark, sf_dir)
    return analytics.top_n_per_group(
        t["orders"].select("o_custkey", "o_orderkey", "o_totalprice"),
        partition=["o_custkey"],
        order=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        n=3,
    )


@q(
    "pivot_event_types",
    """SELECT user_id,
              CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2)))
                            FILTER (event_type = 'click'), 0) AS DOUBLE) AS click,
              CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2)))
                            FILTER (event_type = 'error'), 0) AS DOUBLE) AS error,
              CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2)))
                            FILTER (event_type = 'purchase'), 0) AS DOUBLE) AS purchase,
              CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2)))
                            FILTER (event_type = 'signup'), 0) AS DOUBLE) AS signup,
              CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2)))
                            FILTER (event_type = 'view'), 0) AS DOUBLE) AS view
       FROM events GROUP BY user_id""",
)
def q_pivot_event_types(spark, sf_dir):
    """Pivot (beyond-reference): per-user value totals spread across the 5
    event types.  The value list is explicit, so Spark skips the implicit
    distinct-discovery pass — one aggregation, no extra scan."""
    t = _t(spark, sf_dir)
    ev = core.compute(
        t["events"], {"user_id": F.col("user_id"), "event_type": F.col("event_type"),
                      "value_d": _dec("value")},
    )
    out = analytics.pivot_table(
        ev, ["user_id"], "event_type",
        ["click", "error", "purchase", "signup", "view"],
        F.sum("value_d"),
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).cast("double").alias(c)
          for c in ("click", "error", "purchase", "signup", "view")],
    )


@q(
    "percentile_aggregate_price",
    """SELECT o_orderstatus,
              round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
              round(quantile_cont(o_totalprice, 0.95), 6) AS p95,
              round(quantile_cont(o_totalprice, 0.99), 6) AS p99
       FROM orders GROUP BY o_orderstatus""",
)
def q_percentile_aggregate_price(spark, sf_dir):
    """Exact grouped percentiles (beyond-reference).  exact=True is the
    oracle-able form; the scale default approx_percentile (mergeable
    t-digest, map-side combined) is unit-tested against it instead."""
    t = _t(spark, sf_dir)
    out = analytics.percentile_aggregate(
        t["orders"], ["o_orderstatus"], "o_totalprice", [0.5, 0.95, 0.99],
        exact=True,
    )
    return out.select(
        "o_orderstatus",
        *[F.round(F.col(c), 6).alias(c) for c in ("p50", "p95", "p99")],
    )


@q(
    "streaming_enrich_join",
    """SELECT e.event_id, e.event_type, c.c_name, c.c_mktsegment
       FROM events e JOIN customer c ON e.user_id = c.c_custkey
       WHERE e.event_type IN ('purchase', 'signup')""",
)
def q_streaming_enrich_join(spark, sf_dir):
    """Stream-static enrichment join with BATCH-EQUAL semantics: the events
    stream joins the static customer dimension micro-batch by micro-batch
    (the standard streaming feature-enrichment shape; the dim broadcasts
    into every batch), drained via availableNow and hash-matched against
    the batch SQL join."""
    from supersonic_spark.streaming.ops import events_stream

    t = _t(spark, sf_dir)  # registers views + runtime conf
    static_cust = t["customer"].select("c_custkey", "c_name", "c_mktsegment")
    stream = events_stream(spark, sf_dir).filter(
        F.col("event_type").isin("purchase", "signup")
    )
    joined = stream.join(
        static_cust, stream["user_id"] == static_cust["c_custkey"], "inner"
    ).select("event_id", "event_type", "c_name", "c_mktsegment")
    sink = "ss_stream_enrich"
    for q_ in spark.streams.active:
        if q_.name == sink:
            q_.stop()
    (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination(300)
    )
    return spark.table(sink)


@q(
    "udaf_geomean",
    """SELECT l_returnflag,
              round(exp(avg(ln(l_extendedprice))), 6) AS geomean_price
       FROM lineitem WHERE l_extendedprice > 0
       GROUP BY l_returnflag""",
)
def q_udaf_geomean(spark, sf_dir):
    """The UDAF surface (beyond-reference: the reference's extensibility is
    compile-time C++ only): an Arrow-batched pandas grouped-agg UDF
    (geometric mean) evaluated per group, hash-matched against the SQL
    identity exp(avg(ln(x)))."""
    from supersonic_spark.functions import udf as udf_fn

    t = _t(spark, sf_dir)
    li = core.filter_op(
        t["lineitem"], F.col("l_extendedprice") > 0, ["l_returnflag", "l_extendedprice"]
    )
    out = li.groupBy("l_returnflag").agg(
        udf_fn.geomean("l_extendedprice").alias("geomean_price")
    )
    return out.select("l_returnflag", F.round("geomean_price", 6).alias("geomean_price"))


@q(
    "asof_join_events",
    """SELECT l.event_id, l.ts, l.value,
              r.ts AS view_ts, r.value AS view_value
       FROM (SELECT * FROM events WHERE event_type = 'purchase') l
       ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
         ON l.user_id = r.user_id AND l.ts >= r.ts""",
)
def q_asof_join_events(spark, sf_dir):
    """As-of join (beyond-reference; time-series staple Spark lacks
    natively): each purchase matches the user's latest prior-or-equal view
    event.  One shuffle on user_id, then an ordered LOCF window pass — no
    interval explosion, no nested loop."""
    t = _t(spark, sf_dir)
    ev = t["events"]
    purchases = core.filter_op(
        ev, F.col("event_type") == "purchase", ["event_id", "user_id", "ts", "value"]
    )
    views = core.filter_op(
        ev, F.col("event_type") == "view", ["user_id", "ts", "value"]
    )
    out = join_ops.asof_join(
        purchases, views, keys=["user_id"], left_ts="ts", right_ts="ts",
        right_cols=["value"],
    )
    return out.select(
        "event_id", "ts", "value",
        F.col("ts_right").alias("view_ts"), F.col("value_right").alias("view_value"),
    )


@q(
    "range_join_price_bands",
    """WITH bands AS (
         SELECT CAST(i AS INT) AS band_id,
                i * 40000.0 AS lo, i * 40000.0 + 99999.99 AS hi
         FROM range(0, 11) t(i))
       SELECT band_id, COUNT(*) AS n,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
       FROM orders JOIN bands ON o_totalprice BETWEEN lo AND hi
       GROUP BY band_id""",
)
def q_range_join_price_bands(spark, sf_dir):
    """Range (point-in-interval) join against OVERLAPPING price bands —
    beyond-reference non-equi join.  Bin-bucketed to an equi join on the
    bin id (40k-wide bins ≈ 3 bins per 100k interval) instead of Spark's
    nested-loop default; each order lands in up to 3 bands."""
    t = _t(spark, sf_dir)
    bands = core.scan_view(
        spark,
        [(i, i * 40000.0, i * 40000.0 + 99999.99) for i in range(11)],
        "band_id int, lo double, hi double",
    )
    j = join_ops.range_join(
        t["orders"].select("o_orderkey", "o_totalprice"),
        bands, "o_totalprice", "lo", "hi", bin_width=40000.0,
    )
    j = core.compute(j, {"price_d": _dec("o_totalprice")}, keep_input=True)
    return agg.group_aggregate(
        j,
        ["band_id"],
        [
            AggSpec(Aggregation.COUNT, None, "n"),
            AggSpec(Aggregation.SUM, "price_d", "total", output_type="double"),
        ],
    )


@q(
    "enum_dictionary_agg",
    """WITH e AS (
         SELECT CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
                                WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
                                WHEN 'view' THEN 4 END AS type_id,
                value
         FROM events)
       SELECT type_id,
              CASE type_id WHEN 0 THEN 'click' WHEN 1 THEN 'error'
                           WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup'
                           WHEN 4 THEN 'view' END AS type_name,
              COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
       FROM e GROUP BY type_id""",
)
def q_enum_dictionary_agg(spark, sf_dir):
    """ENUM attribute end-to-end (tuple_schema.h:42-75): a string column is
    dictionary-encoded to int ids (encode_column: literal-map lookup), the
    aggregation keys on the narrow id — the point of enums at scale: 4-byte
    shuffle keys instead of strings — and the id decodes back to its name
    for output (decode_column)."""
    from supersonic_spark.schema import EnumDefinition

    ed = EnumDefinition.from_values(["click", "error", "purchase", "signup", "view"])
    t = _t(spark, sf_dir)
    enc = core.compute(
        t["events"],
        {
            "type_id": ed.encode_column("event_type"),
            "value_d": _dec("value"),
        },
    )
    out = agg.group_aggregate(
        enc,
        ["type_id"],
        [
            AggSpec(Aggregation.COUNT, None, "n"),
            AggSpec(Aggregation.SUM, "value_d", "total", output_type="double"),
        ],
    )
    return out.select(
        "type_id", ed.decode_column("type_id").alias("type_name"), "n", "total"
    )


@q(
    "streaming_window_agg",
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start, event_type,
              COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
       FROM events GROUP BY 1, 2""",
)
def q_streaming_window_agg(spark, sf_dir):
    """Structured Streaming end-to-end with BATCH-EQUAL semantics: the
    events table is consumed as a file stream, aggregated in 1-hour
    event-time tumbling windows, and the drained (availableNow) result
    hash-matches the batch SQL oracle — the replayable-source guarantee.

    Event time is TimestampType (watermarks reject NTZ); the session is
    pinned to UTC so values equal the NTZ batch reads."""
    from supersonic_spark.operators.aggregate import AggSpec, Aggregation
    from supersonic_spark.streaming.ops import events_stream, windowed_aggregate

    load_tables(spark, sf_dir)  # applies runtime conf (UTC, nanosAsLong)
    stream = events_stream(spark, sf_dir).withColumn(
        "value_d", F.col("value").cast("decimal(12,2)")
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
    sink = "ss_stream_window_agg"
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
    "streaming_sliding_agg",
    """WITH e AS (SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS tb, event_type, value
                  FROM events),
        x AS (SELECT CAST(tb AS TIMESTAMP) AS win_start, event_type, value FROM e
              UNION ALL
              SELECT CAST(tb - INTERVAL 30 MINUTE AS TIMESTAMP), event_type, value FROM e)
       SELECT win_start, event_type, COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
       FROM x GROUP BY win_start, event_type""",
)
def q_streaming_sliding_agg(spark, sf_dir):
    """Sliding event-time windows on a stream with BATCH-EQUAL semantics:
    1-hour windows every 30 minutes (each event lands in exactly 2 windows),
    drained via availableNow and hash-matched against a batch SQL oracle
    that materializes both window starts per event.  Epoch-aligned window
    origins on both engines make the comparison exact."""
    from supersonic_spark.operators.aggregate import AggSpec, Aggregation
    from supersonic_spark.streaming.ops import events_stream, windowed_aggregate

    load_tables(spark, sf_dir)  # applies runtime conf (UTC, nanosAsLong)
    stream = events_stream(spark, sf_dir).withColumn(
        "value_d", F.col("value").cast("decimal(12,2)")
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
        slide="30 minutes",
        watermark="1 hour",
    )
    sink = "ss_stream_sliding_agg"
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
    "streaming_session_agg",
    """WITH o AS (
         SELECT user_id, ts, value,
                CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w >= INTERVAL 6 HOUR THEN 1 ELSE 0 END AS brk
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts)
       ), s AS (
         SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sess
         FROM o
       )
       SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start,
              COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
       FROM s GROUP BY user_id, sess""",
)
def q_streaming_session_agg(spark, sf_dir):
    """Session windows (6-hour gap merge) on a stream with BATCH-EQUAL
    semantics: per-user sessions via the built-in session_window state
    (incremental merge, watermark-bounded), hash-matched against a batch
    lag/cumsum sessionization oracle.  Session start identifies the
    session; a new session begins when the gap to the previous event is
    ≥ the 6-hour gap (session end is exclusive)."""
    from supersonic_spark.operators.aggregate import AggSpec, Aggregation
    from supersonic_spark.streaming.ops import events_stream, sessionize

    load_tables(spark, sf_dir)  # applies runtime conf (UTC, nanosAsLong)
    stream = events_stream(spark, sf_dir).withColumn(
        "value_d", F.col("value").cast("decimal(12,2)")
    )
    agged = sessionize(
        stream,
        "ts",
        "6 hours",
        [
            AggSpec(Aggregation.COUNT, None, "n"),
            AggSpec(Aggregation.SUM, "value_d", "total", output_type="double"),
        ],
        keys=["user_id"],
        watermark="1 hour",
    )
    sink = "ss_stream_session_agg"
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
        "user_id",
        F.col("session.start").cast("timestamp_ntz").alias("session_start"),
        "n",
        "total",
    )

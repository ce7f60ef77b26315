"""SURVEY.md §2B — the delegated-SQL query surface, evaluated natively.

The reference ships arbitrary SELECTs to the source DB verbatim
(``CopyTable.java:310-328``, ``CopyToolConfig.java:856-867``); this engine
evaluates that surface itself with the DataFrame API and lets Catalyst pick
physical strategies. Every query here has a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import Tables, parallelized
from .helpers import davg, dsum, oracle_davg, oracle_dsum, sql_with_views
from .registry import query


# ---------------------------------------------------------------------------
# Scan / projection / filter
# ---------------------------------------------------------------------------

@query(
    "scan_lineitem",
    oracle="SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber",
)
def scan_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full table scan (reference op #1, ``CopyTable.java:310-328``)."""
    t = Tables(spark, sf_dir)
    return t.lineitem.orderBy("l_orderkey", "l_linenumber")


@query(
    "projection",
    oracle="SELECT c_custkey, c_name FROM customer ORDER BY c_custkey",
)
def projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column pruning (reference op #3, ``CopyTable.java:314-322``).

    ``.select`` reaches the parquet scan as ReadSchema pruning — only the two
    columns are decoded.
    """
    t = Tables(spark, sf_dir)
    return t.customer.select("c_custkey", "c_name").orderBy("c_custkey")


@query(
    "filter_predicates",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM lineitem
        WHERE l_quantity > 30 AND l_returnflag = 'R'
          AND l_linestatus IN ('F', 'O')
          AND l_discount BETWEEN 0.02 AND 0.08
          AND l_shipdate IS NOT NULL
        ORDER BY l_orderkey, l_linenumber
    """,
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter with =, >, IN, BETWEEN, IS NOT NULL — all pushed to the scan."""
    t = Tables(spark, sf_dir)
    li = t.lineitem
    return (
        li.filter(
            (F.col("l_quantity") > 30)
            & (F.col("l_returnflag") == "R")
            & F.col("l_linestatus").isin("F", "O")
            & F.col("l_discount").between(0.02, 0.08)
            & F.col("l_shipdate").isNotNull()
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "filter_like_null",
    oracle="""
        SELECT o_orderkey, o_orderpriority
        FROM orders
        WHERE o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '%URGENT%'
        ORDER BY o_orderkey
    """,
)
def filter_like_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE patterns with OR (reference delegated-SQL predicates)."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.filter(
            F.col("o_orderpriority").like("1-%") | F.col("o_orderpriority").like("%URGENT%")
        )
        .select("o_orderkey", "o_orderpriority")
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

@query(
    "join_inner",
    oracle="""
        SELECT o_orderkey, c_name
        FROM orders JOIN customer ON o_custkey = c_custkey
        ORDER BY o_orderkey
    """,
    bench=True,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join; fact-fact -> shuffle/sort-merge, AQE may demote."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.join(t.customer, t.orders.o_custkey == t.customer.c_custkey, "inner")
        .select("o_orderkey", "c_name")
        .orderBy("o_orderkey")
    )


@query(
    "join_left_outer",
    oracle="""
        SELECT c_custkey, o_orderkey
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        ORDER BY c_custkey, o_orderkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, t.customer.c_custkey == t.orders.o_custkey, "left")
        .select("c_custkey", "o_orderkey")
        .orderBy("c_custkey", "o_orderkey")
    )


@query(
    "join_full_outer",
    oracle="""
        SELECT c_custkey, o_orderkey
        FROM customer FULL JOIN orders ON o_custkey = c_custkey
        ORDER BY c_custkey, o_orderkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, t.customer.c_custkey == t.orders.o_custkey, "full")
        .select("c_custkey", "o_orderkey")
        .orderBy("c_custkey", "o_orderkey")
    )


@query(
    "join_semi",
    oracle="""
        SELECT c_custkey FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders)
        ORDER BY c_custkey
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, t.customer.c_custkey == t.orders.o_custkey, "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@query(
    "join_anti",
    oracle="""
        SELECT c_custkey FROM customer
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        )
        ORDER BY c_custkey
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join against a restricted build side so BOTH the kept and the
    excluded customer sets are large at every SF — an unrestricted anti
    (every customer has an order) returns 0 rows and the verdict would be
    vacuous; ~14% of customers have no urgent order."""
    t = Tables(spark, sf_dir)
    urgent = t.orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        t.customer.join(urgent, t.customer.c_custkey == urgent.o_custkey, "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@query(
    "join_broadcast_dims",
    oracle="""
        SELECT r_name, n_name, COUNT(*) AS n_customers
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
        ORDER BY r_name, n_name
    """,
    bench=True,
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: explicit broadcast of the dimension tables.

    At 100 TB the fact side never shuffles for this plan — both dims are
    broadcast, so the join is map-side and the only shuffle is the final agg.
    """
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("r_name", "n_name")
    )


@query(
    "join_theta_range",
    oracle="""
        SELECT c_custkey, o_orderkey
        FROM customer c JOIN orders o
          ON o.o_custkey = c.c_custkey AND o.o_totalprice > c.c_acctbal
        ORDER BY c_custkey, o_orderkey
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join with residual range predicate (theta join).

    Catalyst extracts the equi part for the hash/merge join and applies the
    range condition as a post-join filter — no BNL at scale.
    """
    t = Tables(spark, sf_dir)
    c, o = t.customer.alias("c"), t.orders.alias("o")
    return (
        c.join(o, (F.col("o.o_custkey") == F.col("c.c_custkey")) & (F.col("o.o_totalprice") > F.col("c.c_acctbal")))
        .select("c.c_custkey", "o.o_orderkey")
        .orderBy("c_custkey", "o_orderkey")
    )


@query(
    "join_cross",
    oracle="""
        SELECT r_name, n_name FROM region CROSS JOIN nation
        ORDER BY r_name, n_name
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.region.crossJoin(t.nation).select("r_name", "n_name").orderBy("r_name", "n_name")


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------

@query(
    "agg_tpch_q1",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {oracle_dsum('l_quantity', 'sum_qty')},
               {oracle_dsum('l_extendedprice', 'sum_base_price')},
               {oracle_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
               {oracle_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
               {oracle_davg('l_quantity', 'avg_qty')},
               {oracle_davg('l_extendedprice', 'avg_price')},
               {oracle_davg('l_discount', 'avg_disc')},
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    bench=True,
)
def agg_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary — the flagship hash aggregate.

    Doubles are summed through exact DECIMAL (helpers.DEC) so partial-aggregate
    order (nondeterministic at cluster scale) cannot change the result.
    """
    t = Tables(spark, sf_dir)
    li = t.lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
    # spread an unsplittable single-row-group scan before the PARTIAL
    # aggregation: the 7 exact-DECIMAL sums are the heavy per-row work here
    # and run map-side, so a serial scan task serializes them (measured at
    # sf0.1: 1.35 s -> 0.94 s; bare decode is 0.16 s, so the decimal fold
    # is ~85% of the stage). On splittable inputs the partition probe makes
    # this a no-op — same contract as every parallelized() site. The same
    # spread measured WORSE on q3/q5 (light per-row work, broadcast-probe
    # joins — VERDICT.md, round 12 audit item 2), so it stays q1-only.
    li = parallelized(
        li.select(
            "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax",
        )
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "agg_count_distinct",
    oracle="""
        SELECT o_orderstatus,
               COUNT(DISTINCT o_custkey) AS n_custs,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.orders.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "agg_approx_count_distinct",
    oracle="""
        SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
               1 AS within_tolerance
        FROM orders
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct. The sketch value itself is
    algorithm-specific (DuckDB's HLL differs), so the verifiable contract is
    the *invariant*: approx_count_distinct at rsd=0.02 must land within ±20%
    of the exact distinct count. Both engines return (exact count, flag=1)."""
    t = Tables(spark, sf_dir)
    return t.orders.agg(
        F.count_distinct("o_custkey").cast("bigint").alias("exact_custs"),
        (
            F.approx_count_distinct("o_custkey", 0.02)
            .between(
                F.count_distinct("o_custkey") * 0.8,
                F.count_distinct("o_custkey") * 1.2,
            )
        )
        .cast("int")
        .alias("within_tolerance"),
    )


@query(
    "agg_rollup",
    oracle="""
        SELECT COALESCE(o_orderpriority, '(all)') AS priority,
               COALESCE(o_orderstatus, '(all)') AS status,
               COUNT(*) AS n
        FROM orders
        GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        ORDER BY priority, status
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-set aggregate; NULL group keys coalesced to a sentinel
    so ordering/hashing is engine-independent."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("(all)")).alias("priority"),
            F.coalesce(F.col("o_orderstatus"), F.lit("(all)")).alias("status"),
            F.col("n"),
        )
        .orderBy("priority", "status")
    )


@query(
    "agg_cube",
    oracle="""
        SELECT COALESCE(l_returnflag, '(all)') AS rflag,
               COALESCE(l_linestatus, '(all)') AS lstatus,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY CUBE(l_returnflag, l_linestatus)
        ORDER BY rflag, lstatus
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("(all)")).alias("rflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("(all)")).alias("lstatus"),
            F.col("n"),
        )
        .orderBy("rflag", "lstatus")
    )


@query(
    "agg_having",
    oracle="""
        SELECT o_custkey, COUNT(*) AS n_orders
        FROM orders GROUP BY o_custkey HAVING COUNT(*) > 5
        ORDER BY o_custkey
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") > 5)
        .orderBy("o_custkey")
    )


@query(
    "agg_minmax",
    oracle="""
        SELECT l_returnflag,
               MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
               MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
               CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX over doubles and timestamps — the reference's watermark probe
    shape (op #6, ``SourceDatabaseType.java:21-25``) generalized."""
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.min("l_shipdate").alias("min_ship"),
            F.max("l_shipdate").alias("max_ship"),
            F.sum("l_orderkey").cast("bigint").alias("sum_okey"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Subqueries
# ---------------------------------------------------------------------------

@query(
    "subquery_scalar",
    oracle="""
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > (
            SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(24,8))) AS DOUBLE) / COUNT(*)
            FROM orders)
        ORDER BY o_orderkey
    """,
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (avg computed exactly so the comparison
    threshold is engine-independent)."""
    t = Tables(spark, sf_dir)
    return sql_with_views(
        spark,
        """
        SELECT o_orderkey, o_totalprice FROM {orders}
        WHERE o_totalprice > (
            SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(24,8))) AS DOUBLE) / COUNT(*)
            FROM {orders})
        ORDER BY o_orderkey
        """,
        orders=t.orders,
    )


@query(
    "subquery_correlated",
    oracle="""
        SELECT c_custkey, c_acctbal FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
        ORDER BY c_custkey
    """,
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS — Catalyst decorrelates to a left-semi join."""
    t = Tables(spark, sf_dir)
    return sql_with_views(
        spark,
        """
        SELECT c_custkey, c_acctbal FROM {customer} c
        WHERE EXISTS (
            SELECT 1 FROM {orders} o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
        ORDER BY c_custkey
        """,
        customer=t.customer,
        orders=t.orders,
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

@query(
    "window_row_number",
    oracle="""
        SELECT o_custkey, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
               RANK()       OVER (PARTITION BY o_custkey ORDER BY o_orderstatus) AS rnk,
               DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus) AS drnk
        FROM orders ORDER BY o_custkey, rn
    """,
    bench=True,
)
def window_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window functions; one shuffle on the partition key."""
    t = Tables(spark, sf_dir)
    w_rn = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_rk = Window.partitionBy("o_custkey").orderBy("o_orderstatus")
    return (
        t.orders.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w_rn).alias("rn"),
            F.rank().over(w_rk).alias("rnk"),
            F.dense_rank().over(w_rk).alias("drnk"),
        )
        .orderBy("o_custkey", "rn")
    )


@query(
    "window_lag_lead",
    oracle="""
        SELECT o_custkey, o_orderkey,
               LAG(o_totalprice)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
               LEAD(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price,
               FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS first_okey
        FROM orders ORDER BY o_custkey, o_orderkey
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        t.orders.select(
            "o_custkey",
            "o_orderkey",
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"),
            F.first("o_orderkey").over(w).alias("first_okey"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "window_running_sum",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               SUM(l_quantity) OVER (
                   PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        FROM lineitem ORDER BY l_orderkey, l_linenumber, running_qty
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS frame running sum (l_quantity is integral-valued, exact in double).

    (l_orderkey, l_linenumber) is not unique in the fixture, so l_quantity
    joins the frame ordering — the prefix-sum multiset is then deterministic
    even though rows tied on the full key remain interchangeable.
    """
    t = Tables(spark, sf_dir)
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.lineitem.select(
            "l_orderkey",
            "l_linenumber",
            F.sum("l_quantity").over(w).alias("running_qty"),
        )
        .orderBy("l_orderkey", "l_linenumber", "running_qty")
    )


@query(
    "window_ntile",
    oracle="""
        SELECT c_custkey, NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
        FROM customer ORDER BY c_custkey
    """,
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) by account balance — the unpartitioned ORDER BY is
    NTILE's declared SQL semantics (one global ordering), which makes it
    a single-window-partition operator by definition. At 100 TB tile a
    derived bounded relation (a value histogram, as the exact-quantile
    rewrite in extensions.py does) or a per-key partition instead."""
    t = Tables(spark, sf_dir)
    w = Window.orderBy("c_acctbal", "c_custkey")
    return t.customer.select("c_custkey", F.ntile(4).over(w).alias("quartile")).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Sort / limit / set operations
# ---------------------------------------------------------------------------

@query(
    "sort_multi_key",
    oracle="""
        SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
        ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey
    """,
)
def sort_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.orders.select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderdate").asc(), F.col("o_orderkey"))
    )


@query(
    "topk_limit",
    oracle="""
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def topk_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT compiles to TakeOrderedAndProject — per-partition
    top-k then a k-row merge at the driver; no global sort at scale."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "set_union_all",
    oracle="""
        SELECT c_nationkey AS nationkey, 'c' AS side FROM customer
        UNION ALL
        SELECT s_nationkey AS nationkey, 's' AS side FROM supplier
        ORDER BY nationkey, side
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    c = t.customer.select(F.col("c_nationkey").alias("nationkey"), F.lit("c").alias("side"))
    s = t.supplier.select(F.col("s_nationkey").alias("nationkey"), F.lit("s").alias("side"))
    return c.unionAll(s).orderBy("nationkey", "side")


@query(
    "set_union_distinct",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        UNION
        SELECT s_nationkey AS nationkey FROM supplier
        ORDER BY nationkey
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    c = t.customer.select(F.col("c_nationkey").alias("nationkey"))
    s = t.supplier.select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct().orderBy("nationkey")


@query(
    "set_intersect",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey AS nationkey FROM supplier
        ORDER BY nationkey
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    c = t.customer.select(F.col("c_nationkey").alias("nationkey"))
    s = t.supplier.select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s).orderBy("nationkey")


@query(
    "set_except",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 8000.0
        ORDER BY nationkey
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT with a restricted right side so the difference is non-empty
    at every SF (both operand nation sets are full otherwise — the round-1
    vacuous-green lesson)."""
    t = Tables(spark, sf_dir)
    c = t.customer.select(F.col("c_nationkey").alias("nationkey"))
    s = t.supplier.filter(F.col("s_acctbal") > 8000.0).select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.subtract(s).orderBy("nationkey")  # EXCEPT = set semantics


# ---------------------------------------------------------------------------
# Multi-operator flagship shapes (TPC-H-like)
# ---------------------------------------------------------------------------

@query(
    "tpch_q3_shipping_priority",
    oracle=f"""
        SELECT l_orderkey,
               {oracle_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
               o_orderdate
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """,
    bench=True,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters pushed below a 3-way join, then
    agg + top-k. Customer filter shrinks the build side before the join."""
    t = Tables(spark, sf_dir)
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    cust = t.customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ords = t.orders.filter(F.col("o_orderdate") < cutoff).select("o_orderkey", "o_custkey", "o_orderdate")
    li = t.lineitem.filter(F.col("l_shipdate") > cutoff).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        cust.join(ords, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(revenue, "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate"), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "tpch_q5_local_supplier",
    oracle=f"""
        SELECT n_name,
               {oracle_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    bench=True,
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join; dims broadcast, facts shuffle on join keys."""
    t = Tables(spark, sf_dir)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(t.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(t.supplier),
            (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )

"""Extended TPC-H-style suite (Q4/Q7/Q8/Q9/Q12/Q14/Q15/Q17/Q18/Q19/Q22
shapes), adapted to the driver's reduced schema (no partsupp, shipmode,
commitdate/receiptdate, container or phone columns — each query keeps its
canonical plan shape and substitutes the closest available predicate).

The reference (rpdevelops/data-ingestion-worker) has no analytic surface
at all; together with operators/tpch.py this is the engine's demonstration
that the full warehouse query repertoire — correlated EXISTS, scalar
subqueries, disjunctive pushdown, per-group correlated thresholds, window
max — runs as idiomatic Catalyst plans.

Determinism contract (same as tpch.py): money/quantity math is DECIMAL
until the final projection, divisions happen once on exact operands, so
DuckDB oracles hash-match bit-for-bit.

Scale notes (100 TB): lineitem is always probe side; part/supplier/
customer/nation aggregates broadcast.  Q17's per-part threshold joins a
*brand-filtered* per-part aggregate (tiny) rather than aggregating all of
lineitem; Q22's scalar threshold is a one-row broadcast cross join, not a
driver round-trip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..spec import QuerySpec
from ..tables import load_table
from ..functions.checkpoint import cut_lineage
from .tpch import _dec


def _rev() -> F.Column:
    return _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(4,2)") - _dec("l_discount", "4,2")
    )


_REV_SQL = ("CAST(l_extendedprice AS DECIMAL(12,2)) * "
            "(1 - CAST(l_discount AS DECIMAL(4,2)))")


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: correlated EXISTS → left-semi join, then priority counts.

    Adapted: "late" = any lineitem shipped >30 days after the order date
    (the reduced schema has no commit/receipt dates).  The semi join keeps
    orders on the build of the aggregation only once per order regardless
    of how many lineitems matched.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01 00:00:00")
        & (F.col("o_orderdate") < "1997-04-01 00:00:00")
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: bilateral trade volume between two nations by ship year.

    supplier→nation and customer→nation both broadcast; the only shuffle
    is lineitem⋈orders on orderkey and the final 4-group aggregation.
    """
    n1, n2 = "NATION_1", "NATION_2"
    nat = load_table(spark, sf_dir, "nation")
    s = (load_table(spark, sf_dir, "supplier")
         .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    c = (load_table(spark, sf_dir, "customer")
         .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
         .select("c_custkey", F.col("n_name").alias("cust_nation")))
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01 00:00:00")
        & (F.col("l_shipdate") < "1998-01-01 00:00:00")
    )
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return (
        pairs.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


Q7_ORACLE = f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(sum(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year, {_REV_SQL} AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
)
GROUP BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: one nation's share of a region's PROMO-part market by year.

    The share is a conditional-sum / sum ratio — both sums exact DECIMAL,
    one double division at the end.
    """
    target = "NATION_2"
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nat = load_table(spark, sf_dir, "nation")
    cust_nat = (load_table(spark, sf_dir, "customer")
                .join(F.broadcast(nat),
                      F.col("c_nationkey") == F.col("n_nationkey"))
                .join(F.broadcast(r),
                      F.col("n_regionkey") == F.col("r_regionkey"))
                .select("c_custkey"))
    supp_nat = (load_table(spark, sf_dir, "supplier")
                .join(F.broadcast(nat),
                      F.col("s_nationkey") == F.col("n_nationkey"))
                .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    vol = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust_nat), o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(supp_nat), li.l_suppkey == F.col("s_suppkey"))
    )
    target_rev = F.sum(
        F.when(F.col("supp_nation") == target, _rev())
        .otherwise(F.lit(0).cast("decimal(12,2)"))
    )
    return (
        vol.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (target_rev.cast("double")
             / F.sum(_rev()).cast("double")).alias("mkt_share")
        )
    )


Q8_ORACLE = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(sum(CASE WHEN n1.n_name = 'NATION_2' THEN {_REV_SQL}
                     ELSE 0 END) AS DOUBLE)
       / CAST(sum({_REV_SQL}) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region   ON n2.n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND p_type = 'PROMO'
GROUP BY 1
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit by supplier nation and year for a part-name family.

    Adapted: no partsupp/ps_supplycost in the reduced schema, so profit =
    discounted revenue.  p_name LIKE '%widget%' is a non-sargable filter —
    it still prunes on the broadcast build side, never against the fact.
    """
    nat = load_table(spark, sf_dir, "nation")
    s = (load_table(spark, sf_dir, "supplier")
         .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", F.col("n_name").alias("nation")))
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    )
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(_rev()).cast("double").alias("sum_profit"))
    )


Q9_ORACLE = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(sum({_REV_SQL}) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
"""


def q12_shipping_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: priority mix per shipping-delay bucket.

    Adapted: the reduced schema has no shipmode, so the grouping key is a
    derived delay bucket (fast ≤30d < normal ≤90d < slow).  The
    urgent/other split is the canonical Q12 conditional aggregation.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(delay <= 30, "fast")
        .when(delay <= 90, "normal")
        .otherwise("slow")
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(bucket.alias("ship_bucket"), urgent.alias("is_urgent"))
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.when(F.col("is_urgent"), 1).otherwise(0))
            .alias("high_line_count"),
            F.sum(F.when(F.col("is_urgent"), 0).otherwise(1))
            .alias("low_line_count"),
        )
    )


Q12_ORACLE = """
SELECT ship_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM (
  SELECT o_orderpriority,
         CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                             CAST(l_shipdate AS DATE)) <= 30 THEN 'fast'
              WHEN date_diff('day', CAST(o_orderdate AS DATE),
                             CAST(l_shipdate AS DATE)) <= 90 THEN 'normal'
              ELSE 'slow' END AS ship_bucket
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
GROUP BY ship_bucket
"""


def q13_order_count_distribution(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Q13 shape: histogram of customers by order count (including zero).

    Left outer join so order-less customers count in the c_count=0
    bucket; two cascaded aggregations, the second over at most
    max-orders-per-customer rows.  The urgent-priority exclusion stands
    in for Q13's comment-pattern filter.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))   # count skips nulls
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


Q13_ORACLE = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: promo revenue share for one ship month (scalar ratio)."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-06-01 00:00:00")
        & (F.col("l_shipdate") < "1997-07-01 00:00:00")
    )
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", _rev())
        .otherwise(F.lit(0).cast("decimal(12,2)"))
    )
    return joined.agg(
        (promo.cast("double") * 100.0 / F.sum(_rev()).cast("double"))
        .alias("promo_revenue_pct")
    )


Q14_ORACLE = f"""
SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REV_SQL} ELSE 0 END)
            AS DOUBLE) * 100.0
       / CAST(sum({_REV_SQL}) AS DOUBLE) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: supplier(s) with max quarterly revenue.

    The scalar max-subquery is a one-row ``agg(max)`` over the per-supplier
    aggregate, broadcast-cross-joined back into the filter (the q22 scalar
    pattern) — a ``Window.partitionBy()`` max here would funnel every
    supplier through one ``Exchange SinglePartition`` task, a serial choke
    at scale.  No second scan of the fact, no driver round-trip.
    Comparison happens on exact DECIMAL revenue, so 'equal to max' is
    engine-independent.
    """
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01 00:00:00")
        & (F.col("l_shipdate") < "1997-04-01 00:00:00")
    )
    per_supp = (
        li.groupBy("l_suppkey")
        .agg(F.sum(_rev()).alias("total_rev_dec"))
    )
    max_row = per_supp.agg(F.max("total_rev_dec").alias("max_rev"))
    top = (
        per_supp.crossJoin(F.broadcast(max_row))
        .filter(F.col("total_rev_dec") == F.col("max_rev"))
    )
    return (
        top.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            F.col("total_rev_dec").cast("double").alias("total_revenue"),
        )
    )


Q15_ORACLE = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, sum({_REV_SQL}) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT max(total_rev) FROM revenue)
"""


def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: revenue from small-quantity lines of one brand's parts.

    The per-part avg-quantity threshold is computed over *brand-filtered*
    parts only (broadcast both ways); the comparison
    ``qty * 2 * n < sum_qty`` multiplies instead of dividing, keeping the
    predicate exact DECIMAL (no float-boundary rows).
    """
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#1"
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem")
    brand_lines = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    per_part = (
        brand_lines.groupBy("l_partkey")
        .agg(
            F.sum(_dec("l_quantity")).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    small = brand_lines.join(
        F.broadcast(per_part.withColumnRenamed("l_partkey", "agg_partkey")),
        F.col("l_partkey") == F.col("agg_partkey"),
    ).filter(
        _dec("l_quantity") * 2 * F.col("n_lines") < F.col("sum_qty")
    )
    return small.agg(
        (F.sum(_dec("l_extendedprice")).cast("double") / 7.0)
        .alias("avg_yearly")
    )


Q17_ORACLE = """
WITH brand_lines AS (
  SELECT l_partkey, CAST(l_quantity AS DECIMAL(12,2)) AS qty,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS price
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#1'
),
per_part AS (
  SELECT l_partkey AS agg_partkey, sum(qty) AS sum_qty,
         count(*) AS n_lines
  FROM brand_lines GROUP BY 1
)
SELECT CAST(sum(price) AS DOUBLE) / 7.0 AS avg_yearly
FROM brand_lines JOIN per_part ON l_partkey = agg_partkey
WHERE qty * 2 * n_lines < sum_qty
"""


def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: customers behind very large orders (HAVING sum > 250).

    The heavy-order set is found with one grouped aggregation of the fact;
    everything joined to it afterwards is small enough to broadcast.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("sum_qty_dec"))
        .filter(F.col("sum_qty_dec") > 250)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice",
            F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        )
    )


Q18_ORACLE = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(sum_qty_dec AS DOUBLE) AS sum_qty
FROM (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty_dec
  FROM lineitem GROUP BY l_orderkey HAVING sum_qty_dec > 250
)
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: revenue under three OR'd (brand, size, quantity) clauses.

    Catalyst extracts the common partkey equi-condition so the join stays
    a broadcast hash join; the disjunction is a post-join filter, with the
    size/brand legs also pruning the build side.
    """
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    clause = (
        ((F.col("p_brand") == "Brand#1")
         & F.col("p_size").between(1, 10)
         & F.col("l_quantity").between(1, 15))
        | ((F.col("p_brand") == "Brand#2")
           & F.col("p_size").between(1, 20)
           & F.col("l_quantity").between(10, 25))
        | ((F.col("p_brand") == "Brand#3")
           & F.col("p_size").between(1, 30)
           & F.col("l_quantity").between(20, 35))
    )
    return j.filter(clause).agg(
        F.sum(_rev()).cast("double").alias("revenue")
    )


Q19_ORACLE = f"""
SELECT CAST(sum({_REV_SQL}) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
       AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
       AND l_quantity BETWEEN 20 AND 35)
"""


def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: above-average-balance customers with no *recent* orders
    (none since 2000-01-01), by nation.

    The scalar average is a one-row aggregate cross-joined (broadcast) into
    the filter — declarative, no collect().  Threshold = exact DECIMAL sum
    / count, one double division, identical in both engines.  The
    no-recent-orders test is a left-anti join against the date-filtered
    orders scan (the filter pushes into the scan before the anti join).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2000-01-01 00:00:00"
    )
    nat = load_table(spark, sf_dir, "nation")
    avg_row = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1)))
            .alias("avg_bal")
        )
    )
    rich = (
        c.crossJoin(F.broadcast(avg_row))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
    )
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        idle.join(F.broadcast(nat),
                  F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


Q22_ORACLE = """
SELECT n_name, CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (
    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*)
    FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY n_name
"""


def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of customers on (order count, total spend).

    A customer is dominated when another customer has ≥ on both axes and
    > on at least one; the skyline is the undominated set — the classic
    multi-criteria "best customers" query that SQL can only state as an
    all-pairs NOT EXISTS (and that is exactly what the oracle runs, so
    the scalable plan below is verified against the brute-force
    *definition*, not against itself).

    Scale shape — never all-pairs: order count is a discrete axis, so
    (1) aggregate customers (one shuffle of the orders fact, partial
    agg), (2) collapse to one row per distinct count value — max spend
    per bucket, a frame bounded by |distinct counts|, not |customers| —
    (3) a running max over the strictly-greater buckets (window over
    that tiny frame) gives the dominance threshold S(n); a customer is
    on the frontier iff spend == bucket max AND spend > S(n).  Both
    comparisons are exact DECIMAL.  The only per-customer work is one
    broadcast join against the |distinct counts|-row threshold table —
    at 100 TB the frontier test costs one map-side lookup per customer.
    """
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).alias("spend"),
    )
    buckets = per_cust.groupBy("n_orders").agg(
        F.max("spend").alias("bucket_max")
    )
    w = (
        Window.orderBy(F.col("n_orders").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    thresh = buckets.select(
        "n_orders", "bucket_max",
        F.max("bucket_max").over(w).alias("s_above"),
    )
    return (
        per_cust.join(F.broadcast(thresh), "n_orders")
        .filter(
            (F.col("spend") == F.col("bucket_max"))
            & (
                F.col("s_above").isNull()
                | (F.col("spend") > F.col("s_above"))
            )
        )
        .select("custkey", "n_orders", "spend")
    )


SKYLINE_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
         sum(CAST(o_totalprice AS DECIMAL(12,2))) AS spend
  FROM orders GROUP BY 1
)
SELECT custkey, n_orders, spend
FROM per_cust a
WHERE NOT EXISTS (
  SELECT 1 FROM per_cust b
  WHERE b.n_orders >= a.n_orders AND b.spend >= a.spend
    AND (b.n_orders > a.n_orders OR b.spend > a.spend)
)
"""


#: Market-basket thresholds: minimum pair support and report depth.
MBA_MIN_PAIR = 2
MBA_TOP_K = 50


def mba_part_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over parts co-ordered in the
    same order: support, confidence and lift for the top pairs — the
    classic frequent-itemset/affinity workload (bought-together
    recommendations, assortment planning).

    Scale shape: the distinct (order, part) projection self-joins on
    the order key only (pairs within an order — the same bounded
    fan-out as the triangle counter's edge build, never all-pairs);
    item counts broadcast back onto the pair aggregate; the single
    order-count scalar attaches via a one-row broadcast cross join.
    Ratios divide exact integers and floor at 6 — lift's engines-agree
    contract.  Reported pairs are canonical (pa < pb) with a
    (lift DESC, pa, pb) top-k cutoff that compiles to
    TakeOrderedAndProject.
    """
    lo = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    ).distinct().transform(cut_lineage)
    n = lo.select("ok").distinct().agg(F.count(F.lit(1)).alias("n"))
    items = lo.groupBy("p").agg(F.count(F.lit(1)).alias("c"))
    a, b = lo.alias("a"), lo.alias("b")
    pairs = (
        a.join(b, (F.col("a.ok") == F.col("b.ok"))
               & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .agg(F.count(F.lit(1)).alias("cp"))
        .filter(F.col("cp") >= MBA_MIN_PAIR)
    )
    ca = items.select(F.col("p").alias("pa"), F.col("c").alias("ca"))
    cb = items.select(F.col("p").alias("pb"), F.col("c").alias("cb"))
    scored = (
        pairs.join(F.broadcast(ca), "pa")
        .join(F.broadcast(cb), "pb")
        .crossJoin(F.broadcast(n))
    )
    f6 = lambda c: F.floor(c * 1000000.0) / 1000000.0  # noqa: E731
    lift = (F.col("cp").cast("double") * F.col("n")
            / (F.col("ca").cast("double") * F.col("cb")))
    return scored.select(
        "pa", "pb", "cp",
        f6(F.col("cp").cast("double") / F.col("n")).alias("support"),
        f6(F.col("cp").cast("double") / F.col("ca")).alias("confidence"),
        f6(lift).alias("lift"),
    ).orderBy(F.desc("lift"), "pa", "pb").limit(MBA_TOP_K)


MBA_ORACLE = f"""
WITH lo AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
),
n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM lo),
items AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM lo GROUP BY 1),
pairs AS (
  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS cp
  FROM lo a JOIN lo b ON a.ok = b.ok AND a.p < b.p
  GROUP BY 1, 2
  HAVING count(*) >= {MBA_MIN_PAIR}
)
SELECT pa, pb, cp,
       floor(CAST(cp AS DOUBLE) / n * 1000000.0) / 1000000.0 AS support,
       floor(CAST(cp AS DOUBLE) / ca.c * 1000000.0) / 1000000.0
         AS confidence,
       floor(CAST(cp AS DOUBLE) * n / (CAST(ca.c AS DOUBLE) * cb.c)
             * 1000000.0) / 1000000.0 AS lift
FROM pairs
JOIN items ca ON ca.p = pairs.pa
JOIN items cb ON cb.p = pairs.pb
CROSS JOIN n
ORDER BY lift DESC, pa, pb
LIMIT {MBA_TOP_K}
"""


#: Per-item recommendation table: neighbors kept per item and the
#: co-occurrence floor that prunes noise pairs before the rank window.
REC_PER_ITEM = 3
REC_MIN_COOC = 2


def rec_item_cooccur_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item "customers also bought" table: for every part, the
    ``REC_PER_ITEM`` parts most co-ordered with it — the batch-built
    recommendation rollup a serving layer reads as a point lookup
    (``mba_part_lift`` finds the globally strongest rules; this emits a
    ranked neighbor list for *every* item).

    Scale shape: the distinct (order, part) projection self-joins on
    the order key (in-order pair fan-out, bounded by basket size —
    never all-pairs) with ``a.p != b.p`` so each item ranks its own
    neighbors; the rank window partitions by item (catalog-bounded
    partitions of ≤ co-item counts).  Confidence divides exact integers
    and floors at 6 dp; rank ties break on the neighbor key.
    """
    lo = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    ).distinct().transform(cut_lineage)
    items = lo.groupBy("p").agg(F.count(F.lit(1)).alias("c"))
    a, b = lo.alias("a"), lo.alias("b")
    cooc = (
        a.join(b, (F.col("a.ok") == F.col("b.ok"))
               & (F.col("a.p") != F.col("b.p")))
        .groupBy(F.col("a.p").alias("item"), F.col("b.p").alias("rec"))
        .agg(F.count(F.lit(1)).alias("cooc"))
        .filter(F.col("cooc") >= REC_MIN_COOC)
    )
    ci = items.select(F.col("p").alias("item"), F.col("c").alias("ci"))
    w = Window.partitionBy("item").orderBy(
        F.desc("cooc"), F.col("rec")
    )
    return (
        cooc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= REC_PER_ITEM)
        .join(F.broadcast(ci), "item")
        .select(
            "item", "rank", "rec", "cooc",
            (F.floor(F.col("cooc").cast("double") / F.col("ci")
                     * 1000000.0) / 1000000.0).alias("confidence"),
        )
    )


REC_ITEM_ORACLE = f"""
WITH lo AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
),
items AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM lo GROUP BY 1),
cooc AS (
  SELECT a.p AS item, b.p AS rec, CAST(count(*) AS BIGINT) AS cooc
  FROM lo a JOIN lo b ON a.ok = b.ok AND a.p <> b.p
  GROUP BY 1, 2
  HAVING count(*) >= {REC_MIN_COOC}
),
ranked AS (
  SELECT item, rec, cooc,
         row_number() OVER (PARTITION BY item
                            ORDER BY cooc DESC, rec) AS rank
  FROM cooc
)
SELECT r.item, CAST(r.rank AS INT) AS rank, r.rec, r.cooc,
       floor(CAST(r.cooc AS DOUBLE) / i.c * 1000000.0) / 1000000.0
         AS confidence
FROM ranked r JOIN items i ON i.p = r.item
WHERE r.rank <= {REC_PER_ITEM}
"""


#: Range partitions for the ABC two-phase cumulative sum.  The offset
#: table is bounded by this constant, never by part count.
ABC_PARTITIONS = 64


def abc_revenue_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: every part ranked by
    revenue with its cumulative share and class — A while the running
    share is under 80%, B under 95%, C after.

    The scale story is the *global cumulative sum without a global
    window*: a plain ``Window.orderBy`` funnels the whole relation
    through one task (the banned SinglePartition shape), so this uses
    the two-phase form — range-repartition on (revenue DESC, partkey),
    per-partition sorted windows, and per-partition offsets (a
    :data:`ABC_PARTITIONS`-row table) broadcast back.  Spark's range
    exchange samples split points, but the result depends only on the
    total order, which the (rev DESC, partkey) tie-break pins.  Class
    boundaries compare DECIMAL-exact integers (5·start < 4·total for
    80%, 20·start < 19·total for 95%) — no float thresholds.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy("l_partkey")
        .agg(F.sum(_rev()).cast("decimal(38,4)").alias("rev"))
    )
    srt = (
        rev.repartitionByRange(ABC_PARTITIONS, F.col("rev").desc(),
                               F.col("l_partkey"))
        .sortWithinPartitions(F.col("rev").desc(), "l_partkey")
        .withColumn("_pid", F.spark_partition_id())
        .transform(cut_lineage)   # feeds offsets AND the final pass
    )
    psums = srt.groupBy("_pid").agg(
        F.sum("rev").cast("decimal(38,4)").alias("_ps"),
        F.count(F.lit(1)).alias("_pc"),
    )
    wo = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = psums.select(
        "_pid",
        F.coalesce(F.sum("_ps").over(wo),
                   F.lit(0).cast("decimal(38,4)")).alias("_roff"),
        F.coalesce(F.sum("_pc").over(wo), F.lit(0)).alias("_coff"),
    )
    total = psums.agg(F.sum("_ps").cast("decimal(38,4)").alias("_tot"))
    win = (
        Window.partitionBy("_pid")
        .orderBy(F.col("rev").desc(), "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (F.col("_roff") + F.sum("rev").over(win)).cast("decimal(38,4)")
    rank = F.col("_coff") + F.row_number().over(win)
    start = (cum - F.col("rev")).cast("decimal(38,4)")
    cls = (
        F.when(start * 5 < F.col("_tot") * 4, "A")
        .when(start * 20 < F.col("_tot") * 19, "B")
        .otherwise("C")
    )
    share = F.floor(cum.cast("double") / F.col("_tot").cast("double")
                    * 1000000.0) / 1000000.0
    return (
        srt.join(F.broadcast(offs), "_pid")
        .crossJoin(F.broadcast(total))
        .select(
            "l_partkey",
            rank.alias("revenue_rank"),
            F.col("rev").cast("double").alias("revenue"),
            share.alias("cum_share"),
            cls.alias("abc_class"),
        )
    )


ABC_ORACLE = """
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2))))
              AS DECIMAL(38,4)) AS rev
  FROM lineitem GROUP BY 1
),
t AS (SELECT CAST(sum(rev) AS DECIMAL(38,4)) AS tot FROM rev),
r AS (
  SELECT l_partkey, rev,
         CAST(row_number() OVER w AS BIGINT) AS revenue_rank,
         CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS DECIMAL(38,4)) AS cum
  FROM rev
  WINDOW w AS (ORDER BY rev DESC, l_partkey)
)
SELECT r.l_partkey, r.revenue_rank,
       CAST(r.rev AS DOUBLE) AS revenue,
       floor(CAST(r.cum AS DOUBLE) / CAST(t.tot AS DOUBLE) * 1000000.0)
         / 1000000.0 AS cum_share,
       CASE WHEN (r.cum - r.rev) * 5 < t.tot * 4 THEN 'A'
            WHEN (r.cum - r.rev) * 20 < t.tot * 19 THEN 'B'
            ELSE 'C' END AS abc_class
FROM r CROSS JOIN t
"""


#: Rank-1 ALS: fixed alternation rounds and the milli scale of the
#: latent factors.  Rank-1 is the relational sweet spot — each half-step
#: is closed-form (no linear solve), yet the result is a genuine
#: matrix-factorization popularity/affinity decomposition.
ALS_ROUNDS = 3
ALS_SCALE = 1000


def _als_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey",
        F.floor("l_quantity").cast("long").alias("q"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_custkey").alias("u"),
                 F.col("l_partkey").alias("i"))
        .agg(F.sum("q").alias("r"))
    )


def rec_als_rank1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-1 ALS matrix factorization of the customer × part quantity
    matrix — iterative machine learning as pure relational algebra:

    - user half-step:  ``u = Σᵢ r·v / Σᵢ v²``  (closed form at rank 1)
    - item half-step:  ``v = Σᵤ r·u / Σᵤ u²``
    - mean-normalization of v each round (rank-1 ALS has a scale
      indeterminacy — u·v invariant under u·c, v/c — so v is pinned to
      mean ``ALS_SCALE`` with a pure-integer rescale; no sqrt anywhere).

    All factors live in integer milli-units and every division is an
    integer floor of exact BIGINT sums (operands stay ≤ ~1e16, 500×
    inside int64), so the oracle's unrolled CTEs hash-match exactly.

    Scale: each half-step is one shuffle join (ratings ⋈ factor, both
    keyed) + one combiner-friendly aggregate; the factor frames never
    exceed user/item cardinality and are lazily checkpointed because
    the next half-step consumes them once per term.  This is the same
    superstep shape as PageRank — and exactly how a full rank-k ALS
    distributes (per-key normal equations instead of scalar division).
    """
    ratings = _als_ratings(spark, sf_dir).transform(cut_lineage)
    v = ratings.select("i").distinct().select(
        "i", F.lit(ALS_SCALE).cast("long").alias("v"))
    for _ in range(ALS_ROUNDS):
        # Only vr carries a lineage cut: it has TWO consumers (the
        # rescale scalar and the rescaled v), so without it the whole
        # chain up to vr would execute twice.  u and v each feed
        # exactly one consumer, so their subtrees execute once wherever
        # they are embedded — a cut there bought nothing at execution
        # and paid an eager physical-plan compile per half-step (the
        # r11 structural finding); per-round plan depth stays bounded
        # because vr's cut resets the tree every round.
        u = (
            ratings.join(v, "i")
            .groupBy("u")
            .agg(F.sum(F.col("r") * F.col("v")).alias("num"),
                 F.sum(F.col("v") * F.col("v")).alias("den"))
            .select("u", F.expr(f"({ALS_SCALE} * num) div den").alias("uf"))
        )
        vr = (
            ratings.join(u, "u")
            .groupBy("i")
            .agg(F.sum(F.col("r") * F.col("uf")).alias("num"),
                 F.sum(F.col("uf") * F.col("uf")).alias("den"))
            .select("i", F.expr(f"({ALS_SCALE} * num) div den").alias("vr"))
            .transform(cut_lineage)
        )
        scal = vr.agg(F.count(F.lit(1)).alias("n_i"),
                      F.sum("vr").alias("s_v"))
        v = vr.crossJoin(F.broadcast(scal)).select(
            "i",
            F.expr(f"(vr * {ALS_SCALE} * n_i) div s_v").alias("v"),
        )
    return v.select(F.col("i").alias("partkey"),
                    F.col("v").cast("long").alias("v_milli"))


def _als_oracle(rounds: int = ALS_ROUNDS) -> str:
    s = ALS_SCALE
    parts = []
    prev_v = "v0"
    for k in range(1, rounds + 1):
        parts.append(f"""
u{k} AS MATERIALIZED (
  SELECT r.u, ({s} * sum(r.r * v.v)) // sum(v.v * v.v) AS uf
  FROM ratings r JOIN {prev_v} v USING (i) GROUP BY 1
),
vr{k} AS MATERIALIZED (
  SELECT r.i, ({s} * sum(r.r * u.uf)) // sum(u.uf * u.uf) AS vr
  FROM ratings r JOIN u{k} u USING (u) GROUP BY 1
),
s{k} AS (SELECT count(*) AS n_i, sum(vr) AS s_v FROM vr{k}),
v{k} AS MATERIALIZED (
  SELECT i, (vr * {s} * n_i) // s_v AS v FROM vr{k}, s{k}
)""")
        prev_v = f"v{k}"
    return f"""
WITH ratings AS MATERIALIZED (
  SELECT o_custkey AS u, l_partkey AS i,
         sum(CAST(floor(l_quantity) AS BIGINT)) AS r
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
v0 AS (
  SELECT DISTINCT i, CAST({s} AS BIGINT) AS v FROM ratings
),{",".join(parts)}
SELECT i AS partkey, CAST(v AS BIGINT) AS v_milli FROM {prev_v}
"""


ALS_ORACLE = _als_oracle()


SPECS: dict[str, QuerySpec] = {
    "rec_als_rank1": QuerySpec(rec_als_rank1, ALS_ORACLE),
    "abc_revenue_classes": QuerySpec(abc_revenue_classes, ABC_ORACLE),
    "skyline_pareto": QuerySpec(skyline_pareto, SKYLINE_ORACLE),
    "mba_part_lift": QuerySpec(mba_part_lift, MBA_ORACLE),
    "rec_item_cooccur_topk": QuerySpec(rec_item_cooccur_topk,
                                       REC_ITEM_ORACLE),
    "q4_order_priority": QuerySpec(q4_order_priority, Q4_ORACLE),
    "q7_volume_shipping": QuerySpec(q7_volume_shipping, Q7_ORACLE),
    "q8_market_share": QuerySpec(q8_market_share, Q8_ORACLE),
    "q9_product_profit": QuerySpec(q9_product_profit, Q9_ORACLE),
    "q12_shipping_delay": QuerySpec(q12_shipping_delay, Q12_ORACLE),
    "q13_order_count_distribution": QuerySpec(q13_order_count_distribution,
                                              Q13_ORACLE),
    "q14_promo_revenue": QuerySpec(q14_promo_revenue, Q14_ORACLE),
    "q15_top_supplier": QuerySpec(q15_top_supplier, Q15_ORACLE),
    "q17_small_quantity": QuerySpec(q17_small_quantity, Q17_ORACLE),
    "q18_large_volume_customer": QuerySpec(q18_large_volume_customer,
                                           Q18_ORACLE),
    "q19_disjunctive_revenue": QuerySpec(q19_disjunctive_revenue, Q19_ORACLE),
    "q22_idle_rich_customers": QuerySpec(q22_idle_rich_customers, Q22_ORACLE),
}

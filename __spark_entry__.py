"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (geocode → cell encode → PIP
join → tile aggregate) on sf0.001. ``queries()`` / ``oracle_sql()`` expose
every oracle-checkable operator from SURVEY.md §2; non-SQL-expressible
kernels (S2/hex encode, geometry kernels, MinHash) are included as
rows-only-checked queries and carry full pytest parity coverage instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: web docs → geocode → H3 + S2 cells (pandas UDFs) + grid
    tile aggregate → PIP join against admin rectangles → per-region
    per-tile counts. Returns a small aggregate DataFrame."""
    from geokitten_spark.fixtures import web_documents, admin_rects_pdf
    from geokitten_spark.operators.pip_join import pip_join
    from geokitten_spark.cells.grid import grid_cell_sql
    from geokitten_spark.functions.cells_udfs import h3_cell, s2_cell

    docs = web_documents(spark, SF_SMOKE)
    rects = admin_rects_pdf()
    located = pip_join(
        docs.select("doc_id", "url", "lang", "lon", "lat"),
        rects,
        id_col="n_nationkey",
        wkt_col="geometry_wkt",
    )
    tiled = (
        located.withColumn("cell_id", F.expr(grid_cell_sql("lon", "lat", 5)))
        .withColumn("s2_cell", s2_cell(9)(F.col("lon"), F.col("lat")))
        .withColumn("h3_cell", h3_cell(5)(F.col("lon"), F.col("lat")))
    )
    return (
        tiled.groupBy("n_nationkey", "cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.approx_count_distinct("s2_cell").alias("n_s2_cells"),
            F.approx_count_distinct("h3_cell").alias("n_h3_cells"),
        )
        .orderBy("n_nationkey", "cell_id")
    )


# ---------------------------------------------------------------------------
# queries — each callable: (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------

def _web_docs(spark, sf_dir):
    from geokitten_spark.fixtures import web_documents

    return web_documents(spark, sf_dir)


def q_tpch_q1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_tpch_q3_topk(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_tpch_q5_joins(spark, sf_dir):
    """Six-table join (region→nation→customer/supplier→orders→lineitem):
    revenue per nation for one region — the join-reordering/broadcast
    showcase."""
    r = spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == "ASIA"
    )
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


def q_tpch_q6_filter(spark, sf_dir):
    """Filter-heavy single-table aggregate (pushdown showcase)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_tpch_q17_scalar_subquery(spark, sf_dir):
    """Correlated scalar subquery (TPC-H Q17 shape): lineitems below 20% of
    their part's average quantity. Spark formulation decorrelates explicitly
    — per-part aggregate + equi-join — which is the plan Catalyst (and any
    distributed engine) wants anyway: one shuffle on l_partkey, map-side
    partial avg. l_quantity is integer-valued, so AVG is order-independent
    and the threshold comparison is deterministic across engines."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    thresh = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_thresh")
    )
    return (
        li.join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_tpch_q18_having(spark, sf_dir):
    """GROUP BY + HAVING + join-back (TPC-H Q18 shape): large-volume orders.
    The HAVING filter runs on the aggregated (small) side before the join,
    so only qualifying orderkeys shuffle to the orders join."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.col("total_qty").cast("long").alias("total_qty"),
        )
    )


def q_tpch_q12_case_agg(spark, sf_dir):
    """Conditional aggregation (TPC-H Q12 shape): per linestatus, count of
    lineitems on high- vs low-priority orders. CASE folds into the
    aggregate — one join, one shuffle, no second pass."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


def q_tpch_q14_promo_share(spark, sf_dir):
    """Ratio-of-conditional-sums (TPC-H Q14 shape): promo revenue share for
    one ship month. part is small relative to lineitem → broadcast."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01"))
        & (F.col("l_shipdate") < F.lit("1995-10-01"))
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                * 100.0
                / F.sum(rev),
                4,
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_tpch_q19_or_pushdown(spark, sf_dir):
    """Disjunction-of-conjunctions filter (TPC-H Q19 shape): three brand ×
    size × quantity windows OR-ed together across a lineitem⋈part join.
    Catalyst extracts the common l_quantity bounds and pushes per-table
    conjuncts below the join; part broadcasts."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    b = F.col("p_brand")
    q = F.col("l_quantity")
    s = F.col("p_size")
    cond = (
        ((b == "Brand#1") & s.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#12") & s.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#21") & s.between(1, 15) & q.between(20, 30))
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_tpch_q4_exists(spark, sf_dir):
    """EXISTS decorrelation (TPC-H Q4 shape): orders from 1996 with at
    least one line shipped >30 days after the order date, counted per
    priority. Spark expresses the correlated EXISTS as a left-semi join
    with a mixed equi + range condition — the equi part keys the shuffle,
    the range part is evaluated post-match, so the plan is a plain
    hash-semi-join, no nested-loop."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


def q_tpch_q10_returns(spark, sf_dir):
    """Top-20 customers by revenue on returned lineitems (TPC-H Q10
    shape): 4-table join with broadcast dims, deterministic tie-break."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_returnflag") == "R"
    )
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        j.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q_tpch_q16_supplier_cnt(spark, sf_dir):
    """Distinct-supplier count per (brand, size band) with a NOT IN
    exclusion subquery (TPC-H Q16 shape; lineitem is the part-supplier
    link). The NOT IN side is a tiny aggregate → broadcast anti-join."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        (F.col("p_brand") != "Brand#11") & (F.col("p_type") != "PROMO")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    bad = s.filter(F.col("s_acctbal") < 1000).select("s_suppkey")
    link = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
    )
    return (
        link.select(
            "p_brand",
            (F.floor(F.col("p_size") / 10) * 10).cast("long").alias("size_band"),
            "l_suppkey",
        )
        .groupBy("p_brand", "size_band")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


def q_tpch_q22_dormant(spark, sf_dir):
    """Scalar-subquery threshold + NOT EXISTS (TPC-H Q22 shape): customers
    with above-average balance and no orders after 2000-01-01, per market
    segment. Balances are compared in exact integer cents so the global
    average (exact integer sum / count) is bit-identical in both engines
    regardless of aggregation order."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").withColumn(
        "cents", F.round(F.col("c_acctbal") * 100).cast("long")
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01")
    )
    avg_cents = c.filter(F.col("cents") > 0).agg(
        F.avg("cents").alias("avg_cents")
    )
    return (
        c.crossJoin(F.broadcast(avg_cents))
        .filter(F.col("cents") > F.col("avg_cents"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
    )


def q_tpch_q7_volume(spark, sf_dir):
    """Cross-nation trade volume (TPC-H Q7 shape): customer nation x
    supplier nation x ship year, for one ordered nation pair. Two
    broadcast dims, one fact shuffle, year() derived column."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    n1 = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nk"))
        .filter(F.col("cust_nation") < F.col("supp_nation"))
    )
    # exact-integer revenue: price cents x (100 - discount points) sums in
    # BIGINT, so the per-group total is order-independent — a plain double
    # SUM flipped round(,2) at .005 boundaries in 4 of 2098 groups
    # depending on partial-aggregation order
    cents = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    return j.groupBy(
        "cust_nation", "supp_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.round(F.sum(cents).cast("double") / 10000.0, 2).alias("volume"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q_tpch_q20_nested_agg(spark, sf_dir):
    """Nested-aggregate semi-join (TPC-H Q20 shape): suppliers who shipped
    more than 2x the cross-supplier average quantity of some STANDARD
    part. l_quantity is integer-valued, so both aggregate levels are
    exact and the threshold compare is engine-portable."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        F.col("p_type") == "STANDARD"
    )
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    qty = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    avg_per_part = qty.groupBy("l_partkey").agg(F.avg("qty").alias("avg_qty"))
    heavy = (
        qty.join(avg_per_part, "l_partkey")
        .filter(F.col("qty") > 2 * F.col("avg_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def _cents(col):
    """Exact integer cents for a dollar column (engine-portable: both
    Spark and DuckDB round the same double to the same integer)."""
    return F.round(F.col(col) * 100).cast("long")


def q_tpch_q2_min_cost(spark, sf_dir):
    """Cheapest supplier per part (TPC-H Q2 shape; lineitem is the
    part-supplier link since the schema has no partsupp). The winner per
    part is elected with ONE map-side-combinable min(struct(price_cents,
    suppkey)) — exact integer cents, supplier-key tie-break — instead of
    a per-part window, then decorated with broadcast supplier/nation/
    region dims and restricted to EUROPE suppliers."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") >= 40)
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == "EUROPE"
    )
    best = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            "l_partkey",
            F.struct(
                _cents("l_extendedprice").alias("price_cents"),
                F.col("l_suppkey").alias("suppkey"),
            ).alias("offer"),
        )
        .groupBy("l_partkey")
        .agg(F.min("offer").alias("b"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("b.price_cents").alias("price_cents"),
            F.col("b.suppkey").alias("suppkey"),
        )
    )
    eur = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    return (
        best.join(s, best.suppkey == s.s_suppkey)
        .join(F.broadcast(eur), s.s_nationkey == F.col("n_nationkey"))
        .select(
            "p_partkey",
            "s_name",
            "n_name",
            F.round(F.col("price_cents") / 100.0, 2).alias("min_price"),
            "s_acctbal",
        )
    )


def q_tpch_q8_market_share(spark, sf_dir):
    """National market share (TPC-H Q8 shape): per ship year, NATION_3
    suppliers' share of ECONOMY-part volume bought by AMERICA-region
    customers. Volume sums in exact BIGINT (cents x discount points) so
    the share is ONE IEEE division of two exact integers — bit-identical
    across engines regardless of aggregation order."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == "AMERICA"
    )
    p = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        F.col("p_type") == "ECONOMY"
    )
    amer = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("c_nk")
    )
    supp_nation = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    vol = _cents("l_extendedprice") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(amer), c.c_nationkey == F.col("c_nk"), "left_semi")
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(supp_nation), s.s_nationkey == F.col("s_nk"))
    )
    return (
        j.groupBy(F.year("l_shipdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0))
            .cast("long")
            .alias("nat_vol4"),
            F.sum(vol).cast("long").alias("tot_vol4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            "o_year",
            F.round(
                F.col("nat_vol4").cast("double") / F.col("tot_vol4").cast("double"),
                4,
            ).alias("mkt_share"),
            F.round(F.col("tot_vol4").cast("double") / 10000.0, 2).alias(
                "total_volume"
            ),
            "n_lines",
        )
    )


def q_tpch_q9_profit(spark, sf_dir):
    """Product-type profit (TPC-H Q9 shape) for parts named '%red%',
    by supplier nation x ship year. p_retailprice stands in for the
    missing ps_supplycost; revenue and cost both scale to exact BIGINT
    1e-4 dollars (cents x discount points vs retail cents x qty x 100)
    so the profit sum is order-independent."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        F.col("p_name").like("%red%")
    )
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    rev4 = _cents("l_extendedprice") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    cost4 = (
        _cents("p_retailprice")
        * F.round(F.col("l_quantity")).cast("long")
        * F.lit(100)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == F.col("s_nk"))
        .groupBy("nation", F.year("l_shipdate").alias("o_year"))
        .agg(
            F.round(F.sum(rev4 - cost4).cast("double") / 10000.0, 2).alias(
                "sum_profit"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_tpch_q11_important_stock(spark, sf_dir):
    """Important-stock value (TPC-H Q11 shape; lineitem stands in for
    partsupp): per-part shipped value restricted to ASIA-region
    suppliers, keeping parts worth more than 2x the mean per-part value
    — a scale-invariant analog of the spec's fixed fraction (which
    degenerates as the part count grows). The threshold compare is
    exact BIGINT (value x n_parts > 2 x total), no floating-point
    fraction; the scalar (total, count) rides a broadcast cross-join."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == "ASIA"
    )
    asia = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("s_nk")
    )
    asia_supp = s.join(
        F.broadcast(asia), s.s_nationkey == F.col("s_nk"), "left_semi"
    ).select("s_suppkey")
    vol = _cents("l_extendedprice") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    per_part = (
        li.join(F.broadcast(asia_supp), li.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(vol).cast("long").alias("val4"))
    )
    total = per_part.agg(
        F.sum("val4").cast("long").alias("tot4"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("val4") * F.col("n_parts") > 2 * F.col("tot4"))
        # value stays exact BIGINT 1e-4 dollars: round(x, 2) on the double
        # quotient is the one place Spark (BigDecimal HALF_UP) and DuckDB
        # disagree at .005 boundaries, and with O(parts) output rows one
        # boundary hit is near-certain at sf0.1
        .select("p_partkey", F.col("val4").alias("value4"))
    )


def q_tpch_q13_order_dist(spark, sf_dir):
    """Customer order-count distribution (TPC-H Q13 shape): left join
    keeps zero-order customers, urgent orders are excluded, and the
    histogram is all-integer (two small shuffles, no windows)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q_tpch_q15_top_supplier(spark, sf_dir):
    """Top supplier by quarterly revenue (TPC-H Q15 shape). Revenue
    accumulates in exact BIGINT so the arg-max compare against the
    broadcast scalar maximum cannot tie-break differently across
    engines; ties (if any) all surface, as in the spec."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    vol = _cents("l_extendedprice") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(vol).cast("long").alias("rev4"))
    mx = rev.agg(F.max("rev4").alias("max4"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("rev4") == F.col("max4"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev4").cast("double") / 10000.0, 2).alias(
                "total_revenue"
            ),
        )
    )


def q_tpch_q21_waiting_supplier(spark, sf_dir):
    """Suppliers who held up multi-supplier orders (TPC-H Q21 shape;
    l_shipdate stands in for the missing commit/receipt dates): in
    finished ('F') orders with >1 supplier, blame the supplier who was
    the SOLE latest shipper. Two aggregations replace the spec's
    exists/not-exists self-joins — per-order stats and per-(order,
    supplier) max — all date/integer logic, deterministic top-20."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderstatus") == "F"
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .join(o, F.col("l_orderkey") == o.o_orderkey, "left_semi")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    )
    ordstats = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("max_ship"),
        F.countDistinct("l_suppkey").alias("n_supp"),
    )
    suppmax = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("my_max")
    )
    at_max = (
        suppmax.join(ordstats, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("my_max") == F.col("max_ship")))
    )
    sole = (
        at_max.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_at_max"))
        .filter(F.col("n_at_max") == 1)
        .select("l_orderkey")
    )
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    return (
        at_max.join(sole, "l_orderkey", "left_semi")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


def q_window_lag_delta(spark, sf_dir):
    """Window-frame showcase: per-user event stream ordered by (ts,
    event_id) — LAG delta and a 3-row moving average, folded to a per-type
    summary. One shuffle on user_id serves both window functions (same
    partition spec), then a partial-aggregable groupBy."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-2, 0)
    per_row = ev.select(
        "event_type",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
        F.avg("value").over(wf).alias("ma3"),
    )
    return per_row.groupBy("event_type").agg(
        F.round(F.sum(F.abs(F.col("delta"))), 4).alias("sum_abs_delta"),
        F.round(F.max("ma3"), 6).alias("max_ma3"),
        F.count("delta").alias("n_deltas"),
    )


def q_pii_redact(spark, sf_dir):
    """PII redaction (training-data cleaning): emails / IPv4 / phone numbers
    → typed tokens, verified by md5 of every redacted document.

    The synthetic corpus has no organic PII, so both engines salt each doc
    with the same deterministic doc_id-derived email+IP+phone suffix before
    redacting — the md5 min/max then proves span-exact replacement. Pure
    regexp_replace chain: map-only, whole-stage codegen, one shuffle (the
    final per-lang agg)."""
    from geokitten_spark.functions.text import redact_pii_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    salted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(".17 tel 415-555-0"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
    )

    def occ(s, tok):
        return (
            (F.length(s) - F.length(F.replace(s, F.lit(tok), F.lit(""))))
            / len(tok)
        ).cast("long")

    red = docs.select("lang", redact_pii_col(salted).alias("red"))
    return red.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(occ(F.col("red"), "<EMAIL>")).cast("long").alias("n_emails"),
        F.sum(occ(F.col("red"), "<IP>")).cast("long").alias("n_ips"),
        F.sum(occ(F.col("red"), "<PHONE>")).cast("long").alias("n_phones"),
        F.min(F.md5(F.col("red"))).alias("min_md5"),
        F.max(F.md5(F.col("red"))).alias("max_md5"),
    )


def q_corpus_filter(spark, sf_dir):
    """Composite training-data filter — the one-query version of a corpus
    cleaning pipeline: quality gate (score ≥ 0.5, ≥ 10 tokens) → exact
    dedup (keep min doc_id per fingerprint) → per-lang yield report.

    Plan shape: the gate is a codegen filter fused into the scan stage;
    ONE shuffle on fingerprint serves both the ranking window and the
    group size; the final per-lang agg is partial-aggregated. At 10^12
    rows this is scan + 2 shuffles total."""
    from pyspark.sql import Window

    from geokitten_spark.functions.text import fingerprint_col, quality_cols

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = quality_cols(F.col("text"))
    scored = docs.select(
        "doc_id",
        "lang",
        fingerprint_col(F.col("text")).alias("fp"),
        F.round(q["quality_score"], 6).alias("score"),
        q["n_tokens"].alias("n_tokens"),
    )
    filtered = scored.filter((F.col("score") >= 0.5) & (F.col("n_tokens") >= 10))
    w = Window.partitionBy("fp")
    ranked = filtered.select(
        "lang",
        "n_tokens",
        F.row_number().over(w.orderBy("doc_id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("gs"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.col("gs") - 1).cast("long").alias("n_dups_removed"),
            F.sum("n_tokens").cast("long").alias("n_tokens_kept"),
        )
    )


def q_sample_token_budget(spark, sf_dir):
    """Deterministic token-budget packing: take docs per language in hash
    order until 2000 tokens. Two-phase at scale (per-bucket sums -> driver
    prefix -> map-only full buckets + one tiny boundary window per group);
    the DuckDB twin states the same selection as one global window."""
    from geokitten_spark.functions.text import token_count_ws
    from geokitten_spark.operators.sampling import sample_token_budget

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", token_count_ws(F.col("text")).alias("n_tokens")
    )
    return sample_token_budget(
        docs, key_col="doc_id", group_col="lang", tokens_col="n_tokens",
        budget=2000, n_buckets=16,
    )


def q_c4_clean(spark, sf_dir):
    """C4-style corpus cleaning (published heuristics): line filter
    (terminal punctuation, >= 5 words, no 'javascript') + doc filter
    (>= 3 kept lines, no '{', no 'lorem ipsum'), verified by md5 of every
    cleaned document per language.

    The synthetic corpus is single-line word soup, so both engines salt
    each doc with the same deterministic doc_id-keyed lines (a good
    sentence, a short line, a javascript line, a conditional lorem-ipsum
    / curly-brace line) before cleaning — the md5 min/max then proves
    line-exact filtering. Map-only until the per-lang aggregate."""
    from geokitten_spark.functions.text import c4_clean_cols

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    good = F.concat(
        F.lit("\nDocument "),
        F.col("doc_id").cast("string"),
        F.lit(" carries this verifiably complete sentence."),
    )
    salted = F.concat(
        F.col("text"),
        good,
        F.lit("\nshort line."),
        F.lit("\nThis line mentions javascript and therefore never survives."),
        F.when(
            F.col("doc_id") % 7 == 0, F.lit("\nlorem ipsum dolor sit amet.")
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit("\ncurly { brace }")).otherwise(
            F.lit("")
        ),
        good,
        good,
    )
    c = c4_clean_cols(salted)
    per_doc = docs.select(
        F.col("lang"),
        c["n_lines_kept"].alias("n_lines_kept"),
        c["doc_kept"].alias("doc_kept"),
        F.md5(c["cleaned_text"]).alias("h"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("doc_kept").cast("long")).alias("n_docs_kept"),
        F.sum("n_lines_kept").cast("long").alias("total_lines_kept"),
        F.min("h").alias("h_min"),
        F.max("h").alias("h_max"),
    )


def q_url_canonicalize(spark, sf_dir):
    """URL canonicalization (the key-normalization step before any
    URL-keyed crawl dedup): each doc contributes a messy variant
    (uppercase scheme/host, default port, scrambled query order,
    fragment) and a clean one of the same resource — canonicalization
    must collapse them 2→1 per doc. Pure string expressions, codegen."""
    from geokitten_spark.functions.geocode import url_canonicalize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    messy = F.concat(
        F.lit("HTTP://Site"), (did % 50).cast("string"),
        F.lit(".COM:80/p"), (did % 7).cast("string"),
        F.lit("?b="), (did % 5).cast("string"),
        F.lit("&a="), (did % 3).cast("string"),
        F.lit("#frag"),
    )
    clean = F.concat(
        F.lit("http://site"), (did % 50).cast("string"),
        F.lit(".com/p"), (did % 7).cast("string"),
        F.lit("?a="), (did % 3).cast("string"),
        F.lit("&b="), (did % 5).cast("string"),
    )
    urls = docs.select(messy.alias("url")).unionAll(docs.select(clean.alias("url")))
    canon = urls.select(
        "url", url_canonicalize(F.col("url")).alias("curl")
    )
    host = F.regexp_extract(F.col("curl"), r"^https?://([^/]+)", 1)
    return canon.groupBy(host.alias("host")).agg(
        F.countDistinct("url").alias("n_raw"),
        F.countDistinct("curl").alias("n_canon"),
        F.min(F.md5(F.col("curl"))).alias("min_md5"),
    )


def q_cube_docs(spark, sf_dir):
    """CUBE grouping sets over (lang, source): multi-dimensional tile-style
    rollup on the documents table.

    Output canonicalization (both engines identically): CUBE's grouping
    NULLs become '<all>', integer sums are pinned to BIGINT — DuckDB's
    SUM(BIGINT) is HUGEINT, which hashes differently from Spark's long
    even when values are equal."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.cube("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .select(
            F.coalesce(F.col("lang"), F.lit("<all>")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("<all>")).alias("source"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("sum_chars").cast("long").alias("n_chars"),
        )
    )


def q_json_props(spark, sf_dir):
    """Semi-structured column: extract props.k (JSON) and aggregate per
    event_type (get_json_object — JVM-side, codegen)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).cast("long").alias("sum_k"),
        F.count(F.when(k > 50, 1)).cast("long").alias("n_high_k"),
    )


def q_percentiles(spark, sf_dir):
    """Exact interpolated percentiles + stddev per event_type (Spark
    `percentile` == DuckDB `quantile_cont` semantics)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
        F.round(F.stddev_samp("value"), 6).alias("sd"),
    )


def q_semi_join_orders(spark, sf_dir):
    """J5 semi-join: orders with >=1 returned lineitem, counted per
    priority (left_semi — no fan-out, one bit per left row)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_returnflag") == "R"
    )
    hit = o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
    return hit.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


def q_anti_join_customers(spark, sf_dir):
    """J5 anti-join: customers with NO order above 300k, per segment."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    big = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_totalprice") > 300000
    )
    miss = c.join(big, c.c_custkey == big.o_custkey, "left_anti")
    return miss.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_customers"))


def q_agg_minmax_distinct(spark, sf_dir):
    """A1/A2: distinct + min/max over a join (palette-domain aggregates)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


def q_web_tile_agg(spark, sf_dir):
    """A6: per-cell doc counts at grid res 7 (the tile aggregate)."""
    from geokitten_spark.cells.grid import grid_cell_sql

    docs = _web_docs(spark, sf_dir)
    return (
        docs.select(F.expr(f"{grid_cell_sql('lon', 'lat', 7)} AS cell_id"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_web_tile_rollup(spark, sf_dir):
    """A6 multi-res: rollup 7→5→3 re-aggregated from finest tiles."""
    from geokitten_spark.operators.tile import tile_rollup

    docs = _web_docs(spark, sf_dir)
    return tile_rollup(docs, "lon", "lat", [3, 5, 7])


def q_tile_distinct_rollup(spark, sf_dir):
    """A6 multi-res DISTINCT (operators/tile.py:tile_distinct_rollup):
    per-tile distinct-url HLL estimates for zooms 7/5/3 from ONE doc
    shuffle — the finest-res register table is max-merged up the pyramid
    via the arithmetic tile parent (register max-merge is lossless, see
    operators/sketch.py). The oracle computes an independent SINGLE-PASS
    sketch per zoom in DuckDB, so the driver hash match proves the
    pyramid merge is bit-identical to per-level re-sketching — the
    property that saves L-1 corpus shuffles at 10^12 docs."""
    from geokitten_spark.operators.tile import tile_distinct_rollup

    docs = _web_docs(spark, sf_dir)
    return tile_distinct_rollup(docs, "lon", "lat", "url", [3, 5, 7])


def _cell_corners(spark, sf_dir):
    """Res-6 tile aggregate with each cell's corners: (cell_id, n_docs,
    lon0, lat0, lon1, lat1) — exact integer id decode, dyadic corner
    math (Spark, numpy and DuckDB produce identical doubles)."""
    from geokitten_spark.cells.grid import grid_bounds_sql, grid_cell_sql

    docs = _web_docs(spark, sf_dir)
    tiles = (
        docs.select(F.expr(f"{grid_cell_sql('lon', 'lat', 6)} AS cell_id"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    corners = grid_bounds_sql("cell_id", 6)
    names = ("lon0", "lat0", "lon1", "lat1")
    return tiles.selectExpr(
        "cell_id", "n_docs", *[f"{c} AS {a}" for c, a in zip(corners, names)]
    )


def q_tile_vectorize(spark, sf_dir):
    """A6 raster→vector: tile aggregate at res 6 vectorized back to cell
    rectangle corners (pure SQL decode of the packed id; the WKT feature
    column is Spark-side only — double→string rendering differs across
    engines, so the oracle compares the corner NUMBERS)."""
    return _cell_corners(spark, sf_dir).select(
        "cell_id",
        "n_docs",
        F.round("lon0", 9).alias("x0"),
        F.round("lat0", 9).alias("y0"),
        F.round("lon1", 9).alias("x1"),
        F.round("lat1", 9).alias("y1"),
    )


def q_web_pip_rect(spark, sf_dir):
    """J2: broadcast R-tree + ray-casting PIP join vs 25 admin rectangles,
    aggregated per region (oracle: plain bbox join)."""
    from geokitten_spark.fixtures import admin_rects_pdf
    from geokitten_spark.operators.pip_join import pip_join

    docs = _web_docs(spark, sf_dir).select("doc_id", "lon", "lat")
    out = pip_join(docs, admin_rects_pdf(), id_col="n_nationkey", wkt_col="geometry_wkt")
    return out.groupBy("n_nationkey").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id")
    )


def q_web_pip_rect_part(spark, sf_dir):
    """J2c: the NO-BROADCAST partitioned PIP join (distributed cell cover,
    polygon-travels-to-border-cells refine) — the path for boundary sets
    too large to broadcast. Same rectangles, same oracle predicate as
    web_pip_rect; results must be identical."""
    from geokitten_spark.fixtures import admin_rects_pdf
    from geokitten_spark.operators.pip_join import partitioned_pip_join

    docs = _web_docs(spark, sf_dir).select("doc_id", "lon", "lat")
    bnd = spark.createDataFrame(admin_rects_pdf())
    out = partitioned_pip_join(
        docs, bnd, id_col="n_nationkey", wkt_col="geometry_wkt", res=7
    )
    return out.groupBy("n_nationkey").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id")
    )


def q_grid_dbscan(spark, sf_dir):
    """Grid-density clustering (DBSCAN-style): dense res-4 cells (>=4 docs)
    merged over 8-neighbor adjacency; cluster id = min cell id."""
    from geokitten_spark.operators.cluster import grid_dbscan

    docs = _web_docs(spark, sf_dir).select("lon", "lat")
    return grid_dbscan(docs, res=4, min_pts=4)


def q_adaptive_tiles(spark, sf_dir):
    """Density-adaptive quadtree tiling: split cells with >4 docs down to
    res 7, keep sparse cells coarse (base res 2). Leaf counts conserve
    the corpus total — every doc lands in exactly one leaf."""
    from geokitten_spark.operators.tile import adaptive_tiles

    docs = _web_docs(spark, sf_dir)
    return adaptive_tiles(
        docs, "lon", "lat", base_res=2, max_res=7, threshold=4
    )


def q_h3_adaptive_tiles(spark, sf_dir):
    """Density-adaptive APERTURE-7 tiling on canonical H3 ids (split >6
    docs down to res 3, base res 1) — same one-doc-shuffle shape as the
    quadtree variant, H3 digit-truncation parents."""
    from geokitten_spark.operators.tile import h3_adaptive_tiles

    docs = _web_docs(spark, sf_dir)
    return h3_adaptive_tiles(
        docs, "lon", "lat", base_res=1, max_res=3, threshold=6
    ).select(F.col("res").cast("int").alias("res"), "cell_id", "n_docs")


def q_tile_percentiles(spark, sf_dir):
    """Per-tile EXACT percentiles (p50/p90 of doc length per res-4 cell):
    Spark's `percentile` and DuckDB's `quantile_cont` share the same
    linear-interpolation definition, and the inputs are integers, so the
    values agree bit-for-bit. One partial+final aggregate shuffle."""
    from geokitten_spark.cells.grid import grid_cell_sql

    docs = _web_docs(spark, sf_dir)
    return (
        docs.select(
            F.expr(f"{grid_cell_sql('lon', 'lat', 4)} AS cell_id"),
            F.length("text").alias("n_chars"),
        )
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50_chars"),
            F.round(F.expr("percentile(n_chars, 0.9)"), 4).alias("p90_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) file-layout key: per res-5 z-quad (the 6 high
    interleaved bits of the res-8 morton code), doc count + the exact z
    range — whose width == quad size proves z-sorted rows land in
    contiguous runs (the min/max file-statistics pruning story,
    DEPLOY.md). Pure integer expressions shared verbatim with DuckDB."""
    from geokitten_spark.cells.grid import _grid_clamp_sql, _grid_xy_sql, morton_sql

    res, drop = 8, 3
    docs = _web_docs(spark, sf_dir)
    ix, iy = _grid_xy_sql("lon", "lat", res)
    proj = docs.selectExpr(
        f"{_grid_clamp_sql(ix, res)} AS ix", f"{_grid_clamp_sql(iy, res)} AS iy"
    )
    z = F.expr(morton_sql("ix", "iy", res))
    quad = 1 << (2 * drop)
    return (
        proj.withColumn("z", z)
        .withColumn("zquad", (F.col("z") - F.col("z") % quad) / quad)
        .withColumn("zquad", F.col("zquad").cast("long"))
        .groupBy("zquad")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("z").alias("n_cells"),
            F.min("z").cast("long").alias("z_min"),
            F.max("z").cast("long").alias("z_max"),
        )
    )


def q_web_pip_h3_cover(spark, sf_dir):
    """J2 on true H3 cells: cover-refine PIP (polyfill interior fast path,
    dilated-border ray-cast refine) vs the same 25 rectangles — identical
    results to web_pip_rect, same plain-SQL bbox oracle."""
    from geokitten_spark.fixtures import admin_rects_pdf
    from geokitten_spark.operators.pip_join import H3PolygonCover

    docs = _web_docs(spark, sf_dir).select("doc_id", "lon", "lat")
    cover = H3PolygonCover(
        spark, admin_rects_pdf(), id_col="n_nationkey",
        wkt_col="geometry_wkt", res=3,
    )
    out = cover.join(docs)
    return out.groupBy("n_nationkey").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id")
    )


def q_web_knn(spark, sf_dir):
    """J4: kRing kNN (k=3, grid res 5, ring 1) over the 'de' docs."""
    from geokitten_spark.operators.knn import knn_join

    docs = _web_docs(spark, sf_dir).filter(F.col("lang") == "de")
    return knn_join(docs, id_col="doc_id", k=3, res=5, ring_k=1).select(
        F.col("id").alias("doc_id"), "neighbor_id", "rank"
    )


def q_lang_quality(spark, sf_dir):
    """Language-ID heuristic + quality scoring, aggregated per predicted
    language."""
    from geokitten_spark.functions.text import lang_id_col, quality_cols

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = quality_cols(F.col("text"))
    per_doc = docs.select(
        lang_id_col(F.col("text")).alias("pred_lang"),
        q["quality_score"].alias("quality_score"),
        q["n_tokens"].alias("n_tokens"),
    )
    return per_doc.groupBy("pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality_score"), 3).alias("avg_quality"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


def q_token_stats(spark, sf_dir):
    """Token counting (whitespace + BPE-ish regex), per source lang."""
    from geokitten_spark.functions.text import token_count_ws, token_count_bpeish

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.groupBy("lang").agg(
        F.sum(token_count_ws(F.col("text"))).cast("long").alias("ws_tokens"),
        F.sum(token_count_bpeish(F.col("text"))).cast("long").alias("bpe_tokens"),
        F.max(F.length("text")).cast("long").alias("max_chars"),
    )


def q_quality_repetition(spark, sf_dir):
    """Gopher-style repetition signals (TTR, top n-gram mass, longest
    same-word run), rolled up per source language.

    Per-doc signals are pure array expressions — map-only at 10^12 docs;
    the single shuffle is the per-lang rollup. Corpus-level shares divide
    sums of exact integer numerators (not averages of per-doc doubles) so
    the result is bit-stable under any partitioning/merge order."""
    from geokitten_spark.functions.text import repetition_cols

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    r = repetition_cols(F.col("text"))
    per_doc = docs.select("lang", *[v.alias(k) for k, v in r.items()])
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("n_distinct").cast("double") / F.sum("n_words"), 6).alias("ttr"),
        F.round(
            F.sum("top_unigram").cast("double") / F.sum("n_words"), 6
        ).alias("top_unigram_share"),
        F.round(
            F.sum("top_bigram").cast("double") / F.sum("n_bigrams"), 6
        ).alias("top_bigram_share"),
        F.max("max_run").cast("long").alias("max_run"),
        F.sum(F.col("rep_flagged").cast("long")).cast("long").alias("n_flagged"),
    )


def q_dedup_span_coverage(spark, sf_dir):
    """Duplicated 8-gram span coverage per language (RefinedWeb-style
    corpus diagnostic): two 8-byte-key shuffles, exact integer flags."""
    from geokitten_spark.operators.dedup import span_coverage

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return span_coverage(docs, shingle_n=8)


def q_dedup_span_removal(spark, sf_dir):
    """Exact duplicated-span REMOVAL (RefinedWeb/Dolma-style substring
    dedup — the act to span_coverage's measure): positions covered by a
    cross-document 8-gram are cut; md5 of every cleaned doc proves
    word-exact removal against the DuckDB twin."""
    from geokitten_spark.operators.dedup import span_removal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return span_removal(docs, shingle_n=8)


def q_paragraph_dedup(spark, sf_dir):
    """CCNet-style cross-document paragraph dedup (arXiv:1911.00359):
    paragraphs hash on their normalized form (lowercase, digits+punct
    stripped) and only the corpus-first occurrence survives. The
    synthetic corpus is single-line, so both engines salt each doc with
    the same deterministic paragraphs: a cookie banner shared by ALL
    docs, a newsletter line on every 3rd doc, an 'All rights reserved
    <d>.' footer whose digit strips away (all 5 variants collide — the
    normalization's exact purpose), a digits-only line that normalizes
    to empty (always kept), and a 'Document <id> closing remark.' whose
    id also strips (global collision). md5 of every cleaned doc proves
    paragraph-exact removal against the DuckDB twin."""
    from geokitten_spark.operators.dedup import paragraph_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    salted = F.concat(
        F.col("text"),
        F.lit("\nWe use cookies to improve your browsing experience."),
        F.when(
            did % 3 == 0, F.lit("\nSubscribe to our newsletter today!")
        ).otherwise(F.lit("")),
        F.lit("\nAll rights reserved "),
        (did % 5).cast("string"),
        F.lit("."),
        F.lit("\n42 --- 17"),
        F.lit("\nDocument "),
        did.cast("string"),
        F.lit(" closing remark."),
    )
    return paragraph_dedup(docs.withColumn("text", salted))


_PARA_DEDUP_CTE = """corpus AS (
            SELECT doc_id, lang,
                   text
                   || chr(10) || 'We use cookies to improve your browsing experience.'
                   || CASE WHEN doc_id % 3 = 0
                           THEN chr(10) || 'Subscribe to our newsletter today!'
                           ELSE '' END
                   || chr(10) || 'All rights reserved '
                   || CAST(doc_id % 5 AS VARCHAR) || '.'
                   || chr(10) || '42 --- 17'
                   || chr(10) || 'Document ' || CAST(doc_id AS VARCHAR)
                   || ' closing remark.' AS text
            FROM documents
        )"""


_SPLITS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]


def q_split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment from the doc id — a pure
    map-only expression (no RNG state, resume/replication stable)."""
    from geokitten_spark.operators.sampling import split_assign

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.withColumn("split", split_assign(F.col("doc_id"), _SPLITS))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


def q_contamination_check(spark, sf_dir):
    """Benchmark-contamination scan: 8-gram overlap of every training doc
    against the held-out eval slice (doc_id % 101 == 0), per language."""
    from geokitten_spark.operators.dedup import contamination_check

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return contamination_check(docs, shingle_n=8)


def q_tfidf_top_terms(spark, sf_dir):
    """Top-5 characteristic terms per language by tf·idf with a LINEAR
    idf (tf * N / df — no transcendental, so the score is one exact
    integer product and one IEEE division, bit-identical in both
    engines). Shapes: one explode, two hash aggregates (term frequency
    per (lang, word); document frequency per word over per-doc distinct
    words), a broadcast-able df join, and a per-lang WindowGroupLimit
    top-k — every shuffle key is a word or a lang."""
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    n_docs = docs.count()
    tf = (
        docs.select("lang", F.explode(words).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = (
        docs.select("doc_id", F.explode(F.array_distinct(words)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("score").desc(), F.col("w").asc()
    )
    return (
        tf.join(df_, "w")
        .withColumn(
            "score",
            F.round((F.col("tf") * F.lit(n_docs)).cast("double") / F.col("df"), 6),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "w", F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"), "score", "rank")
    )


def q_dedup_exact(spark, sf_dir):
    """Exact/near dedup by canonical 40-char-prefix fingerprint: dup groups."""
    from geokitten_spark.functions.text import fingerprint_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select(
            fingerprint_col(F.substring(F.col("text"), 1, 40)).alias("fp"), "doc_id"
        )
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_id"))
        .filter(F.col("n_docs") > 1)
    )


def q_domain_stats(spark, sf_dir):
    """Per-domain aggregation over url hosts (regexp host extraction —
    codegen, no UDF): docs + distinct languages + first doc per host."""
    from geokitten_spark.functions.geocode import url_host

    docs = _web_docs(spark, sf_dir)
    return (
        docs.select(url_host(F.col("url")).alias("host"), "lang", "doc_id")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("first_doc"),
        )
    )


def q_geo_distance(spark, sf_dir):
    """Haversine great-circle distance (pure Catalyst trig): per-language
    min/avg distance of the geocoded docs to Berlin."""
    from geokitten_spark.functions.geocode import haversine_km

    docs = _web_docs(spark, sf_dir)
    d = haversine_km(F.col("lat"), F.col("lon"), F.lit(52.52), F.lit(13.405))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.min(d), 4).alias("min_km"),
        F.round(F.avg(d), 4).alias("avg_km"),
    )


_STRATA_FRACTIONS = {"en": 0.05, "de": 0.5, "fr": 1.0}


def q_sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling (corpus curation: downsample 'en'
    to 5%, halve 'de', keep 'fr'; drop other strata). Pure hash filter —
    no shuffle; exact sampled rows oracle-checked."""
    from geokitten_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(docs, "doc_id", "lang", _STRATA_FRACTIONS).select(
        "doc_id", "lang"
    )


def q_sample_per_group(spark, sf_dir):
    """Deterministic k-per-group sampling (5 docs per language by hash
    rank) — the reservoir-sample twin for building eval slices."""
    from geokitten_spark.operators.sampling import sample_per_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return sample_per_group(docs, "doc_id", "lang", 5).select("lang", "doc_id")


def q_fingerprint_rolling(spark, sf_dir):
    """Winnowing-style rolling-hash document fingerprint (min poly-hash over
    8-char windows): dup groups by position-robust fingerprint."""
    from geokitten_spark.functions.text import rolling_fingerprint_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select(rolling_fingerprint_col(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_id"))
        .filter(F.col("n_docs") > 1)
    )


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 against the vec_id=0 embedding (JVM-side
    zip_with/aggregate — no Python in the hot path)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrow = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    dot = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"), F.col("qv"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c.cast("array<double>"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    sim = dot / (norm(F.col("embedding")) * norm(F.col("qv")))
    from pyspark.sql import Window

    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qrow))
        .select("vec_id", sim.alias("sim"))
    )
    # distributed top-k: orderBy+limit plans TakeOrderedAndProject (per-
    # partition top-k + merge), NOT a single-partition global window; the
    # rank column is then derived on the k surviving rows only. The window
    # partitions by spark_partition_id(): constant 0 on the single
    # post-limit partition, but NON-FOLDABLE — a literal partition key
    # gets constant-folded away and WindowExec still logs the "No
    # Partition Defined" warning into the bench log.
    topk = scored.orderBy(F.col("sim").desc(), F.col("vec_id").asc()).limit(10)
    w = Window.partitionBy(F.spark_partition_id()).orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        topk.withColumn("rank", F.row_number().over(w)).select("vec_id", "rank")
    )


def q_events_hourly(spark, sf_dir):
    """Time-window aggregate over the events stream table."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def q_extract_invariant(spark, sf_dir):
    """F11 per-row invariant: extract(html) == text, byte-identical per url.
    Returns urls that VIOLATE (must be empty) plus a total count row."""
    from geokitten_spark.functions.text import extract_text

    docs = _web_docs(spark, sf_dir)
    checked = docs.select(
        "url", (extract_text(F.col("html")) == F.col("text")).alias("ok")
    )
    return checked.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("n_violations"),
    )


def q_dedup_minhash(spark, sf_dir):
    """MinHash+LSH near-dup pairs over the injected-near-dup corpus
    (word-3-gram shingles, 8 hashes, 4 bands, Jaccard >= 0.7 verify)."""
    from geokitten_spark.fixtures import neardup_corpus
    from geokitten_spark.operators.dedup import minhash_neardup

    return minhash_neardup(neardup_corpus(spark, sf_dir))


def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (60-bit, 4-band pigeonhole, Hamming <= 3)."""
    from geokitten_spark.fixtures import neardup_corpus
    from geokitten_spark.operators.dedup import simhash_neardup

    return simhash_neardup(neardup_corpus(spark, sf_dir))


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Char-4-gram Jaccard near-dup pairs, prefix-blocked."""
    from geokitten_spark.fixtures import neardup_corpus
    from geokitten_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(neardup_corpus(spark, sf_dir))


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING: minhash pairs → connected components →
    (doc_id, cluster_id) canonical mapping (min-label propagation;
    DuckDB oracle: WITH RECURSIVE transitive closure)."""
    from geokitten_spark.fixtures import neardup_corpus
    from geokitten_spark.operators.dedup import minhash_neardup, connected_components

    pairs = minhash_neardup(neardup_corpus(spark, sf_dir))
    return connected_components(pairs)


def q_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split: assign by NEAR-DUP CLUSTER,
    not by document — a doc-level hash split leaks near-duplicates
    across train and test (the eval contamination Lee et al. 2022
    measure). Pipeline: minhash pairs → connected components →
    cluster-keyed 80/10/10 hash split, singletons keyed by their own
    id. By construction every member of a cluster lands in ONE split —
    pinned by a pytest property and the oracle. Plan shape: the CC
    label table is O(paired docs); the split itself is one broadcast-
    able left join + codegen hash CASE — at 10^12 docs the only new
    cost over dedup_clusters is that join."""
    from geokitten_spark.fixtures import neardup_corpus
    from geokitten_spark.operators.dedup import (
        connected_components,
        hash60,
        minhash_neardup,
    )

    corpus = neardup_corpus(spark, sf_dir)
    cc = connected_components(minhash_neardup(corpus))
    labeled = corpus.select("doc_id").join(cc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )
    h = hash60(
        F.concat(F.lit("split:"), F.col("cluster_id").cast("string"))
    ) % 100
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    )
    return labeled.select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        split.alias("split"),
    )


def q_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (brute-force exact baseline)."""
    from geokitten_spark.fixtures import embedding_neardup_corpus
    from geokitten_spark.operators.dedup import embedding_neardup

    return embedding_neardup(embedding_neardup_corpus(spark, sf_dir))


def q_semdedup(spark, sf_dir):
    """SemDedup (arXiv:2303.09540): deterministic k-means over document
    embeddings (driver-trained on a first-2048-by-id sample, map-only
    literal-centroid assignment — zero shuffles to learn clusters), then
    within-cluster cosine pair scan with the keep-first-id rule. Checked
    against the fold-order-faithful numpy VALUES oracle."""
    from geokitten_spark.fixtures import embedding_neardup_corpus
    from geokitten_spark.operators.semdedup import semdedup

    return semdedup(
        embedding_neardup_corpus(spark, sf_dir), k=10, threshold=0.99
    )


def q_dedup_bloom(spark, sf_dir):
    """Bloom-filter incremental dedup: history slice (doc_id%3!=0) folds
    into an m-bit filter via ONE bit_or aggregation; the incoming slice
    (doc_id%3==0) is probed map-only (codegen literal-array bit tests,
    zero exchanges). Output (doc_id, maybe_seen, seen) pairs the Bloom
    verdict with exact ground truth; no false negatives by construction.
    DuckDB twin rebuilds the identical filter in SQL."""
    from geokitten_spark.operators.bloom import bloom_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bloom_dedup(docs)


def q_dedup_bloom_sharded(spark, sf_dir):
    """Sharded-TABLE Bloom dedup — the 10^12-key regime where the filter
    fits on no single machine: the filter stays a lazy (shard, word,
    bits) DataFrame (never collected, never broadcast; laziness is
    test-asserted), the probe is an equi-join on (shard, word) +
    per-fingerprint bool_and. Same word/bits content and verdicts as
    `dedup_bloom`, so the identical DuckDB filter-as-table twin checks
    it."""
    from geokitten_spark.operators.bloom import bloom_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bloom_dedup(docs, mode="table", n_shards=8)


def q_dsir_select(spark, sf_dir):
    """DSIR data selection (arXiv:2302.03169): hashed unigram+bigram
    bag-of-buckets multinomials for the target slice (lang='en') and the
    raw pool; each pool doc scored by its log likelihood ratio in ONE
    map-only codegen fold over two literal count arrays; top-100 by
    (rounded logw desc, doc_id) via TakeOrderedAndProject. DuckDB twin
    rebuilds the dense count lists and the same fold order."""
    from geokitten_spark.operators.dsir import dsir_select

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dsir_select(docs)


def q_dsir_resample(spark, sf_dir):
    """DSIR importance RESAMPLING (arXiv:2302.03169 §3): Gumbel top-k —
    sample 100 pool docs without replacement proportional to importance
    weight, noise derived from the portable md5 hash of seed:doc_id so
    the draw is deterministic and the DuckDB twin reproduces it. Same
    map-only + TakeOrderedAndProject shape as dsir_select."""
    from geokitten_spark.operators.dsir import dsir_resample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dsir_resample(docs)


def q_quality_classifier(spark, sf_dir):
    """fastText-style hashed linear quality classifier (GPT-3 App. A /
    LLaMA quality-filter recipe): deterministic-sample logistic
    regression over hashed unigram+bigram buckets, weights inlined as
    one literal array, map-only sigmoid scoring fold, distributed top-k.
    DuckDB twin retrains the bit-identical model from the same sample."""
    from geokitten_spark.operators.classifier import quality_classify

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_classify(docs)


def q_asof_join(spark, sf_dir):
    """J5 as-of join: each click gets the user's most recent view at/before
    its ts (single-shuffle union+window plan; DuckDB oracle: ASOF JOIN)."""
    from geokitten_spark.operators.temporal import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))  # dedupe equal-ts views
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(clicks, views, on="user_id", ts_col="ts", right_cols=["view_id"])
    return out.select(
        "event_id", F.col("asof_view_id").alias("view_id")
    )


def q_range_join_bands(spark, sf_dir):
    """Range join: events binned into value bands via a broadcast
    interval-dim join (lo <= value < hi)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    bands = spark.createDataFrame(
        [(i, float(5 * i), float(5 * (i + 1))) for i in range(8)],
        ["band_id", "lo", "hi"],
    )
    j = ev.join(
        F.broadcast(bands),
        (ev.value >= bands.lo) & (ev.value < bands.hi),
        "inner",
    )
    return j.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def q_sessionize(spark, sf_dir):
    """Session windows (30-min gap) per user over the events stream table
    (batch twin of Structured Streaming session_window)."""
    from geokitten_spark.operators.temporal import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "ts")
    s = sessionize(ev, key_col="user_id", ts_col="ts", gap_minutes=30)
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.min("session_start").cast("timestamp").alias("first_start"),
    )


def q_topk_per_group(spark, sf_dir):
    """O4/window: top-2 users by total value within each event_type
    (dense ranking over a grouped aggregate)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.round(F.sum("value"), 2).alias("total_value")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("total_value").desc(), F.col("user_id").asc()
    )
    return (
        per_user.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select("event_type", "user_id", "total_value", "rnk")
    )


def q_set_ops(spark, sf_dir):
    """U2 set ops: high-value clickers EXCEPT high-value errorers."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clickers = (
        ev.filter((F.col("event_type") == "click") & (F.col("value") > 150))
        .select("user_id").distinct()
    )
    errorers = (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 150))
        .select("user_id").distinct()
    )
    return clickers.exceptAll(errorers).orderBy("user_id")


# -- rows-only-checked queries (non-SQL-expressible kernels) ---------------


def q_embed_neardup_lsh(spark, sf_dir):
    """Sign-LSH bucketed embedding near-dup (scale path; approximate recall
    — rows-only here, recall vs brute force covered in pytest)."""
    from geokitten_spark.fixtures import embedding_neardup_corpus
    from geokitten_spark.operators.dedup import embedding_neardup_lsh

    return embedding_neardup_lsh(embedding_neardup_corpus(spark, sf_dir))

def q_s2_tile_agg(spark, sf_dir):
    """F12/A6 on true S2 cells (level 8) — numpy kernel in pandas UDF;
    validated by pytest roundtrip/golden tests, rows-only here."""
    from geokitten_spark.functions.cells_udfs import s2_cell

    docs = _web_docs(spark, sf_dir)
    return (
        docs.select(s2_cell(8)(F.col("lon"), F.col("lat")).alias("cell_id"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_hex_tile_agg(spark, sf_dir):
    """Hex tiling aggregate (res 6) — rows-only."""
    from geokitten_spark.functions.cells_udfs import hex_cell_udf

    docs = _web_docs(spark, sf_dir)
    return (
        docs.select(hex_cell_udf(6)(F.col("lon"), F.col("lat")).alias("cell_id"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_geohash_tile_agg(spark, sf_dir):
    """Geohash tiling aggregate (precision 4) — the INTEROPERABLE cell-id
    lane (ids match any other geohash library bit-for-bit; published
    vectors verified in tests/test_cells.py)."""
    from geokitten_spark.functions.cells_udfs import geohash_cell

    docs = _web_docs(spark, sf_dir)
    return (
        docs.select(geohash_cell(4)(F.col("lon"), F.col("lat")).alias("geohash"))
        .groupBy("geohash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_h3_tile_agg(spark, sf_dir):
    """A6 on canonical H3 cells (res 4) — bit-for-bit H3-interoperable ids
    (cells/h3core.py; published vectors verified in tests/test_h3.py).
    Checked against the independent numpy-path VALUES oracle."""
    from geokitten_spark.functions.cells_udfs import h3_cell

    docs = _web_docs(spark, sf_dir)
    return (
        docs.select(h3_cell(4)(F.col("lon"), F.col("lat")).alias("cell_id"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_h3_rollup(spark, sf_dir):
    """H3 parent rollup: ONE res-4 encode, digit-truncation parent to res 2
    on the aggregated cell table (O(cells), not O(rows)) — same scale shape
    as the geohash rollup."""
    from geokitten_spark.functions.cells_udfs import h3_cell, h3_parent

    docs = _web_docs(spark, sf_dir)
    h4 = (
        docs.select(h3_cell(4)(F.col("lon"), F.col("lat")).alias("cell_id"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n4"))
    )
    return (
        h4.withColumn("parent_id", h3_parent(2)(F.col("cell_id")))
        .groupBy("parent_id")
        .agg(
            F.sum("n4").cast("long").alias("n_docs"),
            F.countDistinct("cell_id").alias("n_child_cells"),
        )
    )


def q_h3_knn(spark, sf_dir):
    """J4 on canonical H3 cells: kRing(1) candidate expansion at res 1,
    equi-join on the bigint cell id, windowed top-3 by planar dist² —
    the north-star 'cell-neighbor kNN via H3 kRing expansion' literally."""
    from pyspark.sql import Window

    from geokitten_spark.functions.cells_udfs import h3_cell, h3_kring

    docs = _web_docs(spark, sf_dir)
    pts = docs.select("doc_id", "lon", "lat").withColumn(
        "cell_id", h3_cell(1)(F.col("lon"), F.col("lat"))
    )
    left = pts.select(
        "doc_id",
        "lon",
        "lat",
        F.explode(h3_kring(1)(F.col("cell_id"))).alias("nb_cell"),
    )
    right = pts.select(
        F.col("doc_id").alias("neighbor_id"),
        F.col("lon").alias("nb_lon"),
        F.col("lat").alias("nb_lat"),
        F.col("cell_id").alias("nb_cell"),
    )
    cand = left.join(right, on="nb_cell", how="inner").filter(
        F.col("doc_id") != F.col("neighbor_id")
    )
    dlon = F.col("lon") - F.col("nb_lon")
    dlat = F.col("lat") - F.col("nb_lat")
    cand = cand.withColumn("dist2", dlon * dlon + dlat * dlat)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("dist2").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "neighbor_id", "rank")
    )


def q_h3_polyfill(spark, sf_dir):
    """polygonToCells on true H3 ids: the fixed test polygon's res-2 cell
    set is computed driver-side (tiny) and broadcast as a membership
    filter over the doc encode — the polyfill-then-join shape a
    region-scoped corpus scan uses at 10^12 rows."""
    from geokitten_spark.cells import h3core
    from geokitten_spark.functions.cells_udfs import h3_cell
    from geokitten_spark.oracles import H3_POLYFILL_RES, H3_POLYFILL_RING

    member = [
        int(x)
        for x in h3core.polygon_to_cells(
            list(H3_POLYFILL_RING), H3_POLYFILL_RES
        ).astype("int64")
    ]
    docs = _web_docs(spark, sf_dir)
    return (
        docs.select(
            h3_cell(H3_POLYFILL_RES)(F.col("lon"), F.col("lat")).alias("cell_id")
        )
        .filter(F.col("cell_id").isin(member))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_h3_compact_cover(spark, sf_dir):
    """Compacted mixed-res H3 cover join (cells/h3core.py compact_cells —
    h3-py v4 semantics, roundtrip-pinned in tests/test_h3.py): the fixed
    test polygon's res-3 polyfill (1,860 cells) compacts to a 253-cell
    mixed-res cover (res 0-3, 7.4x smaller); every doc's res-3 H3 cell
    is probed against the cover via PURE-codegen digit-truncation
    ancestors (cells_udfs.h3_parent_col — bit ops, no Python stage), one
    coalesce(when...) branch per cover res. At 10^12 rows this is the
    region-filter shape that matters: the broadcast membership literal
    set shrinks by the compaction factor and the probe stays inside
    whole-stage codegen; only the initial H3 encode is an Arrow batch.
    Output: (cover_cell, cover_res, n_docs). Oracle resolves containment
    by FULL uncompact expansion instead — the hash match proves the
    truncation-probe and expansion formulations agree cell-for-cell."""
    import numpy as np

    from geokitten_spark.cells import h3core
    from geokitten_spark.functions.cells_udfs import h3_cell, h3_parent_col
    from geokitten_spark.oracles import H3_COMPACT_RES, H3_POLYFILL_RING

    res = H3_COMPACT_RES
    full = h3core.polygon_to_cells(list(H3_POLYFILL_RING), res)
    comp = h3core.compact_cells(full).astype(np.int64)
    by_res: dict[int, list[int]] = {}
    for c in comp.tolist():
        by_res.setdefault((c >> 52) & 15, []).append(c)

    docs = _web_docs(spark, sf_dir)
    df = docs.select(h3_cell(res)(F.col("lon"), F.col("lat")).alias("cell3"))
    branches = []
    for r in sorted(by_res):
        anc = (
            F.col("cell3")
            if r == res
            else h3_parent_col(F.col("cell3"), res, r)
        )
        branches.append(F.when(anc.isin(by_res[r]), anc))
    return (
        df.withColumn("cover_cell", F.coalesce(*branches))
        .filter(F.col("cover_cell").isNotNull())
        .groupBy("cover_cell")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "cover_cell",
            F.expr("CAST(shiftright(cover_cell, 52) & 15 AS INT)").alias(
                "cover_res"
            ),
            "n_docs",
        )
    )


def q_h3_vectorize(spark, sf_dir):
    """Raster→vector on true H3 ids: res-2 tile aggregate, then each
    cell's boundary rendered to WKT by a per-cell kernel on the
    aggregated table (O(cells), not O(rows))."""
    from geokitten_spark.functions.cells_udfs import h3_boundary_wkt, h3_cell

    docs = _web_docs(spark, sf_dir)
    agg = (
        docs.select(h3_cell(2)(F.col("lon"), F.col("lat")).alias("cell_id"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return agg.withColumn("wkt", h3_boundary_wkt()(F.col("cell_id")))


def q_geohash_rollup(spark, sf_dir):
    """Multi-precision geohash rollup from ONE encode: the prefix property
    makes coarser precisions a plain substr groupBy — no re-encode, no
    second Python stage. Union of precisions 2..4."""
    from geokitten_spark.functions.cells_udfs import geohash_cell

    docs = _web_docs(spark, sf_dir)
    # ONE row-level aggregate at the finest precision; the coarser levels
    # roll up from that tiny table (O(cells), not O(rows)) — the shape
    # that holds at 10^12 rows: one encode, one big shuffle, substr math
    # on aggregates after
    h4 = (
        docs.select(geohash_cell(4)(F.col("lon"), F.col("lat")).alias("gh"))
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n4"))
    )
    parts = [
        h4.groupBy(F.substring("gh", 1, p).alias("geohash"))
        .agg(F.sum("n4").cast("long").alias("n_docs"))
        .withColumn("precision", F.lit(p).cast("int"))
        for p in (2, 3, 4)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_cell_join_bucketed(spark, sf_dir):
    """Co-located cell equi-join: both sides written bucketed+sorted on
    cell_id (the one shuffle paid at write time), then joined
    EXCHANGE-FREE — the plan shape every downstream cell join gets for
    free at 10^12 rows (zip-partitions SMJ; exchange-absence asserted in
    tests/test_bucketize.py). Output: per-lang weighted doc counts."""
    import uuid

    from geokitten_spark.cells.grid import grid_cell_sql
    from geokitten_spark.operators.bucketize import read_table, write_bucketed

    tag = uuid.uuid4().hex[:8]
    docs = _web_docs(spark, sf_dir).select(
        "doc_id", "lang", F.expr(f"{grid_cell_sql('lon', 'lat', 5)} AS cell_id")
    )
    poi = docs.select("cell_id").distinct().withColumn(
        "poi_weight", (F.col("cell_id") % 97).cast("long")
    )
    write_bucketed(docs, f"gk_docs_{tag}", bucket_col="cell_id")
    write_bucketed(poi, f"gk_poi_{tag}", bucket_col="cell_id")
    # merge hint pins the zip-partitions SMJ this query showcases (at the
    # oracle SF the poi side is tiny, so Catalyst would otherwise
    # broadcast — also fine, but not the plan under demonstration): with
    # the bucketed layout the ONLY Exchange in the whole plan is the
    # final per-lang aggregate
    j = read_table(spark, f"gk_docs_{tag}").hint("merge").join(
        read_table(spark, f"gk_poi_{tag}"), "cell_id"
    )
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("poi_weight").cast("long").alias("total_weight"),
    )


def q_admin_standardize(spark, sf_dir):
    """Entry-point-1 standardization over admin polygons: areas + interior
    points of the standardized geometries — rows-only (pytest covers
    parity)."""
    from geokitten_spark.fixtures import admin_polygons
    from geokitten_spark.functions.geometry_udfs import (
        standardize_wkt,
        area_km2,
        interior_point_wkt,
    )

    adm = admin_polygons(spark)
    std = adm.select(
        "region_id", standardize_wkt(F.col("geometry_wkt")).alias("std_wkt")
    )
    return std.select(
        "region_id",
        F.round(area_km2(F.col("std_wkt")), 4).alias("area_km2"),
        interior_point_wkt(F.col("std_wkt")).alias("interior_pt"),
    )


def q_subtract_overlap(spark, sf_dir):
    """J1 overlap subtraction on the admin-polygon fixture's constructed
    overlap pairs — rows-only (geometric parity covered in pytest against
    the reference's real 124-row fixture)."""
    from geokitten_spark.fixtures import admin_polygons
    from geokitten_spark.operators.subtract import subtract_overlapping
    from geokitten_spark.functions.geometry_udfs import area_km2

    adm = admin_polygons(spark).select("region_id", "geometry_wkt")
    out = subtract_overlapping(
        adm, "region_id", {"5001000002": ["5001000003"], "5001000004": ["5001000005"]}
    )
    return out.select(
        "region_id", F.round(area_km2(F.col("geometry_wkt")), 4).alias("area_km2")
    )


def q_kml_roundtrip(spark, sf_dir):
    """S2→S3→F8 KML surface: consolidate the fixture corpus (written to a
    temp dir) and return ids + rendered KML lengths — rows-only."""
    import os
    import tempfile

    from geokitten_spark.fixtures import kml_corpus
    from geokitten_spark.sources.kml import consolidate_kml_dir, kml_strings

    d = os.path.join(tempfile.gettempdir(), "geokitten_kml_fixture")
    os.makedirs(d, exist_ok=True)
    for _, row in kml_corpus().iterrows():
        with open(os.path.join(d, row["file_name"]), "wb") as f:
            f.write(row["kml_bytes"])
    cons = consolidate_kml_dir(spark, d, id_column_name="Name")
    return kml_strings(cons, id_col="Name").select(
        "file_name", F.length("kml").alias("kml_chars")
    )


def q_geojson_roundtrip(spark, sf_dir):
    """S1 GeoJSON surface: write the 200-polygon fixture as a canonical
    FeatureCollection (driver), scan it back with the distributed
    binaryFile+mapInPandas reader, and emit per-feature WKT digests.
    Oracle = the same file parsed through the non-Spark path
    (oracles.geojson_roundtrip_sql) — hash-checkable end to end."""
    import os
    import tempfile

    from geokitten_spark.oracles import geojson_fixture_text
    from geokitten_spark.sources.geojson import read_geojson_dir

    d = os.path.join(tempfile.gettempdir(), "geokitten_geojson_fixture")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "regions.geojson"), "w", encoding="utf-8") as f:
        f.write(geojson_fixture_text())
    scan = read_geojson_dir(spark, d)
    return scan.select(
        "feature_id",
        F.md5(F.col("geometry_wkt")).alias("wkt_md5"),
        F.length("geometry_wkt").cast("long").alias("wkt_chars"),
    )


def q_media_features(spark, sf_dir):
    """Multimodal: image-feature extraction over the media table (decode
    stubbed deterministically; Spark plumbing real) — rows-only."""
    from geokitten_spark.functions.multimodal import synthetic_media, image_features

    media = synthetic_media(spark, sf_dir, n_rows=100)
    feats = image_features(media)
    # bin 26 covers bytes 100-103 (lowercase ASCII) — always populated on
    # text-derived payloads, unlike bin 1 (bytes 0-3, constant zero)
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.element_at("embedding", 26)), 6).alias("avg_dim25"),
    )


def q_media_frames(spark, sf_dir):
    """Multimodal frame sampling: every-5th-frame features per video row
    (REAL MJPEG-AVI chunk walk + baseline-JPEG decode; skipped frames are
    never entropy-decoded). Oracle = the numpy chain on the driver
    (oracles.media_frames_sql)."""
    from geokitten_spark.functions.multimodal import (
        frame_sample_features,
        synthetic_media,
    )

    media = synthetic_media(spark, sf_dir, n_rows=100)
    frames = frame_sample_features(media, every_k=5)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.round(F.avg(F.element_at("embedding", 26)), 6).alias("avg_dim25"),
    )


def q_media_audio(spark, sf_dir):
    """Multimodal audio analysis: per-clip waveform stats via a REAL
    RIFF/WAVE PCM16 parse (rms / zero-crossing rate / peak). Oracle = the
    same numpy chain on the driver (oracles.media_audio_sql)."""
    from geokitten_spark.functions.multimodal import audio_features, synthetic_media

    media = synthetic_media(spark, sf_dir, n_rows=100)
    return audio_features(media).select(
        "media_id",
        "n_samples",
        "sample_rate",
        F.round(F.col("rms").cast("double"), 6).alias("rms"),
        F.round(F.col("zcr").cast("double"), 6).alias("zcr"),
        F.round(F.col("peak").cast("double"), 6).alias("peak"),
    )


def q_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality gate: per-language add-alpha bigram LM
    trained on the corpus, every document scored by perplexity — pure
    Catalyst (two count aggs, broadcast LM tables, map-side scoring).
    Oracle = the same chain in DuckDB SQL (operators/lm.py)."""
    from geokitten_spark.operators.lm import lm_perplexity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = lm_perplexity(docs, vocab_size=1024, max_bigrams=65536, alpha=0.1)
    return out.select(
        "doc_id",
        F.col("grp").alias("lang"),
        "n_bigrams",
        F.round("avg_nll", 6).alias("avg_nll"),
        F.round("ppl", 6).alias("ppl"),
    )


def q_bpe_vocab(spark, sf_dir):
    """Learned-BPE subword vocabulary (operators/bpe.py): train on the
    distributed word-frequency dictionary (one count agg + top-V), apply
    the learned merges map-only via an Arrow-batched pandas UDF, count
    tokens through one shuffle. Oracle = the SAME pure-Python trainer and
    tokenizer over the DuckDB-derived dictionary (integer-exact)."""
    from geokitten_spark.operators.bpe import bpe_vocab_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_vocab_stats(docs, vocab_words=10_000, n_merges=200, n_top=50)


def q_lang_consistency(spark, sf_dir):
    """Mixed-language page detection (the C4 §2.2 drop rule): split each
    doc into four word-quarters (integer boundaries — floor(k·n/4), the
    same arithmetic in both engines), plant a Spanish-marker-saturated
    final quarter on doc_id%7==0 docs, lang-id every section with the
    shared marker-count rule, and report per doc (n_sections, n_langs,
    is_mixed, main_lang — max count, ties to the lexicographically
    smaller lang). All codegen: split/slice/transform + one (doc, lang)
    count shuffle + one per-doc window over ≤4 rows."""
    from pyspark.sql import Window

    from geokitten_spark.functions.text import lang_id_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != F.lit("")
    )
    base = docs.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    k = F.col("k")
    s = F.floor(k * F.col("n") / F.lit(4.0)).cast("int")
    e = F.floor((k + 1) * F.col("n") / F.lit(4.0)).cast("int")
    secs = base.select(
        "doc_id", "toks", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k"), "n"
    ).select("doc_id", "k", s.alias("s"), e.alias("e"), "toks").filter(
        F.col("e") > F.col("s")
    )
    quarter = F.slice(F.col("toks"), F.col("s") + 1, F.col("e") - F.col("s"))
    sec_text = F.when(
        (F.col("doc_id") % 7 == 0) & (F.col("k") == 3),
        F.concat(
            F.lit("el "),
            F.array_join(
                F.transform(quarter, lambda x: F.concat(x, F.lit(" el"))), " "
            ),
        ),
    ).otherwise(F.array_join(quarter, " "))
    langs = secs.select("doc_id", lang_id_col(sec_text).alias("lang"))
    counts = langs.groupBy("doc_id", "lang").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("lang").asc())
    main = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("main_lang"))
    )
    agg = langs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_sections"),
        F.countDistinct("lang").cast("int").alias("n_langs"),
    )
    return agg.join(main, "doc_id").select(
        "doc_id",
        "n_sections",
        "n_langs",
        (F.col("n_langs") > 1).alias("is_mixed"),
        "main_lang",
    )


def q_dataset_report(spark, sf_dir):
    """Per-source dataset card (the report every curated corpus ships
    with): doc/token/char totals, language spread, and average length —
    one hash aggregate with map-side partials (token counting is the
    same codegen split expression the quality lane uses; no Python).
    Exact integers except avg_tokens, which is one rounded division of
    two exact integers — engine-identical."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_tokens = F.size(
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != F.lit(""))
    ).cast("long")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tokens).alias("n_tokens"),
        F.sum(F.length("text").cast("long")).alias("n_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(
            F.sum(n_tokens).cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_tokens"),
    )


def q_curation_pipeline(spark, sf_dir):
    """The END-TO-END curation chain as one query — what a user actually
    runs to turn a crawl into a training corpus: quality gate (codegen,
    fused into the scan) → exact dedup (keep min doc_id per
    fingerprint; ONE 8-byte-key shuffle) → domain mixing (exact
    largest-remainder quotas, hash-ranked per-source selection) →
    per-source yield report. Every stage is individually hash-proven
    (corpus_filter, mix_sources); this query proves they COMPOSE —
    total plan: scan + 3 shuffles at any corpus size."""
    from pyspark.sql import Window

    from geokitten_spark.functions.text import fingerprint_col, quality_cols
    from geokitten_spark.operators.sampling import (
        largest_remainder_quotas,
        mix_sources,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = quality_cols(F.col("text"))
    scored = docs.select(
        "doc_id",
        "source",
        fingerprint_col(F.col("text")).alias("fp"),
        F.round(q["quality_score"], 6).alias("score"),
        q["n_tokens"].alias("n_tokens"),
    ).filter((F.col("score") >= 0.5) & (F.col("n_tokens") >= 10))
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "fp", "score")
    )
    quotas = largest_remainder_quotas(
        {f"src{i}": i + 1 for i in range(20)}, total=150
    )
    mixed = mix_sources(deduped, quotas)
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )


def q_quality_compression(spark, sf_dir):
    """Deflate-compressibility quality signal (functions/text.py,
    the Gopher/RefinedWeb heuristic): natural prose compresses to a
    much higher permille than machine-generated repetition. The corpus
    is documents (doc_id < 500) plus a planted repetitive twin of every
    10th doc (its 16-char prefix repeated 20x, id + 2M); one Arrow-
    batched zlib pass, exact integer output (comp_len * 1000 // raw_len
    over UTF-8 byte lengths). Oracle = the same frozen DEFLATE encoder
    driver-side (VALUES)."""
    from geokitten_spark.functions.text import compression_signal_cols

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 500
    )
    rep = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.repeat(F.substring("text", 1, 16), 20).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(rep)
    cols = compression_signal_cols(F.col("text"))
    return corpus.select(
        "doc_id",
        cols["raw_len"].alias("raw_len"),
        cols["comp_len"].alias("comp_len"),
        cols["comp_permille"].alias("comp_permille"),
    )


def q_stream_neardup(spark, sf_dir):
    """Streaming incremental near-dup (streaming/neardup.py): the
    near-dup corpus arrives as two parquet batches (originals, then
    mutated copies — id-monotone arrival), each page is fingerprinted
    and banded with the SAME Catalyst expressions as the batch simhash
    lane, and a per-(band, slice) applyInPandasWithState bucket flags
    every fingerprint against all earlier ones. Per-doc verdicts then
    equal the batch pair set exactly, so the oracle is the SAME
    banded-pair SQL the batch lane is hash-proven against, aggregated
    to (doc_id, is_neardup, dup_of)."""
    import os
    import tempfile
    import uuid

    from geokitten_spark.fixtures import _NEARDUP_ID_OFFSET, neardup_corpus
    from geokitten_spark.streaming import run_to_memory
    from geokitten_spark.streaming.neardup import (
        neardup_flags_stream,
        simhash_banded_stream,
    )

    corpus = neardup_corpus(spark, sf_dir)
    src = os.path.join(tempfile.gettempdir(), f"gk_snd_{uuid.uuid4().hex[:8]}")
    corpus.filter(F.col("doc_id") < _NEARDUP_ID_OFFSET).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    corpus.filter(F.col("doc_id") >= _NEARDUP_ID_OFFSET).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(corpus.schema).parquet(src)
    flags = neardup_flags_stream(simhash_banded_stream(stream))
    name = f"q_snd_{uuid.uuid4().hex[:8]}"
    run_to_memory(flags, name, os.path.join(src, "_ckpt"), output_mode="append")
    agg = spark.table(name).groupBy("doc_id").agg(F.min("dup_of").alias("dup_of"))
    return corpus.join(agg, "doc_id", "left").select(
        "doc_id",
        F.col("dup_of").isNotNull().alias("is_neardup"),
        "dup_of",
    )


def q_robots_sitemaps(spark, sf_dir):
    """Sitemap autodiscovery from robots.txt (functions/robots.py):
    ``Sitemap:`` lines are group-independent per RFC 9309, skipped by
    the rule parser (pinned by robots_filter staying green) and
    surfaced here by a pure-Catalyst per-line extraction. Oracle =
    FORMULA (the fixture publishes sitemap lines by host-number
    arithmetic), so it checks the parse independently."""
    from geokitten_spark.fixtures import host_robots_fixture
    from geokitten_spark.functions.robots import sitemap_directives

    robots = spark.createDataFrame(
        host_robots_fixture(), "host string, robots_txt string"
    )
    return sitemap_directives(robots)


def q_sitemap_frontier(spark, sf_dir):
    """Sitemap lane end-to-end (sources/sitemap.py): render one XML
    <urlset> per host (listing every crawled url with doc_id%3 != 2
    plus one never-crawled url per host), parse it back with the
    pure-Catalyst regexp scanner, and reconcile against the crawl via
    ONE full-outer url join + per-host aggregate — n_new is the recrawl
    frontier, n_stale the ghost set. The oracle is FORMULA-derived
    (urls and the listing rule come from doc_id arithmetic) — it never
    touches XML, so it independently checks render→parse→reconcile."""
    from geokitten_spark.functions.geocode import url_from_doc_id
    from geokitten_spark.sources.sitemap import (
        parse_urlset,
        render_sitemaps,
        sitemap_frontier,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hn = (F.col("doc_id") % 97).cast("string")
    host = F.concat(F.lit("host"), hn, F.lit(".example"))
    url = url_from_doc_id(F.col("doc_id"), F.col("lang"))
    lastmod = F.concat(
        F.lit("2025-01-"),
        F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0"),
    )
    listed = docs.filter(F.col("doc_id") % 3 != 2).select(
        host.alias("host"), url.alias("url"), lastmod.alias("lastmod")
    )
    fresh = (
        docs.select(hn.alias("hn"))
        .distinct()
        .select(
            F.concat(F.lit("host"), "hn", F.lit(".example")).alias("host"),
            F.concat(
                F.lit("https://host"), "hn", F.lit(".example/new/page-"), "hn"
            ).alias("url"),
            F.lit("2025-02-01").alias("lastmod"),
        )
    )
    xml = render_sitemaps(listed.unionByName(fresh))
    parsed = parse_urlset(xml)
    crawled = docs.select(host.alias("host"), url.alias("url"))
    return sitemap_frontier(parsed, crawled)


def q_mix_sources(spark, sf_dir):
    """Dataset mixing with exact integer quotas (operators/sampling.py):
    DoReMi-style domain weights (weight of src{i} = i+1) apportioned to
    a 200-row budget by largest-remainder — pure integer math, sums to
    exactly 200 — then exactly-quota-per-source selection by portable
    hash rank (WindowGroupLimit: partial top-k BEFORE the exchange).
    Oracle = the same quota vector + the same hash window in DuckDB."""
    from geokitten_spark.operators.sampling import (
        largest_remainder_quotas,
        mix_sources,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    weights = {f"src{i}": i + 1 for i in range(20)}
    quotas = largest_remainder_quotas(weights, total=200)
    return mix_sources(docs, quotas).select("doc_id", "source")


def q_chunk_documents(spark, sf_dir):
    """RAG-style sliding-window chunking (operators/chunking.py):
    window=32 / stride=24 token chunks, 100% Catalyst (split →
    explode(sequence) → slice → array_join; one map stage, no shuffle,
    no Python). Oracle = the same integer chunk arithmetic in pure
    DuckDB SQL; md5 per chunk proves the token windows are
    byte-identical."""
    from geokitten_spark.operators.chunking import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ch = chunk_documents(docs, window=32, stride=24)
    return ch.select(
        "doc_id",
        "chunk_id",
        "n_tokens",
        "chunk_tokens",
        F.md5(F.encode("chunk_text", "UTF-8")).alias("chunk_md5"),
    )


def q_unigram_vocab(spark, sf_dir):
    """Unigram-LM subword vocabulary (operators/unigram.py, Kudo 2018):
    seed/EM/prune train on the distributed word-frequency dictionary
    (one count agg + top-V, driver-side EM — the corpus is never
    iterated), Viterbi-tokenize map-only via an Arrow-batched pandas
    UDF, count tokens through one shuffle. Oracle = the SAME pure
    trainer + segmenter over the DuckDB-derived dictionary; emitted
    stats are integer counts only."""
    from geokitten_spark.operators.unigram import unigram_vocab_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return unigram_vocab_stats(docs, n_top=50)


def q_sessionize_stream_twin(spark, sf_dir):
    """Streaming face (rows-only): watermark + tumbling window aggregate
    driven through Structured Streaming availableNow on the events table,
    equal to the batch events_hourly by construction (tested in pytest)."""
    import tempfile, os, uuid

    from geokitten_spark.streaming import (
        read_events_stream, hourly_counts_stream, run_to_memory,
    )

    src = os.path.join(tempfile.gettempdir(), f"gk_stream_{uuid.uuid4().hex[:8]}")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    ev.repartition(2).write.mode("overwrite").parquet(src)
    name = f"q_stream_{uuid.uuid4().hex[:8]}"
    run_to_memory(
        hourly_counts_stream(read_events_stream(spark, src)),
        name,
        os.path.join(src, "_ckpt"),
        output_mode="complete",
    )
    return spark.table(name)


def q_stream_sessions(spark, sf_dir):
    """Session windows in Structured Streaming (F.session_window, 30-min
    gap), drained availableNow over a 2-file source — sessions spanning the
    microbatch boundary must merge in the state store. Folded per user to
    the exact shape of the batch `sessionize` query, so the DuckDB
    gaps-and-islands oracle checks the streaming state machine."""
    import os
    import tempfile
    import uuid

    from geokitten_spark.streaming import (
        read_events_stream, session_counts_stream, run_to_memory,
    )

    src = os.path.join(tempfile.gettempdir(), f"gk_sess_{uuid.uuid4().hex[:8]}")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    ev.repartition(2).write.mode("overwrite").parquet(src)
    name = f"q_sess_{uuid.uuid4().hex[:8]}"
    run_to_memory(
        session_counts_stream(read_events_stream(spark, src)),
        name,
        os.path.join(src, "_ckpt"),
        output_mode="complete",
    )
    t = spark.table(name)
    return t.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.min("session_start").cast("timestamp").alias("first_start"),
    )


def q_stream_dedup(spark, sf_dir):
    """Streaming exact dedup (dropDuplicatesWithinWatermark): the source
    dir holds the events table written TWICE, so every event_id arrives as
    a duplicate in a later microbatch; the deduped per-type counts must
    equal a plain batch GROUP BY over the table written once."""
    import os
    import tempfile
    import uuid

    from geokitten_spark.streaming import (
        read_events_stream, dedup_events_stream, run_to_memory,
    )

    src = os.path.join(tempfile.gettempdir(), f"gk_dedup_{uuid.uuid4().hex[:8]}")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    ev.coalesce(1).write.mode("append").parquet(src)  # the duplicate batch
    name = f"q_dedup_{uuid.uuid4().hex[:8]}"
    agg = dedup_events_stream(read_events_stream(spark, src)).groupBy(
        "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    run_to_memory(agg, name, os.path.join(src, "_ckpt"), output_mode="complete")
    return spark.table(name)


def q_stream_interval_join(spark, sf_dir):
    """Stream-stream interval join: clicks within 10 min after a view by
    the same user (two watermarked streams over the same file source,
    drained availableNow). Oracle = the identical batch interval self-join
    in DuckDB."""
    import os
    import tempfile
    import uuid

    from geokitten_spark.streaming import (
        read_events_stream, interval_join_stream, run_to_memory,
    )

    src = os.path.join(tempfile.gettempdir(), f"gk_ivj_{uuid.uuid4().hex[:8]}")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    ev.repartition(2).write.mode("overwrite").parquet(src)
    views = read_events_stream(spark, src).filter(F.col("event_type") == "view")
    clicks = read_events_stream(spark, src).filter(F.col("event_type") == "click")
    j = interval_join_stream(views, clicks).select(
        F.col("l_id").alias("view_id"), F.col("r_id").alias("click_id")
    )
    name = f"q_ivj_{uuid.uuid4().hex[:8]}"
    run_to_memory(j, name, os.path.join(src, "_ckpt"), output_mode="append")
    return spark.table(name)


def q_stream_geo_tiles(spark, sf_dir):
    """The flagship tiling as an INCREMENTAL STREAM: documents arrive as
    microbatches, the url→geocode→grid-cell derivation runs as codegen
    expressions on the stream, and the complete-mode per-cell counts must
    equal the batch web_tile_agg — same oracle, zero new SQL."""
    import os
    import tempfile
    import uuid

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from geokitten_spark.cells.grid import grid_cell_sql
    from geokitten_spark.fixtures import derive_web_documents
    from geokitten_spark.streaming import run_to_memory

    src = os.path.join(tempfile.gettempdir(), f"gk_geo_{uuid.uuid4().hex[:8]}")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(2).write.mode("overwrite").parquet(src)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    tiled = derive_web_documents(stream).select(
        F.expr(f"{grid_cell_sql('lon', 'lat', 7)} AS cell_id")
    )
    agg = tiled.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_docs"))
    name = f"q_geo_{uuid.uuid4().hex[:8]}"
    run_to_memory(agg, name, os.path.join(src, "_ckpt"), output_mode="complete")
    return spark.table(name)


def q_stream_h3_tiles(spark, sf_dir):
    """Incremental H3 tiling: the canonical-H3 encode (vectorized pandas
    UDF) runs per microbatch; complete-mode per-cell counts must equal the
    batch h3_tile_agg — same numpy-replica oracle, zero new SQL."""
    import os
    import tempfile
    import uuid

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from geokitten_spark.fixtures import derive_web_documents
    from geokitten_spark.functions.cells_udfs import h3_cell
    from geokitten_spark.streaming import run_to_memory

    src = os.path.join(tempfile.gettempdir(), f"gk_h3s_{uuid.uuid4().hex[:8]}")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(2).write.mode("overwrite").parquet(src)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    tiled = derive_web_documents(stream).select(
        h3_cell(4)(F.col("lon"), F.col("lat")).alias("cell_id")
    )
    agg = tiled.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_docs"))
    name = f"q_h3s_{uuid.uuid4().hex[:8]}"
    run_to_memory(agg, name, os.path.join(src, "_ckpt"), output_mode="complete")
    return spark.table(name)


def q_stream_quality_gate(spark, sf_dir):
    """Streaming twin of the repetition quality rollup: the per-doc
    signals are stateless array expressions (the same `repetition_cols`
    the batch query uses), so the quality gate streams as a map-only
    stage; only the per-lang rollup holds state (complete mode). Drained
    availableNow over a 2-file source, the result must equal the batch
    aggregate — the SAME oracle as `quality_repetition`."""
    import os
    import tempfile
    import uuid

    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from geokitten_spark.functions.text import repetition_cols
    from geokitten_spark.streaming import run_to_memory

    src = os.path.join(tempfile.gettempdir(), f"gk_qual_{uuid.uuid4().hex[:8]}")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(2).write.mode("overwrite").parquet(src)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    r = repetition_cols(F.col("text"))
    per_doc = stream.select("lang", *[v.alias(k) for k, v in r.items()])
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("n_distinct").cast("double") / F.sum("n_words"), 6).alias("ttr"),
        F.round(
            F.sum("top_unigram").cast("double") / F.sum("n_words"), 6
        ).alias("top_unigram_share"),
        F.round(
            F.sum("top_bigram").cast("double") / F.sum("n_bigrams"), 6
        ).alias("top_bigram_share"),
        F.max("max_run").cast("long").alias("max_run"),
        F.sum(F.col("rep_flagged").cast("long")).cast("long").alias("n_flagged"),
    )
    name = f"q_qual_{uuid.uuid4().hex[:8]}"
    run_to_memory(agg, name, os.path.join(src, "_ckpt"), output_mode="complete")
    return spark.table(name)


def q_stream_stateful(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState): running
    per-user event count + last ts, drained with availableNow over a
    3-file source (3 microbatches — state must carry across batches). The
    final state per user must equal the batch aggregate, which is the
    DuckDB oracle."""
    import os
    import tempfile
    import uuid

    from geokitten_spark.streaming import (
        read_events_stream, stateful_user_counts, run_to_memory,
    )

    src = os.path.join(tempfile.gettempdir(), f"gk_state_{uuid.uuid4().hex[:8]}")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    ev.repartition(3).write.mode("overwrite").parquet(src)
    name = f"q_state_{uuid.uuid4().hex[:8]}"
    run_to_memory(
        stateful_user_counts(read_events_stream(spark, src)),
        name,
        os.path.join(src, "_ckpt"),
        output_mode="update",
    )
    # update-mode memory sink accumulates every per-batch update row; the
    # FINAL state per user is the row with the max running count
    t = spark.table(name)
    return t.groupBy("user_id").agg(
        F.max("n_events").cast("long").alias("n_events"),
        F.max("last_ts").cast("timestamp").alias("last_ts"),
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN scale path: top-10 via 3-probe inverted lists — rows-only
    (recall/monotonicity vs brute force covered in pytest)."""
    import tempfile

    from geokitten_spark.operators.ann import IVFIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    idx = IVFIndex(
        emb.filter("vec_id <> 0"), storage_path=tempfile.mkdtemp(prefix="gk_ivf_")
    )
    return idx.search(qv, k=10, n_probe=3).select("vec_id")


def q_simplify_tiles(spark, sf_dir):
    """Douglas-Peucker boundary decimation (the pre-broadcast /
    pre-render step): per region, vertex counts before/after and the md5
    of the simplified WKT. Oracle = the numpy kernel run on the driver."""
    from geokitten_spark.fixtures import admin_polygons
    from geokitten_spark.functions.geometry_udfs import (
        simplify_wkt,
        wkt_vertex_count,
    )

    adm = admin_polygons(spark).select("region_id", "geometry_wkt")
    simp = adm.withColumn("simp_wkt", simplify_wkt(0.02)(F.col("geometry_wkt")))
    return simp.select(
        "region_id",
        wkt_vertex_count(F.col("geometry_wkt")).alias("v_before"),
        wkt_vertex_count(F.col("simp_wkt")).alias("v_after"),
        F.md5(F.col("simp_wkt")).alias("wkt_md5"),
    )


def q_hull_compactness(spark, sf_dir):
    """Convex hull + compactness (area / hull area) per region — the
    cover-quality metric for boundary sets. Oracle = the numpy monotone
    chain run on the driver."""
    from geokitten_spark.fixtures import admin_polygons
    from geokitten_spark.functions.geometry_udfs import (
        convex_hull_wkt,
        planar_area,
    )

    adm = admin_polygons(spark).select("region_id", "geometry_wkt")
    hulled = adm.withColumn("hull", convex_hull_wkt(F.col("geometry_wkt")))
    return hulled.select(
        "region_id",
        F.md5(F.col("hull")).alias("hull_md5"),
        F.when(
            planar_area(F.col("hull")) > 0,
            F.round(
                planar_area(F.col("geometry_wkt")) / planar_area(F.col("hull")), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("compactness"),
    )


def q_ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN: 32x-compressed codes (8 bytes/vector),
    asymmetric-distance top-10 for the vec_id=0 query — scoring is a
    pure-JVM aggregate over the byte codes against one broadcast
    distance-table row. Oracle = the full train→encode→ADC chain
    replicated in numpy on the driver."""
    import tempfile

    from geokitten_spark.operators.ann import PQIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    idx = PQIndex(emb, m=8, storage_path=tempfile.mkdtemp(prefix="gk_pq_"))
    return idx.search(qv, k=10)


def q_ann_sq8_topk(spark, sf_dir):
    """Scalar-quantized (SQ8) ANN: per-dim min/max in ONE aggregate pass
    (2·d map-side-combined cells, no posexplode), uint8 codes map-only,
    exact int64 dot vs the quantized vec_id=0 query, then
    TakeOrderedAndProject. Codes are 4x smaller than float32 — a direct
    bandwidth multiplier on the scoring scan at 100 TB — and integer
    scores have no FP reassociation, so the result is identical at any
    parallelism. Oracle = the same quantizer in pure DuckDB SQL (IEEE
    double ops in the same order produce bit-identical codes)."""
    from geokitten_spark.operators.ann import sq8_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return sq8_topk(emb, query_id=0, k=10)


def q_ann_rerank(spark, sf_dir):
    """Two-stage retrieval (the production ANN pattern): SQ8 integer
    scoring proposes 50 candidates (4x-compressed scan, exact int64
    scores), then ONLY those 50 rows pay full-precision cosine and the
    final top-10 comes from the reranked set — at 100 TB the expensive
    exact pass touches 50 rows instead of the corpus. Candidate set and
    rerank are both engine-exact (integer stage boundary; float cosine
    only orders 50 well-separated finalists)."""
    from pyspark.sql import Window

    from geokitten_spark.operators.ann import sq8_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cand = sq8_topk(emb, query_id=0, k=50).select("vec_id")
    qrow = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    v = F.col("embedding").cast("array<double>")
    dot = F.aggregate(
        F.zip_with(v, F.col("qv"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    sim = dot / (norm(v) * norm(F.col("qv")))
    rer = (
        emb.join(F.broadcast(cand), "vec_id")
        .crossJoin(F.broadcast(qrow))
        .select("vec_id", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )
    w = Window.partitionBy(F.spark_partition_id()).orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return rer.withColumn("rank", F.row_number().over(w)).select("vec_id", "rank")


def q_ann_batch_topk(spark, sf_dir):
    """Batched IVF ANN: a 100-query wave through ONE partition-pruned
    probe join + per-query WindowGroupLimit top-5 (the reranking-pipeline
    face of the index — search_many, not 100 jobs). Oracle = numpy
    replica of probe choice, fold-cosine and tie-breaks."""
    import tempfile

    from geokitten_spark.operators.ann import IVFIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter("vec_id % 5 = 0").orderBy("vec_id").limit(100).collect()
    ]
    idx = IVFIndex(
        emb.filter("vec_id % 5 <> 0"),
        storage_path=tempfile.mkdtemp(prefix="gk_ivf_batch_"),
    )
    return idx.search_many(queries, k=5, n_probe=3)


def q_geo_aggregates(spark, sf_dir):
    """A3/A4: union centroid + total bounds over the admin polygons —
    rows-only (pure-geometry aggregates; pytest covers exactness)."""
    from geokitten_spark.fixtures import admin_polygons
    from geokitten_spark.operators.tile import geo_aggregates

    out = geo_aggregates(admin_polygons(spark))
    return out.select(*[F.round(F.col(c), 6).alias(c) for c in out.columns])


def q_h3_pentagon_disk(spark, sf_dir):
    """Round-4 flagship evidence: grid_disk is exact across pentagon
    distortion (cells/h3core.py BFS-over-derived-adjacency fallback).
    Origins = the 12 res-2 pentagons plus each one's disk(1) — 72 cells,
    all inside the warp-zone router — expanded executor-side by the
    h3_kring UDF at k=2; per-origin disk count + min/max cell id
    checksums. Pentagon origins must show n_disk = 16 (1+5+10)."""
    from geokitten_spark.functions.cells_udfs import h3_kring
    from geokitten_spark.oracles import h3_pentagon_disk_origins

    df = spark.createDataFrame(
        [(o,) for o in h3_pentagon_disk_origins()], "origin_cell long"
    )
    disk = df.select(
        "origin_cell",
        F.explode(h3_kring(2)(F.col("origin_cell"))).alias("cell_id"),
    )
    return disk.groupBy("origin_cell").agg(
        F.count(F.lit(1)).alias("n_disk"),
        F.min("cell_id").alias("min_cell"),
        F.max("cell_id").alias("max_cell"),
    )


def q_pack_sequences(spark, sf_dir):
    """Sequence packing for training shards: concat-and-chunk metadata
    (stream offset, first/last sequence index, span) per document in the
    deterministic hash-shuffle order — the two-phase prefix sum of
    operators/packing.py (bucket sums -> driver prefix -> per-bucket
    window), never a global single-reducer window."""
    from geokitten_spark.functions.text import token_count_ws
    from geokitten_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = docs.select("doc_id", token_count_ws(F.col("text")).alias("n_tokens"))
    return pack_sequences(
        t, key_col="doc_id", tokens_col="n_tokens", seq_len=2048
    ).select(
        "doc_id", "n_tokens", "stream_offset", "first_seq", "last_seq", "n_seqs"
    )


def q_distinct_sketch(spark, sf_dir):
    """HyperLogLog distinct accounting (operators/sketch.py): per-source
    estimated distinct texts (classic HLL over the engine-portable
    hash60, exact integer register math — the DuckDB oracle reproduces
    the estimate bit-for-bit) side by side with the exact count. At
    10^12 rows the sketch's shuffle is m x groups rows; COUNT(DISTINCT)
    shuffles every distinct key."""
    from geokitten_spark.operators.sketch import hll_distinct

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    est = hll_distinct(docs, "text", ["source"])
    exact = docs.groupBy("source").agg(
        F.countDistinct("text").cast("long").alias("n_exact")
    )
    return est.join(exact, on="source")


def q_distinct_sketch_union(spark, sf_dir):
    """Mergeable-HLL increment path (operators/sketch.py): slice the
    corpus three ways by a key hash, sketch each slice to its register
    table (<= m rows/group each), max-merge the tables, estimate. The
    merge is LOSSLESS — registers are maxes of per-key ranks, so the
    oracle is simply the single-pass sketch SQL. This is the 100-TB
    ingest shape: daily increments each sketch their own slice; history
    distinct accounting max-merges tiny register tables, never re-scans."""
    from geokitten_spark.operators.sketch import hll_registers, hll_union_distinct

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    slices = [
        docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == i) for i in range(3)
    ]
    regs = [hll_registers(s, "text", ["source"]) for s in slices]
    return hll_union_distinct(regs, ["source"])


def q_heavy_hitters_cms(spark, sf_dir):
    """Count-min heavy hitters (operators/sketch.py): frequency side of
    the sketch pair. Build a 4x1024 counter grid over the token stream
    in one map-side-combined pass (the exchange carries <= d*w rows per
    task, never the corpus), then probe the exact top-20 tokens against
    it — cms_count is min-of-4 counters, one-sided (>= exact). All
    int64 on hash60, so the DuckDB twin matches bit-for-bit. At 100 TB
    the grid is the merge surface: per-increment grids SUM-merge
    losslessly and any candidate set probes via a broadcast of the
    <= 4096-row grid, no corpus re-scan."""
    from geokitten_spark.operators.sketch import cms_counters, cms_lookup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
        ).alias("tok")
    )
    counters = cms_counters(toks, "tok", d=4, w=1024)
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("tok").asc())
        .limit(20)
    )
    return cms_lookup(counters, top, "tok", d=4, w=1024)


def q_cms_merge_increments(spark, sf_dir):
    """Count-min INCREMENT path (operators/sketch.py:cms_merge — the
    frequency twin of q_distinct_sketch_union's HLL max-merge): slice
    the corpus three ways by doc-id hash, build each slice's 4x1024
    counter grid over its token stream, SUM-merge the three grids, then
    probe the exact global top-20 tokens against the merged grid.
    Counters are sums, so the merge is LOSSLESS: the oracle is the
    SINGLE-PASS sketch over the whole corpus (byte-identical SQL to
    heavy_hitters_cms's oracle), and the driver hash match proves
    merged == single-pass. 100-TB shape: each ingest increment ships a
    <= d*w-row grid; any period's frequency accounting sum-merges tiny
    grids and broadcasts the result at candidate keys — the corpus is
    never re-scanned."""
    from geokitten_spark.operators.sketch import (
        cms_counters,
        cms_lookup,
        cms_merge,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def _toks(df):
        return df.select(
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
            ).alias("tok")
        )

    grids = [
        cms_counters(
            _toks(docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == i)),
            "tok",
            d=4,
            w=1024,
        )
        for i in range(3)
    ]
    merged = cms_merge(grids)
    toks = _toks(docs)
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("tok").asc())
        .limit(20)
    )
    return cms_lookup(merged, top, "tok", d=4, w=1024)


def q_qhist_merge_increments(spark, sf_dir):
    """HDR quantile-histogram INCREMENT path (operators/sketch.py:
    qhist_merge) — completes the increment-merge trilogy alongside
    distinct_sketch_union (HLL register MAX-merge) and
    cms_merge_increments (CMS counter SUM-merge): slice the corpus three
    ways by doc-id hash, build each slice's per-source HDR bucket table,
    SUM-merge the tables, read p50/p90/p99 text length off the merged
    grid. Bucket counts are sums of a pure function of the value
    multiset, so the merge is LOSSLESS: the oracle is the SINGLE-PASS
    sketch (byte-identical SQL to quantile_sketch's), and the driver
    hash match proves merged == single-pass. 100-TB shape: each ingest
    increment ships <= (65-sig)*2^sig bucket rows per group; any
    period's latency/length percentiles come from merging bucket
    tables, never re-scanning or re-sorting the corpus."""
    from geokitten_spark.operators.sketch import (
        qhist_counters,
        qhist_merge,
        qhist_quantiles,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vals = docs.select(
        "doc_id", "source", F.length("text").cast("long").alias("text_len")
    )
    parts = [
        qhist_counters(
            vals.filter(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == i),
            "text_len",
            ["source"],
        )
        for i in range(3)
    ]
    return qhist_quantiles(qhist_merge(parts), ["source"])


def q_quantile_sketch(spark, sf_dir):
    """HDR-histogram quantiles (operators/sketch.py:qhist): per-source
    p50/p90/p99 text length without a per-group sort. Spark's
    approx_percentile is a stream-order-dependent KLL/GK sketch that
    can't be oracle-checked; the HDR bucket grid is a pure function of
    the value multiset — exact int64 bucket math (sig=8: <= 0.4%
    relative error), counts SUM-merge losslessly across increments like
    the CMS grid, and the quantile read windows over the tiny bucket
    table partitioned BY GROUP (never a SinglePartition). The DuckDB
    twin matches bit-for-bit."""
    from geokitten_spark.operators.sketch import qhist

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return qhist(
        docs.select("source", F.length("text").cast("long").alias("text_len")),
        "text_len",
        ["source"],
    )


def q_media_phash(spark, sf_dir):
    """Perceptual-hash image dedup (functions/phash.py): hash the image
    lane (real PNG/PPM/JPEG decodes) AND a JPEG-recompressed copy of
    each image (the same picture crawled again at another quality),
    then find cross-corpus near-dups with the pigeonhole-banded Hamming
    join (16 bands of 4 bits > max_hamming=12). Expected output: each
    original pairs with exactly its own recompressed copy
    (fixture-measured at all three SFs over the 9-format cycle: copies
    within 3 bits, distinct images >= 18 — the low-frequency block
    fixture keeps DCT sign bits stable under requantization). Only
    (id, 64-bit hash) rows cross the shuffle —
    never pixels; candidate verify is JVM-side bit_count(xor). Oracle =
    the same kernels driver-side + brute-force all-pairs Hamming."""
    from geokitten_spark.functions.multimodal import synthetic_media
    from geokitten_spark.functions.phash import phash_neardup_pairs, recompress_jpeg

    media = synthetic_media(spark, sf_dir, n_rows=100).filter(
        F.col("kind") == "image"
    )
    copies = recompress_jpeg(media, id_offset=100000)
    return phash_neardup_pairs(media, copies, max_hamming=12, bands=16)


def q_media_audio_dedup(spark, sf_dir):
    """Audio perceptual dedup (functions/phash.py): spectral fingerprint
    the audio lane (real RIFF/WAVE decodes) AND a re-gained copy of each
    clip (3/4 volume + deterministic dither — the same clip captured
    again at another level), then find cross-corpus near-dups with the
    pigeonhole-banded Hamming join (8 bands > max_hamming=6). Adjacent-
    band log-energy differences cancel gain exactly, so each original
    pairs with its own copy (fixture-measured: copies <= 1 bit,
    distinct clips >= 18 at every SF). Only (id, 64-bit hash)
    rows cross the shuffle — never samples. Oracle = the same kernels
    driver-side + brute-force all-pairs Hamming."""
    from geokitten_spark.functions.multimodal import synthetic_media
    from geokitten_spark.functions.phash import afp_neardup_pairs, regain_audio

    media = synthetic_media(spark, sf_dir, n_rows=100).filter(
        F.col("kind") == "audio"
    )
    copies = regain_audio(media, id_offset=200000)
    return afp_neardup_pairs(media, copies, max_hamming=6, bands=8)


def q_fix_mojibake(spark, sf_dir):
    """Mojibake repair (functions/mojibake.py): plant accents on
    doc_id%5==0 rows (the corpus is pure ASCII), damage them with one
    layer of UTF-8-as-cp1252 mis-decoding — two layers on %10==0 (multi-
    crawl aggregation applies it twice) — then repair to a fixpoint with
    the Arrow-batched map-only operator. Output proves exact inversion:
    ``rounds`` = layers undone (0/1/2) and ``restored`` = repaired text
    byte-equals the pre-damage text for EVERY row. Oracle = the same
    pure-string kernels driver-side (VALUES with md5 of the repair)."""
    from geokitten_spark.functions.mojibake import (
        corrupt_utf8_cp1252,
        plant_accents,
        repair_rounds_col,
        repair_text_col,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 400
    )

    def damage(batches):
        import pandas as pd

        for pdf in batches:
            exp, dmg = [], []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                e = plant_accents(txt) if did % 5 == 0 else txt
                d = corrupt_utf8_cp1252(e) if did % 5 == 0 else e
                if did % 10 == 0:
                    d = corrupt_utf8_cp1252(d)
                exp.append(e)
                dmg.append(d)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "expected": exp, "damaged": dmg}
            )

    staged = docs.mapInPandas(
        damage, schema="doc_id long, expected string, damaged string"
    )
    fixed = staged.select(
        "doc_id",
        "expected",
        repair_text_col(F.col("damaged")).alias("fixed"),
        repair_rounds_col(F.col("damaged")).alias("rounds"),
    )
    return fixed.select(
        "doc_id",
        "rounds",
        (F.col("fixed") == F.col("expected")).alias("restored"),
        F.md5(F.encode("fixed", "UTF-8")).alias("fixed_md5"),
    )


def q_boilerplate_extract(spark, sf_dir):
    """Boilerplate removal (functions/boilerplate.py): render every doc
    into a fixture page with a nav bar (link density 1.0), the article
    body, an ad sidebar, and a footer; extract main content with the
    pure-Catalyst density rule (words >= 10, link_words <= words/3) —
    one WholeStageCodegen map stage, no Python, no shuffle. The oracle
    is FORMULA-derived (n_kept = 1, main = trim(text)) — it never runs
    the parser, so it independently checks that the block splitter +
    density filter recover exactly the planted article body."""
    from geokitten_spark.functions.boilerplate import (
        boilerplate_html,
        extract_main_content,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    page = boilerplate_html(F.col("doc_id"), F.col("text"), F.col("lang"))
    out = extract_main_content(page)
    return docs.select(
        "doc_id",
        out["n_kept"].alias("n_kept"),
        F.md5(F.encode(out["main"], "UTF-8")).alias("main_md5"),
    )


def q_warc_roundtrip(spark, sf_dir):
    """WARC lane end-to-end (sources/warc.py): web_documents → executor-side
    ``.warc.gz`` export (ISO 28500, one gzip member per record like Common
    Crawl) → binaryFile+mapInPandas scan → HTML text extraction. Proves the
    input_hint invariant through a REAL container format: byte-identical
    html payload AND extracted text per url (md5-compared), plus the WARC
    header surface (record-id derivation, WARC-Date, HTTP status). Oracle =
    pure DuckDB SQL over `documents` (oracles.warc_roundtrip_sql) — no
    Python twin; the md5s must match the renderer+parser+extractor chain
    bit-for-bit."""
    import os
    import shutil
    import tempfile

    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.functions.text import extract_text
    from geokitten_spark.sources.warc import read_warc_dir, write_warc_files

    d = os.path.join(tempfile.gettempdir(), "geokitten_warc_fixture")
    shutil.rmtree(d, ignore_errors=True)
    # repartition → 8 parallel writers → 8 .warc.gz files → 8 scan splits
    # (the sink/scan parallelism contract, not a single-file special case)
    docs = (
        web_documents(spark, sf_dir)
        .select("url", "warc_ts", "html")
        .repartition(8, "url")
    )
    # materialize the sink; the manifest is O(#files) control-plane rows.
    # gzip content-coding + chunked transfer-coding exercise the realistic
    # HTTP envelope the parser must undo (real captures store server bytes
    # verbatim) — the oracle still compares the LOGICAL html md5
    write_warc_files(docs, d, content_encoding="gzip", chunked=True).collect()
    scan = read_warc_dir(spark, d)
    return scan.select(
        "url",
        "record_id",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_dt"),
        F.col("http_status").cast("int").alias("http_status"),
        F.length("html").cast("long").alias("html_bytes"),
        F.md5("html").alias("html_md5"),
        F.md5(extract_text(F.col("html")).cast("binary")).alias("text_md5"),
    )


def q_link_degrees(spark, sf_dir):
    """Link graph over REAL href extraction (operators/linkgraph.py):
    every fixture page carries three <link href="doc://T"> tags; edges
    come out of the html column via one codegen regexp_extract_all pass,
    degrees via two 8-byte-key count aggregates. Oracle derives the SAME
    edges from the target formula — any extraction drift mismatches."""
    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.operators.linkgraph import extract_links, link_degrees

    docs = web_documents(spark, sf_dir)
    nodes = docs.select(F.col("doc_id").alias("node"))
    return link_degrees(nodes, extract_links(docs))


def q_link_pagerank(spark, sf_dir):
    """Integer-exact damped PageRank, 5 iterations over the extracted
    link graph (operators/linkgraph.py): ranks in int64 rank units,
    contributions via `rank div out_degree`, damping via integer
    percents — summation-order-independent, so the DuckDB chained-CTE
    twin matches bit-for-bit (a double-precision PageRank could not be
    hash-compared: distributed float sums are order-dependent)."""
    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.operators.linkgraph import extract_links, pagerank

    docs = web_documents(spark, sf_dir)
    nodes = docs.select(F.col("doc_id").alias("node"))
    ranks = pagerank(nodes, extract_links(docs), n_iters=5)
    return (
        ranks.select("node", F.col("rank").alias("rank_units"))
        .orderBy(F.desc("rank_units"), F.asc("node"))
        .limit(25)
    )


def q_link_pagerank_redistribute(spark, sf_dir):
    """Textbook dangling-mass PageRank (operators/linkgraph.py,
    ``dangling='redistribute'``): out-edges of every doc_id % 7 == 0
    node are dropped, so ~1/7 of the graph is dangling; each iteration
    sums the rank those nodes hold (ONE O(nodes) aggregate producing a
    single broadcast row — never collected) and credits every node
    ``dmass div n`` before damping. All steps stay exact int64, so the
    DuckDB chained-CTE twin (with its per-iteration d{i} CTEs) matches
    bit-for-bit — under 'decay' these ranks would be strictly smaller."""
    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.operators.linkgraph import extract_links, pagerank

    docs = web_documents(spark, sf_dir)
    nodes = docs.select(F.col("doc_id").alias("node"))
    edges = extract_links(docs).filter(F.col("src") % 7 != 0)
    ranks = pagerank(nodes, edges, n_iters=4, dangling="redistribute")
    return (
        ranks.select("node", F.col("rank").alias("rank_units"))
        .orderBy(F.desc("rank_units"), F.asc("node"))
        .limit(25)
    )


def q_mvt_tiles(spark, sf_dir):
    """Vector-tile sink (viz/mvt.py): res-6 tile aggregate → per-cell
    rectangle corners (exact bit-shift id decode; all corner math is
    dyadic so Spark and numpy produce identical doubles) → one Mapbox
    Vector Tile protobuf blob per containing z=3 web-mercator tile via
    a grouped applyInPandas (hand-rolled varint/zigzag wire format,
    verified against the published spec 2.1 command vectors). Oracle =
    the SAME pure kernels driver-side (oracles.mvt_tiles_sql) — every
    blob md5 must match byte-for-byte."""
    from geokitten_spark.viz.mvt import mvt_cells

    out = mvt_cells(_cell_corners(spark, sf_dir), z=3)
    return out.select(
        "z",
        "x",
        "y",
        "n_features",
        F.length("pbf").cast("long").alias("pbf_len"),
        F.md5("pbf").alias("pbf_md5"),
    )


def q_mvt_pyramid(spark, sf_dir):
    """Vector-tile PYRAMID (viz/mvt.py mvt_pyramid): the same res-6
    aggregate rendered at zooms 3/2/1 in one job — the assignment pass
    emits each cell once per zoom (map-only) and a SINGLE (z, x, y)
    shuffle feeds one grouped render, instead of one aggregate
    recomputation per level. Blobs are byte-deterministic; oracle =
    the same pure kernels driver-side (oracles.mvt_pyramid_sql), one
    VALUES row per (z, x, y), md5 per blob."""
    from geokitten_spark.viz.mvt import mvt_pyramid

    out = mvt_pyramid(_cell_corners(spark, sf_dir), zooms=(3, 2, 1))
    return out.select(
        "z",
        "x",
        "y",
        "n_features",
        F.length("pbf").cast("long").alias("pbf_len"),
        F.md5("pbf").alias("pbf_md5"),
    )


def q_iceberg_read(spark, sf_dir):
    """S8 read path, jar-free (plans/iceberg_meta.py): build a
    spec-shaped Iceberg table in a temp dir — real parquet data files
    (hash-partitioned on doc_id so layout is deterministic) plus
    metadata json + Avro manifest-list/manifests written by the stdlib
    codec (plans/avro.py) — for TWO snapshots (even doc_ids, then all),
    then read it back with the pure-Python metadata reader and return,
    per snapshot: file count, the lineage's row total, and an
    independent count from actually SCANNING the manifest-pruned file
    list with spark.read.parquet (time travel). lineage_rows ==
    scanned_rows pins that manifests and data agree; the oracle derives
    the same numbers from `documents` alone."""
    import os
    import tempfile

    from geokitten_spark.plans.iceberg_meta import (
        read_iceberg_table,
        write_fixture_iceberg_table,
    )
    from geokitten_spark.plans.snapshot import SnapshotStore

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    loc = tempfile.mkdtemp(prefix="gk_iceberg_read_")
    d1 = os.path.join(loc, "data", "s1")
    d2 = os.path.join(loc, "data", "s2")
    docs.filter(F.col("doc_id") % 2 == 0).repartition(3, "doc_id").write.mode(
        "overwrite"
    ).parquet(d1)
    docs.repartition(4, "doc_id").write.mode("overwrite").parquet(d2)

    def footers(d):
        return [
            {"file": os.path.join(d, m["file"]), "rows": m["rows"],
             "bytes": m["bytes"]}
            for m in SnapshotStore._parquet_file_metrics(d)
        ]

    write_fixture_iceberg_table(loc, [(100, footers(d1)), (200, footers(d2))])
    tbl = read_iceberg_table(loc)
    rows = []
    for sid in sorted(tbl.snapshots):
        snap = tbl.snapshots[sid]
        rows.append(
            (
                sid,
                len(snap.files),
                sum(f["rows"] for f in snap.files),
                tbl.to_df(spark, snapshot_id=sid).count(),
            )
        )
    import shutil

    shutil.rmtree(loc, ignore_errors=True)  # rows already materialized
    return spark.createDataFrame(
        rows,
        "snapshot_id long, n_files long, lineage_rows long, scanned_rows long",
    )


def q_geoparquet_roundtrip(spark, sf_dir):
    """GeoParquet sink/source roundtrip (sources/geoparquet.py): build a
    deterministic boundary table over `nation` (k%3==0 -> MULTIPOLYGON of
    a 2x3 rect + a triangle, area 8.5 / 9 vertices; else POLYGON 7x4 rect
    with a 2x2 hole, area 24 / 10 vertices), encode WKB, write the
    distributed GeoParquet sink (one file per partition, `geo` footer
    metadata), read it back with the footer-validating source, and
    recompute kind/vertices/area FROM THE DECODED GEOMETRY — any WKB or
    parquet corruption changes the numbers. The oracle derives the same
    values from `nation` keys by arithmetic alone."""
    import shutil
    import tempfile

    from geokitten_spark.functions.geometry_udfs import (
        planar_area,
        wkt_vertex_count,
    )
    from geokitten_spark.sources.geoparquet import (
        read_geoparquet,
        write_geoparquet,
        wkt_to_wkb,
    )

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey")
    k = F.col("n_nationkey")
    mp_wkt = F.format_string(
        "MULTIPOLYGON (((%d 0, %d 0, %d 3, %d 3, %d 0)), "
        "((%d 10, %d 10, %d 15, %d 10)))",
        k, k + 2, k + 2, k, k, k, k + 1, k + 1, k,
    )
    pg_wkt = F.format_string(
        "POLYGON ((%d 0, %d 0, %d 4, %d 4, %d 0), "
        "(%d 1, %d 1, %d 3, %d 3, %d 1))",
        k * 10, k * 10 + 7, k * 10 + 7, k * 10, k * 10,
        k * 10 + 1, k * 10 + 3, k * 10 + 3, k * 10 + 1, k * 10 + 1,
    )
    boundaries = nation.withColumn(
        "geometry", wkt_to_wkb(F.when(k % 3 == 0, mp_wkt).otherwise(pg_wkt))
    ).repartition(3, "n_nationkey").sortWithinPartitions("n_nationkey")

    loc = tempfile.mkdtemp(prefix="gk_geoparquet_")
    write_geoparquet(boundaries, loc, geometry_col="geometry").collect()
    back = read_geoparquet(spark, loc)
    rows = (
        back.select(
            "n_nationkey",
            F.regexp_extract("geometry_wkt", r"^([A-Z]+)", 1).alias("geom_kind"),
            wkt_vertex_count("geometry_wkt").alias("n_vertices"),
            planar_area("geometry_wkt").alias("area"),
        )
        .orderBy("n_nationkey")
        .collect()
    )
    shutil.rmtree(loc, ignore_errors=True)  # rows already materialized
    return spark.createDataFrame(
        rows, "n_nationkey long, geom_kind string, n_vertices long, area double"
    )


def q_raster_tiles(spark, sf_dir):
    """Raster heat-tile PYRAMID (viz/raster.py): the vector→RASTER half
    of the north_rule's raster↔vector loop. Webdoc points → one
    map-side Arrow pass (the shared numpy mercator kernel at zoom 3,
    int64 pixel sums per partition, shifted to zooms 3 and 2 — counts
    add exactly) → ONE (z, x, y) exchange of the pixel sums → one
    batched Arrow render into grayscale PNGs via the from-scratch
    encoder. Blobs are byte-deterministic (integer gray ramp, tile-max
    normalized); oracle = the same pure kernels driver-side with numpy
    binning (oracles.raster_tiles_replica), one VALUES row per
    (z, x, y), md5 per blob."""
    from geokitten_spark.viz.raster import raster_heat_tiles

    docs = _web_docs(spark, sf_dir)
    out = raster_heat_tiles(docs.select("lon", "lat"), zooms=(3, 2), tile_px=64)
    return out.select(
        "z",
        "x",
        "y",
        "n_points",
        F.length("png").cast("long").alias("png_len"),
        F.md5("png").alias("png_md5"),
    )


def q_skew_salted_join(spark, sf_dir):
    """North_rule "salted-key skew mitigation for dense cells" made
    driver-visible (operators/skew.py). Web docs encode to COARSE res-3
    grid cells — a handful of hot cells hold most of the corpus — then:
    cell_histogram finds the hot cells, choose_salt_factor sizes the
    fan-out from the hottest cell, and salted_join joins the skewed doc
    side back to the per-cell dim with the big side salted
    deterministically by doc_id (pmod(xxhash64), never random — stage
    retries stay deterministic), the dim exploded ×salt, and the join
    keyed on the (cell_id, __salt) column PAIR (overflow-proof for
    packed BIGINT cell ids). Output folds the joined rows into
    per-density-level counts; the oracle is the PLAIN unsalted
    join+aggregate, so the driver's hash match IS the salted==plain
    equivalence proof at driver grade."""
    from geokitten_spark.cells.grid import grid_cell_sql
    from geokitten_spark.operators.skew import (
        cell_histogram,
        choose_salt_factor,
        salted_join,
    )

    docs = _web_docs(spark, sf_dir)
    pts = docs.select(
        "doc_id", F.expr(f"{grid_cell_sql('lon', 'lat', 3)} AS cell_id")
    )
    hist = cell_histogram(pts)
    salt = choose_salt_factor(hist, target_rows_per_task=8, max_salt=16)
    joined = salted_join(
        pts,
        hist.withColumnRenamed("count", "cell_count"),
        on="cell_id",
        salt=salt,
        big_tag_col="doc_id",
    )
    return joined.groupBy("cell_count").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cell_id").alias("n_cells"),
        F.min("doc_id").alias("min_doc_id"),
    )


def q_unicode_normalize(spark, sf_dir):
    """Unicode NFC normalization (functions/text.py:normalize_nfc): every
    doc's text gets decomposed combining sequences appended (e+U+0301,
    n+U+0303 — the same word crawled precomposed and decomposed), then
    one Arrow-batched NFC pass must fold them so fingerprints agree.
    Oracle = DuckDB's utf8proc-backed nfc_normalize — two independent
    UAX #15 implementations md5-compared per document."""
    from geokitten_spark.functions.text import normalize_nfc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    decomposed = F.concat(
        F.col("text"), F.lit(" cafe\u0301 nin\u0303o")
    )
    nfc = normalize_nfc(decomposed)
    return docs.select(
        "doc_id",
        F.md5(nfc.cast("binary")).alias("nfc_md5"),
        (F.length(decomposed) - F.length(nfc)).cast("long").alias("chars_folded"),
    )


def q_ccnet_buckets(spark, sf_dir):
    """CCNet-style corpus mixing: per-language head/middle/tail buckets
    by LM perplexity terciles (NTILE(3) over the bigram-LM scores —
    head = lowest-perplexity third, the slice CCNet keeps for LM
    training). Rides the oracle-checked lm_perplexity chain; the
    tercile assignment is one window over the per-doc scores, ordered
    by (rounded ppl, doc_id) so the split is total-ordered and
    engine-identical."""
    from pyspark.sql import Window

    from geokitten_spark.operators.lm import lm_perplexity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = lm_perplexity(docs, vocab_size=1024, max_bigrams=65536, alpha=0.1)
    scored = out.select(
        "doc_id",
        F.col("grp").alias("lang"),
        F.round("ppl", 6).alias("ppl"),
    )
    w = Window.partitionBy("lang").orderBy("ppl", "doc_id")
    nt = F.ntile(3).over(w)
    return scored.select(
        "doc_id",
        "lang",
        "ppl",
        F.when(nt == 1, "head")
        .when(nt == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


def q_cdx_index(spark, sf_dir):
    """CDXJ crawl-index lane (sources/cdx.py): render every capture's
    index line (SURT urlkey + 14-digit timestamp + JSON block) with pure
    Catalyst expressions, write real index files, re-scan them with the
    line-splittable text source, and parse back in one codegen pass.
    Oracle = the same derivation straight off `documents` in DuckDB
    (surt_key_sql has an exact SQL twin) — so render → files → scan →
    parse must be the identity on every field."""
    import os
    import shutil
    import tempfile

    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.sources.cdx import cdxj_line, read_cdxj_dir

    d = os.path.join(tempfile.gettempdir(), "geokitten_cdx_fixture")
    shutil.rmtree(d, ignore_errors=True)
    docs = web_documents(spark, sf_dir)
    fname = F.concat(
        F.lit("part-"), (F.col("doc_id") % 8).cast("string"),
        F.lit(".warc.gz"),
    )
    lines = docs.select(
        cdxj_line(
            F.col("url"), F.col("warc_ts"), F.col("html"), fname
        ).alias("value")
    )
    lines.coalesce(4).write.mode("overwrite").text(d)
    scan = read_cdxj_dir(spark, d, glob="part-*")
    return scan.select(
        "urlkey",
        F.date_format("capture_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(
            "capture_dt"
        ),
        "url",
        "status",
        "digest",
        "length",
        "filename",
    )


def q_crawl_delta(spark, sf_dir):
    """Recrawl diff (sources/cdx.py crawl_delta): two deterministic
    crawl-index snapshots (crawl B = 30 days later with urls added,
    urls dropped, content changed for doc_id % 5 == 0, plus a planted
    STALE duplicate capture that latest-capture election must lose) →
    full-outer join on SURT urlkey classifying every url as added /
    removed / changed / unchanged. The work list of an incremental
    crawl ingest. Exchange rows carry (urlkey, digest, url) only —
    never page payloads; election aggs combine map-side. Oracle = the
    same snapshot derivation + QUALIFY row_number election + FULL OUTER
    JOIN CASE in DuckDB."""
    from geokitten_spark.fixtures import crawl_snapshots
    from geokitten_spark.sources.cdx import crawl_delta

    a, b = crawl_snapshots(spark, sf_dir)
    return crawl_delta(a, b)


def q_theta_overlap(spark, sf_dir):
    """KMV/theta-sketch overlap estimation (operators/sketch.py): the
    set-INTERSECTION estimate HLL union can't produce — crawl A's urls
    vs crawl B's urls without joining the crawls. Sketch build is
    distinct(hash60) → TakeOrdered(k=256); everything downstream runs
    on ≤ k-row frames; estimates are exact integer math (decimal
    product, integral div), so the DuckDB twin is bit-identical. At
    sf0.01+ both sketches are full (estimation mode, theta < 2^60); at
    the smoke SF they degrade to exact counting (theta = 2^60) — both
    paths oracle-checked."""
    from geokitten_spark.fixtures import crawl_snapshots
    from geokitten_spark.operators.sketch import kmv_overlap

    a, b = crawl_snapshots(spark, sf_dir)
    return kmv_overlap(
        a.select(F.col("urlkey").alias("key")),
        b.select(F.col("urlkey").alias("key")),
        "key",
        k=256,
    )


def q_robots_filter(spark, sf_dir):
    """robots.txt URL filtering (functions/robots.py, RFC 9309): a
    deterministic robots corpus (one file per fixture host: `*` groups
    with longest-match Allow carve-backs, bot-specific groups that
    REPLACE `*` per group selection, wildcard + $-anchored patterns,
    ignored directives) is parsed once, broadcast as rules, and every
    url gets its most-specific-match verdict via one broadcast join +
    per-url window — the captures side never shuffles. The match
    predicate is plain SQL LIKE, so the oracle replays the exact
    verdict logic in DuckDB over the same rule rows."""
    from geokitten_spark.fixtures import host_robots_fixture, web_documents
    from geokitten_spark.functions.geocode import url_host, url_path
    from geokitten_spark.functions.robots import robots_verdicts, rules_rows

    docs = web_documents(spark, sf_dir)
    urls = docs.select(
        "url",
        url_host(F.col("url")).alias("host"),
        url_path(F.col("url")).alias("path"),
    )
    rules = spark.createDataFrame(
        rules_rows(host_robots_fixture()),
        "host string, allow boolean, like_pattern string, spec int",
    )
    return robots_verdicts(urls, rules)


def q_polygon_overlap(spark, sf_dir):
    """Polygon×polygon overlap JOIN (operators/polyjoin.py): the spatial
    join shape PIP can't express — all admin-boundary pairs with positive
    intersection area via bbox cell-cover candidates (pure-Catalyst
    double explode, one equi-join shuffle on 8-byte cell ids) + exact
    Greiner–Hormann refine (Arrow-batched, holes by inclusion–exclusion).
    Oracle = brute-force all 200×199/2 pairs driver-side through the SAME
    kernel — a candidate-cover miss is a row-count mismatch."""
    from geokitten_spark.fixtures import admin_polygons
    from geokitten_spark.operators.polyjoin import polygon_overlap_join

    admin = admin_polygons(spark)
    pairs = polygon_overlap_join(
        admin, admin, id_left="region_id", id_right="region_id", res=5
    )
    return (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round("inter_area", 9).alias("inter_area"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # Ordered so the driver's first-50 correctness window covers the
        # queries with the weakest driver-side evidence: exactly the 50
        # entries that have never had a driver-green row (41 late-r4 +
        # session-4 additions, the 5 round-5 additions, plus the four
        # final-session queries skew_salted_join / h3_compact_cover /
        # tile_distinct_rollup / cms_merge_increments). Every query past
        # the window has a green driver row from r1-r4. This window
        # drains the never-checked backlog to ZERO. Re-derived each
        # round from CORRECTNESS_r*.json.
        # --- never driver-green (late-r4 batch) ---
        "h3_pentagon_disk": q_h3_pentagon_disk,
        "pack_sequences": q_pack_sequences,
        "distinct_sketch": q_distinct_sketch,
        "distinct_sketch_union": q_distinct_sketch_union,
        "heavy_hitters_cms": q_heavy_hitters_cms,
        "quantile_sketch": q_quantile_sketch,
        "media_phash": q_media_phash,
        "tpch_q2_min_cost": q_tpch_q2_min_cost,
        "tpch_q8_market_share": q_tpch_q8_market_share,
        "tpch_q9_profit": q_tpch_q9_profit,
        "tpch_q11_important_stock": q_tpch_q11_important_stock,
        "tpch_q13_order_dist": q_tpch_q13_order_dist,
        "tpch_q15_top_supplier": q_tpch_q15_top_supplier,
        "tpch_q21_waiting_supplier": q_tpch_q21_waiting_supplier,
        "warc_roundtrip": q_warc_roundtrip,
        "link_degrees": q_link_degrees,
        "link_pagerank": q_link_pagerank,
        "mvt_tiles": q_mvt_tiles,
        "polygon_overlap": q_polygon_overlap,
        "unicode_normalize": q_unicode_normalize,
        "robots_filter": q_robots_filter,
        "cdx_index": q_cdx_index,
        "ccnet_buckets": q_ccnet_buckets,
        "crawl_delta": q_crawl_delta,
        "theta_overlap": q_theta_overlap,
        "leakage_safe_split": q_leakage_safe_split,
        # --- never driver-green (session-4 batch) ---
        "media_audio_dedup": q_media_audio_dedup,
        "ann_sq8_topk": q_ann_sq8_topk,
        "fix_mojibake": q_fix_mojibake,
        "boilerplate_extract": q_boilerplate_extract,
        "unigram_vocab": q_unigram_vocab,
        "chunk_documents": q_chunk_documents,
        "mix_sources": q_mix_sources,
        "ann_rerank": q_ann_rerank,
        "sitemap_frontier": q_sitemap_frontier,
        "stream_neardup": q_stream_neardup,
        "quality_compression": q_quality_compression,
        "dataset_report": q_dataset_report,
        "robots_sitemaps": q_robots_sitemaps,
        "curation_pipeline": q_curation_pipeline,
        "lang_consistency": q_lang_consistency,
        # --- never driver-green (new in r5) ---
        "link_pagerank_redistribute": q_link_pagerank_redistribute,
        "mvt_pyramid": q_mvt_pyramid,
        "iceberg_read": q_iceberg_read,
        "geoparquet_roundtrip": q_geoparquet_roundtrip,
        "raster_tiles": q_raster_tiles,
        # --- never driver-green (final session) ---
        "skew_salted_join": q_skew_salted_join,
        "h3_compact_cover": q_h3_compact_cover,
        "tile_distinct_rollup": q_tile_distinct_rollup,
        "cms_merge_increments": q_cms_merge_increments,
        # ================= past the 50-query driver window =================
        # qhist_merge_increments: 51st never-driver-checked — covered by
        # strict records at BOTH SFs, and its oracle is byte-identical
        # to quantile_sketch's (driver-green r4)
        "qhist_merge_increments": q_qhist_merge_increments,
        # --- oldest driver evidence: r1 ---
        "stream_hourly": q_sessionize_stream_twin,
        "contamination_check": q_contamination_check,
        "sample_stratified": q_sample_stratified,
        "sample_per_group": q_sample_per_group,
        # --- remaining r2/r3 greens (displaced by the r5-new batch) ---
        "fingerprint_rolling": q_fingerprint_rolling,
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "tpch_q1": q_tpch_q1,
        "tpch_q3_topk": q_tpch_q3_topk,
        # --- last green r3 ---
        "tpch_q5_joins": q_tpch_q5_joins,
        "tpch_q6_filter": q_tpch_q6_filter,
        "tpch_q17_scalar_subquery": q_tpch_q17_scalar_subquery,
        "tpch_q18_having": q_tpch_q18_having,
        "tpch_q12_case_agg": q_tpch_q12_case_agg,
        "tpch_q14_promo_share": q_tpch_q14_promo_share,
        "tpch_q19_or_pushdown": q_tpch_q19_or_pushdown,
        "tpch_q4_exists": q_tpch_q4_exists,
        "tpch_q7_volume": q_tpch_q7_volume,
        "tpch_q20_nested_agg": q_tpch_q20_nested_agg,
        "tpch_q10_returns": q_tpch_q10_returns,
        "tpch_q16_supplier_cnt": q_tpch_q16_supplier_cnt,
        "tpch_q22_dormant": q_tpch_q22_dormant,
        "window_lag_delta": q_window_lag_delta,
        "pii_redact": q_pii_redact,
        "c4_clean": q_c4_clean,
        "sample_token_budget": q_sample_token_budget,
        "url_canonicalize": q_url_canonicalize,
        "corpus_filter": q_corpus_filter,
        "cube_docs": q_cube_docs,
        "json_props": q_json_props,
        "percentiles": q_percentiles,
        "semi_join_orders": q_semi_join_orders,
        "anti_join_customers": q_anti_join_customers,
        "agg_minmax_distinct": q_agg_minmax_distinct,
        "web_tile_agg": q_web_tile_agg,
        "web_tile_rollup": q_web_tile_rollup,
        "tile_vectorize": q_tile_vectorize,
        "web_pip_rect": q_web_pip_rect,
        "web_pip_rect_part": q_web_pip_rect_part,
        "web_pip_h3_cover": q_web_pip_h3_cover,
        "web_knn": q_web_knn,
        "grid_dbscan": q_grid_dbscan,
        "zorder_layout": q_zorder_layout,
        "adaptive_tiles": q_adaptive_tiles,
        "h3_adaptive_tiles": q_h3_adaptive_tiles,
        "tile_percentiles": q_tile_percentiles,
        "lang_quality": q_lang_quality,
        "quality_repetition": q_quality_repetition,
        "domain_stats": q_domain_stats,
        "geo_distance": q_geo_distance,
        "token_stats": q_token_stats,
        "dedup_exact": q_dedup_exact,
        "dedup_span_coverage": q_dedup_span_coverage,
        "dedup_span_removal": q_dedup_span_removal,
        "dedup_paragraphs": q_paragraph_dedup,
        "tfidf_top_terms": q_tfidf_top_terms,
        "split_assign": q_split_assign,
        # --- last green r4 (the freshest driver evidence, so last) ---
        "dedup_clusters": q_dedup_clusters,
        "semdedup": q_semdedup,
        "dedup_bloom": q_dedup_bloom,
        "dedup_bloom_sharded": q_dedup_bloom_sharded,
        "dsir_select": q_dsir_select,
        "dsir_resample": q_dsir_resample,
        "quality_classifier": q_quality_classifier,
        "sessionize": q_sessionize,
        "embed_neardup_lsh": q_embed_neardup_lsh,
        "s2_tile_agg": q_s2_tile_agg,
        "hex_tile_agg": q_hex_tile_agg,
        "geohash_tile_agg": q_geohash_tile_agg,
        "h3_tile_agg": q_h3_tile_agg,
        "h3_rollup": q_h3_rollup,
        "h3_knn": q_h3_knn,
        "h3_polyfill": q_h3_polyfill,
        "h3_vectorize": q_h3_vectorize,
        "ann_batch_topk": q_ann_batch_topk,
        "geohash_rollup": q_geohash_rollup,
        "cell_join_bucketed": q_cell_join_bucketed,
        "admin_standardize": q_admin_standardize,
        "subtract_overlap": q_subtract_overlap,
        "kml_roundtrip": q_kml_roundtrip,
        "geojson_roundtrip": q_geojson_roundtrip,
        "media_features": q_media_features,
        "media_frames": q_media_frames,
        "media_audio": q_media_audio,
        "lm_perplexity": q_lm_perplexity,
        "bpe_vocab": q_bpe_vocab,
        "stream_sessions": q_stream_sessions,
        "stream_dedup": q_stream_dedup,
        "stream_interval_join": q_stream_interval_join,
        "stream_geo_tiles": q_stream_geo_tiles,
        "stream_h3_tiles": q_stream_h3_tiles,
        "stream_stateful": q_stream_stateful,
        "stream_quality_gate": q_stream_quality_gate,
        "geo_aggregates": q_geo_aggregates,
        "simplify_tiles": q_simplify_tiles,
        "hull_compactness": q_hull_compactness,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_pq_topk": q_ann_pq_topk,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "embed_neardup": q_embed_neardup,
        "asof_join": q_asof_join,
        "range_join_bands": q_range_join_bands,
        "topk_per_group": q_topk_per_group,
        "set_ops": q_set_ops,
        "ann_cosine_topk": q_ann_cosine_topk,
        "events_hourly": q_events_hourly,
        "extract_invariant": q_extract_invariant,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect) — same tables, same column names
# ---------------------------------------------------------------------------

def _webdocs_cte() -> str:
    from geokitten_spark.fixtures import web_documents_sql

    return f"WITH webdocs AS ({web_documents_sql()})"


def oracle_sql() -> dict[str, str]:
    from geokitten_spark.cells.grid import grid_cell_sql, grid_decode_sql
    from geokitten_spark.functions.text import (
        lang_id_sql,
        quality_sql,
        token_count_ws_sql,
        token_count_bpeish_sql,
        fingerprint_sql,
        rolling_fingerprint_sql,
        redact_pii_sql,
        repetition_percell_sql,
        c4_clean_sql,
    )
    from geokitten_spark.operators.sampling import (
        stratified_sample_sql,
        sample_per_group_sql,
        split_assign_sql,
        sample_token_budget_sql,
    )
    from geokitten_spark.operators.lm import lm_perplexity_sql
    from geokitten_spark.operators.packing import pack_sequences_sql
    from geokitten_spark.operators.sketch import (
        cms_counters_sql,
        cms_lookup_sql,
        hll_distinct_sql,
        qhist_sql,
    )
    from geokitten_spark.functions.geocode import (
        url_host_sql,
        haversine_km_sql,
        url_canonicalize_sql,
    )
    from geokitten_spark.fixtures import (
        admin_rects_sql_parts,
        neardup_corpus_cte,
        embedding_neardup_corpus_cte,
    )
    from geokitten_spark.operators.dedup import (
        minhash_neardup_sql,
        simhash_neardup_sql,
        ngram_jaccard_sql,
        connected_components_sql,
        span_coverage_sql,
        span_removal_sql,
        paragraph_dedup_sql,
        contamination_check_sql,
    )
    from geokitten_spark.operators.bloom import bloom_dedup_sql
    from geokitten_spark.operators.dsir import dsir_resample_sql, dsir_select_sql
    from geokitten_spark.operators.classifier import quality_classify_sql
    from geokitten_spark.operators.cluster import grid_dbscan_sql
    from geokitten_spark.cells.grid import morton_sql
    from geokitten_spark.operators.tile import adaptive_tiles_sql
    from geokitten_spark import oracles as _ora

    cte = _webdocs_cte()
    rect = admin_rects_sql_parts()
    qual = quality_sql("text")

    grid7 = grid_cell_sql("lon", "lat", 7)
    rollups = []
    for res in (7, 5, 3):
        rollups.append(
            f"SELECT CAST({res} AS INT) AS res, {grid_cell_sql('lon', 'lat', res)} AS cell_id, "
            f"COUNT(*) AS n_docs FROM webdocs GROUP BY 2"
        )

    # kNN oracle: same cells, same ring predicate, same tie-break
    n5 = 1 << 5
    cell5 = grid_cell_sql("lon", "lat", 5)
    dec5 = grid_decode_sql("cell_id")
    knn = f"""
        {cte},
        pts AS (
            SELECT doc_id, lon, lat, {cell5} AS cell_id FROM webdocs WHERE lang = 'de'
        ),
        dec AS (
            SELECT doc_id, lon, lat,
                   {dec5['ix']} AS ix,
                   {dec5['iy']} AS iy
            FROM pts
        ),
        cand AS (
            SELECT a.doc_id AS doc_id, b.doc_id AS neighbor_id,
                   (a.lon - b.lon) * (a.lon - b.lon) + (a.lat - b.lat) * (a.lat - b.lat) AS dist2
            FROM dec a JOIN dec b
              ON (abs(a.ix - b.ix) <= 1 OR abs(a.ix - b.ix) >= {n5 - 1})
             AND abs(a.iy - b.iy) <= 1
             AND a.doc_id <> b.doc_id
        ),
        ranked AS (
            SELECT doc_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY dist2 ASC, neighbor_id ASC) AS rank
            FROM cand
        )
        SELECT doc_id, neighbor_id, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 3
    """

    out = {
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(SUM(l_quantity), 2) AS sum_qty,
                   round(SUM(l_extendedprice), 2) AS sum_base_price,
                   round(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3_topk": """
            SELECT l_orderkey,
                   round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "tpch_q5_joins": """
            SELECT n_name,
                   round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
        """,
        "tpch_q6_filter": """
            SELECT round(SUM(l_extendedprice * l_discount), 2) AS revenue,
                   COUNT(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate < TIMESTAMP '1996-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        # correlated form — DuckDB decorrelates to the same per-part
        # aggregate + join plan the Spark query declares explicitly
        "tpch_q17_scalar_subquery": """
            SELECT round(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
                   COUNT(*) AS n_rows
            FROM lineitem l1
            WHERE l_quantity < (SELECT 0.2 * AVG(l_quantity)
                                FROM lineitem l2
                                WHERE l2.l_partkey = l1.l_partkey)
        """,
        "tpch_q18_having": """
            SELECT o_orderkey, o_orderpriority,
                   round(o_totalprice, 2) AS o_totalprice,
                   CAST(total_qty AS BIGINT) AS total_qty
            FROM orders
            JOIN (SELECT l_orderkey, SUM(l_quantity) AS total_qty
                  FROM lineitem GROUP BY l_orderkey
                  HAVING SUM(l_quantity) > 300) big
              ON o_orderkey = big.l_orderkey
        """,
        "tpch_q12_case_agg": """
            SELECT l_linestatus,
                   COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                              THEN 1 END) AS high_line_count,
                   COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                              THEN 1 END) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY l_linestatus
        """,
        "tpch_q14_promo_share": """
            SELECT round(SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END) * 100.0
                         / SUM(l_extendedprice * (1 - l_discount)), 4)
                       AS promo_share_pct,
                   COUNT(*) AS n_rows
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1995-09-01'
              AND l_shipdate < TIMESTAMP '1995-10-01'
        """,
        "tpch_q19_or_pushdown": """
            SELECT round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   COUNT(*) AS n_rows
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "tpch_q4_exists": """
            SELECT o_orderpriority, COUNT(*) AS n_orders
            FROM orders o
            WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
            GROUP BY o_orderpriority
        """,
        "tpch_q7_volume": """
            SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
                   CAST(year(l_shipdate) AS INT) AS l_year,
                   round(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                              * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                         AS DOUBLE) / 10000.0, 2) AS volume,
                   COUNT(*) AS n_lines
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE n1.n_name < n2.n_name
            GROUP BY 1, 2, 3
        """,
        "tpch_q20_nested_agg": """
            WITH qty AS (
                SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_type = 'STANDARD'
                GROUP BY 1, 2
            ),
            avg_q AS (SELECT l_partkey, AVG(qty) AS avg_qty FROM qty GROUP BY 1)
            SELECT s_suppkey, s_name
            FROM supplier
            WHERE s_suppkey IN (
                SELECT DISTINCT q.l_suppkey
                FROM qty q JOIN avg_q a ON q.l_partkey = a.l_partkey
                WHERE q.qty > 2 * a.avg_qty)
            ORDER BY s_suppkey
        """,
        "tpch_q10_returns": """
            SELECT c_custkey, c_name, n_name,
                   round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "tpch_q16_supplier_cnt": """
            SELECT p_brand,
                   CAST(FLOOR(p_size / 10) * 10 AS BIGINT) AS size_band,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#11' AND p_type <> 'PROMO'
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 1000)
            GROUP BY 1, 2
        """,
        "tpch_q22_dormant": """
            WITH cents AS (
                SELECT c_custkey, c_mktsegment,
                       CAST(round(c_acctbal * 100) AS BIGINT) AS cents
                FROM customer
            ),
            thresh AS (SELECT AVG(cents) AS avg_cents FROM cents WHERE cents > 0)
            SELECT c_mktsegment, COUNT(*) AS n_cust,
                   CAST(SUM(cents) AS BIGINT) AS total_cents
            FROM cents, thresh
            WHERE cents > avg_cents
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = cents.c_custkey
                                AND o.o_orderdate >= '2000-01-01')
            GROUP BY c_mktsegment
        """,
        "window_lag_delta": """
            WITH per_row AS (
                SELECT event_type,
                       value - LAG(value) OVER w AS delta,
                       AVG(value) OVER (w ROWS BETWEEN 2 PRECEDING
                                        AND CURRENT ROW) AS ma3
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT event_type,
                   round(SUM(abs(delta)), 4) AS sum_abs_delta,
                   round(MAX(ma3), 6) AS max_ma3,
                   COUNT(delta) AS n_deltas
            FROM per_row GROUP BY event_type
        """,
        "url_canonicalize": f"""
            WITH urls AS (
                SELECT 'HTTP://Site' || CAST(doc_id % 50 AS VARCHAR)
                       || '.COM:80/p' || CAST(doc_id % 7 AS VARCHAR)
                       || '?b=' || CAST(doc_id % 5 AS VARCHAR)
                       || '&a=' || CAST(doc_id % 3 AS VARCHAR)
                       || '#frag' AS url
                FROM documents
                UNION ALL
                SELECT 'http://site' || CAST(doc_id % 50 AS VARCHAR)
                       || '.com/p' || CAST(doc_id % 7 AS VARCHAR)
                       || '?a=' || CAST(doc_id % 3 AS VARCHAR)
                       || '&b=' || CAST(doc_id % 5 AS VARCHAR) AS url
                FROM documents
            ),
            canon AS (
                SELECT url, {url_canonicalize_sql('url')} AS curl FROM urls
            )
            SELECT regexp_extract(curl, '^https?://([^/]+)', 1) AS host,
                   COUNT(DISTINCT url) AS n_raw,
                   COUNT(DISTINCT curl) AS n_canon,
                   MIN(md5(curl)) AS min_md5
            FROM canon GROUP BY 1
        """,
        "corpus_filter": f"""
            WITH scored AS (
                SELECT doc_id, lang,
                       {fingerprint_sql('text')} AS fp,
                       {qual['quality_score']} AS score,
                       {qual['n_tokens']} AS n_tokens
                FROM documents
            ),
            filtered AS (
                SELECT * FROM scored WHERE score >= 0.5 AND n_tokens >= 10
            ),
            ranked AS (
                SELECT lang, n_tokens,
                       ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn,
                       COUNT(*) OVER (PARTITION BY fp) AS gs
                FROM filtered
            )
            SELECT lang, COUNT(*) AS n_kept,
                   CAST(SUM(gs - 1) AS BIGINT) AS n_dups_removed,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_kept
            FROM ranked WHERE rn = 1 GROUP BY lang
        """,
        "c4_clean": f"""
            WITH c4salted AS (
                SELECT lang,
                       text
                       || chr(10) || 'Document ' || CAST(doc_id AS VARCHAR)
                       || ' carries this verifiably complete sentence.'
                       || chr(10) || 'short line.'
                       || chr(10) || 'This line mentions javascript and therefore never survives.'
                       || CASE WHEN doc_id % 7 = 0
                               THEN chr(10) || 'lorem ipsum dolor sit amet.'
                               ELSE '' END
                       || CASE WHEN doc_id % 11 = 0
                               THEN chr(10) || 'curly {{ brace }}'
                               ELSE '' END
                       || chr(10) || 'Document ' || CAST(doc_id AS VARCHAR)
                       || ' carries this verifiably complete sentence.'
                       || chr(10) || 'Document ' || CAST(doc_id AS VARCHAR)
                       || ' carries this verifiably complete sentence.' AS s
                FROM documents
            ),
            c4c AS (
                SELECT lang,
                       {c4_clean_sql('s')['n_lines_kept']} AS n_lines_kept,
                       {c4_clean_sql('s')['doc_kept']} AS doc_kept,
                       md5({c4_clean_sql('s')['cleaned_text']}) AS h
                FROM c4salted
            )
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN doc_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
                   CAST(SUM(n_lines_kept) AS BIGINT) AS total_lines_kept,
                   MIN(h) AS h_min, MAX(h) AS h_max
            FROM c4c GROUP BY lang
        """,
        "pii_redact": f"""
            WITH salted AS (
                SELECT lang,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com from 10.0.'
                            || CAST(doc_id % 250 AS VARCHAR)
                            || '.17 tel 415-555-0'
                            || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') AS s
                FROM documents
            ),
            red AS (SELECT lang, {redact_pii_sql('s')} AS red FROM salted)
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM((length(red) - length(replace(red, '<EMAIL>', ''))) / 7) AS BIGINT) AS n_emails,
                   CAST(SUM((length(red) - length(replace(red, '<IP>', ''))) / 4) AS BIGINT) AS n_ips,
                   CAST(SUM((length(red) - length(replace(red, '<PHONE>', ''))) / 7) AS BIGINT) AS n_phones,
                   MIN(md5(red)) AS min_md5,
                   MAX(md5(red)) AS max_md5
            FROM red GROUP BY lang
        """,
        # canonicalized like the Spark side: CUBE NULLs -> '<all>', integer
        # sums pinned to BIGINT (DuckDB SUM(BIGINT) is HUGEINT otherwise)
        "cube_docs": """
            SELECT coalesce(lang, '<all>') AS lang,
                   coalesce(source, '<all>') AS source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS n_chars
            FROM documents GROUP BY CUBE (lang, source)
        """,
        "json_props": """
            SELECT event_type,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   CAST(COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                              THEN 1 END) AS BIGINT) AS n_high_k
            FROM events GROUP BY event_type
        """,
        "percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.95), 6) AS p95,
                   round(stddev_samp(value), 6) AS sd
            FROM events GROUP BY event_type
        """,
        "semi_join_orders": """
            SELECT o_orderpriority, COUNT(*) AS n_orders
            FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_returnflag = 'R')
            GROUP BY o_orderpriority
        """,
        "anti_join_customers": """
            SELECT c_mktsegment, COUNT(*) AS n_customers
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_totalprice > 300000)
            GROUP BY c_mktsegment
        """,
        "agg_minmax_distinct": """
            SELECT o_orderpriority,
                   COUNT(DISTINCT o_custkey) AS n_custs,
                   round(MIN(o_totalprice), 2) AS min_price,
                   round(MAX(o_totalprice), 2) AS max_price
            FROM orders
            GROUP BY o_orderpriority
        """,
        "web_tile_agg": f"""
            {cte}
            SELECT {grid7} AS cell_id, COUNT(*) AS n_docs
            FROM webdocs GROUP BY 1
        """,
        "web_tile_rollup": f"""
            {cte}
            {' UNION ALL '.join(rollups)}
        """,
        # tile_distinct_rollup: each zoom's oracle is an INDEPENDENT
        # single-pass HLL sketch — the hash match against the Spark side's
        # finest-register max-merge pyramid proves the merge is lossless
        "tile_distinct_rollup": f"""
            {cte}
            {' UNION ALL '.join(
                f"SELECT CAST({res} AS INT) AS res, cell_id, "
                f"hll_distinct AS n_distinct "
                f"FROM ({hll_distinct_sql('cell_id', 'url', '(SELECT ' + grid_cell_sql('lon', 'lat', res) + ' AS cell_id, url FROM webdocs)')})"
                for res in (7, 5, 3)
            )}
        """,
        "tile_vectorize": f"""
            {cte},
            tiles AS (
                SELECT {grid_cell_sql('lon', 'lat', 6)} AS cell_id,
                       COUNT(*) AS n_docs
                FROM webdocs GROUP BY 1
            )
            SELECT cell_id, n_docs,
                   ROUND(-180.0 + ix * 360.0 / 64, 9) AS x0,
                   ROUND(-90.0 + iy * 180.0 / 64, 9) AS y0,
                   ROUND(-180.0 + (ix + 1) * 360.0 / 64, 9) AS x1,
                   ROUND(-90.0 + (iy + 1) * 180.0 / 64, 9) AS y1
            FROM (
                SELECT cell_id, n_docs,
                       {grid_decode_sql('cell_id')['ix']} AS ix,
                       {grid_decode_sql('cell_id')['iy']} AS iy
                FROM tiles
            )
        """,
        "web_pip_rect": f"""
            {cte}
            SELECT n.n_nationkey AS n_nationkey, COUNT(*) AS n_docs,
                   MIN(d.doc_id) AS min_doc_id
            FROM webdocs d
            JOIN nation n
              ON d.lon > {rect['lon0']} AND d.lon < {rect['lon1']}
             AND d.lat > {rect['lat0']} AND d.lat < {rect['lat1']}
            GROUP BY 1
        """,
        "grid_dbscan": f"""
            {cte}
            {grid_dbscan_sql("SELECT lon, lat FROM webdocs", res=4, min_pts=4)}
        """,
        "tile_percentiles": f"""
            {cte}
            SELECT {grid_cell_sql('lon', 'lat', 4)} AS cell_id,
                   COUNT(*) AS n_docs,
                   round(quantile_cont(length(text), 0.5), 4) AS p50_chars,
                   round(quantile_cont(length(text), 0.9), 4) AS p90_chars,
                   CAST(MAX(length(text)) AS BIGINT) AS max_chars
            FROM webdocs GROUP BY 1
        """,
        "adaptive_tiles": f"""
            {cte}
            SELECT * FROM (
                {adaptive_tiles_sql("SELECT lon, lat FROM webdocs", base_res=2, max_res=7, threshold=4)}
            ) t
        """,
        "zorder_layout": f"""
            {cte},
            proj AS (
                SELECT LEAST(255, GREATEST(0,
                           CAST(FLOOR((lon + 180.0) / 360.0 * 256) AS BIGINT))) AS ix,
                       LEAST(255, GREATEST(0,
                           CAST(FLOOR((lat + 90.0) / 180.0 * 256) AS BIGINT))) AS iy
                FROM webdocs
            ),
            zz AS (SELECT {morton_sql('ix', 'iy', 8)} AS z FROM proj)
            SELECT CAST((z - z % 64) / 64 AS BIGINT) AS zquad,
                   COUNT(*) AS n_docs,
                   CAST(COUNT(DISTINCT z) AS BIGINT) AS n_cells,
                   CAST(MIN(z) AS BIGINT) AS z_min,
                   CAST(MAX(z) AS BIGINT) AS z_max
            FROM zz GROUP BY 1
        """,
        "web_pip_rect_part": f"""
            {cte}
            SELECT n.n_nationkey AS n_nationkey, COUNT(*) AS n_docs,
                   MIN(d.doc_id) AS min_doc_id
            FROM webdocs d
            JOIN nation n
              ON d.lon > {rect['lon0']} AND d.lon < {rect['lon1']}
             AND d.lat > {rect['lat0']} AND d.lat < {rect['lat1']}
            GROUP BY 1
        """,
        "web_pip_h3_cover": f"""
            {cte}
            SELECT n.n_nationkey AS n_nationkey, COUNT(*) AS n_docs,
                   MIN(d.doc_id) AS min_doc_id
            FROM webdocs d
            JOIN nation n
              ON d.lon > {rect['lon0']} AND d.lon < {rect['lon1']}
             AND d.lat > {rect['lat0']} AND d.lat < {rect['lat1']}
            GROUP BY 1
        """,
        "web_knn": knn,
        "domain_stats": f"""
            {cte}
            SELECT {url_host_sql('url')} AS host,
                   COUNT(*) AS n_docs,
                   COUNT(DISTINCT lang) AS n_langs,
                   MIN(doc_id) AS first_doc
            FROM webdocs GROUP BY 1
        """,
        "geo_distance": f"""
            {cte}
            SELECT lang, COUNT(*) AS n_docs,
                   round(MIN({haversine_km_sql('lat', 'lon', '52.52', '13.405')}), 4) AS min_km,
                   round(AVG({haversine_km_sql('lat', 'lon', '52.52', '13.405')}), 4) AS avg_km
            FROM webdocs GROUP BY lang
        """,
        "lang_quality": f"""
            WITH per_doc AS (
                SELECT {lang_id_sql('text')} AS pred_lang,
                       {qual['quality_score']} AS quality_score,
                       {qual['n_tokens']} AS n_tokens
                FROM documents
            )
            SELECT pred_lang, COUNT(*) AS n_docs,
                   round(AVG(quality_score), 3) AS avg_quality,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
            FROM per_doc GROUP BY pred_lang
        """,
        "dedup_span_coverage": span_coverage_sql(shingle_n=8),
        "dedup_bloom": bloom_dedup_sql(),
        # same filter content + verdict rule; only the Spark-side storage
        # of the filter differs (lazy sharded table vs collected array)
        "dedup_bloom_sharded": bloom_dedup_sql(),
        "dsir_select": dsir_select_sql(),
        "dsir_resample": dsir_resample_sql(),
        "quality_classifier": quality_classify_sql(),
        "dedup_span_removal": span_removal_sql(
            "corpus AS (SELECT doc_id, text, lang FROM documents)",
            shingle_n=8,
        ),
        "dedup_paragraphs": paragraph_dedup_sql(_PARA_DEDUP_CTE),
        "tfidf_top_terms": """
            WITH ws AS (
                SELECT doc_id, lang,
                       list_filter(string_split(text, ' '), x -> x <> '') AS w
                FROM documents
            ),
            tf AS (
                SELECT lang, w, COUNT(*) AS tf
                FROM (SELECT lang, unnest(w) AS w FROM ws) GROUP BY 1, 2
            ),
            df AS (
                SELECT w, COUNT(*) AS df
                FROM (SELECT doc_id, unnest(list_distinct(w)) AS w FROM ws)
                GROUP BY 1
            ),
            n AS (SELECT COUNT(*) AS n_docs FROM documents),
            scored AS (
                SELECT tf.lang, tf.w,
                       CAST(tf.tf AS BIGINT) AS tf, CAST(df.df AS BIGINT) AS df,
                       round(CAST(tf.tf * n.n_docs AS DOUBLE) / df.df, 6) AS score
                FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
            )
            SELECT lang, w, tf, df, score,
                   CAST(rank AS INT) AS rank
            FROM (SELECT *, ROW_NUMBER() OVER
                      (PARTITION BY lang ORDER BY score DESC, w ASC) AS rank
                  FROM scored)
            WHERE rank <= 5
        """,
        "split_assign": f"""
            SELECT lang, {split_assign_sql('doc_id', _SPLITS)} AS split,
                   COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
            FROM documents GROUP BY 1, 2
        """,
        "contamination_check": contamination_check_sql(shingle_n=8),
        "sample_token_budget": sample_token_budget_sql(
            f"SELECT doc_id, lang, {token_count_ws_sql('text')} AS n_tokens "
            "FROM documents",
            key_expr="doc_id",
            group_expr="lang",
            tokens_expr="n_tokens",
            budget=2000,
            n_buckets=16,
        ),
        # stream twin shares the batch oracle verbatim (stream == batch)
        "stream_quality_gate": f"""
            SELECT lang, COUNT(*) AS n_docs,
                   round(CAST(SUM(n_distinct) AS DOUBLE) / SUM(n_words), 6) AS ttr,
                   round(CAST(SUM(top_unigram) AS DOUBLE) / SUM(n_words), 6)
                       AS top_unigram_share,
                   round(CAST(SUM(top_bigram) AS DOUBLE) / SUM(n_bigrams), 6)
                       AS top_bigram_share,
                   CAST(MAX(max_run) AS BIGINT) AS max_run,
                   CAST(COUNT(*) FILTER (rep_flagged) AS BIGINT) AS n_flagged
            FROM ({repetition_percell_sql()}) pd
            GROUP BY lang
        """,
        "quality_repetition": f"""
            SELECT lang, COUNT(*) AS n_docs,
                   round(CAST(SUM(n_distinct) AS DOUBLE) / SUM(n_words), 6) AS ttr,
                   round(CAST(SUM(top_unigram) AS DOUBLE) / SUM(n_words), 6)
                       AS top_unigram_share,
                   round(CAST(SUM(top_bigram) AS DOUBLE) / SUM(n_bigrams), 6)
                       AS top_bigram_share,
                   CAST(MAX(max_run) AS BIGINT) AS max_run,
                   CAST(COUNT(*) FILTER (rep_flagged) AS BIGINT) AS n_flagged
            FROM ({repetition_percell_sql()}) pd
            GROUP BY lang
        """,
        "token_stats": f"""
            SELECT lang,
                   CAST(SUM({token_count_ws_sql('text')}) AS BIGINT) AS ws_tokens,
                   CAST(SUM({token_count_bpeish_sql('text')}) AS BIGINT) AS bpe_tokens,
                   CAST(MAX(length(text)) AS BIGINT) AS max_chars
            FROM documents GROUP BY lang
        """,
        "dedup_exact": f"""
            SELECT {fingerprint_sql("substr(text, 1, 40)")} AS fp,
                   COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
            FROM documents
            GROUP BY 1 HAVING COUNT(*) > 1
        """,
        "sample_stratified": f"""
            SELECT doc_id, lang FROM documents
            WHERE {stratified_sample_sql('doc_id', 'lang', _STRATA_FRACTIONS)}
        """,
        "sample_per_group": sample_per_group_sql(
            "lang, doc_id", "documents", "doc_id", "lang", 5
        ),
        "fingerprint_rolling": f"""
            SELECT {rolling_fingerprint_sql('text')} AS fp,
                   COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
            FROM documents
            GROUP BY 1 HAVING COUNT(*) > 1
        """,
        "dedup_minhash": minhash_neardup_sql(neardup_corpus_cte()),
        "dedup_clusters": connected_components_sql(
            minhash_neardup_sql(neardup_corpus_cte())
        ),
        "dedup_simhash": simhash_neardup_sql(neardup_corpus_cte()),
        "dedup_ngram_jaccard": ngram_jaccard_sql(neardup_corpus_cte()),
        "embed_neardup": f"""
            WITH {embedding_neardup_corpus_cte()}
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM ecorpus a JOIN ecorpus b ON a.vec_id < b.vec_id
            WHERE list_sum(list_transform(generate_series(1, len(a.embedding)),
                                          i -> a.embedding[i] * b.embedding[i]))
                  / (sqrt(list_sum(list_transform(a.embedding, x -> x * x)))
                     * sqrt(list_sum(list_transform(b.embedding, x -> x * x))))
                  >= 0.99
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
            scored AS (
                SELECT vec_id,
                       list_cosine_similarity(embedding::DOUBLE[], qv) AS sim
                FROM embeddings, q WHERE vec_id <> 0
            ),
            ranked AS (
                SELECT vec_id, ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id ASC) AS rank
                FROM scored
            )
            SELECT vec_id, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 10
        """,
        # SQ8: the quantizer is pure IEEE-double arithmetic in a fixed op
        # order — floor((x - mn) / (mx - mn) * 255 + 0.5) — so DuckDB
        # reproduces the codes bit-for-bit and the int64 scores hash-match.
        "ann_sq8_topk": """
            WITH elems AS (
                SELECT vec_id, CAST(i + 1 AS INT) AS pos,
                       (embedding::DOUBLE[])[CAST(i + 1 AS INT)] AS x
                FROM embeddings, UNNEST(range(len(embedding))) AS t(i)
            ),
            stats AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM elems GROUP BY pos),
            codes AS (
                SELECT vec_id, e.pos,
                       CAST(CASE WHEN mx = mn THEN 0
                            ELSE LEAST(255, GREATEST(0,
                                 floor((x - mn) / (mx - mn) * 255 + 0.5)))
                            END AS BIGINT) AS c
                FROM elems e JOIN stats s ON e.pos = s.pos
            ),
            q AS (SELECT pos, c AS qc FROM codes WHERE vec_id = 0),
            scored AS (
                SELECT c.vec_id, SUM(c.c * q.qc) AS score
                FROM codes c JOIN q ON c.pos = q.pos
                WHERE c.vec_id <> 0 GROUP BY c.vec_id
            ),
            ranked AS (
                SELECT vec_id, score,
                       ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS rank
                FROM scored
            )
            SELECT vec_id, CAST(score AS BIGINT) AS score, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 10
        """,
        # retrieve (SQ8 integer stage, engine-exact candidate set) -> rerank
        # (exact cosine on the 50 finalists only)
        "ann_rerank": """
            WITH elems AS (
                SELECT vec_id, CAST(i + 1 AS INT) AS pos,
                       (embedding::DOUBLE[])[CAST(i + 1 AS INT)] AS x
                FROM embeddings, UNNEST(range(len(embedding))) AS t(i)
            ),
            stats AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM elems GROUP BY pos),
            codes AS (
                SELECT vec_id, e.pos,
                       CAST(CASE WHEN mx = mn THEN 0
                            ELSE LEAST(255, GREATEST(0,
                                 floor((x - mn) / (mx - mn) * 255 + 0.5)))
                            END AS BIGINT) AS c
                FROM elems e JOIN stats s ON e.pos = s.pos
            ),
            q AS (SELECT pos, c AS qc FROM codes WHERE vec_id = 0),
            scored AS (
                SELECT c.vec_id, SUM(c.c * q.qc) AS score
                FROM codes c JOIN q ON c.pos = q.pos
                WHERE c.vec_id <> 0 GROUP BY c.vec_id
            ),
            cand AS (
                SELECT vec_id FROM (
                    SELECT vec_id,
                           ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS rk
                    FROM scored
                ) WHERE rk <= 50
            ),
            qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
            rer AS (
                SELECT e.vec_id,
                       list_cosine_similarity(e.embedding::DOUBLE[], qv) AS sim
                FROM embeddings e JOIN cand USING (vec_id), qv
            ),
            rranked AS (
                SELECT vec_id, ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id ASC) AS rank
                FROM rer
            )
            SELECT vec_id, CAST(rank AS INT) AS rank FROM rranked WHERE rank <= 10
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   COUNT(*) AS n_events, round(SUM(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        # the STREAMING path is oracle-checked too: its availableNow result
        # must equal the batch hourly aggregate (same column names)
        "stream_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   COUNT(*) AS n_events, round(SUM(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        # the custom stateful operator's FINAL state == the batch aggregate
        "stream_stateful": """
            SELECT user_id, COUNT(*) AS n_events,
                   CAST(MAX(ts) AS TIMESTAMP) AS last_ts
            FROM events GROUP BY user_id
        """,
        "asof_join": """
            WITH views AS (
                SELECT user_id, ts, MAX(event_id) AS view_id
                FROM events WHERE event_type = 'view' GROUP BY user_id, ts
            ),
            clicks AS (
                SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
            )
            SELECT c.event_id AS event_id, v.view_id AS view_id
            FROM clicks c ASOF LEFT JOIN views v
              ON c.user_id = v.user_id AND c.ts >= v.ts
        """,
        "range_join_bands": """
            WITH bands AS (
                SELECT i AS band_id, CAST(5 * i AS DOUBLE) AS lo,
                       CAST(5 * (i + 1) AS DOUBLE) AS hi
                FROM generate_series(0, 7) t(i)
            )
            SELECT band_id, COUNT(*) AS n_events,
                   round(SUM(value), 2) AS total_value
            FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
            GROUP BY band_id
        """,
        "sessionize": """
            WITH marked AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL THEN 1
                            WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1
                            ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            sess AS (
                SELECT user_id, ts,
                       SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS sid
                FROM marked
            ),
            per_session AS (
                SELECT user_id, sid, MIN(ts) AS session_start,
                       COUNT(*) AS n_events
                FROM sess GROUP BY user_id, sid
            )
            SELECT user_id, COUNT(*) AS n_sessions,
                   CAST(SUM(n_events) AS BIGINT) AS n_events,
                   CAST(MIN(session_start) AS TIMESTAMP) AS first_start
            FROM per_session GROUP BY user_id
        """,
        "topk_per_group": """
            WITH per_user AS (
                SELECT event_type, user_id, round(SUM(value), 2) AS total_value
                FROM events GROUP BY event_type, user_id
            )
            SELECT event_type, user_id, total_value, CAST(rnk AS INT) AS rnk
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY event_type
                    ORDER BY total_value DESC, user_id ASC) AS rnk
                FROM per_user
            ) WHERE rnk <= 2
        """,
        "set_ops": """
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'click' AND value > 150
            EXCEPT
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'error' AND value > 150
            ORDER BY user_id
        """,
        "extract_invariant": """
            SELECT COUNT(*) AS n_total, CAST(0 AS BIGINT) AS n_violations
            FROM documents
        """,
        # ------------------------------------------------------------------
        # driver-side expected-value oracles (geokitten_spark/oracles.py):
        # kernels aren't SQL-expressible, but they ARE deterministic pure
        # numpy — expected outputs are computed once on the driver through
        # the non-Spark path and registered as literal VALUES oracles, so
        # the driver hash-checks the whole Spark pipeline against them.
        # ------------------------------------------------------------------
        "s2_tile_agg": _ora.s2_tile_agg_sql(),
        "hex_tile_agg": _ora.hex_tile_agg_sql(),
        "admin_standardize": _ora.admin_standardize_sql(),
        "subtract_overlap": _ora.subtract_overlap_sql(),
        "geo_aggregates": _ora.geo_aggregates_sql(),
        "ann_ivf_topk": _ora.ann_ivf_topk_sql(),
        "embed_neardup_lsh": _ora.embed_neardup_lsh_sql(),
        "semdedup": _ora.semdedup_sql(),
        "geojson_roundtrip": _ora.geojson_roundtrip_sql(),
        "media_features": _ora.media_features_sql(),
        "media_phash": _ora.media_phash_sql(),
        "media_audio_dedup": _ora.media_afp_sql(),
        "fix_mojibake": _ora.fix_mojibake_sql(),
        # formula oracle: never runs the HTML parser — the page is built so
        # the ONLY admissible block is the article body (= trim(text))
        "boilerplate_extract": """
            SELECT doc_id, CAST(1 AS INT) AS n_kept,
                   md5(trim(text)) AS main_md5
            FROM documents
        """,
        "media_frames": _ora.media_frames_sql(),
        "media_audio": _ora.media_audio_sql(),
        "bpe_vocab": _ora.bpe_vocab_sql(),
        "unigram_vocab": _ora.unigram_vocab_sql(),
        "mix_sources": _ora.mix_sources_oracle_sql(),
        "sitemap_frontier": _ora.sitemap_frontier_sql(),
        "stream_neardup": _ora.stream_neardup_sql(),
        # formula oracle: the fixture publishes Sitemap: lines by host-number
        # arithmetic (h%3 one, h%9 a second) — never parses robots.txt
        "robots_sitemaps": """
            SELECT 'host' || CAST(h AS VARCHAR) || '.example' AS host,
                   'https://host' || CAST(h AS VARCHAR) || '.example/sitemap.xml'
                       AS sitemap_url
            FROM generate_series(0, 96) t(h) WHERE h % 3 = 0
            UNION ALL
            SELECT 'host' || CAST(h AS VARCHAR) || '.example',
                   'https://host' || CAST(h AS VARCHAR) || '.example/sitemap-news.xml'
            FROM generate_series(0, 96) t(h) WHERE h % 9 = 0
        """,
        "quality_compression": _ora.quality_compression_sql(),
        "curation_pipeline": _ora.curation_pipeline_sql(),
        "lang_consistency": _ora.lang_consistency_sql(),
        "dataset_report": """
            WITH t AS (
                SELECT source, lang, length(text) AS n_chars,
                       len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                       w -> w <> '')) AS n_tokens
                FROM documents
            )
            SELECT source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                   CAST(SUM(n_chars) AS BIGINT) AS n_chars,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                   round(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 4) AS avg_tokens
            FROM t GROUP BY source
        """,
        # chunk k covers tokens [k*24, k*24+32); list_slice end is inclusive
        "chunk_documents": """
            WITH t AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                   w -> w <> '') AS toks
                FROM documents
            ),
            n AS (
                SELECT doc_id, toks, len(toks) AS n_tokens,
                       CASE WHEN len(toks) <= 32 THEN 1
                            ELSE CAST(ceil((len(toks) - 32)::DOUBLE / 24.0) AS INT) + 1
                       END AS nc
                FROM t
            )
            SELECT doc_id,
                   CAST(g AS INT) AS chunk_id,
                   CAST(n_tokens AS INT) AS n_tokens,
                   CAST(len(list_slice(toks, g * 24 + 1, g * 24 + 32)) AS INT)
                       AS chunk_tokens,
                   md5(array_to_string(list_slice(toks, g * 24 + 1, g * 24 + 32), ' '))
                       AS chunk_md5
            FROM n, UNNEST(range(nc)) AS u(g)
        """,
        "lm_perplexity": lm_perplexity_sql(
            vocab_size=1024, max_bigrams=65536, alpha=0.1
        ),
        "kml_roundtrip": _ora.kml_roundtrip_sql(),
        "simplify_tiles": _ora.simplify_tiles_sql(),
        "hull_compactness": _ora.hull_compactness_sql(),
        "geohash_tile_agg": _ora.geohash_tile_agg_sql(),
        "ann_pq_topk": _ora.ann_pq_topk_sql(),
        "h3_tile_agg": _ora.h3_tile_agg_sql(),
        "h3_rollup": _ora.h3_rollup_sql(),
        "h3_knn": _ora.h3_knn_sql(),
        "h3_polyfill": _ora.h3_polyfill_sql(),
        "h3_compact_cover": _ora.h3_compact_cover_sql(),
        "h3_vectorize": _ora.h3_vectorize_sql(),
        "h3_adaptive_tiles": _ora.h3_adaptive_tiles_sql(),
        "ann_batch_topk": _ora.ann_batch_topk_sql(),
        "h3_pentagon_disk": _ora.h3_pentagon_disk_sql(),
        "pack_sequences": pack_sequences_sql(
            "doc_id, __tok AS n_tokens",
            "(SELECT doc_id, text FROM documents)",
            "doc_id",
            token_count_ws_sql("text"),
            2048,
        ),
        "distinct_sketch": f"""
            SELECT h.source, h.hll_distinct, e.n_exact
            FROM ({hll_distinct_sql("source", "text", "documents")}) h
            JOIN (SELECT source, CAST(COUNT(DISTINCT text) AS BIGINT) AS n_exact
                  FROM documents GROUP BY source) e
            USING (source)
        """,
        # the register max-merge is lossless, so the union-of-slices query's
        # oracle IS the single-pass sketch (see hll_union_distinct docstring)
        "distinct_sketch_union": hll_distinct_sql("source", "text", "documents"),
        "heavy_hitters_cms": f"""
            WITH toks AS (
                SELECT unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS tok
                FROM documents
            ),
            counters AS ({cms_counters_sql("tok", "toks", d=4, w=1024)}),
            top AS (
                SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt
                FROM toks GROUP BY tok
                ORDER BY exact_cnt DESC, tok ASC LIMIT 20
            )
            {cms_lookup_sql("counters", "top", "tok", "k.tok, k.exact_cnt",
                            d=4, w=1024)}
        """,
        "quantile_sketch": qhist_sql("source", "length(text)", "documents"),
        "tpch_q2_min_cost": """
            WITH offers AS (
                SELECT l_partkey,
                       CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
                       l_suppkey
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_type = 'LARGE' AND p_size >= 40
            ),
            best AS (
                SELECT l_partkey, price_cents, l_suppkey
                FROM (SELECT *, ROW_NUMBER() OVER (
                          PARTITION BY l_partkey
                          ORDER BY price_cents, l_suppkey) AS rn
                      FROM offers)
                WHERE rn = 1
            )
            SELECT b.l_partkey AS p_partkey, s_name, n_name,
                   round(b.price_cents / 100.0, 2) AS min_price, s_acctbal
            FROM best b
            JOIN supplier ON b.l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        """,
        "tpch_q8_market_share": """
            WITH j AS (
                SELECT year(l_shipdate) AS o_year, n2.n_name AS supp_nation,
                       CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS vol
                FROM lineitem
                JOIN part     ON l_partkey = p_partkey
                JOIN orders   ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation n1 ON c_nationkey = n1.n_nationkey
                JOIN region   ON n1.n_regionkey = r_regionkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation n2 ON s_nationkey = n2.n_nationkey
                WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
            )
            SELECT CAST(o_year AS INT) AS o_year,
                   round(CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                                       THEN vol ELSE 0 END) AS DOUBLE)
                         / CAST(SUM(vol) AS DOUBLE), 4) AS mkt_share,
                   round(CAST(SUM(vol) AS DOUBLE) / 10000.0, 2) AS total_volume,
                   COUNT(*) AS n_lines
            FROM j GROUP BY 1
        """,
        "tpch_q9_profit": """
            SELECT n_name AS nation,
                   CAST(year(l_shipdate) AS INT) AS o_year,
                   round(CAST(SUM(
                       CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT))
                       - CAST(round(p_retailprice * 100) AS BIGINT)
                         * CAST(round(l_quantity) AS BIGINT) * 100
                   ) AS DOUBLE) / 10000.0, 2) AS sum_profit,
                   COUNT(*) AS n_lines
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%red%'
            GROUP BY 1, 2
        """,
        "tpch_q11_important_stock": """
            WITH per_part AS (
                SELECT l_partkey AS p_partkey,
                       SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                           * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                           AS val4
                FROM lineitem
                WHERE l_suppkey IN (
                    SELECT s_suppkey FROM supplier
                    JOIN nation ON s_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
                    WHERE r_name = 'ASIA')
                GROUP BY 1
            )
            SELECT p_partkey, CAST(val4 AS BIGINT) AS value4
            FROM per_part
            WHERE val4 * (SELECT COUNT(*) FROM per_part)
                  > 2 * (SELECT SUM(val4) FROM per_part)
        """,
        "tpch_q13_order_dist": """
            WITH per_cust AS (
                SELECT c_custkey, COUNT(o_orderkey) AS c_count
                FROM customer LEFT JOIN (
                    SELECT * FROM orders
                    WHERE o_orderpriority <> '1-URGENT') o
                  ON c_custkey = o.o_custkey
                GROUP BY 1
            )
            SELECT c_count, COUNT(*) AS custdist FROM per_cust GROUP BY 1
        """,
        "tpch_q15_top_supplier": """
            WITH rev AS (
                SELECT l_suppkey,
                       SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                           * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                           AS rev4
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1996-04-01'
                GROUP BY 1
            )
            SELECT s_suppkey, s_name,
                   round(CAST(rev4 AS DOUBLE) / 10000.0, 2) AS total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE rev4 = (SELECT MAX(rev4) FROM rev)
        """,
        "tpch_q21_waiting_supplier": """
            WITH li AS (
                SELECT l_orderkey, l_suppkey, l_shipdate
                FROM lineitem
                WHERE l_orderkey IN (
                    SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
            ),
            ordstats AS (
                SELECT l_orderkey, MAX(l_shipdate) AS max_ship,
                       COUNT(DISTINCT l_suppkey) AS n_supp
                FROM li GROUP BY 1
            ),
            suppmax AS (
                SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS my_max
                FROM li GROUP BY 1, 2
            ),
            at_max AS (
                SELECT s.l_orderkey, s.l_suppkey
                FROM suppmax s JOIN ordstats o ON s.l_orderkey = o.l_orderkey
                WHERE o.n_supp > 1 AND s.my_max = o.max_ship
            ),
            sole AS (
                SELECT l_orderkey FROM at_max
                GROUP BY 1 HAVING COUNT(*) = 1
            )
            SELECT s_name, numwait
            FROM (
                SELECT l_suppkey, COUNT(*) AS numwait
                FROM at_max
                WHERE l_orderkey IN (SELECT l_orderkey FROM sole)
                GROUP BY 1
            ) w JOIN supplier ON w.l_suppkey = s_suppkey
            ORDER BY numwait DESC, s_name ASC
            LIMIT 20
        """,
    }
    # the streaming session-window query folds to the exact shape of the
    # batch sessionize query — one oracle checks both (batch/stream duality)
    out["stream_sessions"] = out["sessionize"]
    # streaming dedup of the twice-written source == batch GROUP BY of the
    # table written once
    out["stream_dedup"] = """
        SELECT event_type, COUNT(*) AS n_events
        FROM events GROUP BY event_type
    """
    # the stream-stream interval join == the same batch interval self-join
    out["stream_interval_join"] = """
        SELECT v.event_id AS view_id, c.event_id AS click_id
        FROM events v JOIN events c
          ON v.user_id = c.user_id
         AND v.event_type = 'view' AND c.event_type = 'click'
         AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
    """
    # the incremental tiling stream == the batch tile aggregate
    out["stream_geo_tiles"] = out["web_tile_agg"]
    # incremental H3 tiling folds to the batch h3_tile_agg shape
    out["stream_h3_tiles"] = out["h3_tile_agg"]
    # the bucketed co-located join == a plain equi-join in DuckDB (the
    # bucketing changes the PLAN, never the rows)
    out["cell_join_bucketed"] = f"""
        {cte},
        cells AS (
            SELECT doc_id, lang, {grid_cell_sql('lon', 'lat', 5)} AS cell_id
            FROM webdocs
        ),
        poi AS (
            SELECT DISTINCT cell_id, CAST(cell_id % 97 AS BIGINT) AS poi_weight
            FROM cells
        )
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(poi_weight) AS BIGINT) AS total_weight
        FROM cells JOIN poi USING (cell_id) GROUP BY lang
    """
    # rollup oracle: pure SQL over the precision-4 VALUES table — the
    # independent expected values roll up in DuckDB exactly as the Spark
    # side rolls up its one encode
    gh4 = _ora.geohash_tile_agg_sql()
    out["geohash_rollup"] = " UNION ALL ".join(
        f"SELECT substr(geohash, 1, {p}) AS geohash, "
        f"CAST(SUM(n_docs) AS BIGINT) AS n_docs, CAST({p} AS INT) AS precision "
        f"FROM ({gh4}) GROUP BY 1"
        for p in (2, 3, 4)
    )
    # WARC roundtrip: rebuild the html template / WARC-Date / record-id
    # derivation in pure SQL — the Spark side must reproduce every value
    # through render → gzip → parse → extract (sources/warc.py)
    from geokitten_spark.fixtures import head_links_sql
    from geokitten_spark.functions.geocode import url_from_doc_id_sql

    _w_url = url_from_doc_id_sql("doc_id", "lang")
    _w_ts = ("TIMESTAMP '2025-01-01 00:00:00' + INTERVAL "
             "(CAST((doc_id * 137) % 31536000 AS BIGINT)) SECOND")
    _w_html = (
        "('<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)"
        f" || '</title>' || {head_links_sql('doc_id')}"
        " || '</head><body><p>' || text"
        " || '</p></body></html>')"
    )
    out["warc_roundtrip"] = f"""
        WITH w AS (
            SELECT
                {_w_url} AS url,
                strftime({_w_ts}, '%Y-%m-%dT%H:%M:%SZ') AS warc_dt,
                {_w_html} AS html,
                ('Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || text) AS page_text
            FROM documents
        ),
        h AS (SELECT *, md5(url || '|' || warc_dt) AS rid FROM w)
        SELECT url,
               ('<urn:uuid:' || substr(rid, 1, 8) || '-' || substr(rid, 9, 4)
                || '-' || substr(rid, 13, 4) || '-' || substr(rid, 17, 4)
                || '-' || substr(rid, 21, 12) || '>') AS record_id,
               warc_dt,
               CAST(200 AS INT) AS http_status,
               CAST(strlen(html) AS BIGINT) AS html_bytes,
               md5(html) AS html_md5,
               md5(page_text) AS text_md5
        FROM h
    """
    # link graph: formula-derived edges (fixtures.link_edges_sql) ==
    # what extract_links parses from the html column
    from geokitten_spark.fixtures import link_edges_sql
    from geokitten_spark.operators.linkgraph import pagerank_sql

    out["link_degrees"] = f"""
        WITH nodes AS (SELECT doc_id AS node FROM documents),
        edges AS ({link_edges_sql()})
        SELECT n.node,
               CAST(COALESCE(o.out_deg, 0) AS BIGINT) AS out_deg,
               CAST(COALESCE(i.in_deg, 0) AS BIGINT) AS in_deg
        FROM nodes n
        LEFT JOIN (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src) o
          ON n.node = o.src
        LEFT JOIN (SELECT dst, COUNT(*) AS in_deg FROM edges GROUP BY dst) i
          ON n.node = i.dst
    """
    out["link_pagerank"] = (
        pagerank_sql("SELECT doc_id AS node FROM documents",
                     link_edges_sql(), n_iters=5)
        + "\nSELECT node, rank AS rank_units FROM r5"
          " ORDER BY rank DESC, node LIMIT 25"
    )
    # textbook dangling-mass mode over a graph with real dangling nodes
    # (out-edges of doc_id % 7 == 0 dropped)
    out["link_pagerank_redistribute"] = (
        pagerank_sql(
            "SELECT doc_id AS node FROM documents",
            f"SELECT * FROM ({link_edges_sql()}) WHERE src % 7 <> 0",
            n_iters=4,
            dangling="redistribute",
        )
        + "\nSELECT node, rank AS rank_units FROM r4"
          " ORDER BY rank DESC, node LIMIT 25"
    )
    out["mvt_tiles"] = _ora.mvt_tiles_sql()
    out["mvt_pyramid"] = _ora.mvt_pyramid_sql()
    # S8 read path: snapshot 100 = even doc_ids over 3 hash partitions,
    # snapshot 200 = all docs over 4; lineage must equal a real scan
    out["iceberg_read"] = """
        SELECT CAST(100 AS BIGINT) AS snapshot_id,
               CAST(3 AS BIGINT) AS n_files,
               CAST(COUNT(*) AS BIGINT) AS lineage_rows,
               CAST(COUNT(*) AS BIGINT) AS scanned_rows
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT CAST(200 AS BIGINT), CAST(4 AS BIGINT),
               CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) AS BIGINT)
        FROM documents
    """
    # GeoParquet roundtrip: geometry is a pure function of the nation key,
    # so kind/vertex/area recompute as key arithmetic (the Spark side
    # derives them from the geometry that survived WKB+parquet+WKB)
    out["geoparquet_roundtrip"] = """
        SELECT n_nationkey,
               CASE WHEN n_nationkey % 3 = 0 THEN 'MULTIPOLYGON'
                    ELSE 'POLYGON' END AS geom_kind,
               CAST(CASE WHEN n_nationkey % 3 = 0 THEN 9 ELSE 10 END
                    AS BIGINT) AS n_vertices,
               CAST(CASE WHEN n_nationkey % 3 = 0 THEN 8.5 ELSE 24.0 END
                    AS DOUBLE) AS area
        FROM nation
    """
    out["raster_tiles"] = _ora.raster_tiles_sql()
    # cms_merge_increments / qhist_merge_increments: counters are sums,
    # so the 3-way increment merges are lossless — each oracle IS the
    # single-pass sketch (byte-identical to heavy_hitters_cms's /
    # quantile_sketch's); the driver hash match is the merged ==
    # single-pass proof
    out["cms_merge_increments"] = out["heavy_hitters_cms"]
    out["qhist_merge_increments"] = out["quantile_sketch"]
    # skew_salted_join: the oracle is the PLAIN (unsalted) join+aggregate —
    # a hash match proves the salted plan is output-equivalent
    out["skew_salted_join"] = f"""
        {cte},
        pts AS (
            SELECT doc_id, {grid_cell_sql('lon', 'lat', 3)} AS cell_id
            FROM webdocs
        ),
        hist AS (
            SELECT cell_id, COUNT(*) AS cell_count FROM pts GROUP BY 1
        )
        SELECT h.cell_count,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT p.cell_id) AS n_cells,
               MIN(p.doc_id) AS min_doc_id
        FROM pts p JOIN hist h ON p.cell_id = h.cell_id
        GROUP BY h.cell_count
    """
    out["polygon_overlap"] = _ora.polygon_overlap_sql()
    # CCNet buckets: the oracle-checked lm chain + one NTILE window
    out["ccnet_buckets"] = f"""
        WITH lm AS ({out["lm_perplexity"]})
        SELECT doc_id, lang, ppl,
               CASE NTILE(3) OVER (PARTITION BY lang
                                   ORDER BY ppl, doc_id)
                    WHEN 1 THEN 'head'
                    WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM lm
    """
    # robots verdicts: the rules VALUES come from the same RFC 9309
    # parser (unit-tested against spec semantics); the MATCH + most-
    # specific-rule logic replays as plain SQL in DuckDB
    from geokitten_spark.fixtures import host_robots_fixture
    from geokitten_spark.functions.robots import rules_rows as _rules_rows

    _rules_values = _ora.values_sql(
        _rules_rows(host_robots_fixture()),
        [("host", "VARCHAR"), ("allow", "BOOLEAN"),
         ("like_pattern", "VARCHAR"), ("spec", "INTEGER")],
    )
    out["robots_filter"] = f"""
        WITH urls AS (
            SELECT {_w_url} AS url,
                   'host' || CAST(doc_id % 97 AS VARCHAR) || '.example' AS host,
                   '/' || lang || '/page-'
                       || lpad(CAST(doc_id AS VARCHAR), 7, '0') AS path
            FROM documents
        ),
        rules AS ({_rules_values}),
        m AS (
            SELECT u.url, r.allow, r.spec
            FROM urls u
            LEFT JOIN rules r
              ON u.host = r.host AND u.path LIKE r.like_pattern
        )
        SELECT url, COALESCE(allow, TRUE) AS allowed FROM m
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY url
            ORDER BY spec DESC NULLS LAST, allow DESC NULLS LAST
        ) = 1
    """
    # CDX index: render → files → scan → parse must be the identity;
    # the oracle derives every field directly off `documents`
    from geokitten_spark.sources.cdx import surt_key_sql

    out["cdx_index"] = f"""
        WITH w AS (
            SELECT doc_id, {_w_url} AS url, {_w_ts} AS ts, {_w_html} AS html
            FROM documents
        )
        SELECT {surt_key_sql("url")} AS urlkey,
               strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS capture_dt,
               url,
               CAST(200 AS INT) AS status,
               md5(html) AS digest,
               CAST(strlen(html) AS BIGINT) AS length,
               'part-' || CAST(doc_id % 8 AS VARCHAR) || '.warc.gz'
                   AS filename
        FROM w
    """
    out["unicode_normalize"] = """
        SELECT doc_id,
               md5(nfc_normalize(t2)) AS nfc_md5,
               CAST(length(t2) - length(nfc_normalize(t2)) AS BIGINT)
                   AS chars_folded
        FROM (SELECT doc_id,
                     text || ' cafe' || chr(769) || ' nin' || chr(771) || 'o'
                         AS t2
              FROM documents)
    """
    # recrawl diff: snapshot derivation + latest-capture election +
    # full-outer CASE — twins fixtures.crawl_snapshots / cdx.crawl_delta
    from geokitten_spark.fixtures import crawl_snapshots_sql

    out["crawl_delta"] = f"""
        WITH w AS (
            SELECT doc_id, {_w_url} AS url, {_w_ts} AS ts, {_w_html} AS html
            FROM documents
        ),
        {crawl_snapshots_sql()},
        la AS (
            SELECT urlkey, digest, url FROM ca
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY urlkey ORDER BY ts DESC, digest DESC, url DESC
            ) = 1
        ),
        lb AS (
            SELECT urlkey, digest, url FROM cb
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY urlkey ORDER BY ts DESC, digest DESC, url DESC
            ) = 1
        )
        SELECT COALESCE(la.urlkey, lb.urlkey) AS urlkey,
               COALESCE(lb.url, la.url) AS url,
               CASE WHEN la.digest IS NULL THEN 'added'
                    WHEN lb.digest IS NULL THEN 'removed'
                    WHEN la.digest = lb.digest THEN 'unchanged'
                    ELSE 'changed' END AS status,
               la.digest AS digest_a,
               lb.digest AS digest_b
        FROM la FULL OUTER JOIN lb ON la.urlkey = lb.urlkey
    """
    # KMV/theta overlap: same snapshot CTEs feed the bit-identical
    # integer-sketch twin (operators/sketch.py kmv_overlap_sql)
    from geokitten_spark.operators.sketch import kmv_overlap_sql

    # leakage-safe split: CC labels (recursive-closure twin) + the same
    # cluster-keyed hash split; singletons key by their own doc_id
    from geokitten_spark.fixtures import neardup_corpus_cte
    from geokitten_spark.operators.dedup import (
        connected_components_sql,
        hash60_sql,
        minhash_neardup_sql,
    )

    _split_h = hash60_sql("'split:' || CAST(cluster_id AS VARCHAR)")
    out["leakage_safe_split"] = f"""
        WITH cc AS (
            {connected_components_sql(minhash_neardup_sql(neardup_corpus_cte()))}
        ),
        {neardup_corpus_cte()},
        labeled AS (
            SELECT corpus.doc_id,
                   COALESCE(cc.cluster_id, corpus.doc_id) AS cluster_id
            FROM corpus LEFT JOIN cc ON corpus.doc_id = cc.doc_id
        )
        SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
               CASE WHEN {_split_h} % 100 < 80 THEN 'train'
                    WHEN {_split_h} % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM labeled
    """
    out["theta_overlap"] = kmv_overlap_sql(
        "SELECT urlkey AS key FROM ca",
        "SELECT urlkey AS key FROM cb",
        k=256,
        extra_ctes=f"""w AS (
            SELECT doc_id, {_w_url} AS url, {_w_ts} AS ts, {_w_html} AS html
            FROM documents
        ),
        {crawl_snapshots_sql()},""",
    )
    return out

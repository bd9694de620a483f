"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (the E2 containment-join shape) at
sf0.001. ``queries()`` — one entry per implemented operator from SURVEY.md
§2 (plus TPC-H-style pipeline classics and, as they land, the
beyond-reference data-pipeline operators). ``oracle_sql()`` — the matching
DuckDB SQL run by the driver's correctness gate.

Conventions keeping Spark and DuckDB hash-identical:

* every computed column is aliased the SAME on both sides;
* float aggregates are rounded (2-4 dp) on BOTH sides so parallel
  summation order can't leak into the hash;
* timestamps are formatted to 'yyyy-MM-dd' strings on both sides;
* integer-ish derived values are cast to bigint on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# parquet row-group counts per table path, probed once per process —
# file METADATA (not data, not results), the same footer read the scan
# planner itself performs
_SCAN_RG_CACHE: dict = {}


def _scan_row_groups(path: str) -> int:
    n = _SCAN_RG_CACHE.get(path)
    if n is None:
        import os

        import pyarrow.parquet as pq

        files = ([path] if os.path.isfile(path) else
                 [os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet")])
        n = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
        _SCAN_RG_CACHE[path] = n
    return n


def _tw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read with a scan-parallelism floor, for COMPUTE-DENSE consumers
    only (per-char md5 gram streams, Arrow codepoint passes): parquet
    cannot parallelize a scan below row-group granularity, and the
    driver-provided SF tables are single-file single-row-group, so
    everything fused into the scan stage runs on ONE core no matter
    the master. When the table offers fewer row groups than the
    session has cores, redistribute once right after the read
    (round-robin; all downstream operators are partition-invariant) —
    the optimization-guide "input skew: one unsplittable file →
    repartition immediately after the read" case. Scale-adaptive by
    construction: a production table with >= cores row groups takes
    the plain scan and this is a no-op — and measured a REGRESSION
    for cheap row-local scans (q1 0.33 s → 1.01 s), so only the
    operators where per-row compute dwarfs one exchange of the
    payload opt in."""
    df = _t(spark, sf_dir, name)
    cores = spark.sparkContext.defaultParallelism
    if _scan_row_groups(f"{sf_dir}/{name}.parquet") < cores:
        return df.repartition(cores)
    return df


def _r2(c):  # shared float rounding for hash-stable aggregates
    return F.round(c, 2)


# --------------------------------------------------------------------------
# TPC-H-style pipeline classics (multi-join + agg; bench headliners)
# --------------------------------------------------------------------------

def q1_pricing_summary(spark, sf_dir):
    """SURVEY §2.5 A1/A3 + §2.9 arithmetic: grouped aggregation over the
    big fact table (lineitem), Catalyst-pushed filter."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "2000-12-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r2(F.sum("l_quantity")).alias("sum_qty"),
            _r2(F.sum("l_extendedprice")).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 6).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_shipping_priority(spark, sf_dir):
    cu = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cu), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
                 "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q5_local_supplier_volume(spark, sf_dir):
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01"))
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cu, (F.col("o_custkey") == F.col("c_custkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(re), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )


def q6_revenue_forecast(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.03, 0.07) & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"))
    )


def q10_returned_items(spark, sf_dir):
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    na = _t(spark, sf_dir, "nation")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# §2.3 Filters
# --------------------------------------------------------------------------

def f1_conjunctive_eq(spark, sf_dir):
    """F1: conjunctive equality point filter (coring/sectionSummary.py:158-170)."""
    from feldman_spark.ops.filters import conjunctive_filter

    li = _t(spark, sf_dir, "lineitem")
    return conjunctive_filter(li, l_returnflag="A", l_linestatus="F", l_quantity=30.0) \
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")


def f2_range_between(spark, sf_dir):
    """F2: inclusive-both-ends range filter (coring/measurement.py:32-33)."""
    from feldman_spark.ops.filters import range_filter

    li = _t(spark, sf_dir, "lineitem")
    out = range_filter(li, "l_quantity", 10.0, 12.0)
    return out.select("l_orderkey", "l_linenumber", "l_quantity")


def f3_in_list(spark, sf_dir):
    """F3: IN-list membership (coring/measurement.py:43-50)."""
    from feldman_spark.ops.filters import in_filter

    o = _t(spark, sf_dir, "orders")
    return (
        in_filter(o, "o_orderpriority", ["1-URGENT", "2-HIGH"])
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), _r2(F.sum("o_totalprice")).alias("total"))
    )


def f7_domain_validation(spark, sf_dir):
    """F7: column-domain validation via regex (feldman.py:78-89) —
    count of values NOT matching '<digit>-<WORD>'."""
    o = _t(spark, sf_dir, "orders")
    bad = ~F.col("o_orderpriority").rlike(r"^[0-9]-[A-Z]")
    return o.agg(
        F.sum(F.when(bad, 1).otherwise(0)).cast("bigint").alias("invalid_rows"),
        F.count(F.lit(1)).alias("total_rows"),
    )


# --------------------------------------------------------------------------
# §2.5 Aggregations
# --------------------------------------------------------------------------

def a1_group_minmax(spark, sf_dir):
    """A1: min/max per group (coring/sectionSummary.py:78-85)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        _r2(F.min("l_extendedprice")).alias("min_price"),
        _r2(F.max("l_extendedprice")).alias("max_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


def a2_distinct(spark, sf_dir):
    """A2: distinct values (coring/sectionSummary.py:48-50)."""
    cu = _t(spark, sf_dir, "customer")
    return cu.select("c_mktsegment").distinct()


def a4_argmin(spark, sf_dir):
    """A4: argmin per group — customer with smallest balance per nation
    (closest-top analogue, coring/sectionSummary.py:94-99)."""
    cu = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").asc(),
                                                  F.col("c_custkey").asc())
    return (
        cu.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_nationkey", "c_custkey", _r2(F.col("c_acctbal")).alias("min_acctbal"))
    )


def a5_conditional_sum_hof(spark, sf_dir):
    """A5: conditional sum per order — the gap-sum shape Σ(bot−top) where
    cond (coring/sectionSummary.py:145-150). Decomposable
    ``sum(when(cond, x).otherwise(0))`` form: partial (map-side)
    aggregation collapses each order's rows in its scan partition, so the
    exchange moves one slim row per order. The original
    ``aggregate(filter(collect_list(struct(...))))`` HOF form shipped
    EVERY lineitem row as a struct into the shuffle and buffered whole
    orders as arrays — measured spilling at sf20 (~11-18 s isolated vs
    the oracle-identical decomposable form; guide §2.3 "aggregate before
    you shuffle", §5 spill). Values identical: same per-order conditional
    sum the oracle's sum(CASE WHEN) computes, 0.0 (never null) for orders
    with no qualifying rows, rounding absorbing summation-order ulp
    exactly as it always did across the HOF/SQL pair."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        _r2(F.sum(
            F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice"))
            .otherwise(0.0))).alias("discounted_total"))


# --------------------------------------------------------------------------
# §2.4 Joins
# --------------------------------------------------------------------------

def j1_containment_join(spark, sf_dir):
    """J1: interval-containment join — shipments within 90 days of their
    order date; equi key + range residual, the E2 splice-export shape
    (feldman.py:318-340)."""
    from feldman_spark.ops.joins import containment_join

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate", "o_orderpriority",
        F.date_add(F.col("o_orderdate"), 90).alias("o_window_end"))
    joined = containment_join(
        li, o, equi_on=["l_orderkey"], fact_point="l_shipdate",
        interval_lo="o_orderdate", interval_hi="o_window_end",
        broadcast_intervals=False)  # both sides large: shuffled hash join
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_shipped_90d"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
    )


def j3_anti_join(spark, sf_dir):
    """J3: anti-join — customers with no orders (feldman.py:346)."""
    from feldman_spark.ops.joins import anti_join

    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-07-01") \
        .select(F.col("o_custkey").alias("c_custkey"))
    return anti_join(cu, o, on=["c_custkey"]).select("c_custkey", "c_name")


def j4_broadcast_equi(spark, sf_dir):
    """J4: broadcast equi-join, small dim to big fact (feldman.py:357-366)."""
    from feldman_spark.ops.joins import broadcast_equi_join

    li = _t(spark, sf_dir, "lineitem").withColumnRenamed("l_partkey", "p_partkey")
    pa = _t(spark, sf_dir, "part")
    return (
        broadcast_equi_join(li, pa, on=["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r2(F.sum(F.col("l_extendedprice") - F.col("p_retailprice"))).alias("markup"),
        )
    )


def j5_semi_join(spark, sf_dir):
    """J5: semi-join membership (coring/spliceInterval.py:79-85)."""
    from feldman_spark.ops.joins import semi_join

    su = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("s_suppkey"))
    return semi_join(su, li, on=["s_suppkey"]).select("s_suppkey", "s_name")


def j7_nearest_join(spark, sf_dir):
    """J7: nearest-key join — for each customer, the part whose retail
    price is closest to the customer's balance; smallest-key tie-break
    (coring/sectionSummary.py:88-100). Uses the O(N log M) broadcast
    binary-search path, not the quadratic cross join."""
    from feldman_spark.ops.joins import nearest_value_join

    cu = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    pa = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    out = nearest_value_join(
        cu, pa, left_value="c_acctbal", right_value="p_retailprice",
        right_id="p_partkey", out_id="nearest_partkey", out_value="nearest_price")
    return out.select(
        "c_custkey",
        "nearest_partkey",
        _r2(F.abs(F.col("c_acctbal") - F.col("nearest_price"))).alias("price_diff"),
    )


def j8_lookup_join(spark, sf_dir):
    """J8: lookup join against a tiny reference table
    (coring/sectionSummary.py:179-181)."""
    from feldman_spark.ops.joins import broadcast_equi_join

    na = _t(spark, sf_dir, "nation").withColumnRenamed("n_regionkey", "r_regionkey")
    re = _t(spark, sf_dir, "region")
    return broadcast_equi_join(na, re, on=["r_regionkey"]).select("n_name", "r_name")


# --------------------------------------------------------------------------
# §2.6 Window / sequential
# --------------------------------------------------------------------------

def w2_lag_diff(spark, sf_dir):
    """W2: per-group differential vs previous row; first row keeps its
    value (feldman.py:500-514)."""
    from feldman_spark.ops.windows import lag_diff

    o = _t(spark, sf_dir, "orders")
    out = lag_diff(
        o, "o_totalprice", partition_by=["o_custkey"],
        order_by=[F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        out="price_diff")
    return out.select("o_orderkey", "o_custkey", _r2(F.col("price_diff")).alias("price_diff"))


def w3_expanding_slope(spark, sf_dir):
    """W3/A6: expanding OLS slope via regr_slope (feldman.py:516-527)."""
    from feldman_spark.ops.windows import expanding_slope

    o = _t(spark, sf_dir, "orders").withColumn(
        "day", F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).cast("double"))
    out = expanding_slope(
        o, x="day", y="o_totalprice", partition_by=["o_custkey"],
        order_by=[F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        out="growth_rate", digits=None)
    # the oracle rounds with DuckDB round() (half away from zero) — apply
    # the matching HALF_UP rounding here, not the engine's HALF_EVEN bround
    return out.select("o_orderkey", "o_custkey",
                      F.round("growth_rate", 3).alias("growth_rate"))


def w4_first_seen(spark, sf_dir):
    """W4: first-seen row per key (feldman.py:236-248)."""
    from feldman_spark.ops.windows import first_seen

    o = _t(spark, sf_dir, "orders")
    out = first_seen(o, partition_by=["o_custkey"],
                     order_by=[F.col("o_orderdate").asc(), F.col("o_orderkey").asc()])
    return out.select("o_custkey", F.col("o_orderkey").alias("first_orderkey"),
                      F.date_format("o_orderdate", "yyyy-MM-dd").alias("first_orderdate"))


def w5_explode_sequence(spark, sf_dir):
    """W5: inclusive integer-range explosion (feldman.py:323-327)."""
    pa = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    return (
        pa.withColumn("step", F.explode(F.sequence(F.lit(1), F.col("p_size"))))
        .groupBy("p_partkey")
        .agg(F.sum("step").cast("bigint").alias("step_sum"),
             F.count(F.lit(1)).alias("n_steps"))
    )


# --------------------------------------------------------------------------
# §2.7 Sort/limit, §2.8 set ops, §2.2/2.9 scalar & regex
# --------------------------------------------------------------------------

def o1_topk(spark, sf_dir):
    """O1/O2: multi-key sort + limit (feldman.py:501)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", _r2(F.col("o_totalprice")).alias("o_totalprice"))
    )


def u1_union_all(spark, sf_dir):
    """U1: union-all of branch results (feldman.py:342,378)."""
    o = _t(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 400000).withColumn("bucket", F.lit("high"))
    lo = o.filter(F.col("o_totalprice") < 1000).withColumn("bucket", F.lit("low"))
    return (
        hi.unionByName(lo)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), _r2(F.sum("o_totalprice")).alias("total"))
    )


def p6_regex_extract(spark, sf_dir):
    """P6/C8: regex compound split (tabular/csvio.py:55-67) — extract the
    numeric id out of 'Customer#000000042'."""
    cu = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    return cu.select(
        "c_custkey",
        F.regexp_extract(F.col("c_name"), r"Customer#(\d+)", 1).cast("bigint").alias("name_id"),
    )


def c10_concat_ids(spark, sf_dir):
    """C10: compound id synthesis '1A-25H-1' style (coring/identity.py:57-66)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.select(
        F.concat(F.col("l_orderkey").cast("string"), F.lit("-"),
                 F.col("l_partkey").cast("string"), F.lit("-"),
                 F.col("l_linenumber").cast("string")).alias("item_id"),
        "l_quantity",
    )


# --------------------------------------------------------------------------
# W1: the recursive splice scan (not SQL-expressible → rows-only check)
# --------------------------------------------------------------------------

def w1_splice_scan(spark, sf_dir):
    """W1: recursive stateful splice scan (feldman.py:155-281) on a small
    deterministic splice over a synthetic two-hole section summary.
    The affine recursion (each interval's shift depends on the previous
    interval's shifted bottom) has no fixed-frame SQL equivalent; the
    driver records a rows-only check."""
    from feldman_spark.splice import IDX, section_lookup, sit_from_scan, splice_scan, with_offset_depths

    secsumm = spark.createDataFrame(
        [
            ("1", h, str(c), "H", str(s),
             float((c - 1) * 3 + (s - 1)) * 1.5,
             float((c - 1) * 3 + s) * 1.5,
             float((c - 1) * 3 + (s - 1)) * 1.5 * 1.01,
             float((c - 1) * 3 + s) * 1.5 * 1.01,
             1.5, "")
            for h in ("A", "B") for c in (1, 2, 3) for s in (1, 2, 3)
        ],
        "Site string, Hole string, Core string, Tool string, Section string, "
        "TopDepth double, BottomDepth double, TopDepthScaled double, "
        "BottomDepthScaled double, CuratedLength double, Gaps string",
    )
    sparse = spark.createDataFrame(
        [
            ("1", "A", "1", "H", "1", 10.0, "2", 120.0, "TIE", None, "", "", 0),
            ("1", "B", "1", "H", "1", 30.0, "2", 100.0, "TIE", None, "", "", 1),
            ("1", "A", "2", "H", "1", 0.0, "3", 140.0, "APPEND", 0.5, "", "", 2),
            ("1", "B", "2", "H", "2", 5.0, "3", 130.0, "APPEND", None, "", "", 3),
            ("1", "A", "3", "H", "1", 0.0, "2", 110.0, "TIE", None, "", "", 4),
        ],
        "Site string, Hole string, Core string, Tool string, TopSection string, "
        "TopOffset double, BottomSection string, BottomOffset double, "
        "SpliceType string, Gap double, DataUsed string, Comment string, _idx long",
    )
    enriched = with_offset_depths(sparse, section_lookup(secsumm))
    scanned = splice_scan(enriched)
    sit = sit_from_scan(scanned, [c for c in sparse.columns])
    return sit.select(
        "Site", "Hole", "Core", "TopSection", "BottomSection", "SpliceType",
        F.round("TopDepthCSF", 3).alias("TopDepthCSF"),
        F.round("TopDepthCCSF", 3).alias("TopDepthCCSF"),
        F.round("BottomDepthCSF", 3).alias("BottomDepthCSF"),
        F.round("BottomDepthCCSF", 3).alias("BottomDepthCCSF"),
    )


# grouped multi-splice fixture: per-site (section spacing, scaled factor)
# and per-site sparse rows with PER-SITE _idx order — both literal, shared
# with the recursive-CTE oracle below
_W1G_SITES = {"1": (1.5, 1.01), "2": (1.6, 1.02)}
_W1G_SPARSE = [
    ("1", "A", "1", "1", 10.0, "2", 120.0, "TIE", None, 0),
    ("1", "B", "1", "1", 30.0, "2", 100.0, "TIE", None, 1),
    ("1", "A", "2", "1", 0.0, "3", 140.0, "APPEND", 0.5, 2),
    ("1", "B", "2", "2", 5.0, "3", 130.0, "APPEND", None, 3),
    ("1", "A", "3", "1", 0.0, "2", 110.0, "TIE", None, 4),
    ("2", "A", "1", "1", 20.0, "2", 110.0, "TIE", None, 0),
    ("2", "B", "1", "2", 15.0, "3", 95.0, "APPEND", 1.0, 1),
    ("2", "A", "2", "1", 5.0, "3", 125.0, "APPEND", None, 2),
    ("2", "B", "2", "1", 0.0, "2", 105.0, "TIE", None, 3),
    ("2", "A", "3", "2", 10.0, "3", 115.0, "APPEND", None, 4),
]


def w1_splice_scan_grouped(spark, sf_dir):
    """W1 grouped: the same recursive stateful splice scan run as MANY
    independent splices in one job via ``splice_scan(group_cols=["Site"])``
    (feldman_spark/splice.py — one applyInPandas group per site, the
    parallel multi-splice path; reference feldman.py:155-281 runs one
    splice per process). Two sites with different section geometries scan
    concurrently; the recursive-CTE oracle replays the recurrence per
    site."""
    from feldman_spark.splice import (
        section_lookup, sit_from_scan, splice_scan, with_offset_depths)

    secsumm = spark.createDataFrame(
        [
            (site, h, str(c), "H", str(s),
             ((c - 1) * 3 + (s - 1)) * sp,
             ((c - 1) * 3 + s) * sp,
             ((c - 1) * 3 + (s - 1)) * sp * sc,
             ((c - 1) * 3 + s) * sp * sc,
             sp, "")
            for site, (sp, sc) in _W1G_SITES.items()
            for h in ("A", "B") for c in (1, 2, 3) for s in (1, 2, 3)
        ],
        "Site string, Hole string, Core string, Tool string, Section string, "
        "TopDepth double, BottomDepth double, TopDepthScaled double, "
        "BottomDepthScaled double, CuratedLength double, Gaps string",
    )
    sparse = spark.createDataFrame(
        [(s, h, c, "H", ts, to, bs, bo, st, g, "", "", i)
         for (s, h, c, ts, to, bs, bo, st, g, i) in _W1G_SPARSE],
        "Site string, Hole string, Core string, Tool string, TopSection string, "
        "TopOffset double, BottomSection string, BottomOffset double, "
        "SpliceType string, Gap double, DataUsed string, Comment string, _idx long",
    )
    enriched = with_offset_depths(sparse, section_lookup(secsumm))
    scanned = splice_scan(enriched, group_cols=["Site"])
    sit = sit_from_scan(scanned, [c for c in sparse.columns])
    return sit.select(
        "Site", "Hole", "Core", "TopSection", "BottomSection", "SpliceType",
        F.round("TopDepthCSF", 3).alias("TopDepthCSF"),
        F.round("TopDepthCCSF", 3).alias("TopDepthCCSF"),
        F.round("BottomDepthCSF", 3).alias("BottomDepthCSF"),
        F.round("BottomDepthCCSF", 3).alias("BottomDepthCCSF"),
    )


def _w1_grouped_oracle_sql() -> str:
    """The grouped W1 recurrence: identical to :func:`_w1_oracle_sql` but
    the recursion seeds EVERY site's idx-0 row and steps on
    ``(site, idx)`` — the SQL twin of one applyInPandas group per site."""
    raw = """CASE
          WHEN s.sptype = 'TIE' THEN s.bot_ccsf - e.shift_top
          WHEN s.sptype = 'APPEND' AND s.gap IS NOT NULL
            THEN (s.bot_ccsf + s.gap) - e.shift_top
          WHEN s.sptype = 'APPEND' AND e.hole = s.hole THEN s.affine
          WHEN s.sptype = 'APPEND'
            THEN (s.bot_ccsf - e.shift_top) + (e.shift_top_scaled - s.bot_scaled)
        END"""
    sparse_rows = ",\n            ".join(
        "('%s', '%s', '%s', '%s', %s, '%s', %s, '%s', %s, %d)" % (
            s, h, c, ts, to, bs, bo, st,
            "CAST(NULL AS DOUBLE)" if g is None else g, i)
        for (s, h, c, ts, to, bs, bo, st, g, i) in _W1G_SPARSE)
    site_rows = ", ".join(
        f"('{site}', {sp}, {sc})" for site, (sp, sc) in _W1G_SITES.items())
    return f"""
        WITH RECURSIVE
        secsumm AS (
          SELECT st.site, h.hole, CAST(c.c AS VARCHAR) AS core,
                 CAST(x.s AS VARCHAR) AS sec,
                 round(((c.c - 1) * 3 + (x.s - 1)) * st.sp, 3) AS sec_top,
                 round(((c.c - 1) * 3 + (x.s - 1)) * st.sp * st.sc, 3) AS sec_top_scaled
          FROM (VALUES {site_rows}) st(site, sp, sc),
               (VALUES ('A'), ('B')) h(hole),
               (VALUES (1), (2), (3)) c(c),
               (VALUES (1), (2), (3)) x(s)
        ),
        sparse(site, hole, core, topsection, topoffset,
               bottomsection, bottomoffset, splicetype, gap, idx) AS (
          VALUES
            {sparse_rows}
        ),
        enriched AS (
          SELECT sp.*,
                 st.sec_top + sp.topoffset / 100.0 AS shift_top,
                 st.sec_top_scaled + sp.topoffset / 100.0 AS shift_top_scaled,
                 sb.sec_top + sp.bottomoffset / 100.0 AS shift_bot,
                 sb.sec_top_scaled + sp.bottomoffset / 100.0 AS shift_bot_scaled
          FROM sparse sp
          JOIN secsumm st ON st.site = sp.site AND st.hole = sp.hole
                         AND st.core = sp.core AND st.sec = sp.topsection
          JOIN secsumm sb ON sb.site = sp.site AND sb.hole = sp.hole
                         AND sb.core = sp.core AND sb.sec = sp.bottomsection
        ),
        scan(site, idx, hole, affine, bot_ccsf, sptype, gap, bot_scaled) AS (
          SELECT site, idx, hole, CAST(0.0 AS DOUBLE), shift_bot, splicetype,
                 gap, shift_bot_scaled
          FROM enriched WHERE idx = 0
          UNION ALL
          SELECT e.site, e.idx, e.hole,
                 CASE WHEN s.sptype = 'APPEND'
                        AND s.bot_ccsf > e.shift_top + ({raw})
                      THEN s.bot_ccsf - e.shift_top
                      ELSE ({raw}) END,
                 e.shift_bot +
                 (CASE WHEN s.sptype = 'APPEND'
                         AND s.bot_ccsf > e.shift_top + ({raw})
                       THEN s.bot_ccsf - e.shift_top
                       ELSE ({raw}) END),
                 e.splicetype, e.gap, e.shift_bot_scaled
          FROM scan s JOIN enriched e ON e.site = s.site AND e.idx = s.idx + 1
        )
        SELECT e.site AS "Site", e.hole AS "Hole", e.core AS "Core",
               e.topsection AS "TopSection", e.bottomsection AS "BottomSection",
               e.splicetype AS "SpliceType",
               round(e.shift_top, 3) AS "TopDepthCSF",
               round(e.shift_top + s.affine, 3) AS "TopDepthCCSF",
               round(e.shift_bot, 3) AS "BottomDepthCSF",
               round(e.shift_bot + s.affine, 3) AS "BottomDepthCCSF"
        FROM scan s JOIN enriched e ON e.site = s.site AND e.idx = s.idx
    """


# --------------------------------------------------------------------------
# Beyond-reference: dedup / similarity / text / streaming pipeline operators
# --------------------------------------------------------------------------


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with its TIMESTAMP(NANOS) column surfaced as a proper
    timestamp (nanos are read as long via nanosAsLong, then truncated to
    microseconds — matching DuckDB's ns→µs handling). The legacy conf is
    set defensively: without it a stock session cannot read
    TIMESTAMP(NANOS) parquet at all (PARQUET_TYPE_ILLEGAL), and the
    harness running these queries owns its own session."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf locked down -> fall through; read may still succeed
    e = _t(spark, sf_dir, "events")
    if dict(e.dtypes)["ts"] == "bigint":
        e = e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return e


_STAGED: dict[str, str] = {}


def _stage_events(spark, sf_dir, cols, tag, n_files=2):
    """Stage selected event columns as an ``n_files`` parquet dir to feed
    a file readStream source (which needs a DIRECTORY; n_files=2 +
    maxFilesPerTrigger=1 makes every run genuinely multi-micro-batch).
    Staged ONCE per (sf_dir, tag) per process — the inputs are
    deterministic per sf_dir, so repeated bench/sweep runs of the
    streaming queries skip the rewrite and measure the stream itself."""
    key = f"{tag}:{sf_dir}:{','.join(cols)}"
    path = _STAGED.get(key)
    if path is None:
        safe = sf_dir.rstrip("/").replace("/", "_").replace(".", "_")
        path = f"/root/repo/.tmp/stage_{tag}_{safe}"
        (_events(spark, sf_dir).select(*cols)
         .repartition(n_files).write.mode("overwrite").parquet(path))
        _STAGED[key] = path
    return path


def _docs_with_dups(spark, sf_dir):
    """documents plus injected exact duplicates (doc_id+100000 for the first
    50 docs) so dedup pipelines verifiably fire on synthetic word-salad."""
    d = _t(spark, sf_dir, "documents")
    dups = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars")
    return d.unionByName(dups)


_DOCS_DUP_SQL = """(SELECT doc_id, text, lang, source, n_chars FROM documents
                    UNION ALL
                    SELECT doc_id + 100000, text, lang, source, n_chars
                    FROM documents WHERE doc_id < 50)"""


def dedup_exact(spark, sf_dir):
    """Exact dedup via content digest: smallest doc_id survives per digest;
    output survivor + copy count."""
    d = _docs_with_dups(spark, sf_dir)
    return (
        d.groupBy(F.md5("text").alias("digest"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("copies"))
        .select("keep_id", "copies")
    )


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash + LSH banding + exact-Jaccard verification over documents
    with injected duplicates (shingle -> minhash -> band bucket-join)."""
    from feldman_spark.pipeline.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs_with_dups(spark, sf_dir), threshold=0.2)


def dedup_simhash(spark, sf_dir):
    """Per-document 32-bit SimHash fingerprint (majority vote over word
    hash bits)."""
    from feldman_spark.pipeline.dedup import simhash_fingerprint

    return simhash_fingerprint(_t(spark, sf_dir, "documents"))


def dedup_ngram_jaccard(spark, sf_dir):
    """Character-5-gram Jaccard over same-language document pairs via
    prefix filtering (rare-gram candidate join, exact verification —
    recall 1.0; n=5 matches production shingle sizes and keeps the gram
    vocabulary diverse enough to prune)."""
    from feldman_spark.pipeline.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("lang") == "de")
    return ngram_jaccard_pairs(docs, group_col="lang", n=5, threshold=0.5)


def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs over embeddings with injected
    exact copies (vec_id+100000 for the first 20). Registered path is the
    LSH-bucketed one (no driver collect of the corpus — scale-safe); the
    all-pairs broadcast form is the pytest oracle
    (tests/test_pipeline.py::test_embedding_lsh_matches_all_pairs)."""
    from feldman_spark.pipeline.dedup import embedding_cosine_pairs_lsh

    e = _t(spark, sf_dir, "embeddings")
    dups = e.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label")
    return embedding_cosine_pairs_lsh(e.unionByName(dups), threshold=0.99)


def a10_cube(spark, sf_dir):
    """Beyond-reference aggregate: full CUBE grouping sets over
    (returnflag, ship year) with grouping-id flags — completes the
    multi-level aggregation family next to a8's ROLLUP."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("bigint"))
    return (
        li.cube("l_returnflag", "ship_year")
        .agg(F.count(F.lit(1)).alias("n"),
             _r2(F.sum("l_extendedprice")).alias("sum_price"),
             F.grouping_id().cast("bigint").alias("gid"))
    )


def sample_curriculum(spark, sf_dir):
    """Curriculum bucketing: decile buckets over a difficulty signal
    (document length), assigned SCALE-SAFELY — exact decile boundaries
    from one percentile aggregate (a single broadcast row), bucket
    membership as a row-local comparison against the 9 boundaries. A
    global ntile() window would funnel the corpus through one
    partition; boundary-based assignment is the distributed equivalent
    (ties at a boundary all land in the lower bucket — deterministic)."""
    d = _t(spark, sf_dir, "documents")
    bounds = d.agg(F.expr(
        "percentile(n_chars, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
    ).alias("bs"))
    bucket = (F.size(F.filter(
        F.col("bs"), lambda b: F.col("n_chars").cast("double") > b)) + 1)
    return (
        d.crossJoin(F.broadcast(bounds))
        .withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.round(F.avg("n_chars"), 4).alias("avg_chars"))
    )


def w7_time_gapfill(spark, sf_dir):
    """Time-series gap-fill (ops/windows.py::time_gapfill): hourly event
    counts per type over the DENSE hour × type grid — silent hours
    appear as explicit zeros. Grid size is span × types, independent of
    event volume."""
    from feldman_spark.ops.windows import time_gapfill

    ev = _events(spark, sf_dir)
    out = time_gapfill(ev, ts_col="ts", group_cols=["event_type"])
    return out.select(
        F.date_format("bucket", "yyyy-MM-dd HH:mm").alias("bucket"),
        "event_type", "n")


def dedup_incremental(spark, sf_dir):
    """Incremental exact dedup against a historical fingerprint store
    (pipeline/dedup.py::exact_dedup_incremental): history = digests of
    doc_id < 250; the incoming batch is the remaining docs plus re-crawl
    copies of 10 historical texts (new ids, same text) and an
    intra-batch copy — survivors must exclude every re-crawl copy (store
    hit) and the intra-batch duplicate (within-batch dedup), keeping
    everything genuinely new."""
    from feldman_spark.pipeline.dedup import exact_dedup_incremental

    d = _t(spark, sf_dir, "documents")
    hist = d.filter(F.col("doc_id") < 250).select(
        F.md5(F.col("text")).alias("digest")).distinct()
    recrawl = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text")
    intra = d.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 255)).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text")
    batch = (d.filter(F.col("doc_id") >= 250).select("doc_id", "text")
             .unionByName(recrawl).unionByName(intra))
    kept, _digests = exact_dedup_incremental(batch, hist, broadcast_seen=True)
    return kept.select("doc_id")


def dedup_near_incremental(spark, sf_dir):
    """Incremental NEAR-dup dedup against a historical LSH band-hash
    store (pipeline/dedup.py::minhash_dedup_incremental) — the fuzzy
    twin of dedup_incremental: the store holds only ~50 bytes of band
    hashes per historical survivor; the batch drops (a) within-batch
    near-dups (exact-verified pairs → components → min-id survivor) and
    (b) every doc colliding with a stored band (approximate by design —
    re-crawl copies of 5 historical docs collide with certainty here).
    History = band rows of docs < 250; batch = the rest + 5 re-crawl
    copies (+100000, must drop via store hit) + 5 intra-batch copies
    (+200000, must drop via within-batch survivorship)."""
    from feldman_spark.pipeline.dedup import (
        minhash_band_rows, minhash_dedup_incremental)

    d = _t(spark, sf_dir, "documents")
    hist = d.filter(F.col("doc_id") < 250).select("doc_id", "text")
    store = minhash_band_rows(hist)
    recrawl = d.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text")
    intra = d.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 255)).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text")
    batch = (d.filter(F.col("doc_id") >= 250).select("doc_id", "text")
             .unionByName(recrawl).unionByName(intra))
    kept, _bands = minhash_dedup_incremental(batch, store,
                                             broadcast_seen=True)
    return kept.select("doc_id")


def dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic dedup (pipeline/dedup.py::semantic_dedup):
    deterministic spherical k-means clusters, then greedy-by-id pruning
    of ≥0.95-cosine neighbors within each cluster — injected duplicate
    vectors (vec_id+100000 copies of the first 20) must all drop while
    every original survives. Output is the per-cluster survivor
    checksum; the xxhash64-seeded k-means is deterministic, so the
    expected rows are a pinned VALUES oracle (same treatment as
    knn_ivf), with the prune rule independently recomputed brute-force
    in tests/test_pipeline.py."""
    from feldman_spark.pipeline.dedup import semantic_dedup

    e = _t(spark, sf_dir, "embeddings")
    dups = e.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label")
    # num_centroids auto-sizes (~N/256): exactly 8 at the sf0.01 gate,
    # where the pinned oracle lives, and linear capacity at any larger SF
    surv = semantic_dedup(e.unionByName(dups), threshold=0.95, iters=2)
    return surv.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("vec_id").cast("bigint").alias("id_sum"))


def dedup_clusters(spark, sf_dir):
    """Near-duplicate CLUSTERS: transitive closure of the MinHash-LSH
    pair graph via iterative min-label propagation (Pregel-style joins,
    feldman_spark/pipeline/graph.py) — the step that turns pair lists
    into droppable duplicate groups. Oracle: recursive CTE over the same
    pair SQL."""
    from feldman_spark.pipeline.dedup import minhash_lsh_pairs
    from feldman_spark.pipeline.graph import connected_components

    # the conf applies at ACTION time, so materialize the corpus-wide
    # pair generation at full shuffle width FIRST, then scope the width
    # down to the tiny label-propagation graph only (a stock session's
    # 200 partitions cost ~20s of pure task overhead in the loop; but
    # pinning the whole query to 8 serializes the MinHash stage — 6x at
    # sf1)
    pairs = minhash_lsh_pairs(_docs_with_dups(spark, sf_dir), threshold=0.2)
    pairs = pairs.localCheckpoint()  # full-width pair generation runs here
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        comp = connected_components(pairs)
        comp.count()  # materialize the persisted labels under the scoped conf
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return comp


def dedup_survivors_quality(spark, sf_dir):
    """Best-quality survivor per near-duplicate cluster
    (pipeline/graph.py::dedup_survivors_best): instead of keep-smallest-id,
    each MinHash-LSH cluster keeps its highest-quality member (min-id
    tiebreak) — the keep-the-cleanest-copy policy. Quality here is a
    deterministic pseudo-score (doc_id·37 mod 101) so the winner
    provably differs from the min id; argmax runs as two cluster-keyed
    aggregates (skew-immune), never a per-cluster window."""
    from feldman_spark.pipeline.dedup import minhash_lsh_pairs
    from feldman_spark.pipeline.graph import dedup_survivors_best

    d = _docs_with_dups(spark, sf_dir).withColumn(
        "q", (F.col("doc_id") * 37 % 101).cast("bigint"))
    pairs = minhash_lsh_pairs(d, threshold=0.2)
    pairs = pairs.localCheckpoint()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = dedup_survivors_best(d, pairs, "q")
        out = out.select("doc_id", "q").localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return out


def sample_temperature(spark, sf_dir):
    """Temperature-reweighted corpus mixing
    (pipeline/sampling.py::temperature_mix): alpha=0.5 exponentiated
    source weights — the multilingual-LM sampling rule that upweights
    small sources; per-source keep fractions derive from one tiny count
    aggregate and apply as a deterministic hash-variate filter the
    DuckDB oracle reproduces threshold-for-threshold."""
    from feldman_spark.pipeline.sampling import temperature_mix

    d = _t(spark, sf_dir, "documents")
    return temperature_mix(d, alpha=0.5).select("doc_id", "source")


def sample_dsir(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): every raw document
    scored by the summed bigram log-likelihood ratio between a target
    model (the src0 slice — the trusted-domain sample) and the raw-corpus
    model, Laplace-smoothed — the published hashed-ngram data-selection
    recipe, run in its engine-portable raw-gram form (the bucketed
    broadcast form is the documented scale path)
    (feldman_spark/pipeline/sampling.py::dsir_weights)."""
    from feldman_spark.pipeline.sampling import dsir_weights

    d = _t(spark, sf_dir, "documents").withColumn(
        "is_tgt", F.col("source") == "src0")
    return dsir_weights(d, "is_tgt", n=2)


def pipeline_fuzzy_dedup(spark, sf_dir):
    """The COMPLETE fuzzy-dedup pipeline in one query: MinHash-LSH pairs
    → connected components → survivor anti-join → per-language corpus
    stats. What a training pipeline actually runs: duplicates (including
    transitive ones) are dropped, smallest-id survivor per cluster kept."""
    from feldman_spark.pipeline.dedup import minhash_lsh_pairs
    from feldman_spark.pipeline.graph import dedup_survivors

    docs = _docs_with_dups(spark, sf_dir)
    # full-width pair generation first, scoped-width graph loop after —
    # see dedup_clusters for why
    pairs = minhash_lsh_pairs(docs, threshold=0.2).localCheckpoint()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        kept = dedup_survivors(docs, pairs)
        out = (
            kept.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"),
                 F.min("doc_id").alias("min_id"))
        )
        # detach the (few-row) aggregate from the scoped shuffle conf
        out = out.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return out


def text_quality(spark, sf_dir):
    """Quality features + score per document (pure column expressions)."""
    from feldman_spark.pipeline.text import quality_features, quality_score

    d = _tw(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["avg_token_len"].alias("avg_token_len"),
        feats["alpha_ratio"].alias("alpha_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        quality_score(F.col("text")).alias("quality_score"),
    )


def text_lang_id(spark, sf_dir):
    """Stopword-hit language identification (argmax over per-language
    scores, default 'en' on zero/tie)."""
    from feldman_spark.pipeline.text import lang_id

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", lang_id(F.col("text")).alias("predicted"))


def text_fingerprint(spark, sf_dir):
    """Normalized content fingerprint (formatting-insensitive md5)."""
    from feldman_spark.pipeline.text import fingerprint, token_count

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"),
                    token_count(F.col("text")).alias("n_tokens"))


def knn_brute_force(spark, sf_dir):
    """Brute-force cosine top-10 against the vec_id=0 embedding — the ANN
    correctness baseline."""
    from feldman_spark.pipeline.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return cosine_topk(e.filter(F.col("vec_id") != 0), q, k=10)


def knn_ivf_exact(spark, sf_dir):
    """IVF at full probe (nprobe == num_centroids) is EXACTLY brute force
    regardless of how k-means assigned the vectors — so the whole IVF
    build/bucket/probe machinery gets a value-level oracle row (the
    pruned-probe variant stays rows-only, as any ANN must)."""
    from feldman_spark.pipeline.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return ivf_topk(e.filter(F.col("vec_id") != 0), q, k=10,
                    num_centroids=8, nprobe=8, iters=2)


def knn_lsh(spark, sf_dir):
    """Hyperplane-LSH bucketed ANN top-10 (1-bit multi-probe). Carries a
    TRUE value-level oracle at any SF: the md5-derived planes are rebuilt
    as SQL literals and DuckDB recomputes signatures + the hamming probe
    filter itself (see _lsh_oracle_sql) — the approximate path's pruning
    decisions are verified row-for-row, not just its exact-probe twin."""
    from feldman_spark.pipeline.similarity import lsh_partitioned_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return lsh_partitioned_topk(e.filter(F.col("vec_id") != 0), q, k=10)


def knn_lsh_exact(spark, sf_dir):
    """LSH at full probe (probe_hamming == num_planes expands to all 2^p
    signatures) is EXACTLY brute force regardless of how the hyperplanes
    bucketed the vectors — so the signature/bucket/probe machinery gets a
    value-level oracle row (the 1-bit-probe variant stays rows-only, as
    any ANN must)."""
    from feldman_spark.pipeline.similarity import lsh_partitioned_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return lsh_partitioned_topk(e.filter(F.col("vec_id") != 0), q, k=10,
                                num_planes=8, probe_hamming=8)


def knn_ivf_index(spark, sf_dir):
    """Build + materialize the IVF index for knn_ivf. In production the
    index is built once, written bucketed by cid, and amortized across
    queries — bench.py calls this OUTSIDE the timed region and reports
    the build cost separately."""
    from feldman_spark.ops.sizing import persist_scoped
    from feldman_spark.pipeline.similarity import ivf_build

    e = _t(spark, sf_dir, "embeddings")
    assigned, cents = ivf_build(
        e.filter(F.col("vec_id") != 0), num_centroids=8, iters=2)
    assigned = persist_scoped(assigned)
    assigned.count()
    return assigned, cents


def knn_ivf(spark, sf_dir, index=None):
    """IVF-flat ANN top-10 (spherical k-means buckets, nprobe=2 of 8).
    Oracle: output pinned at the driver's correctness SF (sf0.01) — the
    xxhash64-seeded k-means is deterministic and session-independent but
    not replicable in DuckDB (see _KNN_IVF_PINNED); machinery exactness
    is proven by knn_ivf_exact's true oracle and recall floors are
    pytest-asserted. ``index`` accepts a prebuilt (assigned, centroids)
    pair from :func:`knn_ivf_index` — the production shape."""
    from feldman_spark.pipeline.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return ivf_topk(e.filter(F.col("vec_id") != 0), q, k=10,
                    num_centroids=8, nprobe=2, iters=2, index=index)


def pq_topk(spark, sf_dir):
    """Product-quantization ADC top-10 (Jégou et al., TPAMI 2011):
    train m=4 × k=16 codebooks on the deterministic xxhash64-ordered
    sample, encode the corpus to 4 small ints per vector, score by
    asymmetric-distance lookup tables. The scan is pure JVM codegen —
    the m LUTs ride the plan as literal arrays, the distance is
    element_at sums, and the top-k plans as TakeOrderedAndProject
    (plan-asserted in tests/test_plans.py) — at 100 TB the scan touches
    m bytes per vector instead of dim floats. Oracle: output pinned at
    the driver's correctness SF (training is deterministic and
    partition-independent, but Lloyd k-means isn't DuckDB-replicable —
    the knn_ivf precedent, _PQ_TOPK_PINNED); machinery exactness is
    carried by ivf_pq_topk's nprobe=C twin relation below plus pytest
    recall floors and the lossless-codebook exactness property
    (feldman_spark/pipeline/similarity.py::pq_train/pq_encode/pq_topk)."""
    from feldman_spark.pipeline.similarity import pq_encode, pq_train
    from feldman_spark.pipeline.similarity import pq_topk as pq_adc_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    base = e.filter(F.col("vec_id") != 0)
    books = pq_train(base, m=4, k=16, iters=8, sample=2048)
    return pq_adc_topk(pq_encode(base, books), books, q, k=10)


def ivf_pq_topk(spark, sf_dir):
    """IVF-PQ at full probe (nprobe == num_centroids): the coarse
    quantizer assigns every vector a cid, PQ codes ride next to it
    (pq_encode carry=['cid'] — the layout ivf_write partitions by, so a
    pruned probe IS partition pruning), and probing ALL buckets makes
    the result EXACTLY pq_topk's regardless of how k-means bucketed the
    vectors — so the whole assign/carry/prune/ADC pipeline shares
    pq_topk's pinned oracle and the driver value-checks the twin
    relation (the knn_ivf_exact precedent). The production pruned probe
    (nprobe < C) stays rows-only, as any ANN must; its recall floors
    are pytest-asserted
    (feldman_spark/pipeline/similarity.py::ivf_pq_topk)."""
    from feldman_spark.pipeline.similarity import (ivf_build, pq_encode,
                                                   pq_train)
    from feldman_spark.pipeline.similarity import ivf_pq_topk as _ivf_pq

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    base = e.filter(F.col("vec_id") != 0)
    assigned, cents = ivf_build(base, num_centroids=8, iters=2)
    books = pq_train(base, m=4, k=16, iters=8, sample=2048)
    enc = pq_encode(assigned, books, carry=["cid"])
    return _ivf_pq(enc, cents, books, q, k=10, nprobe=8)


def _mojify(s: str) -> str:
    """Corrupt ``s`` the way crawls do: UTF-8 bytes re-decoded as
    cp1252 (latin-1 for cp1252's five undefined bytes). Drives the
    text_mojibake fixture from the encodings themselves — the suffix
    literal and its DuckDB twin can't drift apart."""
    out = []
    for ch in s:
        raw = ch.encode("utf-8")
        if len(raw) == 1:
            out.append(ch)
            continue
        try:
            out.append(raw.decode("cp1252"))
        except UnicodeDecodeError:
            out.append(raw.decode("latin-1"))
    return "".join(out)


# every doc gets this mojibake'd tail: smart quote, em-dash, accents,
# guillemets, ellipsis — the classic UTF-8-as-cp1252 artifact family
_MOJI_CLEAN = " don’t — café «quote»…"
_MOJI_SUFFIX = _mojify(_MOJI_CLEAN)


def text_mojibake(spark, sf_dir):
    """Mojibake repair: append a deterministically corrupted tail
    (UTF-8 re-decoded as cp1252 — 'don’t' as 'donâ€™t') to every doc,
    then repair with the literal-replace chain and count the collapsed
    characters. Row-local whole-stage codegen, zero UDFs; the DuckDB
    twin replays the IDENTICAL replace chain (both sides generated from
    MOJIBAKE_TABLE), so this is a true value oracle, md5-checked over
    the full repaired text
    (feldman_spark/pipeline/text.py::fix_mojibake/mojibake_chars)."""
    from feldman_spark.pipeline.text import fix_mojibake, mojibake_chars

    d = _tw(spark, sf_dir, "documents")
    corrupted = F.concat(F.col("text"), F.lit(_MOJI_SUFFIX))
    return d.select(
        "doc_id",
        F.md5(fix_mojibake(corrupted)).alias("fixed_md5"),
        mojibake_chars(corrupted).alias("n_bad"),
    )


def text_script_profile(spark, sf_dir):
    """Unicode-script composition + dominant-script routing: every doc
    gets a deterministic non-Latin tail (Cyrillic / Greek / CJK /
    Arabic by doc_id % 4) so all buckets of the profiler are exercised,
    then per-script letter fractions over literal code-point ranges and
    the first-in-table-tie-break argmax. Counts come from the
    SINGLE-PASS vectorized codepoint histogram (one Arrow UDF pass per
    row, replacing the former six regexp_replace scans — r9 verdict
    item 3); fractions/rounding/argmax stay JVM expressions, so the
    unchanged DuckDB twin still recomputes everything — a true value
    oracle (feldman_spark/pipeline/text.py::with_script_profile/
    SCRIPT_RANGES)."""
    from feldman_spark.pipeline.text import with_script_profile

    d = _tw(spark, sf_dir, "documents")
    tail = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(" Привет мир"))
        .when(F.col("doc_id") % 4 == 1, F.lit(" Γειά σου κόσμε"))
        .when(F.col("doc_id") % 4 == 2, F.lit(" 你好世界 こんにちは"))
        .otherwise(F.lit(" مرحبا بالعالم ×÷"))  # ×÷ must NOT count as latin
    )
    out = with_script_profile(
        d.select("doc_id", F.concat(F.col("text"), tail).alias("_t")),
        F.col("_t"))
    return out.select(
        "doc_id", "latin_frac", "cyrillic_frac", "greek_frac",
        "arabic_frac", "cjk_frac", "dominant_script")


def text_tokens(spark, sf_dir):
    """Token counting per document: whitespace tokens and BPE-ish
    pre-tokenizer pieces (regexp_extract_all — pure column expressions,
    engine-portable pattern)."""
    from feldman_spark.pipeline.text import bpe_token_count, token_count

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )


def events_tumbling(spark, sf_dir):
    """Tumbling 1h event-time windows: count + value sum per (window, type).
    Same plan runs under readStream with a watermark (see
    feldman_spark.streaming.events)."""
    from feldman_spark.streaming.events import tumbling_agg

    return tumbling_agg(_events(spark, sf_dir))


def events_sliding(spark, sf_dir):
    """Sliding 1h/30m event-time windows."""
    from feldman_spark.streaming.events import sliding_agg

    return sliding_agg(_events(spark, sf_dir))


def events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30 min): lag + running-sum session ids."""
    from feldman_spark.streaming.events import sessionize

    return sessionize(_events(spark, sf_dir))


def events_sessionize_native(spark, sf_dir):
    """session_window sessionization (30 min) — the streaming-capable
    formulation (state merge + watermark eviction under readStream,
    pytest-verified); here run in batch for the value-level oracle.
    Boundary: an event exactly gap after its predecessor starts a new
    session (diff >= gap), hence the >= in the oracle's lag form."""
    from feldman_spark.streaming.events import sessionize_native

    return sessionize_native(_events(spark, sf_dir))


def events_interval_join(spark, sf_dir):
    """Stream-stream INTERVAL join (view→click attribution): each view
    matches the same user's clicks in the following 5 minutes. The
    two-sided event-time bound is what makes the join state evictable
    under readStream (feldman_spark/streaming/events.py::interval_join);
    here run in batch for the value-level oracle — the streaming twin
    (two file sources, watermarks, append sink) is pytest-verified in
    tests/test_streaming.py."""
    from feldman_spark.streaming.events import interval_join

    ev = _events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"))
    out = interval_join(views, clicks, key="user_id",
                        left_ts="view_ts", right_ts="click_ts",
                        within="5 minutes")
    return out.select(
        "user_id", "view_id", "click_id",
        (F.col("click_ts").cast("long") - F.col("view_ts").cast("long"))
        .alias("lag_secs"),
    )


def sample_cap_per_source(spark, sf_dir):
    """Per-source document cap (crawl-style domain cap): at most 10 docs
    per source, survivors chosen by the deterministic hash variate so the
    kept set is stable under corpus growth and partitioning."""
    from feldman_spark.pipeline.sampling import cap_per_group

    d = _t(spark, sf_dir, "documents")
    capped = cap_per_group(d, group_col="source", cap=10)
    return capped.select("doc_id", "source", "n_chars")


def pipeline_curate_corpus(spark, sf_dir):
    """End-to-end corpus curation in ONE Spark plan — the composition a
    training-data pipeline actually runs: exact dedup (digest min-id
    survivors over the dup-injected corpus) → Gopher keep gate →
    per-source cap (10) → deterministic train/val/test split → per-split
    stats. Every stage is an already-oracle-checked operator; the oracle
    chains their SQL forms as CTEs."""
    from feldman_spark.pipeline.dedup import exact_dedup
    from feldman_spark.pipeline.sampling import cap_per_group, hash_split
    from feldman_spark.pipeline.text import gopher_quality

    d = _docs_with_dups(spark, sf_dir)
    kept = exact_dedup(d)
    gq = gopher_quality(kept)
    gated = kept.join(gq.filter(F.col("keep")).select("doc_id"),
                      "doc_id", "left_semi")
    capped = cap_per_group(gated, group_col="source", cap=10)
    split = hash_split(capped, key_col="doc_id")
    return (
        split.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").cast("bigint").alias("sum_chars"),
             F.min("doc_id").alias("min_id"))
    )


def j9_asof_join(spark, sf_dir):
    """J9 (beyond-reference): backward as-of join — each 'click' event
    picks the latest at-or-prior 'purchase' by the same user (the
    feature-backfill join of training pipelines). Union + one window
    pass per key, no join in the plan (ops/joins.py::asof_join);
    DuckDB's native ASOF JOIN is the oracle."""
    from feldman_spark.ops.joins import asof_join

    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.round("value", 2).alias("purchase_value"))
    out = asof_join(clicks, purchases, on=["user_id"],
                    right_cols=["purchase_value"])
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("ts_r", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.col("purchase_value_r").alias("purchase_value"))


def j10_salted_join(spark, sf_dir):
    """J10 (beyond-reference): large-large equi-join under two-path key
    salting (ops/skew.py::salted_join): keys above the hot threshold get
    salted left rows + per-bucket right replication, every other key
    takes the normal unsalted join, and the hot-key set broadcasts into
    map-side routing — replication is paid only for the skewed tail,
    not the table. The per-status aggregate must be row-identical to the
    plain join, which IS the oracle — salting is a physical rewrite,
    never a semantic one."""
    from feldman_spark.ops.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice", "l_discount")
    od = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderstatus")
    # orders with 7 lineitems (~1/7 of keys) are 'hot': exercises the
    # hot-salted and cold-unsalted paths plus their union in one query
    j = salted_join(li, od, on=["okey"], buckets=8, hot_threshold=6)
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
         .alias("revenue"))


def media_features(spark, sf_dir):
    """Multimodal plumbing: synthetic binary media rows -> Arrow-batched
    feature extraction (decode itself is stubbed; deterministic fake).
    The input is built in-query (no SF dependence) and the fake-decode is
    pure, so the expected output is pinned as a VALUES oracle
    (_MEDIA_FEATURES_PINNED) — the former pytest-only golden promoted
    into the driver contract."""
    from feldman_spark.pipeline.multimodal import extract_features, media_table

    rows = [
        (i, "image" if i % 3 else "video", "application/octet-stream",
         64, 64, 5000 if i % 3 == 0 else None,
         bytes([(i * 7 + j) % 256 for j in range(64)]))
        for i in range(20)
    ]
    feats = extract_features(media_table(spark, rows))
    # The harness canonicalizes results via pandas sort; an array<double>
    # column is unhashable there, so surface the vector as its JSON form.
    return feats.select(
        "media_id", "kind", "n_bytes",
        F.to_json("features").alias("features_json"))


def media_image_stats(spark, sf_dir):
    """REAL pixel statistics over really-decoded bytes — the upgrade of
    media_features' fake-decode plumbing now that the stdlib codecs
    decode actual PNGs: in-query deterministic payloads (production
    encode_png over seeded gradient arrays, gray/RGB/RGBA, odd sizes)
    → decode_image_bytes → BT.601 luma mean/std + 256-bin histogram
    entropy per image; the undecodable row is dropped per contract.
    Input is SF-independent and the decode is pure, so the expected
    output is pinned as a VALUES oracle (_MEDIA_IMAGE_STATS_PINNED).
    Rows 10/11 carry the SAME pixels as a baseline and a PROGRESSIVE
    JPEG (SOF2 — spectral selection + successive approximation): both
    code identical quantized coefficients, so the driver gate proves
    every round that the progressive decode path reconstructs stats
    bit-identical to the baseline one
    (feldman_spark/pipeline/multimodal.py::image_stats,
    pipeline/codecs.py::decode_png/encode_png/encode_jpeg/decode_jpeg)."""
    import numpy as np

    from feldman_spark.pipeline.codecs import encode_jpeg, encode_png
    from feldman_spark.pipeline.multimodal import image_stats, media_table

    rows = []
    for i in range(8):
        w, h = 8 + i, 6 + (i % 3)
        ch = (1, 3, 4)[i % 3]
        arr = ((np.arange(h * w * ch, dtype=np.int64) * (i + 3)) % 251
               ).astype(np.uint8)
        rows.append((i, "image", "image/png", w, h, None,
                     encode_png(arr.tobytes(), w, h, ch)))
    w, h = 21, 13   # odd size: non-interleaved AC grid != padded MCU grid
    yy, xx = np.mgrid[0:h, 0:w]
    jarr = np.clip(110 + 70 * np.sin(xx / 3.0) + 60 * np.cos(yy * xx / 17.0),
                   0, 255).astype(np.uint8)
    jarr = np.repeat(jarr[:, :, None], 3, axis=2)
    rows.append((10, "image", "image/jpeg", w, h, None,
                 encode_jpeg(jarr.tobytes(), w, h, 3, quality=85)))
    rows.append((11, "image", "image/jpeg", w, h, None,
                 encode_jpeg(jarr.tobytes(), w, h, 3, quality=85,
                             progressive=True)))
    rows.append((99, "image", "image/webp", 4, 4, None, b"not decodable"))
    return image_stats(media_table(spark, rows))


def media_phash_dedup(spark, sf_dir):
    """Perceptual-hash image near-dup — the multimodal analogue of the
    text near-dup family: deterministic in-query payloads where the
    SAME picture arrives as (0) the original PNG, (1) a 2× bilinear
    upscale, (2) a quality-90 JPEG re-encode and (3) a locally-edited
    copy, next to (4) a genuinely different picture, (5) a vertical
    flip (dHash is deliberately NOT flip-invariant) and an undecodable
    payload (dropped per contract). dHash → 4-band bucket join →
    bit_count verify finds exactly the scale/re-encode/edit variants.
    Input is SF-independent and the whole pipeline deterministic, so
    expected pairs are pinned (_MEDIA_PHASH_PINNED)
    (feldman_spark/pipeline/multimodal.py::image_dhash/phash_dedup)."""
    import numpy as np

    from feldman_spark.pipeline.codecs import (encode_jpeg, encode_png,
                                               resize_pixels)
    from feldman_spark.pipeline.multimodal import media_table, phash_dedup

    w, h = 24, 16
    yy, xx = np.mgrid[0:h, 0:w]
    # the x·y cross term keeps the pattern non-separable: a separable
    # f(x)+g(y) image has identical per-row difference bits, which would
    # make dHash accidentally flip-invariant and defang fixture 5
    base = np.clip(
        120 + 90 * np.sin(xx / 4.0) + 50 * np.cos(yy / 3.0)
        + 60 * np.sin(xx * yy / 25.0), 0, 255).astype(np.uint8)
    base = np.repeat(base[:, :, None], 3, axis=2)
    other = np.clip(
        120 + 90 * np.cos(xx / 2.5) - 60 * np.sin(yy / 5.0), 0, 255
    ).astype(np.uint8)
    other = np.repeat(other[:, :, None], 3, axis=2)
    edited = base.copy()
    edited[:6, :8] = np.clip(edited[:6, :8].astype(int) + 80, 0, 255)
    rows = [
        (0, "image", "image/png", w, h, None,
         encode_png(base.tobytes(), w, h, 3)),
        (1, "image", "image/png", 2 * w, 2 * h, None,
         encode_png(resize_pixels(base.tobytes(), w, h, 3, 2 * w, 2 * h),
                    2 * w, 2 * h, 3)),
        (2, "image", "image/jpeg", w, h, None,
         encode_jpeg(base.tobytes(), w, h, 3, quality=90)),
        (3, "image", "image/png", w, h, None,
         encode_png(edited.tobytes(), w, h, 3)),
        (4, "image", "image/png", w, h, None,
         encode_png(other.tobytes(), w, h, 3)),
        (5, "image", "image/png", w, h, None,
         encode_png(base[::-1].copy().tobytes(), w, h, 3)),
        (99, "image", "image/webp", 4, 4, None, b"junk"),
    ]
    return media_phash_pairs(media_table(spark, rows))


def _tone_wav(freqs, rate=8000, dur_per=0.25, amp=0.5):
    """Deterministic PCM WAV: a sequence of equal-length sine tones —
    the synthetic 'melody' the audio-dedup fixture hashes."""
    import io
    import wave

    import numpy as np

    parts = [np.sin(2 * np.pi * f * np.arange(int(rate * dur_per)) / rate)
             * amp for f in freqs]
    samples = (np.concatenate(parts) * 32767).astype(np.int16)
    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(1)
    w.setsampwidth(2)
    w.setframerate(rate)
    w.writeframes(samples.tobytes())
    w.close()
    return buf.getvalue()


def media_audio_dedup(spark, sf_dir):
    """Spectral-fingerprint audio near-dup — the audio leg of the
    multimodal near-dup family (images: media_phash_dedup): the SAME
    melody arrives as (0) the original clip, (1) an amplitude-halved
    copy (sign-of-delta bits are level-invariant up to int16
    quantization ties in empty bands) and (2) a 16 kHz re-render
    (band edges are absolute Hz, slices absolute time), next to (3) a
    different melody and an undecodable payload (dropped). Hashing is
    Haitsma–Kalker sign-of-energy-delta; pairing reuses the SAME banded
    machinery as images — bands=8 keeps recall pigeonhole-EXACT for
    hamming < 8, covering both variants deterministically. Fixture is
    SF-independent and the whole pipeline deterministic → pinned pairs
    (_MEDIA_AUDIO_PINNED)
    (feldman_spark/pipeline/multimodal.py::audio_fingerprint/phash_dedup)."""
    from feldman_spark.pipeline.multimodal import (audio_fingerprint,
                                                   media_table, phash_dedup)

    mel_a = [440, 660, 550, 880, 330, 770, 520, 660]
    mel_b = [220, 990, 260, 700, 880, 250, 610, 430]
    rows = [
        (0, "audio", "audio/wav", None, None, 2000, _tone_wav(mel_a)),
        (1, "audio", "audio/wav", None, None, 2000,
         _tone_wav(mel_a, amp=0.25)),
        (2, "audio", "audio/wav", None, None, 2000,
         _tone_wav(mel_a, rate=16000)),
        (3, "audio", "audio/wav", None, None, 2000, _tone_wav(mel_b)),
        (4, "audio", "audio/wav", None, None, 100, b"RIFFjunk"),
    ]
    fp = audio_fingerprint(media_table(spark, rows))
    return phash_dedup(fp, max_hamming=7, bands=8, hash_col="afp",
                       precomputed=True)


def media_phash_pairs(images):
    """phash_dedup at the registered knobs (bands=4, max_hamming=3 —
    inside the pigeonhole-exact regime, so recall is exact, no
    probabilistic tail in the oracled result)."""
    from feldman_spark.pipeline.multimodal import phash_dedup

    return phash_dedup(images, max_hamming=3, bands=4)


def media_incremental_dedup(spark, sf_dir):
    """Incremental perceptual near-dup against a persisted band store —
    the production shape for a GROWING media corpus (r9 verdict item
    4): batch A (two distinct pictures) bootstraps the store; batch B
    re-crawls a 2× upscale and a JPEG-90 re-encode of A's picture
    (within-batch they cluster to one survivor, which the store check
    then drops against A's stored hash — an EXACT bit_count verify,
    unlike the text band store) plus a genuinely new picture and its
    edited copy (one survivor, kept); batch A re-ingested against the
    grown store keeps NOTHING (idempotent re-ingestion: every item
    collides with its own stored hash at hamming 0). Output is one
    summary row per ingest — deterministic fixture, pinned oracle
    (feldman_spark/pipeline/multimodal.py::media_dedup_incremental/
    media_band_rows)."""
    import numpy as np

    from feldman_spark.pipeline.codecs import (encode_jpeg, encode_png,
                                               resize_pixels)
    from feldman_spark.pipeline.multimodal import (media_dedup_incremental,
                                                   media_table)

    w, h = 24, 16
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.clip(
        120 + 90 * np.sin(xx / 4.0) + 50 * np.cos(yy / 3.0)
        + 60 * np.sin(xx * yy / 25.0), 0, 255).astype(np.uint8)
    base = np.repeat(base[:, :, None], 3, axis=2)
    other = np.clip(
        120 + 90 * np.cos(xx / 2.5) - 60 * np.sin(yy / 5.0), 0, 255
    ).astype(np.uint8)
    other = np.repeat(other[:, :, None], 3, axis=2)
    third = np.clip(
        100 + 80 * np.sin(yy / 2.0) + 70 * np.cos(xx * yy / 40.0), 0, 255
    ).astype(np.uint8)
    third = np.repeat(third[:, :, None], 3, axis=2)
    edited = third.copy()
    edited[:6, :8] = np.clip(edited[:6, :8].astype(int) + 80, 0, 255)

    def png(arr, ww=w, hh=h):
        return encode_png(arr.tobytes(), ww, hh, 3)

    batch_a = media_table(spark, [
        (0, "image", "image/png", w, h, None, png(base)),
        (4, "image", "image/png", w, h, None, png(other)),
    ])
    batch_b = media_table(spark, [
        (10, "image", "image/png", 2 * w, 2 * h, None,
         encode_png(resize_pixels(base.tobytes(), w, h, 3, 2 * w, 2 * h),
                    2 * w, 2 * h, 3)),
        (11, "image", "image/jpeg", w, h, None,
         encode_jpeg(base.tobytes(), w, h, 3, quality=90)),
        (12, "image", "image/png", w, h, None, png(third)),
        (13, "image", "image/png", w, h, None, png(edited)),
        (99, "image", "image/webp", 4, 4, None, b"junk"),
    ])

    kept_a, store = media_dedup_incremental(batch_a, None)
    kept_b, delta_b = media_dedup_incremental(batch_b, store)
    kept_a2, _ = media_dedup_incremental(
        batch_a, store.unionByName(delta_b))

    def summarize(label, kept):
        return kept.agg(
            F.lit(label).alias("batch"),
            F.count("*").alias("n_kept"),
            F.array_join(F.array_sort(F.collect_list(
                F.col("media_id").cast("string"))), ",").alias("kept_ids"),
        )

    return (summarize("A_bootstrap", kept_a)
            .unionByName(summarize("B_recrawl", kept_b))
            .unionByName(summarize("A_reingest", kept_a2))
            .select("batch", "n_kept", "kept_ids"))


def _survivors_quality_oracle_sql() -> str:
    """dedup_survivors_best as SQL: the components walk (see
    :func:`_components_oracle_sql`) plus per-cluster max-quality /
    min-id-tiebreak winner selection and the victim anti-join."""
    pairs_sql = _PIPELINE_ORACLES["dedup_minhash_lsh"]
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        edges AS (
          SELECT doc1 AS a, doc2 AS b FROM pairs
          UNION
          SELECT doc2, doc1 FROM pairs
        ),
        walk(id, lab) AS (
          SELECT DISTINCT a, a FROM edges
          UNION
          SELECT e.a, w.lab FROM edges e JOIN walk w ON w.id = e.b
        ),
        comp AS (SELECT id AS doc_id, min(lab) AS cluster_id
                 FROM walk GROUP BY id),
        docs AS (SELECT doc_id, CAST(doc_id * 37 % 101 AS BIGINT) AS q
                 FROM {_DOCS_DUP_SQL}),
        ranked AS (SELECT c.doc_id, c.cluster_id, d.q
                   FROM comp c JOIN docs d ON c.doc_id = d.doc_id),
        mq AS (SELECT cluster_id, max(q) AS qmax
               FROM ranked GROUP BY cluster_id),
        best AS (SELECT r.cluster_id, min(r.doc_id) AS keep
                 FROM ranked r JOIN mq ON r.cluster_id = mq.cluster_id
                                      AND r.q = mq.qmax
                 GROUP BY r.cluster_id),
        victims AS (SELECT r.doc_id
                    FROM ranked r JOIN best b ON r.cluster_id = b.cluster_id
                    WHERE r.doc_id != b.keep)
        SELECT d.doc_id, d.q FROM docs d
        WHERE d.doc_id NOT IN (SELECT doc_id FROM victims)
    """


def _near_inc_oracle_sql() -> str:
    """minhash_dedup_incremental as SQL: band rows for history and
    batch (same md5 minhash family as the dedup_minhash_lsh oracle),
    within-batch verified pairs → components walk → min-id survivors,
    store hits via a (band, bh) semi-join, both dropped from the
    batch."""
    sig_cols = ", ".join(
        "list_min(list_transform(shingles, s -> md5(s || '#%d'))) AS h%d"
        % (j, j) for j in range(9))

    def bands(src: str) -> str:
        return f"""(
          WITH s AS (
            SELECT doc_id,
                   list_transform(range(1, len(w) - 1),
                                  i -> array_to_string(w[i:i+2], ' ')) AS shingles
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {src})
            WHERE len(w) >= 3
          ),
          g AS (SELECT doc_id, {sig_cols} FROM s)
          SELECT doc_id, 0 AS band, md5(h0 || '|' || h1 || '|' || h2) AS bh FROM g
          UNION ALL
          SELECT doc_id, 1, md5(h3 || '|' || h4 || '|' || h5) FROM g
          UNION ALL
          SELECT doc_id, 2, md5(h6 || '|' || h7 || '|' || h8) FROM g
        )"""

    return f"""
        WITH RECURSIVE
        hist AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
        batch AS (
          SELECT doc_id, text FROM documents WHERE doc_id >= 250
          UNION ALL
          SELECT doc_id + 100000, text FROM documents WHERE doc_id < 5
          UNION ALL
          SELECT doc_id + 200000, text FROM documents
          WHERE doc_id >= 250 AND doc_id < 255
        ),
        hbands AS (SELECT * FROM {bands('hist')} t),
        bbands AS (SELECT * FROM {bands('batch')} t),
        bsh AS (
          SELECT doc_id,
                 list_transform(range(1, len(w) - 1),
                                i -> array_to_string(w[i:i+2], ' ')) AS shingles
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM batch)
          WHERE len(w) >= 3
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
          FROM bbands a JOIN bbands b ON a.band = b.band AND a.bh = b.bh
                                     AND a.doc_id < b.doc_id
        ),
        pairs AS (
          SELECT doc1, doc2 FROM cand
          JOIN bsh s1 ON s1.doc_id = doc1
          JOIN bsh s2 ON s2.doc_id = doc2
          WHERE CAST(len(list_intersect(list_distinct(s1.shingles),
                                        list_distinct(s2.shingles))) AS DOUBLE)
                / len(list_distinct(list_concat(s1.shingles, s2.shingles)))
                >= 0.2
        ),
        edges AS (
          SELECT doc1 AS a, doc2 AS b FROM pairs
          UNION
          SELECT doc2, doc1 FROM pairs
        ),
        walk(id, lab) AS (
          SELECT DISTINCT a, a FROM edges
          UNION
          SELECT e.a, w.lab FROM edges e JOIN walk w ON w.id = e.b
        ),
        comp AS (SELECT id, min(lab) AS lab FROM walk GROUP BY id),
        victims AS (SELECT id AS doc_id FROM comp WHERE id != lab),
        hits AS (
          SELECT DISTINCT b.doc_id
          FROM bbands b JOIN hbands h ON b.band = h.band AND b.bh = h.bh
        )
        SELECT doc_id FROM batch
        WHERE doc_id NOT IN (SELECT doc_id FROM victims)
          AND doc_id NOT IN (SELECT doc_id FROM hits)
    """


def _components_oracle_sql() -> str:
    """Connected components of the minhash pair graph as a recursive CTE:
    ``walk`` enumerates every (node, reachable-node) pair over the
    symmetric edge set (UNION gives set semantics, so it terminates);
    the component label is the minimum reachable id."""
    pairs_sql = _PIPELINE_ORACLES["dedup_minhash_lsh"]
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        edges AS (
          SELECT doc1 AS a, doc2 AS b FROM pairs
          UNION
          SELECT doc2, doc1 FROM pairs
        ),
        walk(id, lab) AS (
          SELECT DISTINCT a, a FROM edges
          UNION
          SELECT e.a, w.lab FROM edges e JOIN walk w ON w.id = e.b
        )
        SELECT id AS doc_id, min(lab) AS cluster_id FROM walk GROUP BY id
    """


def _w1_oracle_sql() -> str:
    """W1's affine recurrence (feldman.py:195-233) as a DuckDB recursive
    CTE over the same literal inputs as :func:`w1_splice_scan`: each row's
    shift depends on the previous row's *shifted* bottom (TIE), the
    user gap (APPEND+gap), the previous affine (intra-hole APPEND), or the
    scaled-depth gap (inter-hole APPEND), with APPEND overlap repair.
    State carried row→row mirrors the scan loop exactly: previous affine,
    previous shifted bottom, previous row's SpliceType/Gap/Hole and scaled
    bottom."""
    # raw affine choice, parameterized over the previous-row state (s) and
    # the current enriched row (e) — repeated once more for overlap repair
    raw = """CASE
          WHEN s.sptype = 'TIE' THEN s.bot_ccsf - e.shift_top
          WHEN s.sptype = 'APPEND' AND s.gap IS NOT NULL
            THEN (s.bot_ccsf + s.gap) - e.shift_top
          WHEN s.sptype = 'APPEND' AND e.hole = s.hole THEN s.affine
          WHEN s.sptype = 'APPEND'
            THEN (s.bot_ccsf - e.shift_top) + (e.shift_top_scaled - s.bot_scaled)
        END"""
    return f"""
        WITH RECURSIVE
        secsumm AS (
          SELECT h.hole, CAST(c.c AS VARCHAR) AS core, CAST(x.s AS VARCHAR) AS sec,
                 round(((c.c - 1) * 3 + (x.s - 1)) * 1.5, 3) AS sec_top,
                 round(((c.c - 1) * 3 + (x.s - 1)) * 1.5 * 1.01, 3) AS sec_top_scaled
          FROM (VALUES ('A'), ('B')) h(hole),
               (VALUES (1), (2), (3)) c(c),
               (VALUES (1), (2), (3)) x(s)
        ),
        sparse(site, hole, core, topsection, topoffset,
               bottomsection, bottomoffset, splicetype, gap, idx) AS (
          VALUES
            ('1', 'A', '1', '1', 10.0, '2', 120.0, 'TIE',    CAST(NULL AS DOUBLE), 0),
            ('1', 'B', '1', '1', 30.0, '2', 100.0, 'TIE',    NULL, 1),
            ('1', 'A', '2', '1',  0.0, '3', 140.0, 'APPEND', 0.5,  2),
            ('1', 'B', '2', '2',  5.0, '3', 130.0, 'APPEND', NULL, 3),
            ('1', 'A', '3', '1',  0.0, '2', 110.0, 'TIE',    NULL, 4)
        ),
        enriched AS (
          SELECT sp.*,
                 st.sec_top + sp.topoffset / 100.0 AS shift_top,
                 st.sec_top_scaled + sp.topoffset / 100.0 AS shift_top_scaled,
                 sb.sec_top + sp.bottomoffset / 100.0 AS shift_bot,
                 sb.sec_top_scaled + sp.bottomoffset / 100.0 AS shift_bot_scaled
          FROM sparse sp
          JOIN secsumm st ON st.hole = sp.hole AND st.core = sp.core
                         AND st.sec = sp.topsection
          JOIN secsumm sb ON sb.hole = sp.hole AND sb.core = sp.core
                         AND sb.sec = sp.bottomsection
        ),
        scan(idx, hole, affine, bot_ccsf, sptype, gap, bot_scaled) AS (
          SELECT idx, hole, CAST(0.0 AS DOUBLE), shift_bot, splicetype, gap,
                 shift_bot_scaled
          FROM enriched WHERE idx = 0
          UNION ALL
          SELECT e.idx, e.hole,
                 CASE WHEN s.sptype = 'APPEND'
                        AND s.bot_ccsf > e.shift_top + ({raw})
                      THEN s.bot_ccsf - e.shift_top
                      ELSE ({raw}) END,
                 e.shift_bot +
                 (CASE WHEN s.sptype = 'APPEND'
                         AND s.bot_ccsf > e.shift_top + ({raw})
                       THEN s.bot_ccsf - e.shift_top
                       ELSE ({raw}) END),
                 e.splicetype, e.gap, e.shift_bot_scaled
          FROM scan s JOIN enriched e ON e.idx = s.idx + 1
        )
        SELECT e.site AS "Site", e.hole AS "Hole", e.core AS "Core",
               e.topsection AS "TopSection", e.bottomsection AS "BottomSection",
               e.splicetype AS "SpliceType",
               round(e.shift_top, 3) AS "TopDepthCSF",
               round(e.shift_top + s.affine, 3) AS "TopDepthCCSF",
               round(e.shift_bot, 3) AS "BottomDepthCSF",
               round(e.shift_bot + s.affine, 3) AS "BottomDepthCCSF"
        FROM scan s JOIN enriched e ON e.idx = s.idx
    """


def _curate_oracle_sql() -> str:
    """The curation pipeline as chained CTEs: dedup (row_number over
    md5(text)), the Gopher gate (same expressions as the
    text_gopher_quality oracle), the variate-ordered per-source cap, and
    the hash-split stats — each stage the SQL twin of its Spark
    operator."""
    return f"""
        WITH dedup AS (
          SELECT doc_id, source, n_chars, text FROM (
            SELECT d.*, row_number() OVER (PARTITION BY md5(text)
                                           ORDER BY doc_id ASC) AS _rn
            FROM {_DOCS_DUP_SQL} d
          ) WHERE _rn = 1
        ),
        t AS (
          SELECT doc_id, source, n_chars, text,
                 string_split(text, chr(10)) AS lines,
                 regexp_split_to_array(trim(text), '\\s+') AS toks,
                 CAST(CASE WHEN trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                      AS BIGINT) AS n_tokens,
                 len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                 len(regexp_replace(text, '[^ ]', '', 'g')) AS spaces,
                 CAST(len(text) AS BIGINT) AS nc
          FROM dedup
        ),
        g AS (
          SELECT doc_id, source, n_chars, n_tokens,
                 round(1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
                       / len(lines), 4) AS dup_line_frac,
                 CASE WHEN len(toks) < 3 THEN 0.0 ELSE
                   round(1.0 - CAST(len(list_distinct(
                           list_transform(range(1, len(toks) - 1),
                                          i -> array_to_string(toks[i:i+2], ' '))))
                         AS DOUBLE) / (len(toks) - 2), 4) END AS dup_ngram_frac,
                 CASE WHEN n_tokens <= 0 THEN 0.0 ELSE
                   round(CAST(list_max(list_transform(list_distinct(toks),
                           x -> len(list_filter(toks, u -> u = x))))
                         AS DOUBLE) / n_tokens, 4) END AS top_token_frac,
                 round(CAST(nc - spaces AS DOUBLE)
                       / CAST(greatest(n_tokens, 1) AS DOUBLE), 4) AS avg_token_len,
                 round(CAST(alpha AS DOUBLE)
                       / CAST(greatest(nc, 1) AS DOUBLE), 4) AS alpha_ratio
          FROM t
        ),
        gated AS (
          SELECT doc_id, source, n_chars FROM g
          WHERE n_tokens >= 50 AND n_tokens <= 100000
            AND dup_line_frac <= 0.30 AND dup_ngram_frac <= 0.50
            AND top_token_frac <= 0.20
            AND avg_token_len >= 3.0 AND avg_token_len <= 10.0
            AND alpha_ratio >= 0.60
        ),
        capped AS (
          SELECT doc_id, source, n_chars FROM (
            SELECT *, row_number() OVER (PARTITION BY source
              ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || '#cap'), 1, 8) ASC,
                       doc_id ASC) AS rk
            FROM gated
          ) WHERE rk <= 10
        )
        SELECT CASE
                 WHEN substr(md5(doc_id::VARCHAR || '#split'), 1, 8) < 'e6666666'
                   THEN 'train'
                 WHEN substr(md5(doc_id::VARCHAR || '#split'), 1, 8) < 'f3333333'
                   THEN 'val'
                 ELSE 'test'
               END AS split,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS min_id
        FROM capped GROUP BY split
    """


def _fuzzy_dedup_oracle_sql() -> str:
    """End-to-end fuzzy dedup: components of the minhash pair graph,
    victims = non-minimum members, survivors aggregated per language."""
    pairs_sql = _PIPELINE_ORACLES["dedup_minhash_lsh"]
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        edges AS (
          SELECT doc1 AS a, doc2 AS b FROM pairs
          UNION
          SELECT doc2, doc1 FROM pairs
        ),
        walk(id, lab) AS (
          SELECT DISTINCT a, a FROM edges
          UNION
          SELECT e.a, w.lab FROM edges e JOIN walk w ON w.id = e.b
        ),
        comp AS (SELECT id, min(lab) AS lab FROM walk GROUP BY id),
        victims AS (SELECT id FROM comp WHERE id <> lab),
        kept AS (
          SELECT * FROM {_DOCS_DUP_SQL} d
          WHERE d.doc_id NOT IN (SELECT id FROM victims)
        )
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS min_id
        FROM kept GROUP BY lang
    """


def _simhash_oracle_sql() -> str:
    bits = []
    for j in range(1, 33):
        bits.append(
            "CASE WHEN 2 * len(list_filter(w, t -> strpos('89abcdef', "
            f"substr(md5(t), {j}, 1)) > 0)) > len(w) THEN '1' ELSE '0' END")
    concat = " || ".join(bits)
    return (
        "SELECT doc_id, (" + concat + ") AS simhash "
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)")


def _lang_id_oracle_sql() -> str:
    from feldman_spark.pipeline.text import STOPWORDS

    def score(lang):
        ws = ", ".join("'" + w + "'" for w in STOPWORDS[lang])
        return f"len(list_filter(toks, t -> t IN ({ws})))"

    langs = list(STOPWORDS)
    best, best_score = f"'{langs[0]}'", score(langs[0])
    for lang in langs[1:]:
        s = score(lang)
        best = f"CASE WHEN {s} > {best_score} THEN '{lang}' ELSE {best} END"
        best_score = f"CASE WHEN {s} > {best_score} THEN {s} ELSE {best_score} END"
    return (
        f"SELECT doc_id, lang, CASE WHEN {best_score} > 0 THEN {best} ELSE 'en' END AS predicted "
        "FROM (SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks "
        "FROM documents)")

def _lsh_oracle_sql(num_planes: int = 8, dim: int = 64,
                    probe_hamming: int = 1, k: int = 10) -> str:
    """TRUE value-level oracle for the pruned-probe LSH path: the md5-derived
    hyperplanes (similarity.py::hyperplane_signature) are reproduced as ±1
    literal arrays at SQL-build time, each row's signature is recomputed in
    DuckDB, and the probe filter is the equivalent hamming-distance bound.
    Valid at any SF — nothing is pinned; only the plane construction (pure
    Python md5, identical on both sides) is shared."""
    import hashlib

    def sign(p: int, d: int) -> str:
        h = hashlib.md5(f"ivf:{p}:{d}".encode()).hexdigest()
        return "1.0" if int(h[0], 16) >= 8 else "-1.0"

    sig = " || ".join(
        "CASE WHEN list_dot_product(e, ["
        + ", ".join(sign(p, d) for d in range(dim))
        + "]) >= 0 THEN '1' ELSE '0' END"
        for p in range(num_planes)
    )
    hamming = " + ".join(
        f"CASE WHEN substr(s, {p + 1}, 1) <> substr(q.qs, {p + 1}, 1) THEN 1 ELSE 0 END"
        for p in range(num_planes)
    )
    return f"""
        WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        sig AS (SELECT vec_id, e, ({sig}) AS s FROM emb),
        q AS (SELECT e AS qe, s AS qs, sqrt(list_dot_product(e, e)) AS qn
              FROM sig WHERE vec_id = 0),
        cand AS (
          SELECT vec_id,
                 round(list_dot_product(e, q.qe)
                       / (CASE WHEN sqrt(list_dot_product(e, e)) = 0 THEN 1.0
                               ELSE sqrt(list_dot_product(e, e)) END * q.qn),
                       6) AS cosine
          FROM sig, q
          WHERE vec_id <> 0 AND ({hamming}) <= {probe_hamming}
        )
        SELECT vec_id, cosine,
               CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
        FROM cand ORDER BY cosine DESC, vec_id ASC LIMIT {k}
    """


# knn_ivf's k-means seeding uses Spark's xxhash64, which DuckDB cannot
# reproduce — so its oracle is the output PINNED at the driver's
# correctness SF (sf0.01). The pin is safe: the build is deterministic
# (hash-picked seeds, fixed iterations) and session-independent
# (verified across local[8]/local[32] × 8/32 shuffle partitions).
# Exactness of the machinery itself is separately proven by
# knn_ivf_exact's true oracle; recall floors are pytest-asserted.
_KNN_IVF_PINNED = """
        SELECT vec_id, CAST(cosine AS DOUBLE) AS cosine, rank
        FROM (VALUES
            (365, 0.369994, 1),
            (387, 0.331139, 2),
            (423, 0.296934, 3),
            (7, 0.292842, 4),
            (190, 0.281795, 5),
            (388, 0.276301, 6),
            (323, 0.256455, 7),
            (344, 0.252487, 8),
            (415, 0.237975, 9),
            (229, 0.2302, 10)
        ) AS t(vec_id, cosine, rank)
    """

# pq_topk / ivf_pq_topk: training (xxhash64-ordered sample, deterministic
# Lloyd k-means) is session- and partition-independent but not
# DuckDB-replicable, so the sf0.01 output is pinned (knn_ivf precedent).
# BOTH keys point at this one oracle: ivf_pq_topk at nprobe=C must equal
# pq_topk exactly, so the driver value-checks the twin relation itself.
_PQ_TOPK_PINNED = """
        SELECT vec_id, CAST(adc_dist AS DOUBLE) AS adc_dist, rank
        FROM (VALUES
            (235, 0.985786, 1),
            (232, 1.002694, 2),
            (32, 1.011373, 3),
            (227, 1.012193, 4),
            (261, 1.017134, 5),
            (318, 1.021349, 6),
            (200, 1.021457, 7),
            (219, 1.022651, 8),
            (164, 1.034857, 9),
            (201, 1.043356, 10)
        ) AS t(vec_id, adc_dist, rank)
    """

# media_phash_dedup: SF-independent deterministic fixture; expected
# near-dup pairs pinned. 0=original, 1=2x upscale (hamming 0), 2=jpeg
# re-encode (1 bit), 3=edited copy (3 bits); the different picture (4),
# the vertical flip (5) and the undecodable payload never pair.
_MEDIA_PHASH_PINNED = """
        SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
               CAST(hamming AS BIGINT) AS hamming
        FROM (VALUES
            (0, 1, 0),
            (0, 2, 1),
            (0, 3, 3),
            (1, 2, 1),
            (1, 3, 3)
        ) AS t(id_a, id_b, hamming)
    """

# media_audio_dedup: deterministic spectral fingerprints; pinned pairs.
# 0=original melody, 1=amplitude-halved (3 tie-bits in empty bands),
# 2=16kHz re-render (6 bits); the different melody (3, hamming 37) and
# the undecodable payload never pair.
_MEDIA_AUDIO_PINNED = """
        SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
               CAST(hamming AS BIGINT) AS hamming
        FROM (VALUES
            (0, 1, 3),
            (0, 2, 6),
            (1, 2, 3)
        ) AS t(id_a, id_b, hamming)
    """

# media_incremental_dedup: deterministic fixture, pinned per-ingest
# summaries. Bootstrap keeps both distinct pictures; the re-crawl's two
# variants of picture 0 cluster within-batch and the survivor drops
# against the store (exact bit_count verify), the new picture survives
# its edited copy; re-ingesting batch A keeps nothing (idempotent).
_MEDIA_INCREMENTAL_PINNED = """
        SELECT batch, CAST(n_kept AS BIGINT) AS n_kept, kept_ids
        FROM (VALUES
            ('A_bootstrap', 2, '0,4'),
            ('B_recrawl',   1, '12'),
            ('A_reingest',  0, '')
        ) AS t(batch, n_kept, kept_ids)
    """

# web_robots_filter: SF-independent adversarial fixture, deterministic
# evaluation -> expected verdicts pinned; each row's verdict is
# hand-derivable from RFC 9309 (see the query docstring for which rule
# each page exercises)
_WEB_ROBOTS_PINNED = """
        SELECT page_id, url, crawl_allowed FROM (VALUES
            (CAST(1 AS BIGINT), 'http://a.com/private/secret', false),
            (2, 'http://a.com/private/public/x', true),
            (3, 'https://A.COM/page?sessionid=abc', false),
            (4, 'http://a.com/files/doc.pdf', false),
            (5, 'http://a.com/files/doc.pdfx', true),
            (6, 'http://a.com/docs/internal/x', false),
            (7, 'http://a.com/docs/guide', true),
            (8, 'http://b.com/bot-only/page', false),
            (9, 'http://b.com/star/x', true),
            (10, 'http://c.com/open/secret', false),
            (11, 'http://c.com/open/secret/more', true),
            (12, 'http://c.com/tiex', true),
            (13, 'http://c.com/anything', true),
            (14, 'http://d.com/whatever', true),
            (15, 'http://e.com/x', true),
            (16, 'http://a.com/page?other=1&sessionid=2', true),
            (17, 'http://a.com?sessionid=x', false)
        ) AS t(page_id, url, crawl_allowed)
    """

# media_features' input is a synthetic in-query table (no SF dependence)
# and its fake-decode path is pure — the expected output is pinned as a
# VALUES oracle, promoting the pytest golden into the driver contract.
_MEDIA_FEATURES_PINNED = """
        SELECT * FROM (VALUES
            (0, 'video', 64, '[0.698039,0.827451,0.960784,0.419608,0.756863,0.592157,0.992157,0.596078]'),
            (1, 'image', 64, '[0.254902,0.890196,0.529412,0.345098,0.105882,0.937255,0.007843,0.098039]'),
            (2, 'image', 64, '[0.180392,0.066667,0.780392,0.482353,0.756863,0.32549,0.701961,0.517647]'),
            (3, 'video', 64, '[0.662745,0.164706,0.964706,0.509804,0.65098,0.741176,0.333333,0.403922]'),
            (4, 'image', 64, '[0.686275,0.968627,0.717647,0.435294,0.760784,0.713725,0.819608,0.058824]'),
            (5, 'image', 64, '[0.85098,0.160784,0.313725,0.576471,0.537255,0.329412,0.870588,0.298039]'),
            (6, 'video', 64, '[0.078431,0.058824,0.858824,0.819608,0.047059,0.670588,0.733333,0.035294]'),
            (7, 'image', 64, '[0.690196,0.141176,0.513725,0.188235,0.368627,0.631373,0.258824,0.772549]'),
            (8, 'image', 64, '[0.282353,0.776471,0.066667,0.72549,0.133333,0.701961,0.407843,0.647059]'),
            (9, 'video', 64, '[0.156863,0.756863,0.317647,0.203922,0.627451,0.305882,0.188235,0.47451]'),
            (10, 'image', 64, '[0.494118,0.32549,0.501961,0.176471,0.192157,0.964706,0.705882,0.45098]'),
            (11, 'image', 64, '[0.2,0.611765,0.392157,0.964706,0.968627,0.937255,0.094118,0.721569]'),
            (12, 'video', 64, '[0.184314,0.756863,0.454902,0.34902,0.705882,0.658824,0.513725,0.105882]'),
            (13, 'image', 64, '[0.145098,0.003922,0.023529,0.654902,0.576471,0.227451,0.576471,0.807843]'),
            (14, 'image', 64, '[0.984314,0.960784,0.054902,0.584314,0.207843,0.015686,0.396078,0.301961]'),
            (15, 'video', 64, '[0.596078,0.070588,0.505882,0.694118,0.568627,0.247059,0.647059,0.682353]'),
            (16, 'image', 64, '[0.023529,0.47451,0.623529,0.654902,0.227451,0.239216,0.705882,0.470588]'),
            (17, 'image', 64, '[0.713725,0.784314,0.788235,0.52549,0.215686,0.772549,0.329412,0.682353]'),
            (18, 'video', 64, '[0.917647,0.517647,0.584314,0.611765,0.768627,0.121569,1.0,0.278431]'),
            (19, 'image', 64, '[0.745098,0.180392,0.180392,0.184314,0.443137,0.2,0.317647,0.886275]')
        ) AS t(media_id, kind, n_bytes, features_json)
    """


# real-decode pixel stats over deterministic in-query PNGs: pure decode,
# SF-independent input -> pinned expected VALUES (media_features pattern);
# the casts matter: bare VALUES floats parse as DECIMAL in DuckDB and
# would hash-mismatch Spark's doubles
_MEDIA_IMAGE_STATS_PINNED = """
        SELECT CAST(media_id AS BIGINT) AS media_id,
               CAST(width AS BIGINT) AS width,
               CAST(height AS BIGINT) AS height,
               CAST(channels AS BIGINT) AS channels,
               CAST(mean_luma AS DOUBLE) AS mean_luma,
               CAST(std_luma AS DOUBLE) AS std_luma,
               CAST(entropy AS DOUBLE) AS entropy
        FROM (VALUES
            (0, 8, 6, 1, 70.5, 41.560197, 5.584963),
            (1, 9, 7, 3, 124.26, 72.668196, 5.97728),
            (2, 10, 8, 4, 121.03105, 70.593343, 6.296928),
            (3, 11, 6, 1, 103.727273, 68.139684, 6.044394),
            (4, 12, 7, 3, 123.864357, 72.028805, 6.392317),
            (5, 13, 8, 4, 123.311394, 69.340954, 6.681209),
            (6, 14, 6, 1, 122.5, 72.70431, 6.392317),
            (7, 15, 7, 3, 123.408343, 67.065362, 6.67615),
            -- 10 = baseline JPEG, 11 = PROGRESSIVE JPEG of the same
            -- pixels: identical quantized coefficients, so the stats
            -- must match bit-for-bit (the progressive-decode proof)
            (10, 21, 13, 3, 121.25641, 65.132777, 7.145206),
            (11, 21, 13, 3, 121.25641, 65.132777, 7.145206)
        ) AS t(media_id, width, height, channels,
               mean_luma, std_luma, entropy)
    """


_PIPELINE_ORACLES = {
    "dedup_exact": f"""
        SELECT min(doc_id) AS keep_id, count(*) AS copies
        FROM {_DOCS_DUP_SQL} GROUP BY md5(text)
    """,
    "dedup_minhash_lsh": f"""
        WITH base AS (SELECT * FROM {_DOCS_DUP_SQL}),
        sh AS (
          SELECT doc_id,
                 list_transform(range(1, len(w) - 1),
                                i -> array_to_string(w[i:i+2], ' ')) AS shingles
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM base)
          WHERE len(w) >= 3
        ),
        sig AS (
          SELECT doc_id, shingles,
                 {', '.join(
                     "list_min(list_transform(shingles, s -> md5(s || '#%d'))) AS h%d" % (j, j)
                     for j in range(9))}
          FROM sh
        ),
        bands AS (
          SELECT doc_id, 0 AS band, md5(h0 || '|' || h1 || '|' || h2) AS bh FROM sig
          UNION ALL
          SELECT doc_id, 1, md5(h3 || '|' || h4 || '|' || h5) FROM sig
          UNION ALL
          SELECT doc_id, 2, md5(h6 || '|' || h7 || '|' || h8) FROM sig
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
          FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
                                   AND a.doc_id < b.doc_id
        )
        SELECT doc1, doc2,
               round(CAST(len(list_intersect(list_distinct(s1.shingles),
                                             list_distinct(s2.shingles))) AS DOUBLE)
                     / len(list_distinct(list_concat(s1.shingles, s2.shingles))), 4)
                 AS jaccard
        FROM cand
        JOIN sh s1 ON s1.doc_id = doc1
        JOIN sh s2 ON s2.doc_id = doc2
        WHERE CAST(len(list_intersect(list_distinct(s1.shingles),
                                      list_distinct(s2.shingles))) AS DOUBLE)
              / len(list_distinct(list_concat(s1.shingles, s2.shingles))) >= 0.2
    """,
    "dedup_simhash": None,  # filled below from _simhash_oracle_sql()
    "dedup_ngram_jaccard": """
        WITH g AS (
          SELECT doc_id, lang,
                 list_distinct(list_transform(range(1, len(text) - 3),
                                              i -> substr(text, i, 5))) AS grams
          FROM documents WHERE lang = 'de' AND len(text) >= 5
        )
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
               round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                     / (len(a.grams) + len(b.grams)
                        - len(list_intersect(a.grams, b.grams))), 4) AS jaccard
        FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
              / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5
    """,
    "dedup_embedding_cosine": """
        WITH base AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 20
        ),
        v AS (
          SELECT vec_id, embedding::DOUBLE[] AS e,
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
          FROM base
        )
        SELECT a.vec_id AS id1, b.vec_id AS id2,
               round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.99
    """,
    "text_quality": """
        WITH f AS (
          SELECT doc_id,
                 CAST(len(text) AS BIGINT) AS n_chars,
                 CAST(CASE WHEN trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)
                   AS n_tokens,
                 len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                 len(regexp_replace(text, '[^ ]', '', 'g')) AS spaces,
                 len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     t -> lower(t) IN ('the','a','of','and','to','in','is'))) AS stop_hits
          FROM documents
        ),
        q AS (
          SELECT doc_id, n_chars, n_tokens,
                 round(CAST(n_chars - spaces AS DOUBLE)
                       / CAST(greatest(n_tokens, 1) AS DOUBLE), 4) AS avg_token_len,
                 round(CAST(alpha AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE), 4)
                   AS alpha_ratio,
                 round(CAST(stop_hits AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE), 4)
                   AS stopword_ratio
          FROM f
        )
        SELECT doc_id, n_chars, n_tokens, avg_token_len, alpha_ratio, stopword_ratio,
               round(0.3 * (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END)
                   + 0.3 * (CASE WHEN avg_token_len >= 2.0 AND avg_token_len <= 12.0
                            THEN 1.0 ELSE 0.0 END)
                   + 0.2 * alpha_ratio
                   + 0.2 * least(stopword_ratio * 5, 1.0), 4) AS quality_score
        FROM q
    """,
    "text_lang_id": None,  # filled below from _lang_id_oracle_sql()
    "text_fingerprint": """
        SELECT doc_id,
               md5(trim(array_to_string(regexp_split_to_array(lower(text),
                                        '[^a-z0-9]+'), ' '))) AS fp,
               CAST(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)
                 AS n_tokens
        FROM documents
    """,
    "knn_brute_force": """
        WITH q AS (SELECT embedding::DOUBLE[] AS qe,
                          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qn
                   FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT vec_id,
                 round(list_dot_product(embedding::DOUBLE[], q.qe)
                       / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * q.qn),
                       6) AS cosine
          FROM embeddings, q WHERE vec_id != 0
        )
        SELECT vec_id, cosine,
               CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
        FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
    "knn_ivf_exact": """
        WITH q AS (SELECT embedding::DOUBLE[] AS qe,
                          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qn
                   FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT vec_id,
                 round(list_dot_product(embedding::DOUBLE[], q.qe)
                       / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * q.qn),
                       6) AS cosine
          FROM embeddings, q WHERE vec_id != 0
        )
        SELECT vec_id, cosine,
               CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
        FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
    # full-probe LSH == brute force; same oracle as knn_brute_force
    "knn_lsh_exact": """
        WITH q AS (SELECT embedding::DOUBLE[] AS qe,
                          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qn
                   FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT vec_id,
                 round(list_dot_product(embedding::DOUBLE[], q.qe)
                       / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * q.qn),
                       6) AS cosine
          FROM embeddings, q WHERE vec_id != 0
        )
        SELECT vec_id, cosine,
               CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rank
        FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """,
    "events_tumbling": """
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M') AS window_start,
               event_type, count(*) AS n, round(sum(value), 2) AS value_sum
        FROM events GROUP BY 1, 2
    """,
    "events_sliding": """
        SELECT strftime(ws, '%Y-%m-%d %H:%M') AS window_start, count(*) AS n
        FROM (
          SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws FROM events
          UNION ALL
          SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE FROM events
        ) GROUP BY ws
    """,
    "events_sessionize": """
        WITH flagged AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR date_diff('second', lag(ts) OVER w, ts) > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
        ),
        ids AS (
          SELECT user_id, ts, value,
                 CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_id
          FROM flagged
        )
        SELECT user_id, session_id, count(*) AS n_events,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               round(sum(value), 2) AS value_sum
        FROM ids GROUP BY user_id, session_id
    """,
    "pipeline_curate_corpus": _curate_oracle_sql(),
    "sample_cap_per_source": """
        SELECT doc_id, source, n_chars
        FROM (
          SELECT doc_id, source, n_chars,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || '#cap'), 1, 8) ASC,
                            doc_id ASC) AS rk
          FROM documents
        ) WHERE rk <= 10
    """,
    "j9_asof_join": """
        SELECT c.event_id, c.user_id,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               round(p.value, 2) AS purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    "events_sessionize_native": """
        WITH flagged AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_session
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
        ),
        ids AS (
          SELECT user_id, ts, value,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged
        )
        SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               count(*) AS n_events, round(sum(value), 2) AS value_sum
        FROM ids GROUP BY user_id, sid
    """,
}




def p7_parse_section_id(spark, sf_dir):
    """P7/C8/C10: synthesize LacCore-style section IDs from supplier keys,
    then parse them back into identity columns (coring/identity.py:74-103)
    — round-trips the compound-id machinery."""
    from feldman_spark.ops.identity import parse_section_id

    su = _t(spark, sf_dir, "supplier")
    sid = F.concat(
        F.lit("GLAD9-PET06-"),
        (F.col("s_nationkey") + 1).cast("string"),
        F.expr("char(65 + s_suppkey % 3)"),
        F.lit("-"),
        (F.col("s_suppkey") + 1).cast("string"),
        F.lit("H-"),
        (F.col("s_suppkey") % 5 + 1).cast("string"),
    )
    parsed = parse_section_id(sid)
    return su.select(
        "s_suppkey",
        parsed["site"].alias("site"),
        parsed["hole"].alias("hole"),
        parsed["core"].alias("core"),
        parsed["tool"].alias("tool"),
        parsed["section"].alias("section"),
    )




def q12_shipmode(spark, sf_dir):
    """Q12 shape: conditional aggregation over a join (CASE inside SUM)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01"))
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


def q14_promo_effect(spark, sf_dir):
    """Q14 shape: ratio of conditional to total aggregate (prefix
    predicate over p_type; the synthetic data has S-prefixed types)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01"))
    pa = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("S"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .agg(F.round(F.sum(promo) * 100.0 / F.sum(rev), 6).alias("promo_revenue_pct"))
    )


def q18_large_volume(spark, sf_dir):
    """Q18 shape: HAVING over a grouped subquery feeding a join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cu), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            _r2(F.col("o_totalprice")).alias("o_totalprice"),
            _r2(F.col("total_qty")).alias("total_qty"),
        )
    )


def q19_disjunctive(spark, sf_dir):
    """Q19 shape: disjunction of conjunctive predicates across a join —
    exercises Catalyst's predicate normalization/pushdown."""
    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("l_quantity").between(1, 11)
         & (F.col("p_size") <= 5))
        | ((F.col("p_brand") == "Brand#2") & F.col("l_quantity").between(10, 20)
           & (F.col("p_size") <= 10))
        | ((F.col("p_brand") == "Brand#3") & F.col("l_quantity").between(20, 30)
           & (F.col("p_size") <= 15))
    )
    return j.filter(cond).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
    )


def q17_avg_subquery(spark, sf_dir):
    """Q17 shape: correlated-style comparison against a per-group average
    (decorrelated as a join against the aggregated subquery)."""
    li = _t(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("p_key")).agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg"))
    return (
        li.join(F.broadcast(avg_qty), F.col("l_partkey") == F.col("p_key"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


# --------------------------------------------------------------------------
# Remaining TPC-H classics, adapted to the synthetic schema (no partsupp
# table, no commit/receipt dates, no phone/comment columns — each query
# keeps the classic's *plan shape* and notes the substitution).
# --------------------------------------------------------------------------

def q2_min_cost_supplier(spark, sf_dir):
    """Q2 shape: correlated min subquery (min-cost supplier per part),
    decorrelated as a window-min over the part partition. partsupp is
    absent, so supply cost is derived as min unit price observed in
    lineitem per (part, supplier)."""
    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cost = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.round(F.min(F.col("l_extendedprice") / F.col("l_quantity")), 4).alias("cost"))
    )
    eur = (
        su.join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(re), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    pc = (
        cost.join(F.broadcast(eur), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("p_partkey"), "s_name", "n_name", "cost")
    )
    w = Window.partitionBy("p_partkey")
    return (
        pc.withColumn("min_cost", F.min("cost").over(w))
        .filter(F.col("cost") == F.col("min_cost"))
        .select("s_name", "n_name", "p_partkey", "cost")
    )


def q4_order_priority(spark, sf_dir):
    """Q4 shape: EXISTS semi-join from orders into lineitem with a
    non-equi residual (no commitdate column — 'late' is shipdate more
    than 60 days after the order date)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01"))
    li = _t(spark, sf_dir, "lineitem")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q7_volume_shipping(spark, sf_dir):
    """Q7 shape: nation-pair volume between two nations in either
    direction, grouped by (supp_nation, cust_nation, year)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01"))
    o = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    su = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )


def q8_market_share(spark, sf_dir):
    """Q8 shape: market share of one supplier nation within a consumer
    region per year — ratio of conditional to total aggregate over a
    six-table join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01"))
    cu = _t(spark, sf_dir, "customer")
    su = _t(spark, sf_dir, "supplier")
    pa = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    tgt = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(re), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(F.round(F.sum(tgt) / F.sum(vol), 6).alias("mkt_share"))
    )


def q9_product_profit(spark, sf_dir):
    """Q9 shape: profit per (supplier nation, year) over a five-table
    join. partsupp is absent, so unit cost is proxied by a fixed fraction
    of p_retailprice."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    su = _t(spark, sf_dir, "supplier")
    pa = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    na = _t(spark, sf_dir, "nation")
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - F.col("p_retailprice") * 0.1 * F.col("l_quantity"))
    return (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(F.round(F.sum(profit), 4).alias("sum_profit"))
    )


def q11_important_stock(spark, sf_dir):
    """Q11 shape: per-part value with a HAVING threshold computed as a
    scalar subquery over the same data (fraction of total). Value is
    derived from lineitem (sum price*qty) for suppliers of one nation;
    the scalar total is cross-joined as a broadcast literal row."""
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    base = (
        li.join(F.broadcast(
            su.join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey")), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_partkey", (F.col("l_extendedprice") * F.col("l_quantity")).alias("v"))
    )
    per_part = base.groupBy("l_partkey").agg(F.sum("v").alias("value"))
    total = base.agg((F.sum("v") * 0.001).alias("threshold"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select("l_partkey", F.round("value", 4).alias("value"))
    )


def q13_customer_distribution(spark, sf_dir):
    """Q13 shape: left outer join + two-level aggregation (orders per
    customer, then customers per order count). The comment-pattern filter
    becomes a priority filter."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    return (
        cu.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q15_top_supplier(spark, sf_dir):
    """Q15 shape: aggregate view + scalar-max equality (the top supplier
    by quarterly revenue, ties kept)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01"))
    su = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
             .alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(su), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q16_supplier_cnt(spark, sf_dir):
    """Q16 shape: distinct-supplier count per part attribute group with a
    NOT-IN supplier exclusion. partsupp is absent — part-supplier pairs
    come from lineitem; the exclusion list is negative-balance suppliers."""
    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    # the distinct-count's irreducible shuffle is ~|distinct pairs| rows;
    # key it by an 8-byte attribute hash instead of the brand/type/size
    # strings and join the strings back onto the 1.7k-row result — the
    # fact-side shuffle carries 16 bytes/row end-to-end (an xxhash64
    # attr-tuple collision, ~|attrs|²/2⁶⁴, would merge two groups)
    attr = F.xxhash64("p_brand", "p_type", "p_size")
    pa_keyed = pa.select("p_partkey", attr.alias("_ak"))
    attrs = pa.select(attr.alias("_ak"), "p_brand", "p_type", "p_size").distinct()
    return (
        li.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"),
                "left_anti")
        .join(F.broadcast(pa_keyed), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("_ak")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .join(F.broadcast(attrs), "_ak")
        .select("p_brand", "p_type", "p_size", "supplier_cnt")
    )


def q20_potential_promotion(spark, sf_dir):
    """Q20 shape: semi-join chain — suppliers of one nation whose 1996
    shipped quantity of small-type parts exceeds a threshold (availqty
    comparison adapted: no partsupp table)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01"))
    pa = _t(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    qualified = (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
    )
    return (
        su.join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .join(qualified, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


def q21_waiting_supplier(spark, sf_dir):
    """Q21 shape: EXISTS + NOT-EXISTS against the same fact table —
    suppliers whose lineitem was the only late one in a multi-supplier
    finished order. 'Late' is shipdate > orderdate + 30 days (no
    commit/receipt dates in the synthetic schema)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_4")
    late_all = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "l_suppkey",
                (F.col("l_shipdate") > F.col("o_orderdate")
                 + F.expr("INTERVAL 30 DAYS")).alias("_late"))
    )
    # EXISTS/NOT-EXISTS as ONE per-order aggregate over the joined rows
    # (r10 opt round; formerly two aggregates + two semi joins over a
    # twice-computed late_all). For an F order every lineitem survives
    # the join, so 'another supplier exists' is min(supp) != max(supp)
    # over the joined rows — identical to the old full-lineitem multi
    # check restricted to F orders, the only ones that could qualify —
    # and 'no OTHER supplier late' is min == max over the late-flagged
    # rows. Because a qualifying order's late rows all carry that one
    # supplier, the old count of late_all rows per s_name is exactly
    # sum of the per-order late counts: the final three-way semi join
    # over 44M late rows collapses into this aggregate's output (~15M
    # one-row-per-order rows). lineitem is clustered by orderkey, so
    # the partial min/max/sum collapse locally and the join exchange is
    # the only corpus-wide shuffle left (isolated sf20 A/B: 29.6 s ->
    # 9.6 s, identical 46-row output by xxhash64 row-set checksum).
    late_supp = F.when(F.col("_late"), F.col("l_suppkey"))
    stats = (
        late_all.groupBy("l_orderkey")
        .agg(F.min("l_suppkey").alias("_mn"),
             F.max("l_suppkey").alias("_mx"),
             F.min(late_supp).alias("_lo"),
             F.max(late_supp).alias("_hi"),
             F.sum(F.when(F.col("_late"), 1).otherwise(0)).alias("_cnt"))
    )
    return (
        stats.filter((F.col("_mn") != F.col("_mx"))
                     & (F.col("_lo") == F.col("_hi")))
        .join(F.broadcast(
            su.join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "s_name")),
            F.col("_lo") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("_cnt").cast("bigint").alias("numwait"))
    )


def q22_global_sales(spark, sf_dir):
    """Q22 shape: anti-join against orders plus a scalar-subquery average
    threshold. The phone country code becomes c_custkey % 7, and 'has no
    orders' becomes 'has no urgent orders' (every synthetic customer has
    orders, which would make the classic predicate trivially empty)."""
    cu = _t(spark, sf_dir, "customer").withColumn(
        "cntrycode", (F.col("c_custkey") % 7).cast("bigint"))
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    codes = [0, 1, 2, 3]
    pool = cu.filter(F.col("cntrycode").isin(codes))
    avg_bal = pool.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal"))
    return (
        pool.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(F.count(F.lit(1)).alias("numcust"),
             _r2(F.sum("c_acctbal")).alias("totacctbal"))
    )




# shared literal splice-side tables for the oracle-checked E2 query --------
_E2_SIT = [
    # (Site, Hole, Core, top_csf_off, bot_csf_off, offset) — interval spans
    # sections 1-3 of the core; depths relative to the core top (4.5 m cores)
    (s, "A", c, 0.5, 3.5, round(s * 0.1 + c * 0.01, 2))
    for s in (1, 2, 3) for c in (1, 2, 3, 4, 5, 6)
]
_E2_AFFINE = [
    (s, h, c, round(s * 0.05 + c * 0.02, 2))
    for s in (1, 2, 3) for h, cores in (("B", range(1, 9)), ("A", range(7, 10)))
    for c in cores
]


def feldman_e2_export(spark, sf_dir):
    """The E2 splice-export centerpiece, oracle-checked end to end: a
    synthetic measurement table (size-matched to lineitem, generated with
    integer arithmetic DuckDB reproduces exactly) classified against
    literal SIT/affine tables via feldman_spark.export.splice_export —
    on-splice containment, off-splice affine fallback, unwritten exclusion
    — aggregated per (On-Splice, Site)."""
    from feldman_spark.export import splice_export

    # fixture sizing only: the row count comes from the parquet FOOTERS
    # (the same metadata the scan planner reads; num_rows is exact, not
    # an estimate) — the former .count() ran a full Spark job per
    # invocation before the query proper even started. Handles both the
    # driver's single-file tables and Spark-written directories.
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/lineitem.parquet"
    files = ([path] if os.path.isfile(path) else
             [os.path.join(path, f) for f in os.listdir(path)
              if f.endswith(".parquet")])
    n = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    md = (
        spark.range(n)
        .withColumn("Site", (F.col("id") % 3 + 1).cast("string"))
        .withColumn("Hole", F.expr("char(65 + (id div 3) % 2)"))
        .withColumn("CoreN", (F.col("id") * 7 % 12 + 1))
        .withColumn("Core", F.col("CoreN").cast("string"))
        .withColumn("Section", (F.col("id") % 3 + 1).cast("string"))
        .withColumn("depth", ((F.col("CoreN") - 1) * 4.5
                              + (F.col("id") * 37 % 450) / 100.0))
        .withColumn("Tool", F.lit("H"))
        .drop("CoreN")
    )
    sit = spark.createDataFrame(
        [(str(s), h, str(c), "1", "3",
          (c - 1) * 4.5 + t, (c - 1) * 4.5 + t + off,
          (c - 1) * 4.5 + b, (c - 1) * 4.5 + b + off)
         for (s, h, c, t, b, off) in _E2_SIT],
        "Site string, Hole string, Core string, TopSection string, "
        "BottomSection string, TopDepthCSF double, TopDepthCCSF double, "
        "BottomDepthCSF double, BottomDepthCCSF double")
    affine = spark.createDataFrame(
        [(str(s), h, str(c), off) for (s, h, c, off) in _E2_AFFINE],
        "Site string, Hole string, Core string, Offset double")
    res = splice_export(md, affine, sit, "depth")
    return (
        res.spliced.groupBy(F.col("On-Splice").alias("flag"), "Site")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("Splice Depth"), 2).alias("sd"))
    )


def _e2_oracle_sql() -> str:
    sit_vals = ", ".join(
        "('{}','{}','{}',{},{},{})".format(
            s, h, c, (c - 1) * 4.5 + t, (c - 1) * 4.5 + b, off)
        for (s, h, c, t, b, off) in _E2_SIT)
    aff_vals = ", ".join(
        "('{}','{}','{}',{})".format(s, h, c, off) for (s, h, c, off) in _E2_AFFINE)
    return f"""
        WITH md AS (
          SELECT CAST(range % 3 + 1 AS VARCHAR) AS site,
                 chr(65 + CAST((range // 3) % 2 AS INT)) AS hole,
                 CAST(range * 7 % 12 + 1 AS VARCHAR) AS core,
                 (range * 7 % 12) * 4.5 + (range * 37 % 450) / 100.0 AS depth
          FROM (SELECT unnest(generate_series(0, (SELECT count(*) FROM lineitem) - 1)) AS range)
        ),
        sit(site, hole, core, topcsf, botcsf, off) AS (VALUES {sit_vals}),
        aff(site, hole, core, aoff) AS (VALUES {aff_vals}),
        on_rows AS (
          SELECT md.site, md.depth + sit.off AS sd
          FROM md JOIN sit ON md.site = sit.site AND md.hole = sit.hole
                          AND md.core = sit.core
                          AND md.depth BETWEEN sit.topcsf AND sit.botcsf
        ),
        off_rows AS (
          SELECT md.site, md.depth + aff.aoff AS sd
          FROM md JOIN aff ON md.site = aff.site AND md.hole = aff.hole
                          AND md.core = aff.core
          WHERE NOT EXISTS (
            SELECT 1 FROM sit WHERE md.site = sit.site AND md.hole = sit.hole
                                AND md.core = sit.core
                                AND md.depth BETWEEN sit.topcsf AND sit.botcsf)
        )
        SELECT flag, site AS Site, count(*) AS n, round(sum(sd), 2) AS sd
        FROM (SELECT 'splice' AS flag, * FROM on_rows
              UNION ALL SELECT 'off-splice', * FROM off_rows)
        GROUP BY flag, site
    """




def a7_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (beyond-reference
    aggregate; Spark percentile() and DuckDB quantile_cont share the
    linear-interpolation definition)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("q1_qty"),
    )




def a8_rollup(spark, sf_dir):
    """Beyond-reference aggregate: hierarchical ROLLUP with grouping-id
    flags (Spark-native grouping sets; the reference has no multi-level
    aggregation at all)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"),
             _r2(F.sum("l_quantity")).alias("sum_qty"),
             F.grouping_id().cast("bigint").alias("gid"))
    )


def a9_sketch_distinct(spark, sf_dir):
    """Sketch-based distinct counting: HyperLogLog++
    (approx_count_distinct) per order priority, asserted within 5% of
    the exact count inside the query. The 100 TB path for cardinality:
    one pass, fixed-size mergeable registers, and the register merge is
    a commutative max — the estimate is deterministic under ANY
    partitioning/AQE plan, unlike order-sensitive sketches. The exact
    count (a full distinct shuffle) rides along as the oracle-checked
    ground truth; the within-bound flag pins the sketch's accuracy
    contract at every SF rather than a pinned value at one."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("exact_custs"),
            F.approx_count_distinct("o_custkey", 0.02).alias("_approx"),
        )
        .select(
            "o_orderpriority", "exact_custs",
            (F.abs(F.col("_approx") - F.col("exact_custs"))
             / F.col("exact_custs") <= 0.05).alias("within_5pct"),
        )
    )


def u2_unpivot(spark, sf_dir):
    """Wide→long reshape (unpivot/melt): lineitem's three price
    components become (metric, value) rows — the inverse of
    pivot_returnflag, Spark-native (no explode-of-struct-array idiom),
    aggregated per metric so the contract output is small at any SF."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "metric", "value")
    return (
        long.groupBy("metric")
        .agg(F.count(F.lit(1)).alias("n"),
             _r2(F.sum("value")).alias("value_sum"),
             _r2(F.avg("value")).alias("value_avg"))
    )


def pipeline_dedup_stats(spark, sf_dir):
    """Composite training-data pipeline: fingerprint-dedup the corpus
    (formatting-insensitive md5, keep lowest doc_id), then per-language
    document and token statistics — the fingerprint/dedup/token operators
    composed end-to-end in one plan.

    Scale shape: token counts are computed BEFORE the dedup shuffle, so
    the fingerprint-keyed exchange moves one ~40-byte (id, lang, counts)
    struct per document and the winner is a map-side-combinable
    ``min(struct)`` — the former ``row_number`` window shuffled and
    sorted the full TEXT of every copy, and a viral fingerprint
    duplicated millions of times would have landed on one reducer
    (same de-skew rule as paragraph_dedup). The ~dup-fraction of wasted
    pre-shuffle token counting is noise against not moving the corpus."""
    from feldman_spark.pipeline.text import bpe_token_count, fingerprint, token_count

    d = _t(spark, sf_dir, "documents")
    slim = d.select(
        fingerprint(F.col("text")).alias("_fp"),
        F.struct(
            F.col("doc_id"), F.col("lang"),
            token_count(F.col("text")).alias("_ws"),
            bpe_token_count(F.col("text")).alias("_bpe"),
        ).alias("_row"))
    kept = slim.groupBy("_fp").agg(F.min("_row").alias("_w"))
    return (
        kept.groupBy(F.col("_w.lang").alias("lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("_w._ws").alias("ws_tokens"),
             F.sum("_w._bpe").alias("bpe_tokens"))
    )


def sample_split(spark, sf_dir):
    """Deterministic train/val/test split by key hash (md5-prefix
    variate — stable under corpus growth, engine-portable), summarized
    per split."""
    from feldman_spark.pipeline.sampling import hash_split

    d = _t(spark, sf_dir, "documents")
    return (
        hash_split(d, "doc_id").groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("sum_chars"))
    )


def sample_fraction(spark, sf_dir):
    """Deterministic 10% sample by key hash — reproducible across runs,
    engines, and repartitioning (unlike DataFrame.sample)."""
    from feldman_spark.pipeline.sampling import hash_sample

    d = _t(spark, sf_dir, "documents")
    return hash_sample(d, "doc_id", 0.1).select("doc_id", "lang")


def sample_mix(spark, sf_dir):
    """Weighted dataset mixing: two sources (here: slices of documents by
    source column) deterministically downsampled to different rates and
    tagged — plan-level union, no shuffle."""
    from feldman_spark.pipeline.sampling import weighted_mix

    d = _t(spark, sf_dir, "documents")
    mixed = weighted_mix(
        {"even": (d.filter(F.col("doc_id") % 2 == 0), 0.5),
         "odd": (d.filter(F.col("doc_id") % 2 == 1), 0.9)},
        "doc_id", source_col="mix_src")
    return (
        mixed.groupBy("mix_src")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("doc_id").alias("id_sum"))
    )


def profile_documents(spark, sf_dir):
    """One-pass table profile (nulls, exact cardinality, min/max per
    column) over documents — the data-quality analyze step; exact mode
    so DuckDB reproduces it."""
    from feldman_spark.pipeline.profile import profile_table

    d = _t(spark, sf_dir, "documents")
    return profile_table(d, columns=["doc_id", "lang", "source", "n_chars"],
                         exact=True)


def decontaminate_corpus(spark, sf_dir):
    """Benchmark decontamination: training docs sharing any 5-word
    shingle with the (deterministic) eval slice are dropped; the eval
    shingle set broadcasts, the corpus side is one scan."""
    from feldman_spark.pipeline.dedup import decontaminate

    d = _t(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    return decontaminate(corpus, ev, n=5).select("doc_id").orderBy("doc_id")


def decontaminate_semantic_q(spark, sf_dir):
    """Semantic (embedding-space) decontamination: corpus vectors with
    cosine >= 0.95 to any eval vector are dropped — catches reworded
    eval leakage that shares no n-gram with the benchmark. Exact copies
    of the eval slice are injected (vec_id+100000) so the drop
    verifiably fires; the eval matrix ships in the mapInPandas closure
    and the corpus is one scan, zero shuffles
    (feldman_spark/pipeline/dedup.py::decontaminate_semantic)."""
    from feldman_spark.pipeline.dedup import decontaminate_semantic

    e = _t(spark, sf_dir, "embeddings")
    ev = e.filter(F.col("vec_id") % 50 == 0)
    contaminated = ev.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label")
    corpus = e.filter(F.col("vec_id") % 50 != 0).unionByName(contaminated)
    out = decontaminate_semantic(corpus, ev, threshold=0.95)
    return out.select("vec_id").orderBy("vec_id")


def pivot_returnflag(spark, sf_dir):
    """Beyond-reference reshape: groupBy().pivot() — wide conditional
    aggregation with explicit pivot values (no extra pass to discover
    them, the scale-safe form)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(_r2(F.sum("l_quantity")))
    )


def doc_embedding_join(spark, sf_dir):
    """Cross-table pipeline join: documents to their embeddings
    (doc_id = vec_id), per-label corpus stats including the embedding L2
    norm computed JVM-side with higher-order functions."""
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    norm = F.sqrt(F.aggregate(
        F.transform("embedding", lambda x: x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x * x))
    return (
        e.join(d, e["vec_id"] == d["doc_id"])
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg(norm), 4).alias("avg_norm"),
             F.sum("n_chars").alias("sum_chars"))
    )


def text_gopher_quality(spark, sf_dir):
    """Gopher-style repetition + quality gating (Rae et al. 2021 A1.1):
    duplicate-line / duplicate-3-gram / modal-token fractions and the
    keep/drop verdict, per document — the relational stream-aggregate
    form (text.py::gopher_quality / repetition_metrics: exploded codegen
    streams + hash aggregates, ~40× the row-local HOF form at sf1, which
    remains the pytest twin)."""
    from feldman_spark.pipeline.text import gopher_quality

    d = _t(spark, sf_dir, "documents")
    return gopher_quality(d).select(
        "doc_id", "dup_line_frac", "dup_ngram_frac", "top_token_frac",
        F.col("keep").cast("int").alias("keep"))


def events_stream_dedup(spark, sf_dir):
    """Stateful streaming dedup (applyInPandasWithState): first occurrence
    of each key wins, later copies are suppressed. Copies are colocated
    per file (repartition by key) so the per-key n_dupes emission is
    batch-layout-independent and oracle-checkable.

    CUSTOM-STATE DEMO, not the dedup scale path: applyInPandasWithState
    invokes the Python state function once PER KEY (~6 min at sf1's 1M
    keys — see the cardinality contract in streaming/stateful.py).
    Production dedup is `events_stream_dedup_native`
    (dropDuplicatesWithinWatermark, JVM state, 38× here); this query
    stays registered because the per-key n_dupes counter is exactly the
    kind of custom per-key logic the native operator cannot express."""
    from feldman_spark.streaming.events import run_stream_to_memory
    from feldman_spark.streaming.stateful import streaming_dedup

    # the bounded slice IS the contract: applyInPandasWithState costs a
    # Python call per key, so the demo keys stay <= 20k at any SF (the
    # sf0.01 gate has 10k events, all inside the bound — results there
    # are unchanged); unbounded dedup is events_stream_dedup_native
    e = _events(spark, sf_dir).select(
        "event_id", "event_type", "user_id").filter(F.col("event_id") < 20000)
    dups = e.filter(F.col("event_id") < 300)
    staging = "/root/repo/.tmp/events_stream_dedup_src"
    (e.unionByName(dups).repartition(2, F.col("event_id"))
     .write.mode("overwrite").parquet(staging))
    schema = spark.read.parquet(staging).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        run_stream_to_memory(streaming_dedup(stream),
                             "events_stream_dedup_sink", output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table("events_stream_dedup_sink")


def events_stream_dedup_native(spark, sf_dir):
    """Streaming dedup with Spark's NATIVE dropDuplicatesWithinWatermark
    (streaming/events.py::dedup_native) — the corpus-scale path: JVM
    state store, no per-key Python (the applyInPandasWithState twin pays
    a Python call per key: 380 s vs ~4 s at sf1's 1M-key stream). Run as
    a real two-micro-batch readStream; injected duplicate rows are
    byte-identical, so the appended output must equal SELECT DISTINCT.
    The 90-day horizon exceeds the staged stream's 30-day span: no row is
    late and no state evicts mid-run — in production the horizon is the
    business dedup window and bounds state."""
    from feldman_spark.streaming.events import dedup_native, run_stream_to_memory

    e = _events(spark, sf_dir).select("event_id", "event_type", "user_id", "ts")
    dups = e.filter(F.col("event_id") < 300)
    staging = "/root/repo/.tmp/events_stream_dedup_native_src"
    (e.unionByName(dups).repartition(2, F.col("event_id"))
     .write.mode("overwrite").parquet(staging))
    schema = spark.read.parquet(staging).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        run_stream_to_memory(
            dedup_native(stream, keys=["event_id"], watermark="90 days"),
            "events_stream_dedup_native_sink", output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table("events_stream_dedup_native_sink").select(
        "event_id", "event_type", "user_id")


def pack_examples(spark, sf_dir):
    """Concat-and-chunk sequence packing: each document's [token, example]
    span in a 2048-token-per-example training layout (one window cumsum —
    feldman_spark/pipeline/training.py, shard_col parallelizes at scale)."""
    from feldman_spark.pipeline.text import token_count
    from feldman_spark.pipeline.training import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("nt"))
    return pack_sequences(d, "nt", capacity=2048).select(
        "doc_id", "tok_start", "tok_end",
        "first_example", "last_example", "n_examples")


def text_tfidf_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document (tf · ln(N/df), two hash
    aggregations + window rank; ties broken lexicographically)."""
    from feldman_spark.pipeline.training import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def text_scrub_pii(spark, sf_dir):
    """PII scrubbing over documents with injected email/URL/phone text on
    every 7th doc: per-type hit counts + scrubbed length (pure
    regexp_replace/regexp_count cascade, engine-portable patterns)."""
    from feldman_spark.pipeline.text import scrub_pii

    d = _t(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.col("text"), F.lit(
            " contact bob@example.com or https://ex.com/a?b=1 or 415-555-0199 now")),
    ).otherwise(F.col("text"))
    s = scrub_pii(injected)
    return d.select(
        "doc_id",
        s["n_email"].alias("n_email"),
        s["n_url"].alias("n_url"),
        s["n_digit_run"].alias("n_digit_run"),
        F.length(s["scrubbed"]).cast("bigint").alias("scrubbed_len"),
    )


def text_strip_html(spark, sf_dir):
    """Crawl-ingestion HTML→text: each document wrapped in an HTML
    template (script/style blocks, tags, entities) and recovered by the
    pure-column-expression extractor — the WARC payload cleanup step,
    engine-portable regex cascade
    (feldman_spark/pipeline/text.py::strip_html; source:
    feldman_spark/io/warc.py::read_warc)."""
    from feldman_spark.pipeline.text import strip_html

    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><head><script type="text/javascript">var t = 1 < 2;'
              '</script><style>p { color: red; }</style><title>'),
        F.col("source"),
        F.lit("</title></head><body><h1>Doc &amp; more</h1><p>"),
        F.col("text"),
        F.lit("</p>&nbsp;<br/>fin</body></html>"),
    )
    return d.select("doc_id", strip_html(html).alias("text"))


def events_json_props(spark, sf_dir):
    """Semi-structured handling: parse the events JSON props column
    (from_json with an explicit schema — no inference pass at scale) and
    aggregate on an extracted field."""
    e = _events(spark, sf_dir)
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    return (
        e.withColumn("k", k)
        .groupBy("event_type", (F.col("k") % 10).alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("k").alias("k_sum"),
             _r2(F.sum("value")).alias("value_sum"))
    )


def events_running_totals(spark, sf_dir):
    """Custom stateful streaming (applyInPandasWithState keyed state):
    the events parquet is driven through a REAL readStream micro-batch
    run of streaming_running_totals into a memory sink; the returned
    batch DataFrame is the final per-user emission, which must equal the
    batch groupBy oracle. Ref: feldman_spark/streaming/stateful.py."""
    from feldman_spark.streaming.events import run_stream_to_memory
    from feldman_spark.streaming.stateful import streaming_running_totals

    staging = _stage_events(spark, sf_dir, ["user_id", "value"], "run_tot")
    schema = spark.read.parquet(staging).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    # scope the state-shuffle width to the key cardinality (~150 users):
    # a stock session's 200 partitions would pay ~2s of task overhead per
    # micro-batch for no parallelism gain
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        run_stream_to_memory(streaming_running_totals(stream),
                             "events_running_totals_sink", output_mode="update")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    upd = spark.table("events_running_totals_sink")
    # running totals are monotone in n_events: the final emission per key
    # is the row with the largest n_events (robust to multi-batch runs)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        upd.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events",
                F.col("value_sum").cast("double").alias("value_sum"))
    )


def events_running_totals_native(spark, sf_dir):
    """Per-key running totals as a NATIVE update-mode streaming
    aggregation (streaming/events.py::running_totals_native): the same
    real multi-micro-batch readStream as the applyInPandasWithState twin
    above, but state lives in the JVM state store and keys never touch
    Python — the unbounded-key scale path (the dedup_native precedent:
    per-key Python measured 380 s vs ~4 s native at sf1's key count).
    Final per-key emission must equal the batch groupBy oracle."""
    from feldman_spark.streaming.events import (
        run_stream_to_memory, running_totals_native)

    staging = _stage_events(spark, sf_dir, ["user_id", "value"], "run_tot")
    schema = spark.read.parquet(staging).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        run_stream_to_memory(running_totals_native(stream),
                             "events_running_totals_native_sink",
                             output_mode="update")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    upd = spark.table("events_running_totals_native_sink")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        upd.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "value_sum")
    )


def dedup_paragraphs(spark, sf_dir):
    """Span-level (paragraph) dedup, RefinedWeb/MassiveText style: keep
    each distinct 20-word span's first corpus-wide occurrence and
    reassemble documents from the survivors — subsumes exact doc dedup
    and strips cross-document boilerplate. One bounded-key shuffle for
    first-occurrence, one id shuffle for reassembly
    (feldman_spark/pipeline/dedup.py::paragraph_dedup)."""
    from feldman_spark.pipeline.dedup import paragraph_dedup

    d = _t(spark, sf_dir, "documents")
    return paragraph_dedup(d, id_col="doc_id", text_col="text", chunk_words=20)


# exactly 20 words, so it occupies exactly one 20-word span and every
# src0 document sheds it as chunk 0 without disturbing later chunk
# boundaries
_BOILERPLATE_20W = (
    "terms of service all rights reserved this page is copyright "
    "protected do not redistribute without permission thank you kindly friend"
)


def dedup_frequent_spans(spark, sf_dir):
    """Corpus-level frequent-span removal, CCNet/RefinedWeb line-dedup
    policy: spans occurring >2 times corpus-wide are boilerplate and are
    stripped from EVERY document (no first-occurrence survivor — the
    policy difference vs dedup_paragraphs). A 20-word license header is
    injected onto every src0 document so the boilerplate band verifiably
    fires on synthetic word-salad; each src0 doc loses exactly that span
    (feldman_spark/pipeline/dedup.py::remove_frequent_spans)."""
    from feldman_spark.pipeline.dedup import remove_frequent_spans

    d = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("source") == "src0",
            F.concat(F.lit(_BOILERPLATE_20W + " "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    return remove_frequent_spans(
        d, id_col="doc_id", text_col="text", chunk_words=20, max_count=2)


def j11_binned_range_join(spark, sf_dir):
    """Large×large interval join with NO equi key — the case the
    broadcast containment join (J1) cannot cover: every customer matched
    to every supplier whose [s_acctbal, s_acctbal+500] band contains
    c_acctbal, then per-supplier match count and balance sum. Domain
    binning (width = the 500 band span) turns the range predicate into a
    shuffled equi-join on the bin id with ~2x interval replication —
    never a BroadcastNestedLoopJoin
    (feldman_spark/ops/joins.py::binned_range_join)."""
    from feldman_spark.ops.joins import binned_range_join

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.col("s_acctbal").alias("lo"),
        (F.col("s_acctbal") + 500.0).alias("hi"),
    )
    out = binned_range_join(cust, supp, "c_acctbal", "lo", "hi", bin_width=500.0)
    return (
        out.groupBy("s_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cust"),
            F.bround(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
    )


def j11_range_join_bounded(spark, sf_dir):
    """The OUTPUT-BOUNDED ladder twin of j11: same keyless range join,
    but the band width shrinks inversely with the supplier count
    (width = 50000 / |supplier|, = j11's 500 at the sf0.01 gate), so the
    expected matches PER INTERVAL stay constant as SF grows and total
    output scales ~linearly with the data — the workload that measures
    the OPERATOR's scaling. j11 keeps its fixed 500 band as the
    quadratic-pairs throughput demo (docs/SCALING.md attribution:
    j11's sf20 growth is 25x TRUE output pairs, not operator cost).
    The width is one count() over the small side — catalog-stat cheap
    at any scale (feldman_spark/ops/joins.py::binned_range_join)."""
    from feldman_spark.ops.joins import binned_range_join

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    supp = _t(spark, sf_dir, "supplier")
    bw = 50000.0 / supp.count()
    bands = supp.select(
        "s_suppkey",
        F.col("s_acctbal").alias("lo"),
        (F.col("s_acctbal") + F.lit(bw)).alias("hi"),
    )
    out = binned_range_join(cust, bands, "c_acctbal", "lo", "hi", bin_width=bw)
    return (
        out.groupBy("s_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cust"),
            F.bround(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
    )


def sample_shuffle(spark, sf_dir):
    """Deterministic epoch reshuffle for training: per-epoch (shard,
    sort-key) from the md5 variate — 'shards in index order, each sorted
    by sk' IS the global permutation, with no sequential row counter to
    funnel the corpus through one partition
    (feldman_spark/pipeline/sampling.py::epoch_shuffle)."""
    from feldman_spark.pipeline.sampling import epoch_shuffle

    d = _t(spark, sf_dir, "documents")
    return epoch_shuffle(d, "doc_id", epoch=1, num_shards=8).select(
        "doc_id", "shard", "sk")


def w6_scd2_intervals(spark, sf_dir):
    """SCD type-2 historization of a change log: each click event becomes
    a validity interval [ts, next ts) per user, latest open-ended and
    flagged current — the point-in-time feature-snapshot shape, paired
    with asof_join for reads (feldman_spark/ops/windows.py::scd2_intervals)."""
    from feldman_spark.ops.windows import scd2_intervals

    ev = _events(spark, sf_dir).filter(F.col("event_type") == "click")
    out = scd2_intervals(
        ev.select("user_id", "event_id", "ts", "value"),
        key=["user_id"], ts_col="ts", tiebreak=["event_id"])
    return out.select(
        "user_id", "event_id", F.col("value"),
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        F.col("is_current").cast("int").alias("is_current"),
    )


def w8_rolling_time(spark, sf_dir):
    """Per-row rolling aggregates over a TIME range (beyond W2/W3's
    row-count frames): each event sees the count/sum/mean of its user's
    events in the trailing hour — the clock-following RANGE frame,
    microsecond-exact so equal and sub-second timestamps behave
    identically to the DuckDB interval window
    (feldman_spark/ops/windows.py::rolling_time_agg)."""
    from feldman_spark.ops.windows import rolling_time_agg

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    out = rolling_time_agg(ev, ["user_id"], "ts", "value", 3600)
    return out.select(
        "event_id", "user_id", "rolling_n", "rolling_sum", "rolling_avg")


def f8_winsorize(spark, sf_dir):
    """Percentile winsorization of a heavy-tailed signal: document
    length clamped to its exact interpolated [p01, p99] — one
    partial-aggregating percentile pass broadcast back as a one-row
    bound pair, row-local clamp, no rows dropped
    (feldman_spark/ops/filters.py::winsorize)."""
    from feldman_spark.ops.filters import winsorize

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return winsorize(d, "n_chars", lower=0.01, upper=0.99)


def pack_chunks(spark, sf_dir):
    """Sliding context-window chunking for fixed-context training /
    embedding: 32-word windows every 24 words (8-word overlap), final
    partial chunk kept — entirely row-local codegen, zero shuffles
    (feldman_spark/pipeline/training.py::chunk_documents)."""
    from feldman_spark.pipeline.training import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, window=32, stride=24)


def events_enrich(spark, sf_dir):
    """Stream-static dimension enrichment: the event feed broadcast-joined
    against the customer dimension — under readStream this exact plan is
    Spark's stateless stream-static join (re-broadcast per micro-batch;
    streaming twin pytest-verified); run in batch for the value oracle
    (feldman_spark/streaming/events.py::enrich)."""
    from feldman_spark.streaming.events import enrich

    ev = _events(spark, sf_dir).select("event_id", "user_id", "value")
    cust = _t(spark, sf_dir, "customer")
    out = enrich(ev, cust, on="user_id", dim_key="c_custkey",
                 dim_cols=["c_name", "c_nationkey"])
    return out.select("event_id", "user_id", "c_name", "c_nationkey", "value")


def w9_merge_upsert(spark, sf_dir):
    """CDC merge / MERGE INTO: a snapshot (latest per-user state from the
    first half of the event log) updated by the second half replayed as
    a change batch — 'error' events delete the key, everything else
    upserts, highest event_id per key wins. Join-free: union + ONE
    max_by aggregate over a (is-change, seq) priority struct, so hot
    keys partial-aggregate map-side
    (feldman_spark/ops/merge.py::merge_upsert)."""
    from feldman_spark.ops.merge import merge_upsert

    ev = _t(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") < 5000)
    snap = (
        base.groupBy("user_id")
        .agg(F.max_by(F.struct("value", "event_type"), "event_id").alias("s"))
        .select("user_id", F.col("s.value").alias("value"),
                F.col("s.event_type").alias("event_type"))
    )
    chg = ev.filter(F.col("event_id") >= 5000).select(
        "user_id", "value", "event_type", "event_id",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert")).alias("op"),
    )
    return merge_upsert(snap, chg, keys=["user_id"], seq_col="event_id")


def j12_bloom_semi_join(spark, sf_dir):
    """Bloom-prefiltered EXACT semi-join: lineitem restricted to
    high-value orders — the keys side hashes into a broadcast bitset
    that filters the fact table on its scan side (no false negatives),
    then a real left-semi join removes the ~1% false positives, so only
    matching rows reach the shuffle. The scale move when both join
    sides are too large to broadcast raw
    (feldman_spark/ops/joins.py::bloom_semi_join)."""
    from feldman_spark.ops.joins import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    keys = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 150000)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    matched = bloom_semi_join(li, keys, on=["l_orderkey"], fpp=0.01)
    return matched.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        _r2(F.sum("l_quantity")).alias("sum_qty"),
    )


def sample_stratified(spark, sf_dir):
    """Per-stratum deterministic sampling (reproducible sampleBy):
    rebalance a language-skewed corpus by keeping 50% of en, 20% of de,
    5% of everything else — membership decided by a per-stratum hash
    variate, stable under reruns, repartitioning, and corpus growth.
    Zero shuffles: the threshold is a literal CASE chain
    (feldman_spark/pipeline/sampling.py::stratified_sample)."""
    from feldman_spark.pipeline.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        d, "lang", {"en": 0.5, "de": 0.2}, key_col="doc_id",
        seed="strata", default_fraction=0.05,
    )
    return out.select("doc_id", "lang", "source")


def web_url_normalize(spark, sf_dir):
    """URL canonicalization for crawl curation: scheme/host lowercased,
    fragment + userinfo + default ports + tracking params stripped,
    surviving query params sorted — the key under which a crawl's
    re-visits of one page collapse. Row-local regexp/array codegen, zero
    shuffles; the URL mix (ports, userinfo, utm params, fragments) is
    synthesized deterministically from doc_id so Spark and the oracle
    parse byte-identical inputs
    (feldman_spark/pipeline/web.py::normalize_url/url_parts)."""
    from feldman_spark.pipeline.web import normalize_url, url_parts

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    u = d.withColumn("url", F.expr(_URL_CASE_SQL))
    return url_parts(normalize_url(u)).select(
        "doc_id", "url_norm", "scheme", "host", "domain", "path")


def a11_approx_quantiles(spark, sf_dir):
    """Sketch percentiles next to a7's exact ones: approx_percentile
    (KLL-style mergeable sketch — one pass, partitioning-independent
    error bound, the only option when a 100 TB column can't sort). The
    checked values are the EXACT percentiles; the flags pin the sketch
    inside its documented accuracy envelope in-query, the same contract
    a9 uses for HLL."""
    li = _t(spark, sf_dir, "lineitem")
    acc = 10000  # 1/acc relative-rank error
    # array forms: ONE exact-percentile buffer and ONE sketch serve both
    # quantiles (four independent single-quantile aggregates each built
    # their own 6M-value state — measured 27 s vs 10 s at sf1)
    agg = li.agg(
        F.expr("percentile(l_extendedprice, array(0.5, 0.95))").alias("ex"),
        F.expr(f"approx_percentile(l_extendedprice, array(0.5, 0.95), "
               f"{acc})").alias("ap"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    ).select(
        F.element_at("ex", 1).alias("ex50"),
        F.element_at("ex", 2).alias("ex95"),
        F.element_at("ap", 1).alias("ap50"),
        F.element_at("ap", 2).alias("ap95"),
        "lo", "hi",
    )
    # rank-error bound -> value bound via the observed range is loose but
    # engine-agnostic: |approx - exact| <= 2% of the column's span here
    return agg.select(
        _r2(F.col("ex50")).alias("p50"),
        _r2(F.col("ex95")).alias("p95"),
        (F.abs(F.col("ap50") - F.col("ex50"))
         <= (F.col("hi") - F.col("lo")) * 0.02).alias("p50_in_bound"),
        (F.abs(F.col("ap95") - F.col("ex95"))
         <= (F.col("hi") - F.col("lo")) * 0.02).alias("p95_in_bound"),
    )


def o2_zorder_key(spark, sf_dir):
    """Morton (Z-order) clustering key: the low 8 bits of two join keys
    interleaved — sorting/range-partitioning by this key keeps file and
    row-group min-max ranges tight on BOTH dimensions at once, so a
    filter on either prunes the scan (the layout + manifest pruning
    itself is exercised in test_parquet_layout.py; this query
    value-checks the key bit-for-bit). Pure codegen bit arithmetic
    (feldman_spark/io/parquet.py::zorder_key)."""
    from feldman_spark.io.parquet import zorder_key

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber",
        (F.col("l_orderkey") % 256).alias("zx"),
        (F.col("l_partkey") % 256).alias("zy"),
    )
    out = li.withColumn("zkey", zorder_key(["zx", "zy"], bits=8))
    return (
        out.orderBy("zkey", "l_orderkey", "l_linenumber")
        .limit(50)
        .select("l_orderkey", "l_partkey", "l_linenumber", "zkey")
    )


def u3_table_diff(spark, sf_dir):
    """Snapshot diff between two corpus versions: every doc_id classified
    added / removed / changed / unchanged (null-safe payload compare).
    Join-free: both snapshots union with a side tag and ONE key-grouped
    aggregate gathers each side's payload struct via conditional max —
    map-side partial aggregation, no join hash tables; the two versions
    here are deterministic slices of documents with a synthetic edit
    (feldman_spark/ops/diff.py::table_diff)."""
    from feldman_spark.ops.diff import table_diff

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars")
    old = d.filter(F.col("doc_id") % 11 != 0)
    new = d.filter(F.col("doc_id") % 13 != 0).withColumn(
        "n_chars",
        F.col("n_chars")
        + F.when(F.col("doc_id") % 7 == 0, F.lit(1)).otherwise(F.lit(0)),
    )
    return table_diff(old, new, keys=["doc_id"])


def a12_heavy_hitters(spark, sf_dir):
    """Exact frequent-key profile via sketch-then-verify: a one-pass
    freqItems sketch yields a small candidate superset, the exact count
    runs only over candidate rows — the aggregate shuffles hot-key
    partial counts instead of one row per distinct key. Output feeds
    salted_join's hot_keys at corpus scale
    (feldman_spark/ops/skew.py::heavy_hitters)."""
    from feldman_spark.ops.skew import heavy_hitters

    ev = _t(spark, sf_dir, "events")
    return heavy_hitters(ev, ["user_id"], min_count=80)


def web_domain_cap(spark, sf_dir):
    """Crawl-style per-host cap over parsed URLs: normalize + parse the
    synthetic URL mix, keep at most 20 docs per host (variate-ordered —
    stable under reruns and corpus growth), count survivors per host.
    The URL ops are row-local codegen; the cap is one shuffle on the
    host key (feldman_spark/pipeline/web.py +
    pipeline/sampling.py::cap_per_group)."""
    from feldman_spark.pipeline.sampling import cap_per_group
    from feldman_spark.pipeline.web import url_parts

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    u = d.withColumn("url", F.expr(_URL_CASE_SQL))
    parts = url_parts(u)
    capped = cap_per_group(parts, "host", cap=20, key_col="doc_id")
    return capped.groupBy("host").agg(F.count("*").alias("n"))


def o3_grouped_topk(spark, sf_dir):
    """Exact top-3 documents per language by length, at corpus shape: a
    per-partition mapInPandas pre-reduction keeps each partition's local
    top-k per group (state: groups × k), so the final ranking window
    shuffles candidates — k × partitions rows per group — instead of the
    corpus; a hot group never serializes through one reducer until the
    candidate stage (feldman_spark/ops/windows.py::grouped_topk)."""
    from feldman_spark.ops.windows import grouped_topk

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return grouped_topk(d, ["lang"], "n_chars", k=3, tiebreak_cols=["doc_id"])


def profile_histogram_q(spark, sf_dir):
    """Equi-width histogram of a revenue column (16 buckets) — the
    distribution profile behind skew diagnosis and drift monitors. Two
    partial-aggregating passes: a (min, max) bound pair broadcast back,
    then one group-by on the row-local bucket id
    (feldman_spark/pipeline/profile.py::profile_histogram)."""
    from feldman_spark.pipeline.profile import profile_histogram

    li = _t(spark, sf_dir, "lineitem")
    return profile_histogram(li, "l_extendedprice", buckets=16)


def text_bm25(spark, sf_dir):
    """Okapi BM25 top-10 retrieval over the documents corpus
    (feldman_spark/pipeline/search.py::bm25_topk). The corpus text
    never shuffles: document length is row-local, the exploded token
    stream is filtered to the 4-term query vocabulary inside the scan's
    codegen pipeline, corpus stats and per-term document frequencies
    are tiny broadcast aggregates, and top-k is TakeOrdered. Scores
    round to 4 before ranking so ordering is float-order stable."""
    from feldman_spark.pipeline.search import bm25_topk

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(d, "spark join window filter", k=10)


def j13_interval_overlap(spark, sf_dir):
    """J13: keyless large×large interval-OVERLAP join (the
    interval×interval sibling of j11's point-in-interval) — both sides
    replicate into fixed-width bins, meet in ONE shuffled equi-join on
    the bin id, and pair multiplicity is repaired exactly by keeping
    only the overlap-start bin (a bin both sides provably replicated
    into) — no DISTINCT pass. Intervals derive from event_id so the
    pair count stays output-linear as the corpus grows
    (feldman_spark/ops/joins.py::interval_overlap_join)."""
    from feldman_spark.ops.joins import interval_overlap_join

    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("a_id"),
        F.col("event_id").alias("a_lo"),
        (F.col("event_id") + F.lit(50)).alias("a_hi"))
    b = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("b_id"),
        F.col("event_id").alias("b_lo"),
        (F.col("event_id") + F.lit(20)).alias("b_hi"))
    pairs = interval_overlap_join(a, b, "a_lo", "a_hi", "b_lo", "b_hi",
                                  bin_width=64.0)
    return (
        pairs.groupBy((F.col("a_id") % 16).alias("bucket"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(
                F.least(F.col("a_hi"), F.col("b_hi"))
                - F.greatest(F.col("a_lo"), F.col("b_lo"))
            ).alias("total_overlap"),
        )
    )


def j14_fuzzy_link(spark, sf_dir):
    """J14: fuzzy entity linkage — probe names with a synthetic
    deletion typo link back to the part catalog. Candidates come from
    PassJoin segment blocking (PVLDB 5(3) 2011: pigeonhole — any pair
    within distance τ shares one of τ+1 catalog segments exactly, at a
    start shifted ≤ τ), so recall is COMPLETE and the oracle is the
    pure predicate; best match per probe is a skew-immune
    min(struct(distance, key)) aggregate
    (feldman_spark/ops/linkage.py::fuzzy_link). Prefix blocking on
    this catalog (every name starts with one of ~100 color words) was
    measured quadratic — 117 s at a 200k-row catalog vs ~2 s for the
    segment form; all-pairs O(N·M) never materializes either way."""
    from feldman_spark.ops.linkage import fuzzy_link

    part = _t(spark, sf_dir, "part")
    catalog = part.select("p_partkey", "p_name")
    probes = part.filter(F.col("p_partkey") % 17 == 3).select(
        F.col("p_partkey").alias("probe_key"),
        F.concat(
            F.substring(F.col("p_name"), 1, 5),
            F.substring(F.col("p_name"), 7, 2147483647),
        ).alias("probe_name"),
    )
    return fuzzy_link(
        probes, catalog, "probe_key", "probe_name", "p_partkey", "p_name",
        max_distance=2,
    )


def sample_weighted(spark, sf_dir):
    """Weighted reservoir sampling without replacement: 5 docs per
    language with inclusion probability proportional to length — the
    deterministic Efraimidis–Spirakis A-ES scheme (rank by ln(u)/w on
    an md5 variate), run through the partition-pre-reduced grouped
    top-k so hot groups shuffle candidates, not the corpus
    (feldman_spark/pipeline/sampling.py::weighted_sample_per_group)."""
    from feldman_spark.pipeline.sampling import weighted_sample_per_group

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample_per_group(d, "lang", "n_chars", k=5)


def events_funnel(spark, sf_dir):
    """Ordered funnel over the event stream: signup → view → click →
    purchase, each step's time the earliest qualifying event at-or-after
    the previous step. ONE exchange: every step is an unordered
    min(when) window over the same partitionBy(user) spec, the per-user
    collapse reuses that partitioning, and the step counts are one tiny
    aggregate (feldman_spark/ops/windows.py::funnel_steps)."""
    from feldman_spark.ops.windows import funnel_steps

    ev = _t(spark, sf_dir, "events")
    steps = [
        ("signup", F.col("event_type") == "signup"),
        ("view", F.col("event_type") == "view"),
        ("click", F.col("event_type") == "click"),
        ("purchase", F.col("event_type") == "purchase"),
    ]
    return funnel_steps(ev, "user_id", "ts", steps)


def graph_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank (3 rounds, d=0.85) over a deterministic
    user-interaction edge list derived from events — the link-authority
    score crawl pipelines use for fetch priority and source weighting.
    Each iteration is one join of the two-column rank vector against
    the degree-annotated edge list plus one aggregate — both linear in
    |E|; the degree join is hoisted out of the loop
    (feldman_spark/pipeline/graph.py::pagerank)."""
    from feldman_spark.pipeline.graph import pagerank

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").alias("src"),
        ((F.col("user_id") + F.floor(F.col("value")).cast("bigint")) % 150
         ).alias("dst"),
    )
    return pagerank(edges, iters=3, damping=0.85, round_digits=8)


def graph_triangles(spark, sf_dir):
    """Exact triangle count + global clustering coefficient over the
    events interaction graph. Edges are degree-ORIENTED first (low
    (degree, id) endpoint → high), so every wedge is enumerated once at
    its lowest-rank corner — per-node work bounded by out-degree²,
    O(m^1.5) total regardless of hubs, each triangle counted exactly
    once with no DISTINCT pass; only id pairs ever shuffle
    (feldman_spark/pipeline/graph.py::triangle_stats)."""
    from feldman_spark.pipeline.graph import triangle_stats

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").alias("src"),
        ((F.col("user_id") + F.floor(F.col("value")).cast("bigint")) % 150
         ).alias("dst"),
    )
    return triangle_stats(edges)


def web_cooccurrence(spark, sf_dir):
    """Item co-occurrence counts over (user, item) interactions with
    the production hot-basket guard: each user's distinct item set is
    capped at 20 by the deterministic hash-variate sampler BEFORE the
    pair self-join, bounding every user's contribution at C(20,2)
    pairs no matter how hot the basket. The pair join reuses the
    group-key shuffle; counts aggregate map-side
    (feldman_spark/pipeline/graph.py::cooccurrence_pairs)."""
    from feldman_spark.pipeline.graph import cooccurrence_pairs

    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        (F.floor(F.col("value")).cast("bigint") % 50).alias("item"))
    return cooccurrence_pairs(d, "user_id", "item", cap=20, min_count=3)


def text_bpe_pairs(spark, sf_dir):
    """One BPE tokenizer-training iteration: top-20 adjacent character
    pairs weighted by word frequency (Sennrich 2016). The corpus first
    collapses to its VOCABULARY (word → count, map-side combining),
    then only distinct words explode into pairs — pair counting costs
    O(vocab · word length), not O(corpus); all codegen, no Python
    (feldman_spark/pipeline/text.py::bpe_pair_counts)."""
    from feldman_spark.pipeline.text import bpe_pair_counts

    d = _t(spark, sf_dir, "documents").select("text")
    return bpe_pair_counts(d, "text", k=20)


def text_bpe_encode(spark, sf_dir):
    """The full (small) BPE tokenizer story: LEARN the first 6 merges
    over the corpus (iterative argmax of adjacent-pair counts — each
    iteration one vocabulary-sized aggregate + a 1-row collect), then
    ENCODE with them (row-local chained literal replaces) and return the
    top-20 vocabulary words with their segmentation and token count.
    Training never touches the token stream (vocab-collapse first, the
    bpe_pair_counts trick); encoding a 100 TB corpus with the learned
    merges is one codegen pass
    (feldman_spark/pipeline/text.py::bpe_train_merges/bpe_apply_merges)."""
    from feldman_spark.ops.sizing import persist_scoped
    from feldman_spark.pipeline.text import (
        _bpe_vocab, bpe_apply_merges, bpe_train_merges)

    d = _t(spark, sf_dir, "documents").select("text")
    # ONE corpus collapse shared by training and the top-20 output: the
    # persisted vocabulary feeds all 6 merge iterations AND the final
    # TakeOrdered (through persist_scoped; the former shape rebuilt the
    # word aggregate from the raw corpus twice)
    vocab = persist_scoped(_bpe_vocab(d, "text"))
    merges = bpe_train_merges(d, "text", n_merges=6, vocab=vocab)
    top = (
        vocab.orderBy(F.col("_n").desc(), F.col("w").asc()).limit(20)
        .withColumn("bpe", bpe_apply_merges(F.col("w"), merges))
    )
    return top.select(
        F.col("w").alias("word"),
        F.col("_n").cast("bigint").alias("n"),
        "bpe",
        F.size(F.split("bpe", " ")).cast("bigint").alias("n_tokens"),
    )


def web_blocklist_filter(spark, sf_dir):
    """Domain-blocklist filtering over parsed crawl URLs: drop every doc
    whose host IS a blocked domain or a SUBDOMAIN of one. The host
    explodes into its dot-suffix chain (≤ labels rows) and equality-joins
    the broadcast blocklist — suffix semantics at hash-join speed, never
    a LIKE scan; survivors anti-join on doc_id. Counted per host so the
    output stays small at every SF
    (feldman_spark/pipeline/web.py::blocklist_filter/host_suffixes)."""
    from feldman_spark.pipeline.web import blocklist_filter, url_parts

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    u = url_parts(d.withColumn("url", F.expr(_URL_CASE_SQL)))
    blocked = spark.createDataFrame(
        [("src1.example.com",), ("sub.src2.example.com",),
         ("src3.example.com",), ("nosuch.example.org",)],
        "domain string")
    kept = blocklist_filter(u, blocked, host_col="host", id_col="doc_id")
    return kept.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc_id").alias("min_doc"))


def web_robots_filter(spark, sf_dir):
    """RFC 9309 robots.txt crawl-permission evaluation over an
    adversarial in-query fixture: wildcard patterns, ``$`` end-anchors,
    longest-match precedence, Allow-beats-Disallow-on-equal-length,
    longest-UA-prefix group selection (stacked User-agent lines, ``*``
    fallback), query-string matching (``Disallow: /*?sessionid=``),
    literal-``?`` semantics, host-case normalization, missing and empty
    robots bodies. Input is SF-independent and evaluation deterministic,
    so the expected verdicts are pinned (_WEB_ROBOTS_PINNED — the
    media_features pattern). Scale shape: hosts-sized robots table
    broadcast-joined on host; rules parse + regex-compile once per
    distinct host per Arrow batch
    (feldman_spark/pipeline/web.py::parse_robots/robots_filter)."""
    from feldman_spark.pipeline.web import robots_filter

    robots = spark.createDataFrame([
        ("a.com", "User-agent: *\n"
                  "Disallow: /private\n"
                  "Allow: /private/public\n"
                  "Disallow: /*?sessionid=\n"
                  "Disallow: /*.pdf$\n"
                  "Allow: /docs\n"
                  "Disallow: /docs/internal\n"),
        ("b.com", "User-agent: examplebot\n"
                  "User-agent: otherbot\n"
                  "Disallow: /bot-only\n"
                  "\n"
                  "User-agent: example\n"
                  "Disallow: /\n"
                  "\n"
                  "User-agent: *\n"
                  "Disallow: /star\n"),
        ("c.com", "User-agent: special\n"
                  "Disallow: /\n"
                  "\n"
                  "User-agent: *\n"
                  "Allow: /open\n"
                  "Disallow: /open/secret$\n"
                  "Allow: /t*e\n"
                  "Disallow: /ti*\n"),
        ("e.com", ""),
    ], "host string, robots_txt string")
    pages = spark.createDataFrame([
        (1, "http://a.com/private/secret"),
        (2, "http://a.com/private/public/x"),
        (3, "https://A.COM/page?sessionid=abc"),
        (4, "http://a.com/files/doc.pdf"),
        (5, "http://a.com/files/doc.pdfx"),
        (6, "http://a.com/docs/internal/x"),
        (7, "http://a.com/docs/guide"),
        (8, "http://b.com/bot-only/page"),
        (9, "http://b.com/star/x"),
        (10, "http://c.com/open/secret"),
        (11, "http://c.com/open/secret/more"),
        (12, "http://c.com/tiex"),
        (13, "http://c.com/anything"),
        (14, "http://d.com/whatever"),
        (15, "http://e.com/x"),
        (16, "http://a.com/page?other=1&sessionid=2"),
        (17, "http://a.com?sessionid=x"),
    ], "page_id bigint, url string")
    out = robots_filter(pages, robots, user_agent="ExampleBot/1.2")
    return out.select("page_id", "url", "crawl_allowed")


def dedup_corpus_overlap(spark, sf_dir):
    """Dataset-level content overlap between two corpus slices (the
    "is this crawl snapshot worth ingesting" statistic): both sides
    reduce to distinct normalized fingerprints inside their own scans,
    the intersection is one digest semi-join, and the answer is one row
    of set sizes + Jaccard + containment
    (feldman_spark/pipeline/dedup.py::corpus_overlap)."""
    from feldman_spark.pipeline.dedup import corpus_overlap

    d = _t(spark, sf_dir, "documents")
    return corpus_overlap(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 3 == 0),
        "text",
    )


def dedup_near_overlap(spark, sf_dir):
    """Cross-corpus NEAR-duplicate overlap — the fuzzy companion to
    dedup_corpus_overlap for the "is this crawl snapshot worth
    ingesting" decision when re-crawls arrive reworded: corpus A is the
    even-doc slice, corpus B the every-third slice re-crawled with a
    boilerplate postscript appended (so A∩B content is NEAR-identical,
    never byte-identical — exact overlap sees zero). Minhash band
    collisions across corpora (same md5 family as dedup_minhash_lsh)
    verify against exact shingle Jaccard ≥ 0.2; one summary row of
    per-side matched counts/fractions. TRUE oracle: DuckDB replays
    bands + verification with the identical hash family
    (feldman_spark/pipeline/dedup.py::corpus_near_overlap)."""
    from feldman_spark.pipeline.dedup import corpus_near_overlap

    d = _t(spark, sf_dir, "documents")
    a = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    b = d.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        F.concat(F.col("text"),
                 F.lit(" postscript appended by the mirror site"))
        .alias("text"))
    return corpus_near_overlap(a, b, k=3, threshold=0.2)


def f9_zscore_groups(spark, sf_dir):
    """F9: within-group standardization — every lineitem priced against
    its (returnflag, linestatus) group via one dimension-sized
    (group, mean, stddev_pop) aggregate broadcast back onto the fact
    table (no fact shuffle), then per-group tail mass + extreme z —
    the per-source outlier-triage shape
    (feldman_spark/ops/filters.py::with_group_zscore)."""
    from feldman_spark.ops.filters import with_group_zscore

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice")
    z = with_group_zscore(
        li, ["l_returnflag", "l_linestatus"], "l_extendedprice")
    return (
        z.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.abs(F.col("z")) > 1.5, 1).otherwise(0))
            .cast("bigint").alias("n_tail"),
            F.max("z").alias("max_z"),
            F.min("z").alias("min_z"),
        )
    )


def profile_skew_q(spark, sf_dir):
    """Key-skew diagnosis for a prospective shuffle key (events by
    user): the fact table reduces to a (key, count) table in one
    partial-aggregating pass, then exact percentiles / max / argmax
    over that key-sized table answer "should I salt this join?" in one
    row (feldman_spark/pipeline/profile.py::profile_skew)."""
    from feldman_spark.pipeline.profile import profile_skew

    ev = _t(spark, sf_dir, "events")
    return profile_skew(ev, ["user_id"])


def events_retention(spark, sf_dir):
    """Weekly cohort retention over the event stream: events collapse
    to DISTINCT (user, week) in one user-keyed shuffle, per-user first
    week is an aggregate over that reduced table (same partitioning),
    and the (cohort, offset) rollup is calendar-sized — payloads never
    move (feldman_spark/ops/windows.py::retention_cohorts)."""
    from feldman_spark.ops.windows import retention_cohorts

    ev = _t(spark, sf_dir, "events")
    return retention_cohorts(ev, "user_id", "ts", unit="week")


def text_lm_score(spark, sf_dir):
    """Corpus-bigram LM score per document (the CCNet-style perplexity
    quality signal): one codegen bigram stream builds the smoothed
    model AND scores against it — model/context/vocab are aggregates of
    the reduced (doc, bigram, k) table, the scoring join is gram-keyed,
    and each doc ends as one mean (feldman_spark/pipeline/text.py::
    lm_score)."""
    from feldman_spark.pipeline.text import lm_score

    d = _t(spark, sf_dir, "documents")
    return lm_score(d)


def sample_rebalance(spark, sf_dir):
    """Rebalance the corpus to a target language distribution (25% each
    of en/de/fr/es; zh absent → dropped) by deletion only: one
    per-group count aggregate finds the binding group (the one that
    survives whole), every other group thins by its deterministic hash
    variate against a broadcast per-group threshold — row-local filter,
    no fact-table shuffle
    (feldman_spark/pipeline/sampling.py::rebalance_to_target)."""
    from feldman_spark.pipeline.sampling import rebalance_to_target

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return rebalance_to_target(
        d, "lang", {"en": 0.25, "de": 0.25, "fr": 0.25, "es": 0.25})


def knn_group_centroids(spark, sf_dir):
    """Per-label mean embedding (class prototypes): posexplode the
    vectors into a (group, position, value) scalar stream that
    partial-aggregates map-side — the exchange carries groups × dim
    running partials, independent of corpus size, and a hot label
    parallelizes across all input partitions instead of collect_list
    funnelling its vectors to one reducer
    (feldman_spark/pipeline/similarity.py::group_centroids).

    Registered in long form (label, n_vectors, pos, m) — scalar columns
    only, because the driver's canonicalizer sorts by every output
    column and cannot sort array cells (the r6 `err`); the library
    function still returns the assembled array column."""
    from feldman_spark.pipeline.similarity import group_centroids

    e = _t(spark, sf_dir, "embeddings")
    c = group_centroids(e, "label")
    return c.select(
        "label", "n_vectors",
        F.posexplode("centroid").alias("pos", "m"),
    )


def profile_join_cardinality(spark, sf_dir):
    """Exact join-output-size pre-flight for lineitem ⋈ orders on the
    order key — computed WITHOUT running the join: each side reduces to
    a (key, count) table in one partial-aggregating pass, the key
    tables meet in one equi-join, and the answer (total join rows plus
    the hottest key's contribution — the salting decision) is one row
    (feldman_spark/pipeline/profile.py::join_cardinality)."""
    from feldman_spark.pipeline.profile import join_cardinality

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return join_cardinality(li, o, "l_orderkey", "o_orderkey")


def profile_psi_drift(spark, sf_dir):
    """Population Stability Index between the value distributions of
    two event cohorts: equi-width buckets fixed by the REFERENCE
    min/max (one broadcast bounds row), per-side bucket counts
    partial-aggregate map-side, Laplace-smoothed proportions make empty
    buckets finite deterministically — sum(contrib) is the PSI
    (feldman_spark/pipeline/profile.py::psi_drift)."""
    from feldman_spark.pipeline.profile import psi_drift

    ev = _t(spark, sf_dir, "events")
    return psi_drift(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"),
        "value", buckets=10,
    )


def events_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    streams (ordered by ts with the unique event id as tiebreak): one
    window exchange computes the lag, pair counts partial-aggregate
    into a state²-sized table, and row normalization joins a
    states-sized aggregate — payloads never move
    (feldman_spark/ops/windows.py::event_transitions)."""
    from feldman_spark.ops.windows import event_transitions

    ev = _t(spark, sf_dir, "events")
    return event_transitions(
        ev, "user_id", "event_type", ["ts", "event_id"])


def dedup_contamination_13g(spark, sf_dir):
    """GPT-3-style sequence-level contamination audit (Brown et al. 2020
    appendix C used 13-gram overlap): per corpus document, the fraction
    of its 13-word shingle positions shared with the eval slice (every
    50th doc, the decontaminate_corpus convention) — the MEASUREMENT
    behind thresholded dirty-doc policies, where decontaminate_corpus is
    the any-hit drop. Eval shingles broadcast as xxhash64 longs; the
    corpus is one codegen shingle-stream scan into a broadcast join +
    per-doc partial aggregate — text never shuffles
    (feldman_spark/pipeline/dedup.py::contamination_overlap)."""
    from feldman_spark.pipeline.dedup import contamination_overlap

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ev = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    return contamination_overlap(corpus, ev, n=13)


def text_ppl_buckets(spark, sf_dir):
    """CCNet perplexity bucketing (Wenzek et al. 2020 §4.3): every doc
    scored against the corpus bigram LM, corpus cut at the 1/3 and 2/3
    score quantiles, labels head/middle/tail (head = most fluent).
    Thresholds are ONE aggregate broadcast back; the label is a
    row-local comparison — no ntile global sort funneling the corpus
    through one reducer
    (feldman_spark/pipeline/text.py::ppl_buckets)."""
    from feldman_spark.pipeline.text import ppl_buckets

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return ppl_buckets(d)


def text_bm25_rerank(spark, sf_dir):
    """Two-stage retrieval: BM25 takes 50 candidates, a richer
    deterministic relevance function — query-term coverage, adjacent
    query-bigram proximity hits, earliest-match position — rescores
    ONLY those candidates and returns the top 10. The production
    cross-encoder shape with the expensive scorer swapped for an
    oracle-checkable formula; candidate texts fetch via a broadcast
    join probe of the corpus, and the HOF feature lambdas run on 50
    rows, never the corpus
    (feldman_spark/pipeline/search.py::bm25_rerank)."""
    from feldman_spark.pipeline.search import bm25_rerank

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_rerank(d, "spark join window filter", k=10,
                       n_candidates=50)


def sample_budget_mix(spark, sf_dir):
    """Token/char-budget corpus mixing — the production mixing knob is
    a WEIGHT budget per source ("200B tokens of web, 30B of code"), not
    row counts: each source keeps the deterministic variate fraction
    min(1, budget/weight_sum) of its docs, so kept weight ≈ budget in
    expectation, reproducibly. One |sources|-sized aggregate, then a
    row-local filter vs a broadcast threshold map — zero corpus
    shuffles (feldman_spark/pipeline/sampling.py::budget_mix).
    src0/src1 thin to ~4000 chars, src2 to ~2000, src3 keeps whole
    (budget above its sum at every SF the driver runs); the other 16
    sources have no budget and drop."""
    from feldman_spark.pipeline.sampling import budget_mix

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars")
    return budget_mix(
        d, {"src0": 4000.0, "src1": 4000.0, "src2": 2000.0,
            "src3": 1.0e12},
        group_col="source", weight_col="n_chars")


def events_attribution(spark, sf_dir):
    """Last-touch conversion attribution with a 1-day lookback: each
    purchase picks the latest same-user click at-or-before it (as-of
    join — union + ONE window pass per user, no join in the plan) and
    the match is voided when older than the lookback
    (tolerance_seconds, driver-verified here; j9 covers the untoleranced
    path). Clicks pre-aggregate to unique (user, ts) per the asof_join
    single-match contract (feldman_spark/ops/joins.py::asof_join)."""
    from feldman_spark.ops.joins import asof_join

    e = _events(spark, sf_dir)
    conv = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"), "user_id", "ts",
        F.round("value", 2).alias("value"))
    touch = (e.filter(F.col("event_type") == "click")
             .groupBy("user_id", "ts")
             .agg(F.max("event_id").alias("touch_id")))
    out = asof_join(conv, touch, on=["user_id"],
                    right_cols=["touch_id"],
                    tolerance_seconds=86400.0)
    return out.select(
        "conv_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("conv_ts"),
        "value",
        F.col("touch_id_r").alias("touch_id"),
        F.date_format("ts_r", "yyyy-MM-dd HH:mm:ss").alias("touch_ts"),
        F.col("touch_id_r").isNotNull().cast("int").alias("attributed"),
    )


def profile_calibration(spark, sf_dir):
    """Reliability bins + ECE contributions for the EN-stopword quality
    score as a predictor of lang='en' — the audit run before a
    classifier's scores gate a corpus (Guo et al. 2017 binned ECE).
    Bucket ids are row-local, per-bin stats partial-aggregate into
    ``buckets`` rows, total joins back as one broadcast row
    (feldman_spark/pipeline/profile.py::calibration_bins)."""
    from feldman_spark.pipeline.profile import calibration_bins
    from feldman_spark.pipeline.text import quality_score

    d = _t(spark, sf_dir, "documents").select(
        quality_score(F.col("text")).alias("score"),
        (F.col("lang") == "en").alias("label"))
    return calibration_bins(d, "score", "label", buckets=10)


def text_c4_rules(spark, sf_dir):
    """C4 quality gating (Raffel et al. 2020 §2.2): line-level survival
    (terminal punctuation + ≥5 words) and document-level verdict
    (≥3 sentences, no brace, no lorem ipsum). Text is re-lined
    deterministically ('. ' → '.\\n') on BOTH engines so the line
    machinery sees multi-line pages. Relational stream-aggregate form
    (feldman_spark/pipeline/text.py::c4_stats): the line stats are one
    explode(split('\\n')) codegen stream into a map-side-partial hash
    aggregate — one slim counts row per doc shuffles, the text never
    moves; doc flags are row-local instr/replace codegen."""
    from feldman_spark.pipeline.text import c4_stats

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(F.col("text"), F.lit(". "), F.lit(".\n")).alias("text"))
    return c4_stats(d).select(
        "doc_id", "n_lines", "n_kept_lines", "kept_char_frac",
        "n_sentences", F.col("keep").cast("int").alias("keep"))


def text_novelty(spark, sf_dir):
    """Cross-document 5-gram novelty: per doc, the fraction of its
    distinct word-5-gram shingles first seen (min doc_id) in that doc —
    the signal behind novelty-ordered curricula and "is this crawl
    snapshot worth ingesting" triage. One codegen shingle-stream scan
    (hashed longs), per-doc distinct, a min-id aggregate, and a join
    that reuses the aggregate's partitioning — three slim long-pair
    exchanges, text never shuffles
    (feldman_spark/pipeline/dedup.py::shingle_novelty)."""
    from feldman_spark.pipeline.dedup import shingle_novelty

    return shingle_novelty(
        _t(spark, sf_dir, "documents"), "text", "doc_id", k=5)


def events_conversion_lag(spark, sf_dir):
    """Time-to-convert distribution view→purchase: per user the first
    view and the first purchase at-or-after it, summarized to one row
    of counts + exact lag percentiles. Single-exchange funnel shape —
    both step times are min(when(...)) windows over one
    partitionBy(user) spec; the percentile aggregates one lag value per
    user, not per event
    (feldman_spark/ops/windows.py::conversion_lag)."""
    from feldman_spark.ops.windows import conversion_lag

    return conversion_lag(
        _events(spark, sf_dir), "user_id", "ts",
        F.col("event_type") == "view",
        F.col("event_type") == "purchase",
        quantiles=(0.5, 0.9))


def events_anomaly(spark, sf_dir):
    """Volume-spike detection: hourly counts per event_type scored
    against their own trailing-24h mean/stddev (frame ends at
    1 PRECEDING so a spike never contaminates its own baseline),
    summarized per type. The bucketing aggregate collapses events
    map-side to one count row per (type, hour) — the only corpus-sized
    exchange; the window then sorts hours, not events
    (feldman_spark/ops/windows.py::rolling_anomaly)."""
    from feldman_spark.ops.windows import rolling_anomaly

    a = rolling_anomaly(
        _events(spark, sf_dir), ["event_type"], "ts",
        bucket="hour", lookback=24, z_thresh=3.0, min_periods=3)
    return a.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.col("is_anomaly").cast("long")).cast("bigint")
        .alias("n_flagged"),
        F.max("z").alias("max_z"))


def events_ewma(spark, sf_dir):
    """Per-user EWMA of event value (alpha=0.3), final smoothed level
    after folding that user's events in (ts, event_id) order. EWMA is
    order-sequential, so the sanctioned shape is a per-key array fold
    (one CodegenFallback row per KEY, not per event; memory bounded by
    the largest single key) — the DuckDB twin is the identical
    list_reduce fold, constants written as 0.3/(1-0.3) on both engines
    so the IEEE fold is bit-identical
    (feldman_spark/ops/windows.py::ewma_last)."""
    from feldman_spark.ops.windows import ewma_last

    return ewma_last(
        _events(spark, sf_dir), ["user_id"], ["ts", "event_id"],
        "value", alpha=0.3)


def events_session_stats(spark, sf_dir):
    """Corpus-level session rollup (the product-analytics KPI row):
    session count, users, bounce rate (single-event sessions), mean
    events/session, exact p50/p90 session duration — over the same
    30-min-gap lag+cumsum sessionization events_sessionize value-checks.
    One user-keyed exchange; the percentile aggregates one duration per
    SESSION (feldman_spark/streaming/events.py::session_stats)."""
    from feldman_spark.streaming.events import session_stats

    return session_stats(_events(spark, sf_dir), gap_minutes=30)


def web_dedup_url(spark, sf_dir):
    """URL-level dedup, keep-best: canonicalize the synthesized crawl
    URLs (same normalize as web_url_normalize but with doc_id % 37 in
    the synthesis so re-crawls of one page actually exist), then keep
    the highest-quality doc per url_norm (max n_chars, doc_id
    tiebreak) — the CommonCrawl re-visit collapse. Normalization is
    row-local codegen; the keep-best is one row_number window over the
    url_norm exchange (per-URL groups are re-visit-count sized)
    (feldman_spark/pipeline/web.py::normalize_url + url_parts)."""
    from feldman_spark.pipeline.web import normalize_url, url_parts

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    u = url_parts(normalize_url(
        d.withColumn("url", F.expr(_url_case_sql("(doc_id % 37)")))))
    w = Window.partitionBy("url_norm").orderBy(
        F.col("n_chars").desc(), F.col("doc_id"))
    return (u.select("doc_id", "url_norm", "n_chars")
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1).drop("_rk"))


# shared Spark/DuckDB SQL for the synthetic URL mix — one text, two
# engines, so the parse inputs are byte-identical; ``id_expr`` swaps the
# uniqueness of the synthesized URLs (web_url_normalize wants one URL per
# doc; web_dedup_url wants re-visit collisions)
def _url_case_sql(id_expr: str = "doc_id") -> str:
    return f"""
    CASE CAST(doc_id % 5 AS INT)
      WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/Path/' || {id_expr}
                  || '?utm_source=feed&b=2&a=1#frag'
      WHEN 1 THEN 'https://' || source || '.example.com:8443/p/' || {id_expr}
      WHEN 2 THEN 'https://sub.' || source || '.EXAMPLE.com:443/p/' || {id_expr}
                  || '?z=9&gclid=abc&y=8'
      WHEN 3 THEN 'http://user' || {id_expr} || '@' || source || '.example.com'
      ELSE 'https://' || source || '.example.com/A%20b/' || {id_expr}
           || '?a=1&a=0&ref=x'
    END
"""


_URL_CASE_SQL = _url_case_sql()


def _url_norm_oracle_sql(id_expr: str = "doc_id") -> str:
    """DuckDB twin of normalize_url+url_parts over the synthetic URL mix
    — shared by web_url_normalize (unique URLs) and web_dedup_url
    (colliding URLs via ``id_expr``)."""
    return f"""
            WITH raw AS (
              SELECT doc_id, ({_url_case_sql(id_expr)}) AS url FROM documents
            ), p AS (
              SELECT doc_id, url,
                regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://', '') AS rest,
                lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
                regexp_extract(url, '\\?([^#]*)', 1) AS query
              FROM raw
            ), q AS (
              SELECT doc_id, scheme,
                lower(regexp_extract(rest, '^(?:[^/@?#]*@)?([^/:?#]+)', 1)) AS host,
                regexp_extract(rest, '^(?:[^/@?#]*@)?[^/:?#]*:(\\d+)', 1) AS port,
                regexp_extract(rest, '^(?:[^/@?#]*@)?[^/?#]*(/[^?#]*)', 1) AS path,
                -- coalesce: DuckDB's array_to_string([]) is NULL, Spark's
                -- array_join([]) is '' — the empty-query case must agree
                coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'),
                    x -> x <> '' AND NOT regexp_matches(x,
                        '^(utm_[a-z]+|fbclid|gclid|msclkid|ref)='))), '&'), '') AS qnorm
              FROM p
            )
            SELECT doc_id,
              scheme || '://' || host ||
              CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                                         OR (scheme = 'https' AND port = '443'))
                   THEN ':' || port ELSE '' END ||
              CASE WHEN path = '' THEN '/' ELSE path END ||
              CASE WHEN qnorm = '' THEN '' ELSE '?' || qnorm END AS url_norm,
              scheme, host,
              regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain,
              path
            FROM q
    """


# --------------------------------------------------------------------------
# round-10b registrations
# --------------------------------------------------------------------------

def dedup_containment(spark, sf_dir):
    """ASYMMETRIC near-dup: 20-word prefixes of every 5th doc probed
    against the full corpus for shingle-set containment C(A→B) =
    |grams(A)∩grams(B)| / |grams(A)| ≥ 0.9 over distinct 5-word
    shingles — the short-doc-inside-long-doc regime (extracted quotes,
    syndicated ledes, benchmark questions pasted into crawl pages)
    that symmetric Jaccard structurally misses (a contained quote has
    C≈1 but Jaccard≈|A|/|B|). TRUE oracle: DuckDB replays the slices,
    shingling and containment arithmetic exactly
    (feldman_spark/pipeline/dedup.py::containment_pairs)."""
    from feldman_spark.pipeline.dedup import containment_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    probe = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 20))
        .alias("text"))
    return containment_pairs(probe, d, k=5, threshold=0.9)


def w10_interval_merge(spark, sf_dir):
    """W10: gaps-and-islands interval coalescing — each event opens an
    engagement window lasting `value` minutes; overlapping/touching
    windows per user merge into continuous engagement periods (the
    machine-busy-time / ad-exposure-reach shape; distinct from the
    gap-based events_sessionize because interval LENGTH varies per
    row). Epoch-microsecond integer arithmetic end-to-end so the twin
    is bit-exact (feldman_spark/ops/windows.py::merge_intervals)."""
    from feldman_spark.ops.windows import merge_intervals

    e = _t(spark, sf_dir, "events")
    # NTZ-safe epoch micros (TIMESTAMP_NTZ rejects unix_micros/BIGINT
    # cast): micros since the naive epoch == DuckDB's epoch_us(ts)
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    iv = e.select(
        "user_id",
        us.alias("start_us"),
        (us + F.floor(F.col("value") * F.lit(60000000.0)).cast("long"))
        .alias("end_us"))
    return merge_intervals(iv, ["user_id"], "start_us", "end_us")


def a13_grouped_mode(spark, sf_dir):
    """A13: exact mode per group with a deterministic smallest-value
    tie-break — each user's dominant event_type. The heavy agg is the
    map-side-combined (user, event_type) pair count; the argmax runs
    over pair counts only (feldman_spark/ops/windows.py::grouped_mode)."""
    from feldman_spark.ops.windows import grouped_mode

    e = _t(spark, sf_dir, "events")
    return grouped_mode(e, ["user_id"], "event_type", out_col="mode_event")


def text_readability(spark, sf_dir):
    """Flesch-style readability per document — words, sentence-run and
    vowel-group (syllable proxy) counts + the classic 206.835 score;
    pure codegen column expressions, one corpus pass, no shuffle
    (feldman_spark/pipeline/text.py::readability). _tw: the five
    regexp-heavy counters are scan-fused compute — the r10 A/B
    measured 0.66 -> 0.38 s median (6 alternating reps) under the
    single-row-group driver tables."""
    from feldman_spark.pipeline.text import readability

    d = _tw(spark, sf_dir, "documents")
    r = readability(F.col("text"))
    return d.select(
        "doc_id",
        r["n_words"].alias("n_words"),
        r["n_sentences"].alias("n_sentences"),
        r["n_syllables"].alias("n_syllables"),
        r["flesch"].alias("flesch"))


def text_top_ngrams(spark, sf_dir):
    """EXACT corpus-level top-25 word bigrams (total count desc, bigram
    asc on ties) with per-doc document frequency — boilerplate
    discovery, the exact counterpart to the sketched a12_heavy_hitters.
    Codegen explode stream → one map-side-combined groupBy(gram) →
    TakeOrderedAndProject (never a full sort)
    (feldman_spark/pipeline/text.py::top_ngrams)."""
    from feldman_spark.pipeline.text import top_ngrams

    d = _t(spark, sf_dir, "documents")
    return top_ngrams(d, "text", n=2, k=25)


def knn_join_q(spark, sf_dir):
    """Batch k-NN join — exact top-5 cosine neighbors from the corpus
    slice (vec_id >= 20) for EVERY probe vector (vec_id < 20): the
    all-pairs retrieval shape (hard-negative mining, embedding
    decontamination against a probe set). One Arrow matmul pass over
    the corpus selects bounded per-partition candidates per query;
    final scores recompute JVM-side with the same sequential fold as
    knn_brute_force so the twin is bit-exact
    (feldman_spark/pipeline/similarity.py::knn_join)."""
    from feldman_spark.pipeline.similarity import knn_join

    emb = _t(spark, sf_dir, "embeddings")
    qs = (emb.filter(F.col("vec_id") < 20)
          .withColumnRenamed("vec_id", "query_id"))
    corpus = emb.filter(F.col("vec_id") >= 20)
    return knn_join(qs, corpus, k=5)


def j15_radius_join(spark, sf_dir):
    """J15: exact planar radius join via grid binning — all
    (supplier, customer) pairs within radius on a deterministic
    synthetic 100x100 layout (integer-lattice coords so the twin is
    bit-exact). Right side bins once; left probes its 3x3 neighbor
    cells; the candidate join is a plain hash equi-join on the cell id
    with the distance residual on candidates only — never a cross join
    (feldman_spark/ops/joins.py::grid_radius_join).

    The radius scales as 5·sqrt(1500/|customer|) — constant point
    density per disc, so expected pairs per supplier stay constant in
    SF and the rung measures the OPERATOR, not an output-quadratic
    workload (the j11_range_join_bounded precedent; at the sf0.01
    oracle scale the factor is exactly 1.0 → radius 5, 1126 pairs)."""
    import math

    from feldman_spark.ops.joins import grid_radius_join

    c_tbl = _t(spark, sf_dir, "customer")
    radius = 5.0 * math.sqrt(1500.0 / c_tbl.count())
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 9973) % 100000 / 1000.0).alias("sx"),
        ((F.col("s_suppkey") * 6151) % 100000 / 1000.0).alias("sy"))
    c = c_tbl.select(
        "c_custkey",
        ((F.col("c_custkey") * 9973) % 100000 / 1000.0).alias("cx"),
        ((F.col("c_custkey") * 6151) % 100000 / 1000.0).alias("cy"))
    return grid_radius_join(s, c, radius=radius,
                            left_xy=("sx", "sy"), right_xy=("cx", "cy"))


def profile_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap 95% CI for the mean event value (Chamandy et
    al. 2012 / Owen's Poisson bootstrap — the error bar on a
    corpus-scale metric): 32 replicates, weights drawn deterministically
    from md5(event_id:b:seed) via precomputed inverse-CDF hex
    thresholds, so the twin replays the exact draw. The b-fold explode
    collapses in-stage to (Σwx, Σw) partials — the only exchange is
    b × partitions slim rows (feldman_spark/pipeline/profile.py::
    bootstrap_ci)."""
    from feldman_spark.pipeline.profile import bootstrap_ci

    e = _t(spark, sf_dir, "events")
    return bootstrap_ci(e, "value", "event_id", b=32)


def w11_resample_interpolate(spark, sf_dir):
    """W11: per-user DAILY-grid resampling of the event value signal
    with LINEAR interpolation between bracketing observations — the
    common-grid alignment step before comparing irregularly-sampled
    series (the reference's splice domain resamples depth logs the
    same way). Epoch-microsecond integer grid (integer ceil/floor
    division) so the grid is bit-exact cross-engine; samples and grid
    meet in ONE window sort with two frames, no as-of join
    (feldman_spark/ops/windows.py::resample_interpolate)."""
    from feldman_spark.ops.windows import resample_interpolate

    e = _t(spark, sf_dir, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    pts = e.where(F.col("ts").isNotNull() & F.col("value").isNotNull()) \
        .select("user_id", us.alias("x"), F.col("value").alias("y"))
    return resample_interpolate(
        pts, ["user_id"], "x", "y", step=86_400_000_000)


def events_changepoint(spark, sf_dir):
    """CUSUM mean-shift changepoint per user (Page 1954): the single
    most likely location of a level shift in each user's event-value
    series — where the cumulative deviation from the user's mean peaks
    in magnitude. One exchange on user_id feeds the unordered
    mean/stddev frame, the ordered running sum, and the argmax; the
    running sum folds in (ts, event_id) order on BOTH engines so the
    peak choice is bit-identical
    (feldman_spark/ops/windows.py::cusum_changepoint)."""
    from feldman_spark.ops.windows import cusum_changepoint

    e = _t(spark, sf_dir, "events")
    return cusum_changepoint(
        e, ["user_id"], "value", ["ts", "event_id"], min_points=20)


def a14_weighted_median(spark, sf_dir):
    """A14: exact weighted median — per return flag, the smallest
    extended price whose cumulative QUANTITY reaches half the flag's
    total quantity (rows are not equal: a 50-unit line carries 50×
    the mass of a 1-unit line). One exchange, one sort, the group
    total and running weight share the sort as two frames
    (feldman_spark/ops/windows.py::weighted_percentile)."""
    from feldman_spark.ops.windows import weighted_percentile

    li = _t(spark, sf_dir, "lineitem")
    return weighted_percentile(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity", p=0.5,
        out="w_median_price")


def f10_mad_outliers(spark, sf_dir):
    """F10: MAD-based robust outliers — events whose modified z-score
    0.6745·(value − median)/MAD exceeds 3.5 within their event type
    (Iglewicz & Hoaglin). Median/MAD have a 50% breakdown point, so
    the heavy tail being flagged cannot drag the cutoff the way it
    drags mean/stddev. Two exact-percentile group aggregates broadcast
    back; the filter is row-local
    (feldman_spark/ops/filters.py::mad_outliers)."""
    from feldman_spark.ops.filters import mad_outliers

    e = _t(spark, sf_dir, "events")
    return (mad_outliers(e, ["event_type"], "value", threshold=3.5)
            .select("event_id", "event_type", "value", "robust_z"))


def w12_locf_fill(spark, sf_dir):
    """W12: last-observation-carried-forward repair — treat 'error'
    events' values as missing (a sensor that logs garbage on fault)
    and carry each user's most recent good value forward, backfilling
    leading gaps from the first observation. Forward and backward fill
    are two frames of ONE sort on one user exchange
    (feldman_spark/ops/windows.py::locf_fill)."""
    from feldman_spark.ops.windows import locf_fill

    e = _t(spark, sf_dir, "events")
    masked = e.select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_type") != "error", F.col("value")).alias("v"))
    return (locf_fill(masked, ["user_id"], ["ts", "event_id"], ["v"],
                      backfill=True)
            .select("event_id", "user_id", "v", "v_filled"))


def text_char_entropy(spark, sf_dir):
    """Character-distribution Shannon entropy per document (bits) —
    the gibberish/junk-blob signal: padding repeats → ~0, natural
    prose ~4-4.5, base64 spew ~6. One vectorized codepoint pass per
    Arrow batch, row-local, no shuffle
    (feldman_spark/pipeline/text.py::char_entropy)."""
    from feldman_spark.pipeline.text import char_entropy

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", char_entropy(F.col("text")).alias("entropy"))


def profile_trend(spark, sf_dir):
    """Per-user OLS trend of event value over time (slope/intercept/R²
    in one decomposable-aggregate pass — the 'which series are
    drifting' profiler). Hours since a FIXED literal origin as x, so
    the intercept is numerically tame and the twin bit-stable
    (feldman_spark/pipeline/profile.py::grouped_trend)."""
    from feldman_spark.pipeline.profile import grouped_trend

    e = _t(spark, sf_dir, "events")
    x = (F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)")
        .cast("double") / F.lit(3600.0))
    pts = e.where(F.col("ts").isNotNull()).select(
        "user_id", x.alias("x_hours"), F.col("value").alias("y"))
    return grouped_trend(pts, ["user_id"], "x_hours", "y", min_points=20)


def profile_mutual_info(spark, sf_dir):
    """Mutual information between document language and source (bits,
    plus marginal entropies and sqrt-normalized NMI) — the dependence
    profiler for feature-relevance and leakage triage. The corpus
    collapses to the joint (lang, source) count table in one pass;
    everything downstream is pair-sized
    (feldman_spark/pipeline/profile.py::mutual_info)."""
    from feldman_spark.pipeline.profile import mutual_info

    d = _t(spark, sf_dir, "documents")
    return mutual_info(d, "lang", "source")


def events_top_paths(spark, sf_dir):
    """Top-20 ordered event-type paths across 30-min-gap sessions —
    whole-walk behavior mining, what the first-order transition matrix
    forgets (everything before the previous step). Session ids via the
    lag+cumsum formulation (the events_sessionize shape, tie-broken by
    event_id); each session's path is a per-session array_sort over
    collected structs, counts partial-aggregate, top-k is TakeOrdered
    (feldman_spark/ops/windows.py::session_paths)."""
    from pyspark.sql import Window
    from feldman_spark.ops.windows import session_paths

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800),
        1).otherwise(0)
    sess = e.withColumn("_sid", F.sum(new_s).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    return session_paths(
        sess, ["user_id", "_sid"], "event_type", ["ts", "event_id"],
        top_k=20, max_steps=8)


def text_hashing_features(spark, sf_dir):
    """Hashing-trick featurization (Weinberger et al. 2009): lowercased
    whitespace tokens hash into 64 fixed buckets via the md5-variate
    convention — no vocabulary pass, no fitted state; output is the
    sparse (doc, bucket, count) triplet form. One codegen token-stream
    scan, one partial-aggregating exchange bounded by docs × buckets
    (feldman_spark/pipeline/text.py::hashing_features)."""
    from feldman_spark.pipeline.text import hashing_features

    d = _t(spark, sf_dir, "documents")
    return hashing_features(d, "doc_id", F.col("text"), n_buckets=64)


def text_winnow(spark, sf_dir):
    """Winnowing fingerprint profile (Schleimer et al. 2003 / MOSS):
    per document, how many winnowed fingerprints it carries and how
    many of those are SHARED with another document — the local
    copy/boilerplate signal (guaranteed hit for any shared run of
    k+w-1 = 15 chars) that whole-doc minhash can't localize. Gram
    hashes explode inside the scan; selection is one packed-integer
    frame MIN per doc; sharing stats are fingerprint-sized joins
    (feldman_spark/pipeline/text.py::winnow_fingerprints)."""
    from feldman_spark.pipeline.text import winnow_fingerprints

    d = _tw(spark, sf_dir, "documents")
    # cache=True: the fingerprint table fans into three consumers
    # (profile count, sharing join left side, per-hash sharing counts);
    # without the barrier each re-ran the md5-per-character gram stream
    fp = winnow_fingerprints(d, "doc_id", F.col("text"), k=12, w=4,
                             cache=True)
    n_fp = fp.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    byhash = fp.select("doc_id", "fp_hash").distinct()
    sharing = byhash.groupBy("fp_hash").agg(F.count("*").alias("_nd"))
    n_shared = (byhash.join(sharing, "fp_hash")
                .filter(F.col("_nd") >= 2)
                .groupBy("doc_id").agg(F.count("*").alias("_ns")))
    return (n_fp.join(n_shared, "doc_id", "left")
            .select("doc_id", "n_fp",
                    F.coalesce(F.col("_ns"), F.lit(0)).alias("n_shared")))


def web_cooccurrence_pmi(spark, sf_dir):
    """PMI/NPMI-ranked item co-occurrence over the same capped (user,
    item) sets as web_cooccurrence — "do these co-occur more than
    their popularities predict?" rather than raw pair counts. Margins
    and N come from the SAME capped table so the three counts are
    mutually consistent; the PMI arithmetic adds only item-sized
    broadcasts to the pair plan
    (feldman_spark/pipeline/graph.py::cooccurrence_pmi)."""
    from feldman_spark.pipeline.graph import cooccurrence_pmi

    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        (F.floor(F.col("value")).cast("bigint") % 50).alias("item"))
    return cooccurrence_pmi(d, "user_id", "item", cap=20, min_count=3)


def sample_group_split(spark, sf_dir):
    """Leakage-safe train/val/test split: the variate is hashed on the
    USER, not the row, so every event of a user lands in one split —
    the split discipline that keeps a user's behavior out of both
    train and eval (row-level splits leak entities across the
    boundary). Row-local hash_split with the group key; summarized
    per split with the user count proving the grouping
    (feldman_spark/pipeline/sampling.py::hash_split)."""
    from feldman_spark.pipeline.sampling import hash_split

    e = _t(spark, sf_dir, "events")
    return (hash_split(e, "user_id").groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("user_id").alias("n_users")))


def a15_dense_ids(spark, sf_dir):
    """A15: contiguous vocabulary ids over the corpus's distinct
    lowercase tokens — embedding-matrix row indices (dense,
    collision-free, value-ordered). Two-phase zipWithIndex: range
    exchange parallelizes the global sort, per-partition row_number +
    broadcast cumulative offsets; ids depend on the value SET only,
    never the partitioning
    (feldman_spark/pipeline/training.py::dense_ids)."""
    from feldman_spark.pipeline.training import dense_ids

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(
        F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                 lambda t: t != "")).alias("token"))
    return dense_ids(toks, "token", num_partitions=8)


def j16_geo_radius_join(spark, sf_dir):
    """J16: EXACT great-circle radius join (haversine ≤ 200 km) between
    customers and suppliers at deterministic integer-lattice
    coordinates (±55° lat, 60°-wide lon band). The geo correction over
    j15's planar grid: lon bins sized for the band's WORST latitude so
    the 3×3 probe stays pigeonhole-exact; candidates verify with the
    true haversine; out-of-band latitudes raise, never silently lose
    recall (feldman_spark/ops/joins.py::geo_radius_join)."""
    from feldman_spark.ops.joins import geo_radius_join

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        (((F.col("c_custkey") * 7919) % 1100) / 10.0 - 55.0).alias("lat"),
        (((F.col("c_custkey") * 104729) % 600) / 10.0 - 30.0).alias("lon"))
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (((F.col("s_suppkey") * 7919 + 13) % 1100) / 10.0 - 55.0)
        .alias("lat2"),
        (((F.col("s_suppkey") * 104729 + 17) % 600) / 10.0 - 30.0)
        .alias("lon2"))
    return (geo_radius_join(c, s, 200.0, max_abs_lat=60.0)
            .select("c_custkey", "s_suppkey", "dist_km"))


def text_normalize_keys(spark, sf_dir):
    """Canonical dedup-key normalization over the pinned adversarial
    fixture (composed vs decomposed accents, NBSP, ß casefold, Turkish
    İ, ligature expansion, ideographic spaces): NFC → casefold →
    accent-strip → whitespace-collapse in one vectorized Arrow pass.
    SF-independent pure function + pinned input = VALUES oracle (the
    media_image_stats pattern), so any behavior drift turns the row
    red (feldman_spark/pipeline/text.py::normalize_keys)."""
    from feldman_spark.pipeline.text import NORMALIZE_FIXTURE, normalize_keys

    df = spark.createDataFrame(
        [(i, raw) for i, raw, _ in NORMALIZE_FIXTURE], "id long, raw string")
    return df.select("id", normalize_keys(F.col("raw")).alias("norm_key"))


def f11_quantile_rank(spark, sf_dir):
    """F11: quantile-transform calibration — each document's length
    becomes its percentile position WITHIN its source (percent_rank,
    ties share), the rank-normalization that makes scores comparable
    across sources before thresholding or mixing. One exchange, one
    sort; percent_rank is built-in on both engines so the twin is
    definition-for-definition
    (feldman_spark/ops/filters.py::with_quantile_rank)."""
    from feldman_spark.ops.filters import with_quantile_rank

    d = _t(spark, sf_dir, "documents")
    return (with_quantile_rank(d.select("doc_id", "source", "n_chars"),
                               ["source"], "n_chars")
            .select("doc_id", "source", "n_chars", "q"))


def profile_k_anonymity(spark, sf_dir):
    """k-anonymity audit over the (event_type, floor(value)) quasi-
    identifier combination — the pre-release re-identifiability
    summary (Sweeney 2002): worst group size, singleton count, rows
    below k=5. The fact table collapses to fingerprint counts in one
    pass; everything after is fingerprint-sized
    (feldman_spark/pipeline/profile.py::k_anonymity)."""
    from feldman_spark.pipeline.profile import k_anonymity

    e = _t(spark, sf_dir, "events")
    q = e.select("event_type",
                 F.floor(F.col("value")).cast("long").alias("value_bin"))
    return k_anonymity(q, ["event_type", "value_bin"], k=5)


def dedup_winnow_pairs(spark, sf_dir):
    """Top-100 document pairs explained by shared winnowing
    fingerprints (localization: how many shared, where the overlap
    starts in each doc) — the WHERE answer after text_winnow's
    per-doc profile. Universal-boilerplate hashes df-capped at 50
    before the pair join so no hash contributes more than C(50,2)
    pairs; deterministic (n_shared desc, id asc) order
    (feldman_spark/pipeline/text.py::winnow_shared_pairs)."""
    from feldman_spark.pipeline.text import (winnow_fingerprints,
                                             winnow_shared_pairs)

    d = _tw(spark, sf_dir, "documents")
    fp = winnow_fingerprints(d, "doc_id", F.col("text"), k=12, w=4)
    pairs = winnow_shared_pairs(fp, "doc_id", df_cap=50, min_shared=2)
    return (pairs.orderBy(F.col("n_shared").desc(),
                          F.col("id_a").asc(), F.col("id_b").asc())
            .limit(100))


def profile_benford(spark, sf_dir):
    """Benford's-law first-digit audit of event values — the forensic
    screen for fabricated/capped/assigned quantities: per digit 1-9,
    observed vs expected fraction and the chi-square contribution.
    String-based digit extraction ('%.4f' then first [1-9]) dodges the
    log10 power-of-ten knife edge; one partial-aggregating pass to 9
    counts (feldman_spark/pipeline/profile.py::benford_digits)."""
    from feldman_spark.pipeline.profile import benford_digits

    e = _t(spark, sf_dir, "events")
    return benford_digits(e, "value")


def profile_gini(spark, sf_dir):
    """Gini concentration of document length per source — is a
    source's character mass spread across documents or concentrated in
    a few? Sorted-rank identity 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n, tie-proof
    because equal values are interchangeable under it; one exchange,
    one sort, group-sized combine
    (feldman_spark/pipeline/profile.py::grouped_gini)."""
    from feldman_spark.pipeline.profile import grouped_gini

    d = _t(spark, sf_dir, "documents")
    return grouped_gini(d, ["source"], "n_chars")


def w13_time_weighted_avg(spark, sf_dir):
    """W13: time-weighted average event value per user — each
    observation holds until the next, so the mean weights persistence,
    not sampling rate (TWAP semantics; an arithmetic mean of irregular
    samples is sampling-rate bias). One exchange: lead over one sort
    gives exact integer-microsecond interval weights, the weighted sum
    partial-aggregates
    (feldman_spark/ops/windows.py::time_weighted_avg)."""
    from feldman_spark.ops.windows import time_weighted_avg

    e = _t(spark, sf_dir, "events")
    return time_weighted_avg(e, ["user_id"], "ts", "value",
                             order_tiebreak=["event_id"])


def profile_equidepth(spark, sf_dir):
    """Equi-DEPTH histogram of document length (10 quantile buckets) —
    the skew-reading companion to the equi-width profile: stretched
    tail buckets ARE the skew. One exact-percentile aggregate
    broadcast as a 9-boundary array, row-local fold assignment,
    ≤10-row count table
    (feldman_spark/pipeline/profile.py::equidepth_histogram)."""
    from feldman_spark.pipeline.profile import equidepth_histogram

    d = _t(spark, sf_dir, "documents")
    return equidepth_histogram(d, "n_chars", buckets=10)


def profile_null_patterns(spark, sf_dir):
    """Missing-data pattern profiler over three deterministically
    masked event columns (value masked below 5 — a sensor floor; props
    masked on error rows; every 7th user anonymized): how missingness
    CO-OCCURS, the row segments an imputation/drop policy must handle
    separately. Row-local flag concat, ≤2³ patterns, TakeOrdered
    (feldman_spark/pipeline/profile.py::null_patterns)."""
    from feldman_spark.pipeline.profile import null_patterns

    e = _t(spark, sf_dir, "events")
    masked = e.select(
        F.when(F.col("value") >= 5, F.col("value")).alias("v_m"),
        F.when(F.col("event_type") != "error", F.col("props"))
        .alias("p_m"),
        F.when(F.col("user_id") % 7 != 0, F.col("user_id")).alias("u_m"))
    return null_patterns(masked, ["v_m", "p_m", "u_m"], top_k=10)


def profile_spearman(spark, sf_dir):
    """Spearman rank correlation of event value against time, per
    user — the MONOTONIC drift detector (robust to outliers and any
    monotone transform, unlike profile_trend's OLS R²). Exact
    average-rank tie handling, then Pearson over rank pairs via the
    try_divide covariance form (constant side → NULL by contract)
    (feldman_spark/pipeline/profile.py::spearman_corr)."""
    from feldman_spark.pipeline.profile import spearman_corr

    e = _t(spark, sf_dir, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        " ts)")
    pts = e.where(F.col("ts").isNotNull()).select(
        "user_id", us.alias("t_us"), F.col("value").alias("y"))
    return spearman_corr(pts, ["user_id"], "t_us", "y", min_points=20)


def events_seasonality(spark, sf_dir):
    """Daily-seasonality strength per event type: correlation between
    each hour's event count and the count exactly 24 hours earlier.
    Hours pair by TIMESTAMP EQUALITY (gap-correct — silent hours can't
    misalign the series the way a 24-ROW lag would); events collapse
    map-side to hour counts, everything after is calendar-sized
    (feldman_spark/ops/windows.py::seasonal_autocorr)."""
    from feldman_spark.ops.windows import seasonal_autocorr

    e = _t(spark, sf_dir, "events")
    return seasonal_autocorr(e, ["event_type"], "ts", lag_hours=24)


# --------------------------------------------------------------------------
# contract
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the genuine E2 splice export (containment classification +
    affine fallback through feldman_spark.export.splice_export) at sf0.001."""
    return feldman_e2_export(spark, SF_DEFAULT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
    # Key order is load-bearing: the driver's correctness gate records the
    # FIRST 50 keys only; the prefix rotates per round so every query
    # eventually carries a driver-green row (the mirror gate,
    # tools/check_oracle.py, still runs ALL keys every round, so queries
    # outside the window cannot silently rot). Round-11 window, executing
    # the r10 verdict's rotation policy exactly ("displaced r7-block keys
    # take the r11 window head per policy — never-covered first, then the
    # staleness queue"): (a) profile_spearman/events_seasonality, which
    # registered after the r10 window froze at 50 and have NEVER carried a
    # driver row; (b) the r7-green keys the r10c registrations displaced,
    # oldest driver coverage first. The five r7 keys past slot 50
    # (text_ppl_buckets … w1_splice_scan) defer to the r12 queue head,
    # ahead of the rotated-out r10-window keys (freshest coverage).
    # --- r11 window: 2 never-covered keys ---
        "profile_spearman": profile_spearman,
        "events_seasonality": events_seasonality,
    # --- r11 window: 48 displaced r7-green keys, oldest coverage first ---
        "profile_histogram": profile_histogram_q,
        "profile_join_cardinality": profile_join_cardinality,
        "profile_psi_drift": profile_psi_drift,
        "a7_percentiles": a7_percentiles,
        "a8_rollup": a8_rollup,
        "dedup_contamination_13g": dedup_contamination_13g,
        "dedup_embedding_cosine": dedup_embedding_cosine,
        "dedup_exact": dedup_exact,
        "dedup_simhash": dedup_simhash,
        "doc_embedding_join": doc_embedding_join,
        "events_attribution": events_attribution,
        "events_json_props": events_json_props,
        "events_running_totals": events_running_totals,
        "events_sessionize_native": events_sessionize_native,
        "events_stream_dedup": events_stream_dedup,
        "j9_asof_join": j9_asof_join,
        "knn_group_centroids": knn_group_centroids,
        "knn_ivf_exact": knn_ivf_exact,
        "knn_lsh_exact": knn_lsh_exact,
        "o1_topk": o1_topk,
        "pack_examples": pack_examples,
        "pipeline_curate_corpus": pipeline_curate_corpus,
        "pipeline_fuzzy_dedup": pipeline_fuzzy_dedup,
        "pivot_returnflag": pivot_returnflag,
        "profile_calibration": profile_calibration,
        "profile_documents": profile_documents,
        "q11_important_stock": q11_important_stock,
        "q13_customer_distribution": q13_customer_distribution,
        "q15_top_supplier": q15_top_supplier,
        "q16_supplier_cnt": q16_supplier_cnt,
        "q17_avg_subquery": q17_avg_subquery,
        "q18_large_volume": q18_large_volume,
        "q19_disjunctive": q19_disjunctive,
        "q20_potential_promotion": q20_potential_promotion,
        "q21_waiting_supplier": q21_waiting_supplier,
        "q22_global_sales": q22_global_sales,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "q4_order_priority": q4_order_priority,
        "q7_volume_shipping": q7_volume_shipping,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "sample_budget_mix": sample_budget_mix,
        "sample_cap_per_source": sample_cap_per_source,
        "sample_fraction": sample_fraction,
        "sample_mix": sample_mix,
        "sample_split": sample_split,
        "text_bm25_rerank": text_bm25_rerank,
        "text_fingerprint": text_fingerprint,
    # ^ the 50-key driver window ends here --- tail below is mirror-checked every round ---
    # deferred keys (r12 window head): the five r7 keys the 50-slot
    # window could not hold this round...
        "text_ppl_buckets": text_ppl_buckets,
        "text_scrub_pii": text_scrub_pii,
        "text_tfidf_terms": text_tfidf_terms,
        "u1_union_all": u1_union_all,
        "w1_splice_scan": w1_splice_scan,
    # ...then the rotated-out r10-window keys (r10-green driver rows —
    # the freshest coverage in the registry, so they queue behind the
    # r7 stragglers; every key below stays mirror-checked each round):
        "web_url_normalize": web_url_normalize,
        "web_domain_cap": web_domain_cap,
        "a11_approx_quantiles": a11_approx_quantiles,
        "a12_heavy_hitters": a12_heavy_hitters,
        "a2_distinct": a2_distinct,
        "a9_sketch_distinct": a9_sketch_distinct,
        "f2_range_between": f2_range_between,
        "f3_in_list": f3_in_list,
        "f7_domain_validation": f7_domain_validation,
        "f8_winsorize": f8_winsorize,
        "o2_zorder_key": o2_zorder_key,
        "pack_chunks": pack_chunks,
        "profile_skew": profile_skew_q,
        "u2_unpivot": u2_unpivot,
        "u3_table_diff": u3_table_diff,
        "w4_first_seen": w4_first_seen,
        "w5_explode_sequence": w5_explode_sequence,
        "media_incremental_dedup": media_incremental_dedup,
        "dedup_containment": dedup_containment,
        "w10_interval_merge": w10_interval_merge,
        "a13_grouped_mode": a13_grouped_mode,
        "text_readability": text_readability,
        "text_top_ngrams": text_top_ngrams,
        "knn_join": knn_join_q,
        "j15_radius_join": j15_radius_join,
        "profile_bootstrap_ci": profile_bootstrap_ci,
        "w11_resample_interpolate": w11_resample_interpolate,
        "events_changepoint": events_changepoint,
        "a14_weighted_median": a14_weighted_median,
        "f10_mad_outliers": f10_mad_outliers,
        "w12_locf_fill": w12_locf_fill,
        "text_char_entropy": text_char_entropy,
        "profile_trend": profile_trend,
        "profile_mutual_info": profile_mutual_info,
        "events_top_paths": events_top_paths,
        "text_hashing_features": text_hashing_features,
        "text_winnow": text_winnow,
        "web_cooccurrence_pmi": web_cooccurrence_pmi,
        "sample_group_split": sample_group_split,
        "a15_dense_ids": a15_dense_ids,
        "j16_geo_radius_join": j16_geo_radius_join,
        "text_normalize_keys": text_normalize_keys,
        "f11_quantile_rank": f11_quantile_rank,
        "profile_k_anonymity": profile_k_anonymity,
        "dedup_winnow_pairs": dedup_winnow_pairs,
        "profile_benford": profile_benford,
        "profile_gini": profile_gini,
        "w13_time_weighted_avg": w13_time_weighted_avg,
        "profile_equidepth": profile_equidepth,
        "profile_null_patterns": profile_null_patterns,
    # r8-green keys:
        "a10_cube": a10_cube,
        "a1_group_minmax": a1_group_minmax,
        "a4_argmin": a4_argmin,
        "a5_conditional_sum_hof": a5_conditional_sum_hof,
        "c10_concat_ids": c10_concat_ids,
        "decontaminate_corpus": decontaminate_corpus,
        "dedup_clusters": dedup_clusters,
        "dedup_incremental": dedup_incremental,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_paragraphs": dedup_paragraphs,
        "dedup_semantic": dedup_semantic,
        "events_enrich": events_enrich,
        "events_interval_join": events_interval_join,
        "events_running_totals_native": events_running_totals_native,
        "events_sessionize": events_sessionize,
        "events_stream_dedup_native": events_stream_dedup_native,
        "f1_conjunctive_eq": f1_conjunctive_eq,
        "feldman_e2_export": feldman_e2_export,
        "j10_salted_join": j10_salted_join,
        "j11_range_join_bounded": j11_range_join_bounded,
        "j1_containment_join": j1_containment_join,
        "j3_anti_join": j3_anti_join,
        "j4_broadcast_equi": j4_broadcast_equi,
        "j5_semi_join": j5_semi_join,
        "j7_nearest_join": j7_nearest_join,
        "j8_lookup_join": j8_lookup_join,
        "knn_ivf": knn_ivf,
        "p6_regex_extract": p6_regex_extract,
        "p7_parse_section_id": p7_parse_section_id,
        "pipeline_dedup_stats": pipeline_dedup_stats,
        "q10_returned_items": q10_returned_items,
        "q12_shipmode": q12_shipmode,
        "q14_promo_effect": q14_promo_effect,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_local_supplier_volume": q5_local_supplier_volume,
        "q6_revenue_forecast": q6_revenue_forecast,
        "sample_curriculum": sample_curriculum,
        "sample_shuffle": sample_shuffle,
        "text_bpe_encode": text_bpe_encode,
        "text_gopher_quality": text_gopher_quality,
        "text_lang_id": text_lang_id,
        "text_quality": text_quality,
        "text_tokens": text_tokens,
        "w2_lag_diff": w2_lag_diff,
        "w3_expanding_slope": w3_expanding_slope,
        "w6_scd2_intervals": w6_scd2_intervals,
        "w7_time_gapfill": w7_time_gapfill,
        "web_blocklist_filter": web_blocklist_filter,
    # r9-green keys (freshest driver rows, rotated out of the window):
        "text_c4_rules": text_c4_rules,
        "text_novelty": text_novelty,
        "events_conversion_lag": events_conversion_lag,
        "events_anomaly": events_anomaly,
        "events_ewma": events_ewma,
        "events_session_stats": events_session_stats,
        "web_dedup_url": web_dedup_url,
        "media_image_stats": media_image_stats,
        "pq_topk": pq_topk,
        "ivf_pq_topk": ivf_pq_topk,
        "web_robots_filter": web_robots_filter,
        "text_mojibake": text_mojibake,
        "text_script_profile": text_script_profile,
        "media_phash_dedup": media_phash_dedup,
        "media_audio_dedup": media_audio_dedup,
        "dedup_near_overlap": dedup_near_overlap,
        "media_features": media_features,
        "events_tumbling": events_tumbling,
        "events_sliding": events_sliding,
        "knn_brute_force": knn_brute_force,
        "knn_lsh": knn_lsh,
        "decontaminate_semantic": decontaminate_semantic_q,
        "dedup_corpus_overlap": dedup_corpus_overlap,
        "dedup_frequent_spans": dedup_frequent_spans,
        "dedup_near_incremental": dedup_near_incremental,
        "dedup_survivors_quality": dedup_survivors_quality,
        "events_funnel": events_funnel,
        "events_retention": events_retention,
        "events_transitions": events_transitions,
        "f9_zscore_groups": f9_zscore_groups,
        "graph_pagerank": graph_pagerank,
        "graph_triangles": graph_triangles,
        "j11_binned_range_join": j11_binned_range_join,
        "j12_bloom_semi_join": j12_bloom_semi_join,
        "j13_interval_overlap": j13_interval_overlap,
        "j14_fuzzy_link": j14_fuzzy_link,
        "o3_grouped_topk": o3_grouped_topk,
        "sample_dsir": sample_dsir,
        "sample_rebalance": sample_rebalance,
        "sample_stratified": sample_stratified,
        "sample_temperature": sample_temperature,
        "sample_weighted": sample_weighted,
        "text_bm25": text_bm25,
        "text_bpe_pairs": text_bpe_pairs,
        "text_lm_score": text_lm_score,
        "text_strip_html": text_strip_html,
        "w1_splice_scan_grouped": w1_splice_scan_grouped,
        "w8_rolling_time": w8_rolling_time,
        "w9_merge_upsert": w9_merge_upsert,
        "web_cooccurrence": web_cooccurrence,
    }
def _bpe_encode_oracle_sql(n_merges: int = 6, k: int = 20) -> str:
    """DuckDB twin of text_bpe_encode: the same iterative merge argmax,
    one (m_i, v_i) CTE pair per merge — m_i picks the most frequent
    adjacent symbol pair of state v_{i-1} (count desc, pair asc), v_i
    replays the merge as the SAME left fold over symbols the Spark side
    uses (list_reduce ↔ F.aggregate): tail-token-equals-a + next-is-b →
    append with no separator. Zero-width boundaries, so runs merge
    correctly ('l l l l' → 'll ll')."""
    stages = ["""v0 AS (
              SELECT w, n,
                     trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s
              FROM (
                SELECT w, count(*) AS n FROM (
                  SELECT unnest(string_split_regex(lower(trim(text)),
                                                   '\\s+')) AS w
                  FROM documents)
                WHERE w <> '' GROUP BY 1)
            )"""]
    for i in range(1, n_merges + 1):
        stages.append(f"""m{i} AS (
              SELECT arr[u.i] || ' ' || arr[u.i+1] AS p
              FROM (SELECT string_split(s, ' ') AS arr, n FROM v{i - 1}) t,
                   UNNEST(range(1, len(arr))) AS u(i)
              GROUP BY 1 ORDER BY sum(n) DESC, p LIMIT 1
            )""")
        stages.append(f"""v{i} AS (
              SELECT w, n,
                list_reduce(
                  list_prepend('', string_split(s, ' ')),
                  (acc, x) -> CASE
                    WHEN x = mm.b AND (acc = mm.a
                                       OR ends_with(acc, ' ' || mm.a))
                      THEN acc || x
                    WHEN acc = '' THEN x
                    ELSE acc || ' ' || x END) AS s
              FROM v{i - 1}, (SELECT string_split(p, ' ')[1] AS a,
                                     string_split(p, ' ')[2] AS b
                              FROM m{i}) mm
            )""")
    return ("WITH " + ",\n".join(stages) + f"""
            SELECT w AS word, CAST(n AS BIGINT) AS n, s AS bpe,
                   CAST(len(string_split(s, ' ')) AS BIGINT) AS n_tokens
            FROM v{n_merges} ORDER BY n DESC, word LIMIT {k}""")


def _near_overlap_oracle_sql() -> str:
    """DuckDB twin of dedup_near_overlap: identical slices, identical
    postscript, identical md5 minhash family / banding / Jaccard-0.2
    verification as feldman_spark/pipeline/dedup.py::corpus_near_overlap
    (k=3 word shingles over DISTINCT sets, exactly the
    dedup_minhash_lsh oracle machinery split across two corpora)."""
    return """
        WITH a AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        b AS (SELECT doc_id,
                     text || ' postscript appended by the mirror site' AS text
              FROM documents WHERE doc_id % 3 = 0),
        sha AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, len(w) - 1),
                               i -> array_to_string(w[i:i+2], ' '))) AS sh
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM a)
          WHERE len(w) >= 3
        ),
        shb AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, len(w) - 1),
                               i -> array_to_string(w[i:i+2], ' '))) AS sh
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM b)
          WHERE len(w) >= 3
        ),
        siga AS (SELECT doc_id, list_min(list_transform(sh, s -> md5(s || '#0'))) AS h0, list_min(list_transform(sh, s -> md5(s || '#1'))) AS h1, list_min(list_transform(sh, s -> md5(s || '#2'))) AS h2, list_min(list_transform(sh, s -> md5(s || '#3'))) AS h3, list_min(list_transform(sh, s -> md5(s || '#4'))) AS h4, list_min(list_transform(sh, s -> md5(s || '#5'))) AS h5, list_min(list_transform(sh, s -> md5(s || '#6'))) AS h6, list_min(list_transform(sh, s -> md5(s || '#7'))) AS h7, list_min(list_transform(sh, s -> md5(s || '#8'))) AS h8 FROM sha),
        sigb AS (SELECT doc_id, list_min(list_transform(sh, s -> md5(s || '#0'))) AS h0, list_min(list_transform(sh, s -> md5(s || '#1'))) AS h1, list_min(list_transform(sh, s -> md5(s || '#2'))) AS h2, list_min(list_transform(sh, s -> md5(s || '#3'))) AS h3, list_min(list_transform(sh, s -> md5(s || '#4'))) AS h4, list_min(list_transform(sh, s -> md5(s || '#5'))) AS h5, list_min(list_transform(sh, s -> md5(s || '#6'))) AS h6, list_min(list_transform(sh, s -> md5(s || '#7'))) AS h7, list_min(list_transform(sh, s -> md5(s || '#8'))) AS h8 FROM shb),
        banda AS (
          SELECT doc_id, 0 AS band, md5(h0 || '|' || h1 || '|' || h2) AS bh FROM siga
          UNION ALL SELECT doc_id, 1, md5(h3 || '|' || h4 || '|' || h5) FROM siga
          UNION ALL SELECT doc_id, 2, md5(h6 || '|' || h7 || '|' || h8) FROM siga
        ),
        bandb AS (
          SELECT doc_id, 0 AS band, md5(h0 || '|' || h1 || '|' || h2) AS bh FROM sigb
          UNION ALL SELECT doc_id, 1, md5(h3 || '|' || h4 || '|' || h5) FROM sigb
          UNION ALL SELECT doc_id, 2, md5(h6 || '|' || h7 || '|' || h8) FROM sigb
        ),
        cand AS (
          SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb
          FROM banda x JOIN bandb y ON x.band = y.band AND x.bh = y.bh
        ),
        ver AS (
          SELECT DISTINCT ida, idb
          FROM cand
          JOIN sha s1 ON s1.doc_id = ida
          JOIN shb s2 ON s2.doc_id = idb
          WHERE CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
                / (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh)))
                >= 0.2
        )
        SELECT
          (SELECT count(*) FROM a) AS n_a,
          (SELECT count(*) FROM b) AS n_b,
          (SELECT count(DISTINCT ida) FROM ver) AS n_a_matched,
          (SELECT count(DISTINCT idb) FROM ver) AS n_b_matched,
          round(CAST((SELECT count(DISTINCT ida) FROM ver) AS DOUBLE)
                / (SELECT count(*) FROM a), 6) AS frac_a_matched,
          round(CAST((SELECT count(DISTINCT idb) FROM ver) AS DOUBLE)
                / (SELECT count(*) FROM b), 6) AS frac_b_matched
    """


def _mojibake_oracle_sql() -> str:
    """DuckDB twin of text_mojibake: the IDENTICAL replace chain in the
    IDENTICAL order, generated from the same MOJIBAKE_TABLE the Spark
    side compiles its fix_mojibake chain from (first table entry is the
    innermost = first-applied replace on both engines)."""
    from feldman_spark.pipeline.text import MOJIBAKE_TABLE

    expr = "corrupted"
    for bad, good in MOJIBAKE_TABLE:
        expr = "replace({}, '{}', '{}')".format(
            expr, bad.replace("'", "''"), good.replace("'", "''"))
    suffix = _MOJI_SUFFIX.replace("'", "''")
    return f"""
        WITH base AS (
          SELECT doc_id, text || '{suffix}' AS corrupted FROM documents
        )
        SELECT doc_id, md5({expr}) AS fixed_md5,
               CAST(length(corrupted) - length({expr}) AS BIGINT) AS n_bad
        FROM base
    """


def _script_profile_oracle_sql(digits: int = 4) -> str:
    """DuckDB twin of text_script_profile: same literal code-point
    ranges (imported from SCRIPT_RANGES — one source of truth), same
    letters-only denominator, same greatest-argmax with first-in-table
    tie-break. regexp_replace needs the explicit 'g' flag where Spark
    replaces globally by default."""
    from feldman_spark.pipeline.text import SCRIPT_RANGES

    counts = {
        name: f"length(regexp_replace(x, '[^{rng}]', '', 'g'))"
        for name, rng in SCRIPT_RANGES.items()
    }
    sel_counts = ",\n                 ".join(
        f"{expr} AS c_{name}" for name, expr in counts.items())
    names = list(counts)
    best = "greatest(" + ", ".join(f"c_{n}" for n in names) + ")"
    dominant = "CASE " + " ".join(
        f"WHEN c_{n} > 0 AND c_{n} = {best} THEN '{n}'" for n in names
    ) + " ELSE 'other' END"
    denom = "CAST(greatest(" + " + ".join(f"c_{n}" for n in names) + \
        ", 1) AS DOUBLE)"
    fracs = ",\n               ".join(
        f"round(CAST(c_{n} AS DOUBLE) / {denom}, {digits}) AS {n}_frac"
        for n in names if n != "devanagari")
    return f"""
        WITH tailed AS (
          SELECT doc_id,
                 text || CASE
                   WHEN doc_id % 4 = 0 THEN ' Привет мир'
                   WHEN doc_id % 4 = 1 THEN ' Γειά σου κόσμε'
                   WHEN doc_id % 4 = 2 THEN ' 你好世界 こんにちは'
                   ELSE ' مرحبا بالعالم ×÷' END AS x
          FROM documents
        ), counted AS (
          SELECT doc_id,
                 {sel_counts}
          FROM tailed
        )
        SELECT doc_id,
               {fracs},
               {dominant} AS dominant_script
        FROM counted
    """


def _zkey_sql(bits: int = 8) -> str:
    """The Morton-interleave bit expression in portable SQL — must stay
    bit-for-bit the twin of feldman_spark/io/parquet.py::zorder_key."""
    terms = []
    for b in range(bits):
        terms.append(f"(((zx >> {b}) & 1) << {2 * b})")
        terms.append(f"(((zy >> {b}) & 1) << {2 * b + 1})")
    return " | ".join(terms)


def _normalize_keys_oracle_sql() -> str:
    """VALUES oracle generated literal-for-literal from
    NORMALIZE_FIXTURE's expected column — the pinned-fixture pattern
    (robots/mojibake precedent): the Spark side COMPUTES the
    normalization, the oracle carries the expected outputs, so any
    unicodedata/step-order drift turns the driver row red."""
    from feldman_spark.pipeline.text import NORMALIZE_FIXTURE

    rows = ", ".join(
        "({}, '{}')".format(i, exp.replace("'", "''"))
        for i, _, exp in NORMALIZE_FIXTURE)
    return (f"SELECT id, norm_key FROM (VALUES {rows})"
            " t(id, norm_key)")


def oracle_sql() -> dict[str, str]:
    return {
        "events_retention": """
            WITH active AS (
              SELECT DISTINCT user_id AS u,
                     CAST(date_trunc('week', ts) AS DATE) AS p
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ), cohorts AS (
              SELECT u, min(p) AS cohort FROM active GROUP BY 1
            ), sizes AS (
              SELECT cohort, count(*) AS cs FROM cohorts GROUP BY 1
            ), joined AS (
              SELECT c.cohort,
                     CAST(datediff('day', c.cohort, a.p) / 7 AS BIGINT)
                       AS "offset"
              FROM active a JOIN cohorts c USING (u)
            ), agg AS (
              SELECT cohort, "offset", count(*) AS active_users
              FROM joined GROUP BY 1, 2
            )
            SELECT agg.cohort, agg."offset", active_users,
                   round(active_users / cs, 6) AS retention
            FROM agg JOIN sizes USING (cohort)
        """,
        "text_lm_score": """
            WITH base AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS t
              FROM documents
              WHERE len(string_split_regex(lower(trim(text)), '\\s+')) >= 2
                AND string_split_regex(lower(trim(text)), '\\s+')[1] <> ''
            ), idx AS (
              SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM base
            ), bg AS (
              SELECT doc_id, t[CAST(i AS INT)] AS w1,
                     t[CAST(i AS INT) + 1] AS w2
              FROM idx
            ), doc_bg AS (
              SELECT doc_id, w1, w2, count(*) AS k
              FROM bg GROUP BY 1, 2, 3
            ), model AS (
              SELECT w1, w2, sum(k) AS c12 FROM doc_bg GROUP BY 1, 2
            ), ctx AS (
              SELECT w1, sum(c12) AS c1 FROM model GROUP BY 1
            ), vocab AS (
              SELECT count(*) AS v FROM (
                SELECT w1 AS w FROM model UNION SELECT w2 FROM model)
            )
            SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
                   round(sum(k * ln((c12 + 0.1) / (c1 + 0.1 * v)))
                         / sum(k), 6) AS lm_logprob
            FROM doc_bg
            JOIN model USING (w1, w2)
            JOIN ctx USING (w1)
            CROSS JOIN vocab
            GROUP BY doc_id
        """,
        "sample_rebalance": """
            WITH sizes AS (
              SELECT lang, CAST(count(*) AS DOUBLE) AS n
              FROM documents GROUP BY 1
            ), t AS (
              SELECT lang, n,
                     CASE lang WHEN 'en' THEN 0.25 WHEN 'de' THEN 0.25
                               WHEN 'fr' THEN 0.25 WHEN 'es' THEN 0.25
                     END AS tg
              FROM sizes
            ), bound AS (
              SELECT min(n / tg) AS big_t FROM t
              WHERE tg IS NOT NULL AND tg > 0
            ), fr AS (
              SELECT lang,
                     CASE WHEN tg IS NOT NULL AND tg > 0 AND n > 0
                          THEN round(least(1.0, tg * big_t / n), 6)
                          ELSE 0.0 END AS keep
              FROM t, bound
            ), thr AS (
              SELECT lang,
                     CASE WHEN keep >= 1.0 THEN 'gggggggg'
                          ELSE printf('%08x',
                               CAST(floor(keep * 4294967296.0) AS BIGINT))
                     END AS th
              FROM fr
            )
            SELECT d.doc_id, d.lang, d.n_chars
            FROM documents d JOIN thr USING (lang)
            WHERE substr(md5(CAST(doc_id AS VARCHAR) || '#rebalance'),
                         1, 8) < th
        """,
        "sample_budget_mix": """
            WITH sums AS (
              SELECT source, CAST(sum(n_chars) AS DOUBLE) AS w
              FROM documents GROUP BY 1
            ), fr AS (
              SELECT source,
                     CASE source
                       WHEN 'src0' THEN least(1.0, round(4000.0 / w, 6))
                       WHEN 'src1' THEN least(1.0, round(4000.0 / w, 6))
                       WHEN 'src2' THEN least(1.0, round(2000.0 / w, 6))
                       WHEN 'src3' THEN least(1.0, round(1.0e12 / w, 6))
                     END AS keep
              FROM sums WHERE w > 0
            ), thr AS (
              SELECT source,
                     CASE WHEN keep >= 1.0 THEN 'gggggggg'
                          ELSE printf('%08x',
                               CAST(floor(keep * 4294967296.0) AS BIGINT))
                     END AS th
              FROM fr WHERE keep IS NOT NULL AND keep > 0
            )
            SELECT d.doc_id, d.source, d.n_chars
            FROM documents d JOIN thr USING (source)
            WHERE substr(md5(CAST(doc_id AS VARCHAR) || '#budget'),
                         1, 8) < th
        """,
        "events_attribution": """
            WITH conv AS (
              SELECT event_id AS conv_id, user_id, ts,
                     round(value, 2) AS value
              FROM events WHERE event_type = 'purchase'
            ), touch AS (
              SELECT user_id, ts, max(event_id) AS touch_id
              FROM events WHERE event_type = 'click' GROUP BY 1, 2
            ), aj AS (
              SELECT c.conv_id, c.user_id, c.ts AS cts, c.value,
                     t.touch_id, t.ts AS tts
              FROM conv c ASOF LEFT JOIN touch t
                ON c.user_id = t.user_id AND t.ts <= c.ts
            )
            SELECT conv_id, user_id,
                   strftime(cts, '%Y-%m-%d %H:%M:%S') AS conv_ts, value,
                   CASE WHEN tts IS NOT NULL
                         AND cts - tts <= INTERVAL 1 DAY
                        THEN touch_id END AS touch_id,
                   CASE WHEN tts IS NOT NULL
                         AND cts - tts <= INTERVAL 1 DAY
                        THEN strftime(tts, '%Y-%m-%d %H:%M:%S')
                        END AS touch_ts,
                   CASE WHEN tts IS NOT NULL
                         AND cts - tts <= INTERVAL 1 DAY
                        THEN 1 ELSE 0 END AS attributed
            FROM aj
        """,
        "profile_calibration": """
            WITH f AS (
              SELECT doc_id, lang,
                     CAST(len(text) AS BIGINT) AS n_chars,
                     CAST(CASE WHEN trim(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(text),
                                                         '\\s+')) END
                          AS BIGINT) AS n_tokens,
                     len(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                       AS alpha,
                     len(regexp_replace(text, '[^ ]', '', 'g')) AS spaces,
                     len(list_filter(
                         regexp_split_to_array(trim(text), '\\s+'),
                         t -> lower(t) IN ('the','a','of','and','to',
                                           'in','is'))) AS stop_hits
              FROM documents
            ), q AS (
              SELECT lang,
                     round(CAST(n_chars - spaces AS DOUBLE)
                           / CAST(greatest(n_tokens, 1) AS DOUBLE), 4)
                       AS avg_token_len,
                     round(CAST(alpha AS DOUBLE)
                           / CAST(greatest(n_chars, 1) AS DOUBLE), 4)
                       AS alpha_ratio,
                     round(CAST(stop_hits AS DOUBLE)
                           / CAST(greatest(n_tokens, 1) AS DOUBLE), 4)
                       AS stopword_ratio,
                     n_tokens
              FROM f
            ), scored AS (
              SELECT round(
                       0.3 * (CASE WHEN n_tokens BETWEEN 5 AND 100000
                              THEN 1.0 ELSE 0.0 END)
                     + 0.3 * (CASE WHEN avg_token_len BETWEEN 2.0 AND 12.0
                              THEN 1.0 ELSE 0.0 END)
                     + 0.2 * alpha_ratio
                     + 0.2 * least(stopword_ratio * 5, 1.0), 4) AS s,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
              FROM q
            ), binned AS (
              SELECT CAST(least(floor(s * 10), 9) AS INT) AS bucket, s, y
              FROM scored WHERE s IS NOT NULL
            ), per AS (
              SELECT bucket, CAST(count(*) AS BIGINT) AS n,
                     avg(s) AS conf, avg(CAST(y AS DOUBLE)) AS acc
              FROM binned GROUP BY 1
            ), tot AS (SELECT sum(n) AS t FROM per)
            SELECT bucket, n,
                   round(conf, 6) AS confidence,
                   round(acc, 6) AS accuracy,
                   round(n / t * abs(acc - conf), 6) AS ece_contrib
            FROM per CROSS JOIN tot
        """,
        "dedup_contamination_13g": """
            WITH w AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ), grams AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(w) - 11),
                            i -> array_to_string(w[i:i+12], ' '))) AS g
              FROM w WHERE len(w) >= 13
            ), ev AS (
              SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
            ), agg AS (
              SELECT doc_id, count(*) AS n_grams,
                     sum(CASE WHEN g IN (SELECT g FROM ev)
                         THEN 1 ELSE 0 END) AS n_contaminated
              FROM grams WHERE doc_id % 50 <> 0 GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(coalesce(n_contaminated, 0) AS BIGINT)
                     AS n_contaminated,
                   CASE WHEN coalesce(n_grams, 0) > 0
                        THEN round(n_contaminated
                                   / CAST(n_grams AS DOUBLE), 6)
                        ELSE 0.0 END AS overlap_frac
            FROM documents d LEFT JOIN agg USING (doc_id)
            WHERE d.doc_id % 50 <> 0
        """,
        "text_ppl_buckets": """
            WITH base AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS t
              FROM documents
              WHERE len(string_split_regex(lower(trim(text)), '\\s+')) >= 2
                AND string_split_regex(lower(trim(text)), '\\s+')[1] <> ''
            ), idx AS (
              SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM base
            ), bg AS (
              SELECT doc_id, t[CAST(i AS INT)] AS w1,
                     t[CAST(i AS INT) + 1] AS w2
              FROM idx
            ), doc_bg AS (
              SELECT doc_id, w1, w2, count(*) AS k
              FROM bg GROUP BY 1, 2, 3
            ), model AS (
              SELECT w1, w2, sum(k) AS c12 FROM doc_bg GROUP BY 1, 2
            ), ctx AS (
              SELECT w1, sum(c12) AS c1 FROM model GROUP BY 1
            ), vocab AS (
              SELECT count(*) AS v FROM (
                SELECT w1 AS w FROM model UNION SELECT w2 FROM model)
            ), scored AS (
              SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
                     round(sum(k * ln((c12 + 0.1) / (c1 + 0.1 * v)))
                           / sum(k), 6) AS lm_logprob
              FROM doc_bg
              JOIN model USING (w1, w2)
              JOIN ctx USING (w1)
              CROSS JOIN vocab
              GROUP BY doc_id
            ), th AS (
              SELECT quantile_cont(lm_logprob,
                       [0.3333333333333333, 0.6666666666666666]) AS q
              FROM scored
            )
            SELECT doc_id, n_bigrams, lm_logprob,
                   CASE WHEN lm_logprob >= q[2] THEN 'head'
                        WHEN lm_logprob >= q[1] THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM scored CROSS JOIN th
        """,
        "text_bm25_rerank": """
            WITH base AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS toks,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(lower(trim(text)),
                                                      '\\s+')) END AS dl
              FROM documents
            ), stats AS (
              SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl
              FROM base
            ), hits AS (
              SELECT doc_id, dl, u.term
              FROM base, unnest(toks) AS u(term)
              WHERE u.term IN ('spark', 'join', 'window', 'filter')
            ), tf AS (
              SELECT doc_id, dl, term, count(*)::DOUBLE AS tf
              FROM hits GROUP BY 1, 2, 3
            ), dfreq AS (
              SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
            ), scored AS (
              SELECT doc_id,
                     round(sum(
                       ln(1.0::DOUBLE + (n_docs - df + 0.5::DOUBLE)
                                        / (df + 0.5::DOUBLE))
                       * tf * 2.2::DOUBLE
                       / (tf + 1.2::DOUBLE
                          * (0.25::DOUBLE + 0.75::DOUBLE * dl / avgdl))
                     ), 4) AS score
              FROM tf JOIN dfreq USING (term) CROSS JOIN stats
              GROUP BY doc_id
            ), cands AS (
              SELECT doc_id, score FROM scored
              ORDER BY score DESC, doc_id LIMIT 50
            ), feat AS (
              SELECT c.doc_id, c.score,
                     len(list_intersect(list_distinct(b.toks),
                         ['spark', 'join', 'window', 'filter'])) / 4.0
                       AS coverage,
                     len(list_filter(range(1, len(b.toks)),
                         i -> b.toks[i] = 'spark'
                          AND b.toks[i + 1] = 'join'))
                     + len(list_filter(range(1, len(b.toks)),
                         i -> b.toks[i] = 'join'
                          AND b.toks[i + 1] = 'window'))
                     + len(list_filter(range(1, len(b.toks)),
                         i -> b.toks[i] = 'window'
                          AND b.toks[i + 1] = 'filter')) AS phrase_hits,
                     list_min(list_filter(
                       [coalesce(list_position(b.toks, 'spark'), 0),
                        coalesce(list_position(b.toks, 'join'), 0),
                        coalesce(list_position(b.toks, 'window'), 0),
                        coalesce(list_position(b.toks, 'filter'), 0)],
                       p -> p > 0)) AS first_pos
              FROM cands c JOIN base b USING (doc_id)
            ), rr AS (
              SELECT doc_id, score,
                     round(score + 0.5 * coverage
                           + 0.2 * ln(1.0 + phrase_hits)
                           + 0.3 / first_pos, 4) AS rerank_score
              FROM feat
            ), topk AS (
              SELECT doc_id, score, rerank_score FROM rr
              ORDER BY rerank_score DESC, doc_id LIMIT 10
            )
            SELECT doc_id, score, rerank_score,
                   CAST(row_number() OVER (
                        ORDER BY rerank_score DESC, doc_id) AS INT) AS rank
            FROM topk
        """,
        "knn_group_centroids": """
            WITH ex AS (
              SELECT label, unnest(embedding) AS val,
                     unnest(range(0, len(embedding))) AS pos
              FROM embeddings WHERE embedding IS NOT NULL
            ), agg AS (
              SELECT label, CAST(pos AS INT) AS pos,
                     round(avg(val), 6) AS m, count(*) AS n
              FROM ex GROUP BY 1, 2
            ), nv AS (
              SELECT label, CAST(max(n) AS BIGINT) AS n_vectors
              FROM agg GROUP BY 1
            )
            SELECT agg.label, n_vectors, pos, m
            FROM agg JOIN nv USING (label)
        """,
        "profile_join_cardinality": """
            WITH lc AS (
              SELECT l_orderkey AS k, count(*) AS cl
              FROM lineitem GROUP BY 1
            ), rc AS (
              SELECT o_orderkey AS k, count(*) AS cr
              FROM orders GROUP BY 1
            ), tl AS (
              SELECT CAST(sum(cl) AS BIGINT) AS n_left,
                     count(*) AS n_left_keys FROM lc
            ), tr AS (
              SELECT CAST(sum(cr) AS BIGINT) AS n_right,
                     count(*) AS n_right_keys FROM rc
            ), c AS (
              SELECT count(*) AS n_common_keys,
                     CAST(coalesce(sum(cl * cr), 0) AS BIGINT)
                       AS join_rows,
                     CAST(coalesce(max(cl * cr), 0) AS BIGINT)
                       AS max_key_rows
              FROM lc JOIN rc USING (k)
            )
            SELECT n_left, n_right, n_left_keys, n_right_keys,
                   n_common_keys, join_rows, max_key_rows
            FROM tl, tr, c
        """,
        "profile_psi_drift": """
            WITH rv AS (
              SELECT value AS x FROM events
              WHERE event_type = 'view' AND value IS NOT NULL
            ), cv AS (
              SELECT value AS x FROM events
              WHERE event_type = 'click' AND value IS NOT NULL
            ), b AS (
              SELECT min(x) AS lo, max(x) AS hi FROM rv
            ), grid AS (
              SELECT unnest(range(0, 10)) AS bucket
            ), rcount AS (
              SELECT CASE WHEN hi = lo THEN 0
                     ELSE least(greatest(CAST(floor(
                            (x - lo) / ((hi - lo) / 10.0)) AS BIGINT),
                          0), 9) END AS bucket,
                     count(*) AS n
              FROM rv, b GROUP BY 1
            ), ccount AS (
              SELECT CASE WHEN hi = lo THEN 0
                     ELSE least(greatest(CAST(floor(
                            (x - lo) / ((hi - lo) / 10.0)) AS BIGINT),
                          0), 9) END AS bucket,
                     count(*) AS n
              FROM cv, b GROUP BY 1
            ), both_sides AS (
              SELECT g.bucket,
                     CAST(coalesce(r.n, 0) AS BIGINT) AS n_ref,
                     CAST(coalesce(c.n, 0) AS BIGINT) AS n_cur
              FROM grid g
              LEFT JOIN rcount r USING (bucket)
              LEFT JOIN ccount c USING (bucket)
            ), tot AS (
              SELECT sum(n_ref) AS t_r, sum(n_cur) AS t_c
              FROM both_sides
            )
            SELECT bucket, n_ref, n_cur,
                   round((n_ref + 0.5) / (t_r + 5.0), 6) AS p_ref,
                   round((n_cur + 0.5) / (t_c + 5.0), 6) AS p_cur,
                   round(((n_cur + 0.5) / (t_c + 5.0)
                          - (n_ref + 0.5) / (t_r + 5.0))
                         * ln(((n_cur + 0.5) / (t_c + 5.0))
                              / ((n_ref + 0.5) / (t_r + 5.0))), 6)
                     AS contrib
            FROM both_sides, tot
        """,
        "events_transitions": """
            WITH ordered AS (
              SELECT user_id, event_type AS state,
                     lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev_state
              FROM events
            ), counts AS (
              SELECT prev_state, state, count(*) AS n
              FROM ordered WHERE prev_state IS NOT NULL GROUP BY 1, 2
            ), outdeg AS (
              SELECT prev_state, sum(n) AS tot FROM counts GROUP BY 1
            )
            SELECT c.prev_state, c.state, c.n,
                   round(c.n / o.tot, 6) AS prob
            FROM counts c JOIN outdeg o USING (prev_state)
        """,
        "graph_triangles": """
            WITH raw AS (
              SELECT user_id AS s,
                     (user_id + CAST(floor(value) AS BIGINT)) % 150 AS d
              FROM events
            ), e AS (
              SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
              FROM raw
              WHERE s <> d AND s IS NOT NULL AND d IS NOT NULL
            ), deg AS (
              SELECT node, count(*) AS dg FROM (
                SELECT a AS node FROM e UNION ALL SELECT b FROM e
              ) GROUP BY 1
            ), tri AS (
              SELECT count(*) AS n_triangles
              FROM e e1
              JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
              JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
            ), tot AS (
              SELECT count(*) AS n_nodes,
                     CAST(sum(dg) / 2 AS BIGINT) AS n_edges,
                     CAST(sum(dg * (dg - 1) / 2) AS BIGINT) AS n_wedges
              FROM deg
            )
            SELECT n_nodes, n_edges, n_wedges,
                   CAST(n_triangles AS BIGINT) AS n_triangles,
                   round(CASE WHEN n_wedges > 0
                         THEN 3.0 * n_triangles / n_wedges
                         ELSE 0.0 END, 6) AS global_clustering
            FROM tot, tri
        """,
        "web_cooccurrence": """
            WITH base AS (
              SELECT DISTINCT user_id AS g,
                     CAST(floor(value) AS BIGINT) % 50 AS i
              FROM events
              WHERE user_id IS NOT NULL AND value IS NOT NULL
            ), capped AS (
              SELECT g, i FROM (
                SELECT g, i, row_number() OVER (
                  PARTITION BY g
                  ORDER BY substr(md5(CAST(i AS VARCHAR) || '#coocc'),
                                  1, 8) ASC, i ASC) AS rk
                FROM base
              ) WHERE rk <= 20
            )
            SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_groups
            FROM capped a JOIN capped b ON a.g = b.g AND a.i < b.i
            GROUP BY 1, 2
            HAVING count(*) >= 3
        """,
        "text_bpe_encode": _bpe_encode_oracle_sql(n_merges=6, k=20),
        "web_blocklist_filter": f"""
            WITH raw AS (
              SELECT doc_id, ({_URL_CASE_SQL}) AS url FROM documents
            ), p AS (
              SELECT doc_id,
                lower(regexp_extract(
                  regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''),
                  '^(?:[^/@?#]*@)?([^/:?#]+)', 1)) AS host
              FROM raw
            ), bl AS (
              SELECT * FROM (VALUES ('src1.example.com'),
                                    ('sub.src2.example.com'),
                                    ('src3.example.com'),
                                    ('nosuch.example.org')) b(suf)
            ), hits AS (
              SELECT DISTINCT doc_id FROM (
                SELECT q.doc_id,
                       array_to_string(q.labels[u.i:len(q.labels)], '.')
                         AS suf
                FROM (SELECT doc_id, string_split(host, '.') AS labels
                      FROM p) q,
                     UNNEST(range(1, len(q.labels) + 1)) AS u(i)
              ) s JOIN bl USING (suf)
            )
            SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
                   min(doc_id) AS min_doc
            FROM p
            WHERE doc_id NOT IN (SELECT doc_id FROM hits)
            GROUP BY host
        """,
        "text_bpe_pairs": """
            WITH words AS (
              SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
                       AS w
              FROM documents
            ), wc AS (
              SELECT w, count(*) AS n FROM words WHERE w <> '' GROUP BY 1
            ), idx AS (
              SELECT w, n, unnest(range(1, length(w))) AS i
              FROM wc WHERE length(w) >= 2
            )
            SELECT substr(w, CAST(i AS INT), 2) AS pair,
                   CAST(sum(n) AS BIGINT) AS n
            FROM idx
            GROUP BY 1
            ORDER BY n DESC, pair
            LIMIT 20
        """,
        "dedup_corpus_overlap": """
            WITH da AS (
              SELECT DISTINCT md5(trim(array_to_string(
                regexp_split_to_array(lower(text), '[^a-z0-9]+'), ' ')))
                AS dg
              FROM documents WHERE doc_id % 2 = 0
            ), db AS (
              SELECT DISTINCT md5(trim(array_to_string(
                regexp_split_to_array(lower(text), '[^a-z0-9]+'), ' ')))
                AS dg
              FROM documents WHERE doc_id % 3 = 0
            ), ca AS (
              SELECT count(*) AS n_a FROM da WHERE dg IS NOT NULL
            ), cb AS (
              SELECT count(*) AS n_b FROM db WHERE dg IS NOT NULL
            ), cc AS (
              SELECT count(*) AS n_common FROM da
              WHERE dg IS NOT NULL AND dg IN (SELECT dg FROM db)
            )
            SELECT n_a, n_b, n_common,
                   round(CASE WHEN n_a + n_b - n_common > 0
                         THEN n_common / (n_a + n_b - n_common)
                         ELSE 0.0 END, 6) AS jaccard,
                   round(CASE WHEN n_a > 0 THEN n_common / n_a
                         ELSE 0.0 END, 6) AS containment_a
            FROM ca, cb, cc
        """,
        "f9_zscore_groups": """
            WITH stats AS (
              SELECT l_returnflag, l_linestatus,
                     avg(l_extendedprice) AS mu,
                     stddev_pop(l_extendedprice) AS sd
              FROM lineitem GROUP BY 1, 2
            ), z AS (
              SELECT l.l_returnflag, l.l_linestatus,
                     CASE WHEN sd > 0
                          THEN round((l_extendedprice - mu) / sd, 4)
                     END AS z
              FROM lineitem l
              JOIN stats USING (l_returnflag, l_linestatus)
            )
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   CAST(sum(CASE WHEN abs(z) > 1.5 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_tail,
                   max(z) AS max_z, min(z) AS min_z
            FROM z GROUP BY 1, 2
        """,
        "profile_skew": """
            WITH counts AS (
              SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n
              FROM events GROUP BY 1
            )
            SELECT count(*) AS n_keys,
                   CAST(sum(n) AS BIGINT) AS n_rows,
                   CAST(max(n) AS BIGINT) AS max_n,
                   round(avg(n), 4) AS avg_n,
                   round(quantile_cont(n, 0.5), 4) AS p50_n,
                   round(quantile_cont(n, 0.99), 4) AS p99_n,
                   round(max(n) / avg(n), 4) AS skew_ratio,
                   (SELECT key FROM counts ORDER BY n DESC, key LIMIT 1)
                     AS top_key
            FROM counts
        """,
        "text_bm25": """
            WITH base AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS toks,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(lower(trim(text)),
                                                      '\\s+')) END AS dl
              FROM documents
            ), stats AS (
              SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl
              FROM base
            ), hits AS (
              SELECT doc_id, dl, u.term
              FROM base, unnest(toks) AS u(term)
              WHERE u.term IN ('spark', 'join', 'window', 'filter')
            ), tf AS (
              SELECT doc_id, dl, term, count(*)::DOUBLE AS tf
              FROM hits GROUP BY 1, 2, 3
            ), dfreq AS (
              SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
            ), scored AS (
              SELECT doc_id,
                     round(sum(
                       ln(1.0::DOUBLE + (n_docs - df + 0.5::DOUBLE)
                                        / (df + 0.5::DOUBLE))
                       * tf * 2.2::DOUBLE
                       / (tf + 1.2::DOUBLE
                          * (0.25::DOUBLE + 0.75::DOUBLE * dl / avgdl))
                     ), 4) AS score
              FROM tf JOIN dfreq USING (term) CROSS JOIN stats
              GROUP BY doc_id
            ), topk AS (
              SELECT doc_id, score FROM scored
              ORDER BY score DESC, doc_id LIMIT 10
            )
            SELECT doc_id, score,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                        AS INT) AS rank
            FROM topk
        """,
        "j13_interval_overlap": """
            WITH a AS (
              SELECT event_id AS a_id, event_id AS a_lo,
                     event_id + 50 AS a_hi
              FROM events WHERE event_type = 'view'
            ), b AS (
              SELECT event_id AS b_id, event_id AS b_lo,
                     event_id + 20 AS b_hi
              FROM events WHERE event_type = 'click'
            )
            SELECT a_id % 16 AS bucket, count(*) AS n_pairs,
                   CAST(sum(least(a_hi, b_hi) - greatest(a_lo, b_lo))
                        AS BIGINT) AS total_overlap
            FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi
            GROUP BY 1
        """,
        "j14_fuzzy_link": """
            -- pure predicate: the Spark side's PassJoin blocking has
            -- complete recall, so brute force IS the oracle at sf0.01
            WITH probes AS (
              SELECT p_partkey AS probe_key,
                     substr(p_name, 1, 5) || substr(p_name, 7)
                       AS probe_name
              FROM part WHERE p_partkey % 17 = 3
            ), cand AS (
              SELECT probe_key, probe_name, p_partkey, p_name,
                     levenshtein(lower(probe_name), lower(p_name)) AS dist
              FROM probes CROSS JOIN part
              WHERE abs(len(probe_name) - len(p_name)) <= 2
                AND levenshtein(lower(probe_name), lower(p_name)) <= 2
            ), best AS (
              SELECT *, row_number() OVER (
                PARTITION BY probe_key
                ORDER BY dist, p_partkey, p_name) AS rn
              FROM cand
            )
            SELECT probe_key, probe_name, p_partkey, p_name,
                   CAST(dist AS INT) AS distance
            FROM best WHERE rn = 1
        """,
        "sample_weighted": """
            WITH keyed AS (
              SELECT doc_id, lang, n_chars,
                     ln((('0x' || substr(md5(doc_id::VARCHAR || '#wsample'),
                                         1, 8))::BIGINT + 0.5::DOUBLE)
                        / 4294967296.0::DOUBLE)
                       / n_chars::DOUBLE AS es
              FROM documents
              WHERE n_chars IS NOT NULL AND n_chars > 0
            ), ranked AS (
              SELECT doc_id, lang, n_chars, row_number() OVER (
                PARTITION BY lang ORDER BY es DESC, doc_id) AS rn
              FROM keyed
            )
            SELECT doc_id, lang, n_chars FROM ranked WHERE rn <= 5
        """,
        "events_funnel": """
            WITH s0 AS (
              SELECT user_id,
                     min(ts) FILTER (event_type = 'signup') AS t0
              FROM events GROUP BY 1
            ), s1 AS (
              SELECT e.user_id,
                     min(e.ts) FILTER (e.event_type = 'view'
                                       AND e.ts >= s0.t0) AS t1
              FROM events e JOIN s0 USING (user_id) GROUP BY 1
            ), s2 AS (
              SELECT e.user_id,
                     min(e.ts) FILTER (e.event_type = 'click'
                                       AND e.ts >= s1.t1) AS t2
              FROM events e JOIN s1 USING (user_id) GROUP BY 1
            ), s3 AS (
              SELECT e.user_id,
                     min(e.ts) FILTER (e.event_type = 'purchase'
                                       AND e.ts >= s2.t2) AS t3
              FROM events e JOIN s2 USING (user_id) GROUP BY 1
            ), c AS (
              SELECT (SELECT count(t0) FROM s0) AS n0,
                     (SELECT count(t1) FROM s1) AS n1,
                     (SELECT count(t2) FROM s2) AS n2,
                     (SELECT count(t3) FROM s3) AS n3
            )
            SELECT 0 AS step_idx, 'signup' AS step, n0 AS users,
                   round(n0 / nullif(n0, 0), 4) AS conv_rate FROM c
            UNION ALL SELECT 1, 'view', n1,
                   round(n1 / nullif(n0, 0), 4) FROM c
            UNION ALL SELECT 2, 'click', n2,
                   round(n2 / nullif(n0, 0), 4) FROM c
            UNION ALL SELECT 3, 'purchase', n3,
                   round(n3 / nullif(n0, 0), 4) FROM c
        """,
        "graph_pagerank": """
            WITH e AS (
              SELECT DISTINCT user_id AS src,
                     (user_id + CAST(floor(value) AS BIGINT)) % 150 AS dst
              FROM events
            ), nodes AS (
              SELECT src AS node FROM e UNION SELECT dst FROM e
            ), nn AS (
              SELECT count(*)::DOUBLE AS n FROM nodes
            ), deg AS (
              SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY 1
            ), r0 AS (
              SELECT node, (1.0::DOUBLE / nn.n) AS rank FROM nodes, nn
            ), r1 AS (
              SELECT nd.node,
                     (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
                     + 0.85::DOUBLE * coalesce(c.s, 0.0::DOUBLE) AS rank
              FROM nodes nd LEFT JOIN (
                SELECT e.dst AS node, sum(r.rank / deg.deg) AS s
                FROM e JOIN r0 r ON e.src = r.node
                       JOIN deg ON e.src = deg.src
                GROUP BY 1) c ON nd.node = c.node
            ), r2 AS (
              SELECT nd.node,
                     (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
                     + 0.85::DOUBLE * coalesce(c.s, 0.0::DOUBLE) AS rank
              FROM nodes nd LEFT JOIN (
                SELECT e.dst AS node, sum(r.rank / deg.deg) AS s
                FROM e JOIN r1 r ON e.src = r.node
                       JOIN deg ON e.src = deg.src
                GROUP BY 1) c ON nd.node = c.node
            ), r3 AS (
              SELECT nd.node,
                     (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
                     + 0.85::DOUBLE * coalesce(c.s, 0.0::DOUBLE) AS rank
              FROM nodes nd LEFT JOIN (
                SELECT e.dst AS node, sum(r.rank / deg.deg) AS s
                FROM e JOIN r2 r ON e.src = r.node
                       JOIN deg ON e.src = deg.src
                GROUP BY 1) c ON nd.node = c.node
            )
            SELECT node, round(rank, 8) AS rank FROM r3
        """,
        "w9_merge_upsert": """
            WITH snap AS (
              SELECT user_id, arg_max(value, event_id) AS value,
                     arg_max(event_type, event_id) AS event_type
              FROM events WHERE event_id < 5000 GROUP BY user_id
            ), chg AS (
              SELECT user_id, value, event_type, event_id AS seq,
                     CASE WHEN event_type = 'error' THEN 'delete'
                          ELSE 'upsert' END AS op
              FROM events WHERE event_id >= 5000
            ), u AS (
              SELECT user_id, value, event_type,
                     CAST(NULL AS BIGINT) AS seq, 'upsert' AS op, 0 AS pri
              FROM snap
              UNION ALL
              SELECT user_id, value, event_type, seq, op, 1 AS pri FROM chg
            ), w AS (
              SELECT *, row_number() OVER (
                PARTITION BY user_id
                ORDER BY pri DESC, seq DESC NULLS LAST) AS rn
              FROM u
            )
            SELECT user_id, value, event_type
            FROM w WHERE rn = 1 AND op <> 'delete'
        """,
        "j12_bloom_semi_join": """
            SELECT l_returnflag, count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_orderkey = l_orderkey
                            AND o_totalprice > 150000)
            GROUP BY l_returnflag
        """,
        "sample_stratified": """
            SELECT doc_id, lang, source FROM documents
            WHERE substr(md5(doc_id::VARCHAR || '#strata:' || lang), 1, 8)
                  < CASE lang WHEN 'de' THEN '33333333'
                              WHEN 'en' THEN '80000000'
                              ELSE '0ccccccc' END
        """,
        "web_url_normalize": _url_norm_oracle_sql(),
        "web_dedup_url": f"""
            WITH norm AS ({_url_norm_oracle_sql("(doc_id % 37)")})
            SELECT doc_id, url_norm, n_chars FROM (
              SELECT n.doc_id, n.url_norm, d.n_chars,
                     row_number() OVER (
                       PARTITION BY n.url_norm
                       ORDER BY d.n_chars DESC, n.doc_id) AS rk
              FROM norm n JOIN documents d ON n.doc_id = d.doc_id)
            WHERE rk = 1
        """,
        "text_c4_rules": """
            WITH t AS (
              SELECT doc_id, replace(text, '. ', '.' || chr(10)) AS text
              FROM documents
            ), l AS (
              SELECT doc_id, unnest(string_split(text, chr(10))) AS ln
              FROM t
            ), la AS (
              SELECT doc_id, count(*) AS n_lines,
                     sum(CASE WHEN kept THEN 1 ELSE 0 END) AS n_kept,
                     sum(CASE WHEN kept THEN length(ln) ELSE 0 END)
                       AS kept_chars
              FROM (SELECT doc_id, ln,
                           regexp_matches(rtrim(ln), '[.!?"]$')
                           AND len(string_split_regex(trim(ln), '\\s+')) >= 5
                             AS kept
                    FROM l)
              GROUP BY 1
            ), f AS (
              SELECT t.doc_id,
                     coalesce(n_lines, 0) AS n_lines,
                     coalesce(n_kept, 0) AS n_kept,
                     coalesce(kept_chars, 0) AS kept_chars,
                     length(t.text) AS nc,
                     length(t.text) - length(replace(replace(replace(
                       t.text, '.', ''), '!', ''), '?', '')) AS nsent,
                     strpos(t.text, '{') > 0 AS brace,
                     strpos(lower(t.text), 'lorem ipsum') > 0 AS lorem
              FROM t LEFT JOIN la ON t.doc_id = la.doc_id
            )
            SELECT doc_id,
                   CAST(n_lines AS BIGINT) AS n_lines,
                   CAST(n_kept AS BIGINT) AS n_kept_lines,
                   round(kept_chars / CAST(greatest(nc, 1) AS DOUBLE), 6)
                     AS kept_char_frac,
                   CAST(nsent AS BIGINT) AS n_sentences,
                   CAST(CASE WHEN nsent >= 3 AND NOT brace AND NOT lorem
                             AND n_kept >= 1 THEN 1 ELSE 0 END AS INT)
                     AS keep
            FROM f
        """,
        "text_novelty": """
            WITH w AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ), graw AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(w) - 3),
                            i -> array_to_string(w[i:i+4], ' '))) AS g
              FROM w WHERE len(w) >= 5
            ), grams AS (
              SELECT DISTINCT doc_id, g FROM graw
            ), firsts AS (
              SELECT g, min(doc_id) AS f FROM grams GROUP BY 1
            ), agg AS (
              SELECT doc_id, count(*) AS n_shingles,
                     sum(CASE WHEN f = doc_id THEN 1 ELSE 0 END) AS n_novel
              FROM grams JOIN firsts USING (g) GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(coalesce(n_shingles, 0) AS BIGINT) AS n_shingles,
                   CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
                   CASE WHEN coalesce(n_shingles, 0) > 0
                        THEN round(n_novel / CAST(n_shingles AS DOUBLE), 6)
                        ELSE 1.0 END AS novelty_frac
            FROM documents d LEFT JOIN agg USING (doc_id)
        """,
        "events_conversion_lag": """
            WITH v AS (
              SELECT user_id, min(ts) AS from_ts FROM events
              WHERE event_type = 'view' GROUP BY 1
            ), p AS (
              SELECT e.user_id, min(e.ts) AS to_ts
              FROM events e JOIN v USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts >= v.from_ts
              GROUP BY 1
            ), u AS (
              SELECT v.user_id,
                     floor(epoch(p.to_ts))::BIGINT
                     - floor(epoch(v.from_ts))::BIGINT AS lag_s
              FROM v LEFT JOIN p USING (user_id)
            )
            SELECT CAST(count(*) AS BIGINT) AS n_start,
                   CAST(count(lag_s) AS BIGINT) AS n_converted,
                   round(count(lag_s) / CAST(count(*) AS DOUBLE), 6)
                     AS conv_rate,
                   round(avg(lag_s), 4) AS avg_lag_s,
                   round(quantile_cont(lag_s, 0.5), 4) AS p50_lag_s,
                   round(quantile_cont(lag_s, 0.9), 4) AS p90_lag_s
            FROM u
        """,
        "events_anomaly": """
            WITH b AS (
              SELECT event_type, date_trunc('hour', ts) AS bucket,
                     count(*) AS n
              FROM events GROUP BY 1, 2
            ), s AS (
              SELECT event_type, n,
                     avg(n) OVER w AS m,
                     stddev_samp(n) OVER w AS sd,
                     count(n) OVER w AS hist
              FROM b
              WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                           ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
            ), z AS (
              SELECT event_type, n,
                     CASE WHEN hist >= 3 AND sd > 0
                          THEN round((n - m) / sd, 6) END AS z
              FROM s
            )
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_buckets,
                   CAST(sum(CASE WHEN z > 3.0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_flagged,
                   max(z) AS max_z
            FROM z GROUP BY 1
        """,
        "events_session_stats": """
            WITH flagged AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR date_diff('second', lag(ts) OVER w, ts)
                               > 1800
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
            ), ids AS (
              SELECT user_id, ts,
                     sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_id
              FROM flagged
            ), per_session AS (
              SELECT user_id, session_id, count(*) AS n,
                     floor(epoch(max(ts)))::BIGINT
                     - floor(epoch(min(ts)))::BIGINT AS dur
              FROM ids GROUP BY 1, 2
            )
            SELECT CAST(count(*) AS BIGINT) AS n_sessions,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 6) AS bounce_rate,
                   round(avg(n), 4) AS avg_events,
                   round(quantile_cont(dur, 0.5), 4) AS p50_duration_s,
                   round(quantile_cont(dur, 0.9), 4) AS p90_duration_s
            FROM per_session
        """,
        "events_ewma": """
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(list_reduce(list(value ORDER BY ts, event_id),
                         (acc, x) -> 0.3e0 * x + (1.0e0 - 0.3e0) * acc),
                         6) AS ewma
            FROM events GROUP BY 1
        """,
        "o3_grouped_topk": """
            SELECT doc_id, lang, n_chars FROM (
              SELECT doc_id, lang, n_chars,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY n_chars DESC, doc_id) AS rk
              FROM documents WHERE n_chars IS NOT NULL)
            WHERE rk <= 3
        """,
        "profile_histogram": """
            WITH s AS (
              SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
              WHERE l_extendedprice IS NOT NULL
            ), b AS (
              SELECT min(x) AS mn, max(x) AS mx FROM s
            ), z AS (
              SELECT CASE WHEN mx = mn THEN 0
                          ELSE CAST(least(floor((x - mn) / ((mx - mn) / 16)),
                                    15) AS BIGINT) END AS bucket,
                     mn, mx
              FROM s, b
            )
            SELECT bucket,
                   round(min(mn + bucket * ((mx - mn) / 16)), 4) AS lo,
                   round(min(mn + (bucket + 1) * ((mx - mn) / 16)), 4) AS hi,
                   count(*) AS n
            FROM z GROUP BY bucket
        """,
        "u3_table_diff": """
            WITH old_v AS (
              SELECT doc_id, lang, source, n_chars FROM documents
              WHERE doc_id % 11 <> 0
            ), new_v AS (
              SELECT doc_id, lang, source,
                     n_chars + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS n_chars
              FROM documents WHERE doc_id % 13 <> 0
            )
            SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.doc_id IS NULL THEN 'added'
                        WHEN n.doc_id IS NULL THEN 'removed'
                        WHEN o.lang IS NOT DISTINCT FROM n.lang
                         AND o.source IS NOT DISTINCT FROM n.source
                         AND o.n_chars IS NOT DISTINCT FROM n.n_chars
                        THEN 'unchanged'
                        ELSE 'changed' END AS diff_status
            FROM old_v o FULL OUTER JOIN new_v n ON o.doc_id = n.doc_id
        """,
        "a12_heavy_hitters": """
            SELECT user_id, count(*) AS n FROM events
            GROUP BY user_id HAVING count(*) >= 80
        """,
        "web_domain_cap": f"""
            WITH raw AS (
              SELECT doc_id, ({_URL_CASE_SQL}) AS url FROM documents
            ), p AS (
              SELECT doc_id,
                lower(regexp_extract(
                  regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''),
                  '^(?:[^/@?#]*@)?([^/:?#]+)', 1)) AS host
              FROM raw
            ), r AS (
              SELECT host, row_number() OVER (
                PARTITION BY host
                ORDER BY substr(md5(doc_id::VARCHAR || '#cap'), 1, 8),
                         doc_id) AS rk
              FROM p
            )
            SELECT host, count(*) AS n FROM r WHERE rk <= 20 GROUP BY host
        """,
        "a11_approx_quantiles": """
            -- the exact percentiles are the checked values; the flags pin
            -- the approx_percentile sketch inside its accuracy envelope
            -- in-query on the Spark side (a9's HLL contract)
            SELECT round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
                   round(quantile_cont(l_extendedprice, 0.95), 2) AS p95,
                   TRUE AS p50_in_bound, TRUE AS p95_in_bound
            FROM lineitem
        """,
        "o2_zorder_key": f"""
            WITH z AS (
              SELECT l_orderkey, l_partkey, l_linenumber,
                     (l_orderkey % 256) AS zx, (l_partkey % 256) AS zy
              FROM lineitem
            )
            SELECT l_orderkey, l_partkey, l_linenumber,
                   ({_zkey_sql(8)}) AS zkey
            FROM z ORDER BY zkey, l_orderkey, l_linenumber LIMIT 50
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2000-12-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
                   o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY l_orderkey, orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "q5_local_supplier_volume": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
        """,
        "q6_revenue_forecast": """
            SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.03 AND 0.07
              AND l_quantity < 24
        """,
        "q10_returned_items": """
            SELECT c_custkey, c_name, n_name, c_acctbal,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
            GROUP BY c_custkey, c_name, n_name, c_acctbal
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "f1_conjunctive_eq": """
            SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice
            FROM lineitem
            WHERE l_returnflag = 'A' AND l_linestatus = 'F' AND l_quantity = 30.0
        """,
        "f2_range_between": """
            SELECT l_orderkey, l_linenumber, l_quantity
            FROM lineitem WHERE l_quantity BETWEEN 10.0 AND 12.0
        """,
        "f3_in_list": """
            SELECT o_orderpriority, o_orderstatus, count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
            GROUP BY o_orderpriority, o_orderstatus
        """,
        "f7_domain_validation": """
            SELECT CAST(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[0-9]-[A-Z]')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS invalid_rows,
                   count(*) AS total_rows
            FROM orders
        """,
        "a1_group_minmax": """
            SELECT l_returnflag,
                   round(min(l_extendedprice), 2) AS min_price,
                   round(max(l_extendedprice), 2) AS max_price,
                   min(l_quantity) AS min_qty,
                   max(l_quantity) AS max_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "a2_distinct": "SELECT DISTINCT c_mktsegment FROM customer",
        "a4_argmin": """
            SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS min_acctbal
            FROM (SELECT *, row_number() OVER (PARTITION BY c_nationkey
                                               ORDER BY c_acctbal ASC, c_custkey ASC) AS rn
                  FROM customer)
            WHERE rn = 1
        """,
        "a5_conditional_sum_hof": """
            SELECT l_orderkey,
                   round(sum(CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0 END), 2)
                     AS discounted_total
            FROM lineitem GROUP BY l_orderkey
        """,
        "j1_containment_join": """
            SELECT o_orderpriority, count(*) AS n_shipped_90d,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= o_orderdate
              AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
            GROUP BY o_orderpriority
        """,
        "j3_anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                    WHERE o_orderdate < TIMESTAMP '1995-07-01')
        """,
        "j4_broadcast_equi": """
            SELECT p_brand, count(*) AS n,
                   round(sum(l_extendedprice - p_retailprice), 2) AS markup
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
        """,
        "j5_semi_join": """
            SELECT s_suppkey, s_name FROM supplier
            WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem)
        """,
        "j7_nearest_join": """
            SELECT c_custkey, p_partkey AS nearest_partkey,
                   round(abs(c_acctbal - p_retailprice), 2) AS price_diff
            FROM (SELECT c_custkey, p_partkey, c_acctbal, p_retailprice,
                         row_number() OVER (PARTITION BY c_custkey
                                            ORDER BY abs(c_acctbal - p_retailprice) ASC,
                                                     p_partkey ASC) AS rn
                  FROM customer CROSS JOIN part)
            WHERE rn = 1
        """,
        "j8_lookup_join": """
            SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
        """,
        "w2_lag_diff": """
            SELECT o_orderkey, o_custkey,
                   round(o_totalprice - coalesce(
                       lag(o_totalprice) OVER (PARTITION BY o_custkey
                                               ORDER BY o_orderdate ASC, o_orderkey ASC),
                       0.0), 2) AS price_diff
            FROM orders
        """,
        "w3_expanding_slope": """
            SELECT o_orderkey, o_custkey,
                   coalesce(round(regr_slope(o_totalprice, day)
                       OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 3), 0.0)
                     AS growth_rate
            FROM (SELECT *, CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS DOUBLE) AS day
                  FROM orders)
        """,
        "w4_first_seen": """
            SELECT o_custkey, o_orderkey AS first_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS first_orderdate
            FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                               ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
                  FROM orders)
            WHERE rn = 1
        """,
        "w5_explode_sequence": """
            SELECT p_partkey, CAST(sum(step) AS BIGINT) AS step_sum, count(*) AS n_steps
            FROM (SELECT p_partkey, unnest(generate_series(1, p_size)) AS step
                  FROM part WHERE p_size <= 10)
            GROUP BY p_partkey
        """,
        "o1_topk": """
            SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
        """,
        "u1_union_all": """
            SELECT bucket, count(*) AS n, round(sum(o_totalprice), 2) AS total
            FROM (SELECT o_totalprice, 'high' AS bucket FROM orders WHERE o_totalprice > 400000
                  UNION ALL
                  SELECT o_totalprice, 'low' AS bucket FROM orders WHERE o_totalprice < 1000)
            GROUP BY bucket
        """,
        "p6_regex_extract": """
            SELECT c_custkey,
                   CAST(regexp_extract(c_name, 'Customer#(\\d+)', 1) AS BIGINT) AS name_id
            FROM customer WHERE c_custkey < 100
        """,
        "c10_concat_ids": """
            SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_partkey AS VARCHAR)
                     || '-' || CAST(l_linenumber AS VARCHAR) AS item_id,
                   l_quantity
            FROM lineitem WHERE l_orderkey < 100
        """,
        "w1_splice_scan": _w1_oracle_sql(),
        "w1_splice_scan_grouped": _w1_grouped_oracle_sql(),
        # media_features: binary-literal op — rows-only.
        "p7_parse_section_id": """
            WITH s AS (
              SELECT s_suppkey,
                     'GLAD9-PET06-' || CAST(s_nationkey + 1 AS VARCHAR)
                       || chr(65 + CAST(s_suppkey % 3 AS INT)) || '-'
                       || CAST(s_suppkey + 1 AS VARCHAR) || 'H-'
                       || CAST(s_suppkey % 5 + 1 AS VARCHAR) AS sid
              FROM supplier
            )
            SELECT s_suppkey,
                   regexp_extract(string_split(sid, '-')[3], '([0-9]+)([A-Z]+)', 1) AS site,
                   regexp_extract(string_split(sid, '-')[3], '([0-9]+)([A-Z]+)', 2) AS hole,
                   regexp_extract(string_split(sid, '-')[4], '([0-9]+)([A-Z]+)', 1) AS core,
                   regexp_extract(string_split(sid, '-')[4], '([0-9]+)([A-Z]+)', 2) AS tool,
                   string_split(sid, '-')[5] AS section
            FROM s
        """,
        "q12_shipmode": """
            SELECT l_linestatus,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_linestatus
        """,
        "q14_promo_effect": """
            SELECT round(sum(CASE WHEN p_type LIKE 'S%'
                             THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                         * 100.0 / sum(l_extendedprice * (1 - l_discount)), 6)
                     AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
        """,
        "q17_avg_subquery": """
            SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
            FROM lineitem l
            JOIN (SELECT l_partkey AS p_key, avg(l_quantity) * 0.5 AS half_avg
                  FROM lineitem GROUP BY l_partkey) a
              ON l.l_partkey = a.p_key
            WHERE l.l_quantity < a.half_avg
        """,
        "q18_large_volume": """
            SELECT c_custkey, c_name, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
                   round(o_totalprice, 2) AS o_totalprice,
                   round(total_qty, 2) AS total_qty
            FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
                  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150) b
            JOIN orders ON b.l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "q19_disjunctive": """
            SELECT count(*) AS n,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size <= 5)
               OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size <= 10)
               OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size <= 15)
        """,
        "events_interval_join": """
            WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
                       FROM events WHERE event_type = 'view'),
                 c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
                       FROM events WHERE event_type = 'click')
            SELECT v.user_id, view_id, click_id,
                   floor(epoch(click_ts))::BIGINT - floor(epoch(view_ts))::BIGINT
                     AS lag_secs
            FROM v JOIN c ON v.user_id = c.user_id
             AND click_ts >= view_ts
             AND click_ts <= view_ts + INTERVAL 5 MINUTE
        """,
        "events_json_props": """
            SELECT event_type,
                   CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
                   count(*) AS n,
                   CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
                   round(sum(value), 2) AS value_sum
            FROM events GROUP BY 1, 2
        """,
        "text_scrub_pii": """
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN text ||
                       ' contact bob@example.com or https://ex.com/a?b=1 or 415-555-0199 now'
                     ELSE text END AS tx
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(tx,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
                     AS n_email,
                   CAST(len(regexp_extract_all(tx, 'https?://[^\\s]+')) AS BIGINT)
                     AS n_url,
                   CAST(len(regexp_extract_all(tx,
                     '[0-9][0-9 ()\\.-]{7,}[0-9]')) AS BIGINT) AS n_digit_run,
                   CAST(len(regexp_replace(regexp_replace(regexp_replace(tx,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<PII>', 'g'),
                     'https?://[^\\s]+', '<PII>', 'g'),
                     '[0-9][0-9 ()\\.-]{7,}[0-9]', '<PII>', 'g')) AS BIGINT)
                     AS scrubbed_len
            FROM t
        """,
        "events_stream_dedup": """
            WITH u AS (
              SELECT event_id, event_type, user_id FROM events
              WHERE event_id < 20000
              UNION ALL
              SELECT event_id, event_type, user_id FROM events
              WHERE event_id < 300
            )
            SELECT event_id, event_type, user_id,
                   count(*) - 1 AS n_dupes
            FROM u GROUP BY event_id, event_type, user_id
        """,
        "pack_examples": """
            WITH t AS (
              SELECT doc_id,
                     CAST(CASE WHEN trim(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                          AS BIGINT) AS nt
              FROM documents
            ),
            c AS (
              SELECT doc_id, nt,
                     sum(nt) OVER (ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS tok_end
              FROM t
            )
            SELECT doc_id,
                   CAST(tok_end - nt AS BIGINT) AS tok_start,
                   CAST(tok_end AS BIGINT) AS tok_end,
                   CAST((tok_end - nt) // 2048 AS BIGINT) AS first_example,
                   CAST(CASE WHEN nt <= 0 THEN (tok_end - nt) // 2048
                        ELSE (tok_end - 1) // 2048 END AS BIGINT) AS last_example,
                   CAST(CASE WHEN nt <= 0 THEN 0
                        ELSE (tok_end - 1) // 2048 - (tok_end - nt) // 2048 + 1
                        END AS BIGINT) AS n_examples
            FROM c
        """,
        "text_tfidf_terms": """
            WITH terms AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
              FROM documents
            ),
            tf AS (
              SELECT doc_id, term, count(*) AS tf
              FROM terms WHERE term <> '' GROUP BY 1, 2
            ),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            s AS (
              SELECT doc_id, term,
                     round(tf * ln((SELECT count(*) FROM documents)
                                   / CAST(df AS DOUBLE)), 4) AS score
              FROM tf JOIN dfq USING (term)
            ),
            r AS (
              SELECT doc_id, term, score,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, term) AS rank
              FROM s
            )
            SELECT doc_id, CAST(rank AS INT) AS rank, term, score
            FROM r WHERE rank <= 3
        """,
        "text_gopher_quality": """
            WITH t AS (
              SELECT doc_id, text,
                     string_split(text, chr(10)) AS lines,
                     regexp_split_to_array(trim(text), '\\s+') AS toks,
                     CAST(CASE WHEN trim(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                          AS BIGINT) AS n_tokens,
                     len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
                     len(regexp_replace(text, '[^ ]', '', 'g')) AS spaces,
                     CAST(len(text) AS BIGINT) AS n_chars
              FROM documents
            ),
            g AS (
              SELECT doc_id, n_tokens,
                     round(1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
                           / len(lines), 4) AS dup_line_frac,
                     CASE WHEN len(toks) < 3 THEN 0.0 ELSE
                       round(1.0 - CAST(len(list_distinct(
                               list_transform(range(1, len(toks) - 1),
                                              i -> array_to_string(toks[i:i+2], ' '))))
                             AS DOUBLE) / (len(toks) - 2), 4) END AS dup_ngram_frac,
                     CASE WHEN n_tokens <= 0 THEN 0.0 ELSE
                       round(CAST(list_max(list_transform(list_distinct(toks),
                               x -> len(list_filter(toks, u -> u = x))))
                             AS DOUBLE) / n_tokens, 4) END AS top_token_frac,
                     round(CAST(n_chars - spaces AS DOUBLE)
                           / CAST(greatest(n_tokens, 1) AS DOUBLE), 4) AS avg_token_len,
                     round(CAST(alpha AS DOUBLE)
                           / CAST(greatest(n_chars, 1) AS DOUBLE), 4) AS alpha_ratio
              FROM t
            )
            SELECT doc_id, dup_line_frac, dup_ngram_frac, top_token_frac,
                   CAST(n_tokens >= 50 AND n_tokens <= 100000
                        AND dup_line_frac <= 0.30
                        AND dup_ngram_frac <= 0.50
                        AND top_token_frac <= 0.20
                        AND avg_token_len >= 3.0 AND avg_token_len <= 10.0
                        AND alpha_ratio >= 0.60 AS INT) AS keep
            FROM g
        """,
        "events_running_totals": """
            SELECT user_id, count(*) AS n_events,
                   round(sum(value), 2) AS value_sum
            FROM events GROUP BY user_id
        """,
        "events_running_totals_native": """
            SELECT user_id, count(*) AS n_events,
                   round(sum(value), 2) AS value_sum
            FROM events GROUP BY user_id
        """,
        "a7_percentiles": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
                   round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
                   round(quantile_cont(l_quantity, 0.25), 4) AS q1_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "feldman_e2_export": _e2_oracle_sql(),
        **{k: v for k, v in _PIPELINE_ORACLES.items() if v is not None},
        "dedup_simhash": _simhash_oracle_sql(),
        "dedup_clusters": _components_oracle_sql(),
        "dedup_survivors_quality": _survivors_quality_oracle_sql(),
        "dedup_near_incremental": _near_inc_oracle_sql(),
        "f8_winsorize": """
            WITH b AS (
              SELECT quantile_cont(n_chars, 0.01) AS lo,
                     quantile_cont(n_chars, 0.99) AS hi
              FROM documents
            )
            SELECT doc_id, n_chars,
                   round(least(greatest(n_chars, lo), hi), 4) AS n_chars_w
            FROM documents, b
        """,
        "w8_rolling_time": """
            SELECT event_id, user_id,
                   CAST(count(*) OVER w AS BIGINT) AS rolling_n,
                   round(sum(value) OVER w, 4) AS rolling_sum,
                   round(avg(value) OVER w, 4) AS rolling_avg
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                         AND CURRENT ROW)
        """,
        "pack_chunks": """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents WHERE trim(text) <> ''
            )
            SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
                   array_to_string(t[u.i*24+1 : u.i*24+32], ' ') AS chunk_text,
                   CAST(least(32, len(t) - u.i*24) AS INT) AS n_words
            FROM toks,
                 UNNEST(range(CAST(ceil(greatest(len(t) - 32, 0) / 24.0)
                                   AS BIGINT) + 1)) AS u(i)
        """,
        "text_strip_html": """
            WITH h AS (
              SELECT doc_id,
                     '<html><head><script type="text/javascript">var t = 1 < 2;'
                     || '</script><style>p { color: red; }</style><title>'
                     || source
                     || '</title></head><body><h1>Doc &amp; more</h1><p>'
                     || text
                     || '</p>&nbsp;<br/>fin</body></html>' AS html
              FROM documents
            )
            SELECT doc_id,
                   trim(regexp_replace(
                     replace(replace(replace(replace(replace(replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(html,
                             '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                           '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                         '(?s)<[^>]+>', ' ', 'g'),
                       '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                       '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                     '\\s+', ' ', 'g')) AS text
            FROM h
        """,
        "decontaminate_semantic": """
            WITH ev AS (
              SELECT CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE vec_id % 50 = 0
            ),
            corpus AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id % 50 <> 0
              UNION ALL
              SELECT vec_id + 100000, CAST(embedding AS DOUBLE[])
              FROM embeddings WHERE vec_id % 50 = 0
            )
            SELECT vec_id FROM corpus c
            WHERE NOT EXISTS (
              SELECT 1 FROM ev
              WHERE round(list_cosine_similarity(c.v, ev.e), 6) >= 0.95)
            ORDER BY vec_id
        """,
        "sample_dsir": """
            WITH toks AS (
              SELECT doc_id, source = 'src0' AS tgt,
                     regexp_split_to_array(trim(text), '\\s+') AS w
              FROM documents
            ),
            grams AS (
              SELECT doc_id, tgt,
                     unnest(list_transform(range(1, len(w)),
                            i -> array_to_string(w[i:i+1], ' '))) AS g
              FROM toks WHERE len(w) >= 2
            ),
            model AS (
              SELECT g,
                     sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
                     sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr
              FROM grams GROUP BY g
            ),
            tot AS (SELECT sum(ct) AS t, sum(cr) AS r, count(*) AS v FROM model),
            ratio AS (
              SELECT g,
                     ln((ct + 1.0) / (t + 1.0 * v))
                     - ln((cr + 1.0) / (r + 1.0 * v)) AS lr
              FROM model, tot
            )
            SELECT doc_id, round(sum(lr), 6) AS weight
            FROM grams JOIN ratio USING (g)
            WHERE NOT tgt
            GROUP BY doc_id
        """,
        "sample_temperature": """
            WITH c AS (
              SELECT source, CAST(count(*) AS DOUBLE) AS n
              FROM documents GROUP BY source
            ),
            z AS (SELECT sum(pow(n, 0.5)) AS z, sum(n) AS total FROM c),
            f AS (
              SELECT source,
                     least(1.0, round(total * pow(n, 0.5) / z / n, 6)) AS f
              FROM c, z
            ),
            t AS (
              SELECT source,
                     CASE WHEN f >= 1.0 THEN 'gggggggg'
                          ELSE lower(lpad(hex(CAST(floor(f * 4294967296.0)
                                                   AS BIGINT)), 8, '0'))
                     END AS thr
              FROM f
            )
            SELECT d.doc_id, d.source
            FROM documents d JOIN t ON d.source = t.source
            WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || '#mixt'), 1, 8)
                  < t.thr
        """,
        "pipeline_fuzzy_dedup": _fuzzy_dedup_oracle_sql(),
        "text_lang_id": _lang_id_oracle_sql(),
        "knn_lsh": _lsh_oracle_sql(),
        "knn_ivf": _KNN_IVF_PINNED,
        # BOTH PQ keys point at one pinned oracle: ivf_pq_topk at
        # nprobe=C must equal pq_topk exactly, so the driver itself
        # value-checks the twin relation (knn_ivf_exact precedent)
        "pq_topk": _PQ_TOPK_PINNED,
        "ivf_pq_topk": _PQ_TOPK_PINNED,
        "web_robots_filter": _WEB_ROBOTS_PINNED,
        "text_mojibake": _mojibake_oracle_sql(),
        "text_script_profile": _script_profile_oracle_sql(),
        "media_phash_dedup": _MEDIA_PHASH_PINNED,
        "media_audio_dedup": _MEDIA_AUDIO_PINNED,
        "media_incremental_dedup": _MEDIA_INCREMENTAL_PINNED,
        "dedup_near_overlap": _near_overlap_oracle_sql(),
        "media_features": _MEDIA_FEATURES_PINNED,
        "media_image_stats": _MEDIA_IMAGE_STATS_PINNED,
        "j10_salted_join": """
            SELECT o_orderstatus, count(*) AS n,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderstatus
        """,
        "dedup_frequent_spans": f"""
            WITH src AS (
              SELECT doc_id,
                     CASE WHEN source = 'src0'
                          THEN '{_BOILERPLATE_20W} ' || text
                          ELSE text END AS text
              FROM documents
            ),
            toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
              FROM src
            ),
            chunks AS (
              SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
                     CAST(ceil(len(t) / 20.0) AS INT) AS nc,
                     array_to_string(t[u.i*20+1 : u.i*20+20], ' ') AS para
              FROM toks, UNNEST(range(CAST(ceil(len(t) / 20.0) AS BIGINT))) AS u(i)
            ),
            freq AS (
              SELECT para FROM chunks GROUP BY para HAVING count(*) > 2
            )
            SELECT doc_id,
                   string_agg(para, ' ' ORDER BY chunk_idx) AS text,
                   CAST(count(*) AS BIGINT) AS n_kept,
                   CAST(max(nc) - count(*) AS BIGINT) AS n_dropped
            FROM chunks
            WHERE para NOT IN (SELECT para FROM freq)
            GROUP BY doc_id
        """,
        "j11_binned_range_join": """
            SELECT s_suppkey,
                   CAST(count(*) AS BIGINT) AS n_cust,
                   round(sum(c_acctbal), 2) AS sum_bal
            FROM supplier
            JOIN customer
              ON c_acctbal BETWEEN s_acctbal AND s_acctbal + 500.0
            GROUP BY s_suppkey
        """,
        "j11_range_join_bounded": """
            WITH w AS (SELECT 50000.0 / count(*) AS bw FROM supplier)
            SELECT s_suppkey,
                   CAST(count(*) AS BIGINT) AS n_cust,
                   round(sum(c_acctbal), 2) AS sum_bal
            FROM supplier CROSS JOIN w
            JOIN customer
              ON c_acctbal BETWEEN s_acctbal AND s_acctbal + w.bw
            GROUP BY s_suppkey
        """,
        "dedup_paragraphs": """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents
            ),
            chunks AS (
              SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
                     CAST(ceil(len(t) / 20.0) AS INT) AS nc,
                     array_to_string(t[u.i*20+1 : u.i*20+20], ' ') AS para
              FROM toks, UNNEST(range(CAST(ceil(len(t) / 20.0) AS BIGINT))) AS u(i)
            ),
            keep AS (
              SELECT doc_id, chunk_idx, nc, para,
                     row_number() OVER (PARTITION BY para
                                        ORDER BY doc_id, chunk_idx) AS rn
              FROM chunks
            )
            SELECT doc_id,
                   string_agg(para, ' ' ORDER BY chunk_idx) AS text,
                   CAST(count(*) AS BIGINT) AS n_kept,
                   CAST(max(nc) - count(*) AS BIGINT) AS n_dropped
            FROM keep WHERE rn = 1 GROUP BY doc_id
        """,
        "sample_shuffle": """
            WITH v AS (
              SELECT doc_id,
                     substr(md5(CAST(doc_id AS VARCHAR) || '#shuffle:1'), 1, 8) AS sk
              FROM documents
            )
            SELECT doc_id,
                   CAST((((strpos('0123456789abcdef', substr(sk, 1, 1)) - 1) * 4096
                          + (strpos('0123456789abcdef', substr(sk, 2, 1)) - 1) * 256
                          + (strpos('0123456789abcdef', substr(sk, 3, 1)) - 1) * 16
                          + (strpos('0123456789abcdef', substr(sk, 4, 1)) - 1)) % 8)
                        AS INT) AS shard,
                   sk
            FROM v
        """,
        "w6_scd2_intervals": """
            WITH c AS (
              SELECT user_id, event_id, value, ts
              FROM events WHERE event_type = 'click'
            )
            SELECT user_id, event_id, value,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
                   strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
                   CAST(lead(ts) OVER w IS NULL AS INT) AS is_current
            FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "events_enrich": """
            SELECT e.event_id, e.user_id, c.c_name, c.c_nationkey, e.value
            FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        """,
        "events_stream_dedup_native": """
            SELECT event_id, event_type, user_id FROM events
        """,
        "a10_cube": """
            SELECT l_returnflag,
                   CAST(year(l_shipdate) AS BIGINT) AS ship_year,
                   count(*) AS n,
                   round(sum(l_extendedprice), 2) AS sum_price,
                   CAST(GROUPING(l_returnflag, year(l_shipdate)) AS BIGINT) AS gid
            FROM lineitem
            GROUP BY CUBE (l_returnflag, year(l_shipdate))
        """,
        "sample_curriculum": """
            WITH b AS (
              SELECT quantile_cont(n_chars,
                  [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
              FROM documents
            )
            SELECT CAST(1 + len(list_filter(b.bs,
                         x -> CAST(d.n_chars AS DOUBLE) > x)) AS INT) AS bucket,
                   count(*) AS n_docs,
                   round(avg(n_chars), 4) AS avg_chars
            FROM documents d, b
            GROUP BY 1
        """,
        "w7_time_gapfill": """
            WITH bounds AS (
              SELECT date_trunc('hour', min(ts)) AS lo,
                     date_trunc('hour', max(ts)) AS hi
              FROM events
            ),
            grid AS (
              SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
              FROM bounds
            ),
            types AS (SELECT DISTINCT event_type FROM events),
            counts AS (
              SELECT date_trunc('hour', ts) AS bucket, event_type,
                     count(*) AS n
              FROM events GROUP BY 1, 2
            )
            SELECT strftime(g.bucket, '%Y-%m-%d %H:%M') AS bucket,
                   t.event_type,
                   CAST(coalesce(c.n, 0) AS BIGINT) AS n
            FROM grid g CROSS JOIN types t
            LEFT JOIN counts c ON c.bucket = g.bucket
                               AND c.event_type = t.event_type
        """,
        "dedup_incremental": """
            WITH hist AS (
              SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id < 250
            ),
            batch AS (
              SELECT doc_id, text FROM documents WHERE doc_id >= 250
              UNION ALL
              SELECT doc_id + 100000, text FROM documents WHERE doc_id < 10
              UNION ALL
              SELECT doc_id + 200000, text FROM documents
              WHERE doc_id >= 250 AND doc_id < 255
            ),
            bd AS (
              SELECT doc_id FROM (
                SELECT doc_id, md5(text) AS dg,
                       row_number() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id) AS rn
                FROM batch
              ) WHERE rn = 1 AND dg NOT IN (SELECT digest FROM hist)
            )
            SELECT doc_id FROM bd
        """,
        # deterministic-by-seed output (xxhash64-seeded k-means), pinned
        # like knn_ivf; valid at the driver's sf0.01 gate only.
        # Re-pinned for the cost-balanced C* = sqrt(N/iters) sizing
        # (semantic_dedup no longer uses the search index's capacity
        # rule); survivor total is unchanged at 500 — every original
        # survives, all 20 injected duplicates drop.
        "dedup_semantic": """
            SELECT * FROM (VALUES
              (0, CAST(32 AS BIGINT), CAST(9064 AS BIGINT)),
              (1, 32, 8493),
              (2, 34, 7805),
              (3, 28, 6760),
              (4, 22, 5249),
              (5, 31, 6676),
              (6, 28, 6545),
              (7, 32, 8318),
              (8, 35, 8085),
              (9, 32, 8215),
              (10, 30, 7351),
              (11, 29, 7389),
              (12, 31, 8286),
              (13, 26, 6532),
              (14, 23, 5642),
              (15, 27, 7214),
              (16, 28, 7126)
            ) AS t(cid, n_kept, id_sum)
        """,
        "sample_mix": """
            SELECT 'even' AS mix_src, count(*) AS n_docs,
                   CAST(sum(doc_id) AS BIGINT) AS id_sum
            FROM documents
            WHERE doc_id % 2 = 0
              AND substr(md5(doc_id::VARCHAR || '#mix:even'), 1, 8) < '80000000'
            UNION ALL
            SELECT 'odd', count(*), CAST(sum(doc_id) AS BIGINT)
            FROM documents
            WHERE doc_id % 2 = 1
              AND substr(md5(doc_id::VARCHAR || '#mix:odd'), 1, 8) < 'e6666666'
        """,
        "profile_documents": """
            SELECT 'doc_id' AS column, count(*) AS n_rows,
                   count(*) FILTER (doc_id IS NULL) AS n_nulls,
                   count(DISTINCT doc_id) AS n_distinct,
                   CAST(min(doc_id) AS VARCHAR) AS min_value,
                   CAST(max(doc_id) AS VARCHAR) AS max_value
            FROM documents
            UNION ALL
            SELECT 'lang', count(*), count(*) FILTER (lang IS NULL),
                   count(DISTINCT lang),
                   CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT 'source', count(*), count(*) FILTER (source IS NULL),
                   count(DISTINCT source),
                   CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT 'n_chars', count(*), count(*) FILTER (n_chars IS NULL),
                   count(DISTINCT n_chars),
                   CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
            FROM documents
        """,
        "decontaminate_corpus": """
            WITH grams AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(w) - 3),
                            i -> array_to_string(w[i:i+4], ' '))) AS g
              FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
              WHERE len(w) >= 5
            ),
            ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
            bad AS (
              SELECT DISTINCT doc_id FROM grams
              WHERE doc_id % 50 <> 0 AND g IN (SELECT g FROM ev)
            )
            SELECT doc_id FROM documents
            WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
            ORDER BY doc_id
        """,
        "pivot_returnflag": """
            SELECT l_linestatus,
                   round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS "A",
                   round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS "N",
                   round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS "R"
            FROM lineitem GROUP BY l_linestatus
        """,
        "doc_embedding_join": """
            SELECT label, count(*) AS n,
                   round(avg(sqrt(list_dot_product(embedding::DOUBLE[],
                                                   embedding::DOUBLE[]))), 4) AS avg_norm,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM embeddings JOIN documents ON vec_id = doc_id
            GROUP BY label
        """,
        "sample_split": """
            SELECT CASE
                     WHEN substr(md5(doc_id::VARCHAR || '#split'), 1, 8) < 'e6666666'
                       THEN 'train'
                     WHEN substr(md5(doc_id::VARCHAR || '#split'), 1, 8) < 'f3333333'
                       THEN 'val'
                     ELSE 'test'
                   END AS split,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY split
        """,
        "sample_fraction": """
            SELECT doc_id, lang FROM documents
            WHERE substr(md5(doc_id::VARCHAR || '#sample'), 1, 8) < '19999999'
        """,
        "a8_rollup": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty,
                   CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "a9_sketch_distinct": """
            -- the exact count is the checked value; the flag pins the
            -- HLL accuracy contract (register-merge is commutative, so
            -- Spark's estimate is partitioning-independent)
            SELECT o_orderpriority,
                   count(DISTINCT o_custkey) AS exact_custs,
                   TRUE AS within_5pct
            FROM orders GROUP BY 1
        """,
        "u2_unpivot": """
            WITH long AS (
              SELECT 'l_extendedprice' AS metric, l_extendedprice AS value FROM lineitem
              UNION ALL
              SELECT 'l_discount', l_discount FROM lineitem
              UNION ALL
              SELECT 'l_tax', l_tax FROM lineitem
            )
            SELECT metric, count(*) AS n,
                   round(sum(value), 2) AS value_sum,
                   round(avg(value), 2) AS value_avg
            FROM long GROUP BY metric
        """,
        "pipeline_dedup_stats": """
            WITH fp AS (
              SELECT doc_id, lang, text,
                     md5(trim(array_to_string(regexp_split_to_array(lower(text),
                         '[^a-z0-9]+'), ' '))) AS f
              FROM documents
            ),
            kept AS (
              SELECT * FROM fp
              QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id ASC) = 1
            )
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS ws_tokens,
                   CAST(sum(len(regexp_extract_all(text,
                        ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'))) AS BIGINT) AS bpe_tokens
            FROM kept GROUP BY lang
        """,
        "text_tokens": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS ws_tokens,
                   CAST(len(regexp_extract_all(text,
                        ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS BIGINT) AS bpe_tokens
            FROM documents
        """,
        "q2_min_cost_supplier": """
            WITH cost AS (
              SELECT l_partkey, l_suppkey,
                     round(min(l_extendedprice / l_quantity), 4) AS cost
              FROM lineitem GROUP BY 1, 2
            ),
            eur AS (
              SELECT s_suppkey, s_name, n_name
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'EUROPE'
            ),
            pc AS (
              SELECT p_partkey, s_name, n_name, cost,
                     min(cost) OVER (PARTITION BY p_partkey) AS min_cost
              FROM cost
              JOIN eur ON l_suppkey = s_suppkey
              JOIN part ON l_partkey = p_partkey
              WHERE p_size < 10
            )
            SELECT s_name, n_name, p_partkey, cost FROM pc WHERE cost = min_cost
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-07-01'
              AND o_orderdate < TIMESTAMP '1996-10-01'
              AND EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
            GROUP BY o_orderpriority
        """,
        "q7_volume_shipping": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            GROUP BY 1, 2, 3
        """,
        "q8_market_share": """
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   round(sum(CASE WHEN n1.n_name = 'NATION_3'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                         / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            JOIN region ON n2.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY 1
        """,
        "q9_product_profit": """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   round(sum(l_extendedprice * (1 - l_discount)
                             - p_retailprice * 0.1 * l_quantity), 4) AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%widget%'
            GROUP BY 1, 2
        """,
        "q11_important_stock": """
            WITH base AS (
              SELECT l_partkey, l_extendedprice * l_quantity AS v
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              WHERE n_name = 'NATION_5'
            )
            SELECT l_partkey, round(sum(v), 4) AS value
            FROM base
            GROUP BY l_partkey
            HAVING sum(v) > (SELECT sum(v) * 0.001 FROM base)
        """,
        "q13_customer_distribution": """
            SELECT c_count, count(*) AS custdist
            FROM (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer
              LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority <> '5-LOW') o
                ON c_custkey = o_custkey
              GROUP BY c_custkey
            )
            GROUP BY c_count
        """,
        "q15_top_supplier": """
            WITH revenue AS (
              SELECT l_suppkey AS supplier_no,
                     round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM revenue JOIN supplier ON supplier_no = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        """,
        "q16_supplier_cnt": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1'
              AND l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY 1, 2, 3
        """,
        "q20_potential_promotion": """
            SELECT s_suppkey, s_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_7'
              AND s_suppkey IN (
                SELECT l_suppkey
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_type = 'SMALL'
                  AND l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1997-01-01'
                GROUP BY l_suppkey
                HAVING sum(l_quantity) > 100)
        """,
        "q21_waiting_supplier": """
            WITH late AS (
              SELECT l_orderkey, l_suppkey
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              WHERE o_orderstatus = 'F'
                AND l_shipdate > o_orderdate + INTERVAL 30 DAY
            )
            SELECT s_name, count(*) AS numwait
            FROM late l1
            JOIN supplier ON l1.l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_4'
              AND EXISTS (
                SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (
                SELECT 1 FROM late l3
                WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey)
            GROUP BY s_name
        """,
        "q22_global_sales": """
            WITH pool AS (
              SELECT c_custkey, c_acctbal,
                     CAST(c_custkey % 7 AS BIGINT) AS cntrycode
              FROM customer
              WHERE c_custkey % 7 IN (0, 1, 2, 3)
            )
            SELECT cntrycode, count(*) AS numcust,
                   round(sum(c_acctbal), 2) AS totacctbal
            FROM pool
            WHERE c_acctbal > (
                SELECT avg(c_acctbal) FROM pool WHERE c_acctbal > 0.0)
              AND NOT EXISTS (
                SELECT 1 FROM orders
                WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
            GROUP BY cntrycode
        """,
        # --- r10b twins ---
        "dedup_containment": """
            WITH probe AS (
              SELECT doc_id,
                     array_to_string((string_split(text, ' '))[1:20], ' ')
                       AS text
              FROM documents WHERE doc_id % 5 = 0
            ),
            ga AS (
              SELECT doc_id AS probe_doc,
                     unnest(list_distinct(list_transform(
                       range(1, len(w) - 3),
                       i -> array_to_string(w[i:i+4], ' ')))) AS g
              FROM (SELECT doc_id, string_split(text, ' ') AS w FROM probe)
              WHERE len(w) >= 5
            ),
            gb AS (
              SELECT doc_id AS corpus_doc,
                     unnest(list_distinct(list_transform(
                       range(1, len(w) - 3),
                       i -> array_to_string(w[i:i+4], ' ')))) AS g
              FROM (SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents)
              WHERE len(w) >= 5
            ),
            sz AS (SELECT probe_doc, count(*) AS s FROM ga GROUP BY 1),
            inter AS (
              SELECT probe_doc, corpus_doc, count(*) AS i
              FROM ga JOIN gb USING (g) GROUP BY 1, 2
            )
            SELECT probe_doc, corpus_doc,
                   round(CAST(i AS DOUBLE) / s, 4) AS containment
            FROM inter JOIN sz USING (probe_doc)
            WHERE round(CAST(i AS DOUBLE) / s, 4) >= 0.9
        """,
        "w10_interval_merge": """
            WITH iv AS (
              SELECT user_id, epoch_us(ts) AS s,
                     epoch_us(ts)
                       + CAST(floor(value * 60000000.0) AS BIGINT) AS e
              FROM events
              WHERE ts IS NOT NULL AND value IS NOT NULL
            ),
            m AS (
              SELECT user_id, s, e,
                     CASE WHEN s > max(e) OVER (
                            PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)
                          THEN 1 ELSE 0 END AS ni
              FROM iv
            ),
            isl AS (
              SELECT user_id, s, e,
                     CAST(sum(ni) OVER (
                            PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) + 1 AS BIGINT)
                       AS island
              FROM m
            )
            SELECT user_id, island,
                   min(s) AS island_start, max(e) AS island_end,
                   count(*) AS n_merged
            FROM isl GROUP BY 1, 2
        """,
        "a13_grouped_mode": """
            WITH pairs AS (
              SELECT user_id, event_type AS v, count(*) AS n
              FROM events WHERE event_type IS NOT NULL
              GROUP BY 1, 2
            ),
            top AS (SELECT user_id, max(n) AS mx FROM pairs GROUP BY 1)
            SELECT p.user_id, min(p.v) AS mode_event,
                   CAST(max(p.n) AS BIGINT) AS mode_count
            FROM pairs p JOIN top t
              ON p.user_id = t.user_id AND p.n = t.mx
            GROUP BY 1
        """,
        "text_readability": """
            WITH f AS (
              SELECT doc_id,
                     CAST(CASE WHEN trim(text) = '' THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                          END AS BIGINT) AS n_words,
                     CAST(greatest(
                       len(regexp_extract_all(trim(text), '[.!?]+')), 1)
                       AS BIGINT) AS n_sentences,
                     CAST(len(regexp_extract_all(lower(trim(text)),
                                                 '[aeiouy]+'))
                       AS BIGINT) AS n_syllables
              FROM documents
            )
            SELECT doc_id, n_words, n_sentences, n_syllables,
                   CASE WHEN n_words > 0 THEN
                     round(206.835
                           - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                           - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words),
                           4)
                   END AS flesch
            FROM f
        """,
        "text_top_ngrams": """
            WITH stream AS (
              SELECT doc_id,
                     unnest(list_transform(
                       range(1, len(w)),
                       i -> array_to_string(w[i:i+1], ' '))) AS ngram
              FROM (SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents)
              WHERE len(w) >= 2
            )
            SELECT ngram,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   count(*) AS total_count
            FROM stream GROUP BY 1
            ORDER BY total_count DESC, ngram ASC
            LIMIT 25
        """,
        "knn_join": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe,
                     sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])) AS qn
              FROM embeddings WHERE vec_id < 20
            ),
            c AS (
              SELECT vec_id, embedding::DOUBLE[] AS ce,
                     sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[])) AS cn
              FROM embeddings WHERE vec_id >= 20
            ),
            scored AS (
              SELECT q.query_id, c.vec_id,
                     round(list_dot_product(c.ce, q.qe)
                           / (c.cn * q.qn), 6) AS cosine
              FROM q, c
            ),
            ranked AS (
              SELECT query_id, vec_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vec_id ASC)
                       AS rank
              FROM scored
            )
            SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 5
        """,
        "j15_radius_join": """
            WITH r AS (
              SELECT 5.0 * sqrt(1500.0 / count(*)) AS rad FROM customer
            ),
            s AS (
              SELECT s_suppkey,
                     ((s_suppkey * 9973) % 100000) / 1000.0 AS sx,
                     ((s_suppkey * 6151) % 100000) / 1000.0 AS sy
              FROM supplier
            ),
            c AS (
              SELECT c_custkey,
                     ((c_custkey * 9973) % 100000) / 1000.0 AS cx,
                     ((c_custkey * 6151) % 100000) / 1000.0 AS cy
              FROM customer
            )
            SELECT s_suppkey, sx, sy, c_custkey, cx, cy,
                   round(sqrt((sx - cx) * (sx - cx)
                              + (sy - cy) * (sy - cy)), 4) AS dist
            FROM s, c, r
            WHERE (sx - cx) * (sx - cx) + (sy - cy) * (sy - cy)
                  <= r.rad * r.rad
        """,
        "profile_bootstrap_ci": """
            WITH rep AS (
              SELECT e.value, b.b,
                     substr(md5(CAST(event_id AS VARCHAR) || ':'
                                || CAST(b.b // 4 AS VARCHAR) || ':boot'),
                            CAST((b.b % 4) * 8 + 1 AS INT), 8) AS u
              FROM events e, (SELECT unnest(range(32)) AS b) b
              WHERE e.value IS NOT NULL
            ),
            w AS (
              SELECT b, value,
                     CASE WHEN u < '5e2d58d8' THEN 0
                          WHEN u < 'bc5ab1b1' THEN 1
                          WHEN u < 'eb715e1d' THEN 2
                          WHEN u < 'fb239797' THEN 3
                          WHEN u < 'ff1025f5' THEN 4
                          WHEN u < 'ffd90f3b' THEN 5
                          WHEN u < 'fffa8b71' THEN 6
                          WHEN u < 'ffff540c' THEN 7
                          ELSE 8 END AS w
              FROM rep
            ),
            means AS (
              SELECT round(sum(w * value)
                           / CASE WHEN sum(w) > 0 THEN sum(w) END, 6) AS m
              FROM w GROUP BY b
            )
            SELECT
              (SELECT count(*) FROM events WHERE value IS NOT NULL)
                AS n_rows,
              (SELECT round(avg(value), 4) FROM events
               WHERE value IS NOT NULL) AS mean,
              round(quantile_cont(m, 0.025), 4) AS boot_lo,
              round(quantile_cont(m, 0.975), 4) AS boot_hi
            FROM means
        """,
        "w11_resample_interpolate": """
            WITH s AS (
              SELECT user_id, epoch_us(ts) AS x, avg(value) AS y
              FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
              GROUP BY 1, 2
            ),
            b AS (
              SELECT user_id,
                     (min(x) + 86399999999) // 86400000000 AS k0,
                     max(x) // 86400000000 AS k1
              FROM s GROUP BY 1
            ),
            grid AS (
              SELECT user_id, k * 86400000000 AS x
              FROM (SELECT user_id, unnest(generate_series(k0, k1)) AS k
                    FROM b WHERE k1 >= k0)
            ),
            u AS (
              SELECT user_id, x, y, 1 AS is_s FROM s
              UNION ALL
              SELECT user_id, x, NULL, 0 FROM grid
            ),
            br AS (
              SELECT user_id, x, is_s,
                last_value(CASE WHEN is_s = 1 THEN x END IGNORE NULLS)
                  OVER wb AS px,
                last_value(CASE WHEN is_s = 1 THEN y END IGNORE NULLS)
                  OVER wb AS py,
                first_value(CASE WHEN is_s = 1 THEN x END IGNORE NULLS)
                  OVER wf AS nx,
                first_value(CASE WHEN is_s = 1 THEN y END IGNORE NULLS)
                  OVER wf AS ny
              FROM u
              WINDOW
                wb AS (PARTITION BY user_id ORDER BY x, is_s DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                wf AS (PARTITION BY user_id ORDER BY x, is_s DESC
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT user_id, x AS grid_x,
                   round(CASE WHEN x = px THEN py
                         ELSE py + (ny - py)
                              * (CAST(x - px AS DOUBLE)
                                 / CAST(nx - px AS DOUBLE)) END, 4)
                     AS y_interp
            FROM br
            WHERE is_s = 0 AND px IS NOT NULL
              AND (nx IS NOT NULL OR x = px)
        """,
        "events_changepoint": """
            WITH base AS (
              SELECT user_id, ts, event_id, value,
                     avg(value) OVER (PARTITION BY user_id) AS m,
                     stddev_samp(value) OVER (PARTITION BY user_id) AS sd,
                     count(*) OVER (PARTITION BY user_id) AS n
              FROM events WHERE value IS NOT NULL
            ),
            cs AS (
              SELECT user_id, ts, event_id, n, sd,
                     sum(value - m) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS s
              FROM base
            ),
            rk AS (
              SELECT user_id, ts, event_id, n, sd, s,
                     row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY abs(s) DESC, ts, event_id) AS r
              FROM cs WHERE n >= 20 AND sd > 0
            )
            SELECT user_id, CAST(n AS BIGINT) AS n_points,
                   ts AS cp_ts, event_id AS cp_event_id,
                   round(abs(s) / (sd * sqrt(CAST(n AS DOUBLE))), 4)
                     AS cusum_peak,
                   CASE WHEN s < 0 THEN 1 ELSE -1 END AS direction
            FROM rk WHERE r = 1
        """,
        "a14_weighted_median": """
            WITH rows_w AS (
              SELECT l_returnflag AS g, l_extendedprice AS v,
                     CAST(l_quantity AS DOUBLE) AS w
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
                AND l_quantity > 0
            ),
            c AS (
              SELECT g, v,
                     sum(w) OVER (PARTITION BY g) AS tot,
                     sum(w) OVER (
                       PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
              FROM rows_w
            )
            SELECT g AS l_returnflag, min(v) AS w_median_price
            FROM c WHERE cum >= 0.5 * tot GROUP BY 1
        """,
        "f10_mad_outliers": """
            WITH med AS (
              SELECT event_type, quantile_cont(value, 0.5) AS m
              FROM events WHERE value IS NOT NULL GROUP BY 1
            ),
            mad AS (
              SELECT e.event_type,
                     quantile_cont(abs(e.value - med.m), 0.5) AS d
              FROM events e JOIN med USING (event_type)
              WHERE e.value IS NOT NULL GROUP BY 1
            )
            SELECT e.event_id, e.event_type, e.value,
                   round(0.6745 * (e.value - med.m) / mad.d, 4) AS robust_z
            FROM events e
            JOIN med USING (event_type) JOIN mad USING (event_type)
            WHERE e.value IS NOT NULL AND mad.d > 0
              AND abs(0.6745 * (e.value - med.m) / mad.d) > 3.5
        """,
        "w12_locf_fill": """
            WITH masked AS (
              SELECT event_id, user_id, ts,
                     CASE WHEN event_type <> 'error' THEN value END AS v
              FROM events
            )
            SELECT event_id, user_id, v,
                   coalesce(
                     last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     first_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   ) AS v_filled
            FROM masked
        """,
        "text_char_entropy": """
            WITH ch AS (
              SELECT doc_id, unnest(string_split_regex(text, '')) AS c
              FROM documents WHERE text IS NOT NULL AND len(text) > 0
            ),
            e AS (
              SELECT doc_id, round(entropy(c), 4) AS entropy
              FROM ch WHERE c <> '' GROUP BY 1
            )
            SELECT d.doc_id, e.entropy
            FROM documents d LEFT JOIN e USING (doc_id)
        """,
        "profile_trend": """
            WITH pts AS (
              SELECT user_id,
                     CAST(date_diff('second',
                                    TIMESTAMP '2024-01-01 00:00:00', ts)
                          AS DOUBLE) / 3600.0 AS x,
                     value AS y
              FROM events WHERE ts IS NOT NULL
            ),
            a AS (
              SELECT user_id, count(*) AS n_points,
                     regr_slope(y, x) AS s, regr_intercept(y, x) AS i,
                     regr_r2(y, x) AS r, var_samp(y) AS vy
              FROM pts WHERE x IS NOT NULL AND y IS NOT NULL
              GROUP BY 1
            )
            SELECT user_id, CAST(n_points AS BIGINT) AS n_points,
                   round(s, 4) AS slope, round(i, 4) AS intercept,
                   CASE WHEN vy > 0 THEN round(r, 4) END AS r2
            FROM a WHERE n_points >= 20
        """,
        "profile_mutual_info": """
            WITH pairs AS (
              SELECT lang AS a, source AS b, count(*) AS nab
              FROM documents
              WHERE lang IS NOT NULL AND source IS NOT NULL
              GROUP BY 1, 2
            ),
            tot AS (SELECT sum(nab) AS n FROM pairs),
            ma AS (SELECT a, sum(nab) AS na FROM pairs GROUP BY 1),
            mb AS (SELECT b, sum(nab) AS nb FROM pairs GROUP BY 1),
            mi AS (
              SELECT sum((CAST(nab AS DOUBLE) / n)
                         * log2((CAST(nab AS DOUBLE) * n)
                                / (CAST(na AS DOUBLE)
                                   * CAST(nb AS DOUBLE)))) AS v
              FROM pairs JOIN ma USING (a) JOIN mb USING (b), tot
            ),
            ha AS (
              SELECT -sum((CAST(na AS DOUBLE) / n)
                          * log2(CAST(na AS DOUBLE) / n)) AS v
              FROM ma, tot
            ),
            hb AS (
              SELECT -sum((CAST(nb AS DOUBLE) / n)
                          * log2(CAST(nb AS DOUBLE) / n)) AS v
              FROM mb, tot
            )
            SELECT CAST(tot.n AS BIGINT) AS n,
                   round(ha.v, 4) AS h_a, round(hb.v, 4) AS h_b,
                   round(mi.v, 4) AS mi_bits,
                   CASE WHEN ha.v > 0 AND hb.v > 0
                        THEN round(mi.v / sqrt(ha.v * hb.v), 4) END AS nmi
            FROM tot, ha, hb, mi
        """,
        "events_top_paths": """
            WITH flagged AS (
              SELECT user_id, ts, event_id, event_type,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR date_diff('second', lag(ts) OVER w, ts)
                               > 1800
                          THEN 1 ELSE 0 END AS new_session
              FROM events WHERE event_type IS NOT NULL
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            ids AS (
              SELECT user_id, ts, event_id, event_type,
                     sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sid
              FROM flagged
            ),
            stepped AS (
              SELECT user_id, sid, event_type,
                     row_number() OVER (
                       PARTITION BY user_id, sid
                       ORDER BY ts, event_id) AS rn
              FROM ids
            ),
            p AS (
              SELECT user_id, sid,
                     string_agg(event_type, '>' ORDER BY rn) AS path
              FROM stepped WHERE rn <= 8 GROUP BY 1, 2
            )
            SELECT path, count(*) AS n_sessions
            FROM p GROUP BY 1
            ORDER BY n_sessions DESC, path ASC
            LIMIT 20
        """,
        "text_hashing_features": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(text), '\\s+')) AS t
              FROM documents
            )
            SELECT doc_id,
                   (('0x' || substr(md5(t), 1, 8))::BIGINT % 64) AS bucket,
                   count(*) AS n
            FROM toks WHERE t <> ''
            GROUP BY 1, 2
        """,
        "text_winnow": """
            WITH d AS (
              SELECT doc_id, text, len(text) - 12 + 1 AS ng
              FROM documents WHERE text IS NOT NULL AND len(text) >= 12
            ),
            g AS (
              SELECT doc_id, ng, k AS pos, substr(text, k, 12) AS gram
              FROM (SELECT doc_id, text, ng,
                           unnest(generate_series(1, ng)) AS k
                    FROM d)
            ),
            keyed AS (
              SELECT doc_id, ng, pos,
                     (('0x' || substr(md5(gram), 1, 8))::BIGINT
                      * 2147483648 + pos) AS key
              FROM g
            ),
            m AS (
              SELECT doc_id, ng, pos,
                     min(key) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mkey
              FROM keyed
            ),
            fp AS (
              SELECT DISTINCT doc_id,
                     mkey % 2147483648 AS fp_pos,
                     mkey // 2147483648 AS fp_hash
              FROM m WHERE pos <= greatest(ng - 4 + 1, 1)
            ),
            nf AS (SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY 1),
            bh AS (SELECT DISTINCT doc_id, fp_hash FROM fp),
            sh AS (SELECT fp_hash, count(*) AS nd FROM bh GROUP BY 1),
            ns AS (
              SELECT doc_id, count(*) AS n_shared
              FROM bh JOIN sh USING (fp_hash) WHERE nd >= 2 GROUP BY 1
            )
            SELECT nf.doc_id, nf.n_fp, coalesce(ns.n_shared, 0) AS n_shared
            FROM nf LEFT JOIN ns USING (doc_id)
        """,
        "web_cooccurrence_pmi": """
            WITH base AS (
              SELECT DISTINCT user_id AS g,
                     CAST(floor(value) AS BIGINT) % 50 AS i
              FROM events
              WHERE user_id IS NOT NULL AND value IS NOT NULL
            ), capped AS (
              SELECT g, i FROM (
                SELECT g, i, row_number() OVER (
                  PARTITION BY g
                  ORDER BY substr(md5(CAST(i AS VARCHAR) || '#coocc'),
                                  1, 8) ASC, i ASC) AS rk
                FROM base
              ) WHERE rk <= 20
            ),
            pairs AS (
              SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_groups
              FROM capped a JOIN capped b ON a.g = b.g AND a.i < b.i
              GROUP BY 1, 2 HAVING count(*) >= 3
            ),
            marg AS (SELECT i, count(*) AS ni FROM capped GROUP BY 1),
            tot AS (SELECT count(DISTINCT g) AS n FROM capped)
            SELECT item_a, item_b, n_groups,
                   round(log2((CAST(n_groups AS DOUBLE) * n)
                              / (CAST(ma.ni AS DOUBLE)
                                 * CAST(mb.ni AS DOUBLE))), 4) AS pmi,
                   CASE WHEN n_groups = n THEN 1.0
                        ELSE round(
                          log2((CAST(n_groups AS DOUBLE) * n)
                               / (CAST(ma.ni AS DOUBLE)
                                  * CAST(mb.ni AS DOUBLE)))
                          / -log2(CAST(n_groups AS DOUBLE) / n), 4)
                   END AS npmi
            FROM pairs
            JOIN marg ma ON ma.i = pairs.item_a
            JOIN marg mb ON mb.i = pairs.item_b, tot
        """,
        "sample_group_split": """
            SELECT CASE
                     WHEN substr(md5(user_id::VARCHAR || '#split'), 1, 8)
                          < 'e6666666' THEN 'train'
                     WHEN substr(md5(user_id::VARCHAR || '#split'), 1, 8)
                          < 'f3333333' THEN 'val'
                     ELSE 'test'
                   END AS split,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY split
        """,
        "a15_dense_ids": """
            WITH toks AS (
              SELECT DISTINCT
                     unnest(string_split_regex(lower(text), '\\s+'))
                       AS token
              FROM documents WHERE text IS NOT NULL
            )
            SELECT token,
                   CAST(row_number() OVER (ORDER BY token) AS BIGINT)
                     AS id
            FROM toks WHERE token <> ''
        """,
        "j16_geo_radius_join": """
            WITH c AS (
              SELECT c_custkey,
                     ((c_custkey * 7919) % 1100) / 10.0 - 55.0 AS lat,
                     ((c_custkey * 104729) % 600) / 10.0 - 30.0 AS lon
              FROM customer
            ),
            s AS (
              SELECT s_suppkey,
                     ((s_suppkey * 7919 + 13) % 1100) / 10.0 - 55.0
                       AS lat2,
                     ((s_suppkey * 104729 + 17) % 600) / 10.0 - 30.0
                       AS lon2
              FROM supplier
            ),
            j AS (
              SELECT c_custkey, s_suppkey,
                     2 * 6371.0088 * asin(sqrt(
                       sin((lat2 - lat) * (pi() / 180.0 / 2))
                         * sin((lat2 - lat) * (pi() / 180.0 / 2))
                       + cos(lat * (pi() / 180.0))
                         * cos(lat2 * (pi() / 180.0))
                         * sin((lon2 - lon) * (pi() / 180.0 / 2))
                         * sin((lon2 - lon) * (pi() / 180.0 / 2))
                     )) AS d
              FROM c, s
            )
            SELECT c_custkey, s_suppkey, round(d, 4) AS dist_km
            FROM j WHERE d <= 200.0
        """,
        "text_normalize_keys": _normalize_keys_oracle_sql(),
        "profile_benford": """
            WITH c AS (
              SELECT CAST(regexp_extract(printf('%.4f', abs(value)),
                                         '[1-9]') AS INT) AS digit,
                     count(*) AS n
              FROM events
              WHERE value IS NOT NULL AND abs(value) >= 0.0001
                AND regexp_extract(printf('%.4f', abs(value)), '[1-9]')
                    <> ''
              GROUP BY 1
            ),
            t AS (SELECT sum(n) AS tt FROM c)
            SELECT digit, n,
                   round(CAST(n AS DOUBLE) / CAST(tt AS DOUBLE), 4)
                     AS obs_frac,
                   round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 4)
                     AS benford_frac,
                   round((CAST(n AS DOUBLE)
                          - log10(1.0 + 1.0 / CAST(digit AS DOUBLE))
                            * CAST(tt AS DOUBLE))
                         * (CAST(n AS DOUBLE)
                            - log10(1.0 + 1.0 / CAST(digit AS DOUBLE))
                              * CAST(tt AS DOUBLE))
                         / (log10(1.0 + 1.0 / CAST(digit AS DOUBLE))
                            * CAST(tt AS DOUBLE)), 4) AS chi2_contrib
            FROM c, t
        """,
        "profile_gini": """
            WITH ranked AS (
              SELECT source, CAST(n_chars AS DOUBLE) AS x,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY CAST(n_chars AS DOUBLE)) AS i
              FROM documents
              WHERE n_chars IS NOT NULL AND n_chars >= 0
            ),
            a AS (
              SELECT source, count(*) AS n, sum(x) AS sx,
                     sum(CAST(i AS DOUBLE) * x) AS six
              FROM ranked GROUP BY 1
            )
            SELECT source, CAST(n AS BIGINT) AS n_points,
                   round(2.0 * six / (CAST(n AS DOUBLE) * sx)
                         - (CAST(n AS DOUBLE) + 1.0)
                           / CAST(n AS DOUBLE), 4) AS gini
            FROM a WHERE n >= 2 AND sx > 0
        """,
        "w13_time_weighted_avg": """
            WITH rows_t AS (
              SELECT user_id, epoch_us(ts) AS t, value AS v,
                     lead(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)
                       - epoch_us(ts) AS dt
              FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
            ),
            a AS (
              SELECT user_id, count(*) AS n_points,
                     sum(CASE WHEN dt IS NOT NULL
                              THEN v * CAST(dt AS DOUBLE) END) AS num,
                     CAST(sum(CASE WHEN dt IS NOT NULL THEN dt
                              ELSE 0 END) AS BIGINT) AS den
              FROM rows_t GROUP BY 1
            )
            SELECT user_id, n_points,
                   round(CAST(den AS DOUBLE) / 1000000.0, 4)
                     AS span_seconds,
                   round(num / CAST(den AS DOUBLE), 4) AS twavg
            FROM a WHERE n_points >= 2 AND den > 0
        """,
        "profile_equidepth": """
            WITH b AS (
              SELECT quantile_cont(n_chars,
                [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
              FROM documents WHERE n_chars IS NOT NULL
            ),
            a AS (
              SELECT 1 + len(list_filter(b.bs, x -> d.n_chars > x))
                       AS bucket,
                     d.n_chars AS v
              FROM documents d, b WHERE d.n_chars IS NOT NULL
            )
            SELECT bucket,
                   round(CAST(min(v) AS DOUBLE), 4) AS lo,
                   round(CAST(max(v) AS DOUBLE), 4) AS hi,
                   count(*) AS n
            FROM a GROUP BY 1
        """,
        "profile_null_patterns": """
            WITH masked AS (
              SELECT CASE WHEN value >= 5 THEN value END AS v_m,
                     CASE WHEN event_type <> 'error' THEN props END
                       AS p_m,
                     CASE WHEN user_id % 7 <> 0 THEN user_id END AS u_m
              FROM events
            )
            SELECT (CASE WHEN v_m IS NULL THEN 'N' ELSE '-' END
                    || CASE WHEN p_m IS NULL THEN 'N' ELSE '-' END
                    || CASE WHEN u_m IS NULL THEN 'N' ELSE '-' END)
                     AS pattern,
                   count(*) AS n
            FROM masked GROUP BY 1
            ORDER BY n DESC, pattern ASC LIMIT 10
        """,
        "profile_spearman": """
            WITH base AS (
              SELECT user_id, epoch_us(ts) AS x, value AS y
              FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
            ),
            ranked AS (
              SELECT user_id,
                     rank() OVER (PARTITION BY user_id ORDER BY x)
                       + (count(*) OVER (PARTITION BY user_id, x) - 1)
                         / 2.0 AS rx,
                     rank() OVER (PARTITION BY user_id ORDER BY y)
                       + (count(*) OVER (PARTITION BY user_id, y) - 1)
                         / 2.0 AS ry
              FROM base
            ),
            a AS (
              SELECT user_id, count(*) AS n_points,
                     covar_samp(rx, ry) AS cv,
                     stddev_samp(rx) AS sx, stddev_samp(ry) AS sy
              FROM ranked GROUP BY 1
            )
            SELECT user_id, n_points,
                   CASE WHEN sx > 0 AND sy > 0
                        THEN round(cv / (sx * sy), 4) END AS rho
            FROM a WHERE n_points >= 20
        """,
        "events_seasonality": """
            WITH c AS (
              SELECT event_type, date_trunc('hour', ts) AS h,
                     count(*) AS n
              FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
            ),
            j AS (
              SELECT a.event_type, a.n, b.n AS n_prev
              FROM c a JOIN c b
                ON a.event_type = b.event_type
               AND a.h = b.h + INTERVAL 24 HOURS
            ),
            agg AS (
              SELECT event_type, count(*) AS n_pairs,
                     covar_samp(n, n_prev) AS cv,
                     stddev_samp(n) AS sx, stddev_samp(n_prev) AS sy
              FROM j GROUP BY 1
            )
            SELECT event_type, n_pairs,
                   CASE WHEN sx > 0 AND sy > 0
                        THEN round(cv / (sx * sy), 4) END AS acf
            FROM agg WHERE n_pairs >= 8
        """,
        "f11_quantile_rank": """
            SELECT doc_id, source, n_chars,
                   CASE WHEN n_chars IS NOT NULL THEN
                     round(percent_rank() OVER (
                       PARTITION BY source ORDER BY n_chars), 4)
                   END AS q
            FROM documents
        """,
        "profile_k_anonymity": """
            WITH sizes AS (
              SELECT event_type, CAST(floor(value) AS BIGINT) AS value_bin,
                     count(*) AS n
              FROM events GROUP BY 1, 2
            )
            SELECT CAST(sum(n) AS BIGINT) AS n_rows,
                   count(*) AS n_groups,
                   min(n) AS min_k,
                   CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_singletons,
                   CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                     AS n_below_k,
                   round(sum(CASE WHEN n < 5 THEN n ELSE 0 END)
                         / CAST(sum(n) AS DOUBLE), 4) AS frac_below_k
            FROM sizes
        """,
        "dedup_winnow_pairs": """
            WITH d AS (
              SELECT doc_id, text, len(text) - 12 + 1 AS ng
              FROM documents WHERE text IS NOT NULL AND len(text) >= 12
            ),
            g AS (
              SELECT doc_id, ng, k AS pos, substr(text, k, 12) AS gram
              FROM (SELECT doc_id, text, ng,
                           unnest(generate_series(1, ng)) AS k
                    FROM d)
            ),
            keyed AS (
              SELECT doc_id, ng, pos,
                     (('0x' || substr(md5(gram), 1, 8))::BIGINT
                      * 2147483648 + pos) AS key
              FROM g
            ),
            m AS (
              SELECT doc_id, ng, pos,
                     min(key) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mkey
              FROM keyed
            ),
            fp AS (
              SELECT DISTINCT doc_id,
                     mkey % 2147483648 AS fp_pos,
                     mkey // 2147483648 AS fp_hash
              FROM m WHERE pos <= greatest(ng - 4 + 1, 1)
            ),
            hdf AS (
              SELECT fp_hash FROM (
                SELECT fp_hash, count(DISTINCT doc_id) AS dfc
                FROM fp GROUP BY 1
              ) WHERE dfc >= 2 AND dfc <= 50
            ),
            slim AS (SELECT fp.* FROM fp JOIN hdf USING (fp_hash)),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     count(DISTINCT a.fp_hash) AS n_shared,
                     min(a.fp_pos) AS a_first, min(b.fp_pos) AS b_first
              FROM slim a JOIN slim b
                ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
              GROUP BY 1, 2 HAVING count(DISTINCT a.fp_hash) >= 2
            )
            SELECT * FROM pairs
            ORDER BY n_shared DESC, id_a ASC, id_b ASC LIMIT 100
        """,
    }

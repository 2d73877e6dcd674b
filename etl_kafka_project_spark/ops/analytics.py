"""Additional analytic operator coverage: the SQL API surface, set
intersection, CUBE grouping sets, exact percentiles, correlation, and
the IVF centroid-update step (one iteration of the ANN index build —
the iterative-algorithm shape, expressed as pure aggregation)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_kafka_project_spark.ops import load


def sql_api_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """The same declarative plan through the SQL API (`spark.sql` over
    temp views) — Catalyst treats it identically to the DataFrame form."""
    load(spark, sf, "orders").createOrReplaceTempView("v_orders")
    load(spark, sf, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        SELECT c_mktsegment,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM v_orders JOIN v_customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        """
    )


SQL_API_SQL = """
SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def shared_nations(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT: nations hosting both customers and suppliers."""
    c = load(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = load(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    return c.intersect(s)


INTERSECT_SQL = """
SELECT DISTINCT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT DISTINCT s_nationkey AS nationkey FROM supplier
"""


def cube_order_stats(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over (status, priority): all grouping-set combinations."""
    o = load(spark, sf, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("o_totalprice"), 4).alias("avg_price")
    )


CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       round(avg(o_totalprice), 4) AS avg_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def acctbal_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles per segment (Spark `percentile`
    == DuckDB `quantile_cont`; the approx variants differ by sketch and
    are NOT cross-engine comparable)."""
    c = load(spark, sf, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(c_acctbal, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(c_acctbal, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(c_acctbal, 0.75)"), 4).alias("p75"),
    )


PERCENTILES_SQL = """
SELECT c_mktsegment,
       round(quantile_cont(c_acctbal, 0.25), 4) AS p25,
       round(quantile_cont(c_acctbal, 0.50), 4) AS p50,
       round(quantile_cont(c_acctbal, 0.75), 4) AS p75
FROM customer GROUP BY c_mktsegment
"""


def price_quantity_correlation(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson correlation per group (statistical aggregate surface)."""
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("price_qty_corr"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
    )


CORR_SQL = """
SELECT l_returnflag,
       round(corr(l_extendedprice, l_quantity), 6) AS price_qty_corr,
       round(stddev_samp(l_quantity), 6) AS qty_stddev
FROM lineitem GROUP BY l_returnflag
"""


def ivf_centroid_update(spark: SparkSession, sf: str) -> DataFrame:
    """One k-means/IVF refinement step: element-wise mean of each
    cluster's member vectors, in long (centroid, dim) form — the
    iterative-algorithm building block as a pure aggregation (posexplode
    + avg; fully parallel, one shuffle)."""
    from etl_kafka_project_spark.ops.similarity import ivf_coarse_assignment

    assign = ivf_coarse_assignment(spark, sf).select("vec_id", "centroid_id")
    e = load(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    exploded = assign.join(e, "vec_id").select(
        "centroid_id", F.posexplode("v").alias("pos", "val")
    )
    return exploded.groupBy("centroid_id", (F.col("pos") + 1).alias("dim")).agg(
        F.round(F.avg("val"), 6).alias("mean_val"),
        F.count(F.lit(1)).alias("n_members"),
    )


IVF_UPDATE_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS centroid_id, v AS c FROM e WHERE vec_id <= 3),
scored AS (
  -- assignment orders by the 6dp-rounded cosine, matching
  -- ivf_coarse_assignment on the Spark side (cross-engine near-tie safety)
  SELECT vec_id, centroid_id, round(list_cosine_similarity(v, c), 6) AS cos FROM e, c
),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rk
    FROM scored
  ) WHERE rk = 1
)
SELECT centroid_id, t.range AS dim,
       round(avg(v[t.range]), 6) AS mean_val,
       count(*) AS n_members
FROM assign JOIN e USING (vec_id) CROSS JOIN range(1, 65) t
GROUP BY centroid_id, t.range
"""


#: bottom-k size for the KMV distinct-count sketch.  64 keeps the
#: fixture's estimate path exercised (each return-flag group has ~2,000
#: distinct partkeys at sf0.01) at a relative standard error
#: ≈ 1/√(K−1) ≈ 12.6%.
KMV_K = 64


def kmv_distinct_ndv(spark: SparkSession, sf: str) -> DataFrame:
    """KMV (K-minimum-values / bottom-k) distinct-count sketch per
    return-flag group, checked against the exact NDV.

    The sketch keeps the K smallest md5 hashes of the distinct values;
    with u_K = the K-th smallest hash mapped into [0,1), the estimator
    is (K-1)/u_K (Bar-Yossef et al. 2002; the mergeable NDV sketch
    engines keep in table stats).  Deterministic end-to-end — md5 is a
    fixed function, so the DuckDB oracle reproduces the exact same
    sketch, unlike approx_count_distinct whose HLL sketch is
    engine-specific.

    Scale shape (the reason this exists): a bottom-k sketch is
    MERGEABLE — union the kept sets, re-take the K smallest.  The Spark
    form makes that merge explicit as two bounded rank stages instead
    of one global per-group sort:

      1. distinct (grp, h)            — one shuffle, map-side partial
      2. rank within (grp, salt)      — salt = h's 16th hex digit; each
         of the 16 disjoint salt slices keeps its own bottom-K
      3. rank within grp over ≤ 16·K survivors — the merge step; its
         input is bounded at 16·K rows per group no matter how
         many distinct values the corpus has

    so at 10^9 NDV the only stage that sees the full distinct set is
    the embarrassingly-parallel salted pre-rank.  The single-window
    oracle SQL is the sketch's definition; equality of the two proves
    the salted pre-reduce commutes with the final bottom-K (merge
    correctness), not just that the arithmetic matches.
    """
    li = load(spark, sf, "lineitem")
    hashed = (
        li.select(
            F.col("l_returnflag").alias("grp"),
            F.md5(F.col("l_partkey").cast("string")).alias("h"),
        )
        .distinct()
        .withColumn("salt", F.substring("h", 16, 1))
    )
    from pyspark.sql import Window

    pre = Window.partitionBy("grp", "salt").orderBy("h")
    merged = Window.partitionBy("grp").orderBy("h")
    kept = (
        hashed.withColumn("rk", F.row_number().over(pre))
        .where(F.col("rk") <= KMV_K)
        .withColumn("rk", F.row_number().over(merged))
        .where(F.col("rk") <= KMV_K)
    )
    # u_K from the first 15 hex digits (60 bits — exact in BIGINT; the
    # BIGINT→DOUBLE rounding is IEEE round-to-nearest in both engines).
    u_k = F.conv(F.substring(F.max("h"), 1, 15), 16, 10).cast("long") / F.pow(
        F.lit(16.0), F.lit(15)
    )
    sketch = kept.groupBy("grp").agg(
        F.round(
            F.when(F.count(F.lit(1)) < KMV_K, F.count(F.lit(1)).cast("double")).otherwise(
                F.lit(float(KMV_K - 1)) / u_k
            ),
            4,
        ).alias("est_ndv")
    )
    truth = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.countDistinct("l_partkey").alias("true_ndv")
    )
    return (
        sketch.join(truth, "grp")
        .select(
            F.col("grp").alias("l_returnflag"),
            "est_ndv",
            "true_ndv",
            F.round(
                F.abs(F.col("est_ndv") - F.col("true_ndv")) / F.col("true_ndv") * 100, 2
            ).alias("rel_err_pct"),
        )
    )


KMV_SQL = """
WITH hashed AS (
  SELECT DISTINCT l_returnflag AS grp, md5(CAST(l_partkey AS VARCHAR)) AS h
  FROM lineitem
), ranked AS (
  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
  FROM hashed
), sketch AS (
  SELECT grp,
         round(CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
               ELSE 63.0 / (CAST(concat('0x', substr(max(h), 1, 15)) AS BIGINT)
                            / pow(16.0, 15)) END, 4) AS est_ndv
  FROM ranked WHERE rk <= 64 GROUP BY grp
), truth AS (
  SELECT l_returnflag AS grp, count(DISTINCT l_partkey) AS true_ndv
  FROM lineitem GROUP BY l_returnflag
)
SELECT s.grp AS l_returnflag, s.est_ndv, t.true_ndv,
       round(abs(s.est_ndv - t.true_ndv) / t.true_ndv * 100, 2) AS rel_err_pct
FROM sketch s JOIN truth t ON s.grp = t.grp
"""


QUERIES = {
    "sql_api_revenue": sql_api_revenue,
    "shared_nations": shared_nations,
    "cube_order_stats": cube_order_stats,
    "acctbal_percentiles": acctbal_percentiles,
    "price_quantity_correlation": price_quantity_correlation,
    "ivf_centroid_update": ivf_centroid_update,
    "kmv_distinct_ndv": kmv_distinct_ndv,
}

ORACLES = {
    "sql_api_revenue": SQL_API_SQL,
    "shared_nations": INTERSECT_SQL,
    "cube_order_stats": CUBE_SQL,
    "acctbal_percentiles": PERCENTILES_SQL,
    "price_quantity_correlation": CORR_SQL,
    "ivf_centroid_update": IVF_UPDATE_SQL,
    "kmv_distinct_ndv": KMV_SQL,
}

"""KMV (bottom-k) distinct-count sketch: the properties the DuckDB
oracle sweep can't see.

The driver harness proves Spark == DuckDB on the fixture tables (where
every group has >= K distinct values, so only the estimator path runs).
These tests cover the rest of the contract:

* the exact-count fallback when a group has fewer than K distinct
  values (est_ndv must equal true_ndv exactly, rel_err 0),
* mixed small/large groups in one frame,
* the estimator's accuracy bound — |est - true| / true within a few
  multiples of 1/sqrt(K-1) on the real fixture,
* merge correctness: the two-phase salted bottom-K selects the same
  K-th hash (the same estimate) as the single-sort definition on the
  real fixture.
"""

import math

import pandas as pd
import pytest

from etl_kafka_project_spark.ops import analytics

SF = "/root/testdata/sf0.01"


def _write_lineitem(tmp_path, rows):
    pdf = pd.DataFrame(rows, columns=["l_returnflag", "l_partkey"])
    d = tmp_path / "sf"
    d.mkdir()
    pdf.to_parquet(d / "lineitem.parquet")
    return str(d)


def test_small_group_falls_back_to_exact(spark, tmp_path):
    # group "A": 10 distinct keys (< K=64, duplicated rows to prove the
    # distinct stage); group "B": 200 distinct keys (> K, estimator path)
    rows = [("A", k) for k in range(10)] * 3 + [("B", k) for k in range(200)]
    sf = _write_lineitem(tmp_path, rows)
    out = {
        r["l_returnflag"]: r
        for r in analytics.kmv_distinct_ndv(spark, sf).collect()
    }
    assert out["A"]["true_ndv"] == 10
    assert out["A"]["est_ndv"] == 10.0
    assert out["A"]["rel_err_pct"] == 0.0
    assert out["B"]["true_ndv"] == 200
    # estimator path: not exact, but within the sketch's error bound
    assert out["B"]["est_ndv"] != 200.0
    assert abs(out["B"]["est_ndv"] - 200) / 200 < 4 / math.sqrt(analytics.KMV_K - 1)


def test_boundary_exactly_k_distinct(spark, tmp_path):
    # exactly K distinct values: n_kept == K, so the ESTIMATOR runs (the
    # fallback is strictly n_kept < K) — the estimate must still land
    # within the bound, and the kept set is the whole value set.
    k = analytics.KMV_K
    sf = _write_lineitem(tmp_path, [("C", i) for i in range(k)])
    row = analytics.kmv_distinct_ndv(spark, sf).collect()[0]
    assert row["true_ndv"] == k
    assert abs(row["est_ndv"] - k) / k < 4 / math.sqrt(k - 1)


def test_fixture_estimates_within_bound(spark):
    # sf0.01: ~2,000 distinct partkeys per return flag — deep in the
    # estimator regime.  3/sqrt(K-1) is a ~3-sigma envelope.
    rows = analytics.kmv_distinct_ndv(spark, SF).collect()
    assert len(rows) == 3
    bound = 3 / math.sqrt(analytics.KMV_K - 1)
    for r in rows:
        assert r["true_ndv"] > analytics.KMV_K
        assert abs(r["est_ndv"] - r["true_ndv"]) / r["true_ndv"] < bound


def test_two_phase_merge_equals_single_sort(spark):
    # Merge correctness, directly: compute the bottom-K per group with a
    # single global sort (the definition) and assert the operator's
    # salted two-phase form selected the same K-th hash — i.e. the same
    # estimate — on the real fixture.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    hashed = li.select(
        F.col("l_returnflag").alias("grp"),
        F.md5(F.col("l_partkey").cast("string")).alias("h"),
    ).distinct()
    w = Window.partitionBy("grp").orderBy("h")
    ref = (
        hashed.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == analytics.KMV_K)
        .select("grp", "h")
    )
    u_k = F.conv(F.substring("h", 1, 15), 16, 10).cast("long") / F.pow(
        F.lit(16.0), F.lit(15)
    )
    expected = {
        r["grp"]: round(float(analytics.KMV_K - 1) / r["u"], 4)
        for r in ref.withColumn("u", u_k).collect()
    }
    got = {
        r["l_returnflag"]: r["est_ndv"]
        for r in analytics.kmv_distinct_ndv(spark, SF).collect()
    }
    assert got == pytest.approx(expected)

"""Similarity search over the ``embeddings`` table (vec_id,
embedding: array<float> dim-64, label).

* **brute-force cosine top-k** — the exactness baseline: one scan, one
  narrow sort; at 100 TB this is a map-side score + global top-k
  (Spark's ``orderBy().limit(k)`` plans TakeOrderedAndProject — no full
  sort, per-partition heaps + driver merge),
* **LSH hyperplane bucketing** — the scale path: 4 deterministic ±1
  hyperplanes (md5-seeded, embedded as literals on BOTH engines) hash
  each vector to a 4-bit bucket; search only probes the query's bucket,
* **IVF coarse assignment** — the other standard ANN layout: assign
  every vector to its nearest of k coarse centroids (here the first 4
  vectors); at scale the assignment is a broadcast join + argmax, and
  the posting lists become partition keys.

Floats are cast to double before arithmetic so Spark's fold and DuckDB's
list functions agree to well below the 6-decimal rounding.

Every ranking that DECIDES output rows (top-k cuts, nearest-centroid
windows, probed-centroid picks) orders by the cosine ROUNDED to the same
6 decimals used for display, in both the Spark form and the DuckDB
oracle. Ordering on the raw double would let a near-tie flip across
engines (different float-summation order) and cascade into a different
row set — the latent flake ADVICE.md flagged on ``semdedup_prune``'s
assignment window; fixed identically here.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_kafka_project_spark.ops import load

DIM = 64
N_PLANES = 4


def _plane(j: int) -> list[int]:
    """Deterministic ±1 hyperplane from md5 — identical literals are
    embedded in the Spark expression and the DuckDB SQL."""
    return [
        1 if int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
        for i in range(DIM)
    ]


PLANES = [_plane(j) for j in range(N_PLANES)]


def _cosine(a: str, b: str) -> F.Column:
    dot = F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
    na = F.expr(f"sqrt(aggregate({a}, 0D, (acc, x) -> acc + x * x))")
    nb = F.expr(f"sqrt(aggregate({b}, 0D, (acc, x) -> acc + x * x))")
    return dot / (na * nb)


def ann_bruteforce_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Exact top-5 cosine neighbors of the vec_id=0 query vector."""
    e = load(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("q"))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(_cosine("v", "q"), 6).alias("cosine"))
    )
    return scored.orderBy(F.desc("cosine"), "vec_id").limit(5)


ANN_BRUTEFORCE_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS q FROM e WHERE vec_id = 0)
SELECT vec_id, round(list_cosine_similarity(v, q), 6) AS cosine
FROM e, q WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id
LIMIT 5
"""


def ann_lsh_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Random-hyperplane LSH: 4-bit bucket per vector."""
    e = load(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bucket = F.lit(0)
    for j, plane in enumerate(PLANES):
        lits = ", ".join(f"{w}D" for w in plane)
        dot = F.expr(
            f"aggregate(zip_with(v, array({lits}), (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        )
        bucket = bucket + F.when(dot > 0, F.lit(2**j)).otherwise(0)
    return e.select("vec_id", bucket.alias("bucket"))


def _lsh_sql() -> str:
    terms = []
    for j, plane in enumerate(PLANES):
        lits = ", ".join(str(w) for w in plane)
        dot = (
            f"list_sum(list_transform(range(1, {DIM + 1}),"
            f" i -> v[i] * ([{lits}]::DOUBLE[])[i]))"
        )
        terms.append(f"CASE WHEN {dot} > 0 THEN {2**j} ELSE 0 END")
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)\n"
        f"SELECT vec_id, {' + '.join(terms)} AS bucket FROM e"
    )


ANN_LSH_SQL = _lsh_sql()


def ivf_coarse_assignment(spark: SparkSession, sf: str) -> DataFrame:
    """IVF: nearest-of-4-centroids assignment (centroids = vec_id 0..3)."""
    e = load(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = e.filter(F.col("vec_id") <= 3).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("c")
    )
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id", "centroid_id", F.round(_cosine("v", "c"), 6).alias("cosine")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), "centroid_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "centroid_id", "cosine")
    )


IVF_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS centroid_id, v AS c FROM e WHERE vec_id <= 3),
scored AS (
  SELECT vec_id, centroid_id, round(list_cosine_similarity(v, c), 6) AS cos
  FROM e, c
),
ranked AS (
  SELECT vec_id, centroid_id, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rk
  FROM scored
)
SELECT vec_id, centroid_id, cos AS cosine FROM ranked WHERE rk = 1
"""


def ivf_query_topk(spark: SparkSession, sf: str) -> DataFrame:
    """The IVF QUERY semantics, index-free: probe the ``nprobe=2``
    centroids nearest the query (vec 0), rank only vectors whose coarse
    assignment lands in a probed posting list, return the top-5. This
    form re-derives the coarse assignment inline, so EVERY query pays a
    full-corpus scan — fine as the oracle-checkable single-plan
    demonstration, wrong as the serving path. The scale path is
    ``ivf_query_topk_indexed``: assignment materialized once as a
    centroid-partitioned index, queries read only probed partitions."""
    e = load(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = e.filter(F.col("vec_id") <= 3).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("c")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("q"))
    probed = (
        cents.crossJoin(F.broadcast(q))
        .select("centroid_id", F.round(_cosine("c", "q"), 6).alias("_qc"))
        .orderBy(F.desc("_qc"), "centroid_id")
        .limit(2)
        .select("centroid_id")
    )
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id", "centroid_id", F.round(_cosine("v", "c"), 6).alias("_cos")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("_cos"), "centroid_id")
    assign = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "centroid_id")
    )
    cand = assign.join(F.broadcast(probed), "centroid_id").filter(F.col("vec_id") != 0)
    ranked = (
        cand.join(e, "vec_id")
        .crossJoin(F.broadcast(q))
        .select("vec_id", "centroid_id", F.round(_cosine("v", "q"), 6).alias("cosine"))
    )
    return ranked.orderBy(F.desc("cosine"), "vec_id").limit(5)


IVF_QUERY_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS centroid_id, v AS c FROM e WHERE vec_id <= 3),
q AS (SELECT v AS q FROM e WHERE vec_id = 0),
probed AS (
  SELECT centroid_id FROM c, q
  ORDER BY round(list_cosine_similarity(c, q), 6) DESC, centroid_id LIMIT 2
),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_cosine_similarity(e.v, c.c), 6) DESC,
                                       c.centroid_id) AS rk
    FROM e, c
  ) WHERE rk = 1
)
SELECT e.vec_id, a.centroid_id,
       round(list_cosine_similarity(e.v, q.q), 6) AS cosine
FROM assign a
JOIN probed p ON a.centroid_id = p.centroid_id
JOIN e ON e.vec_id = a.vec_id, q
WHERE e.vec_id <> 0
ORDER BY cosine DESC, e.vec_id
LIMIT 5
"""


# ---------- materialized IVF index (the 100 TB query path) ----------

#: nprobe for the query path (probe the 2 nearest of 4 coarse centroids)
NPROBE = 2

#: index store: tmpfs when present (stands in for the NVMe/DFS a real
#: cluster keeps indexes on), /tmp otherwise
_IVF_ROOT = (
    "/dev/shm/spark_graft_ivf" if os.path.isdir("/dev/shm") else "/tmp/spark_graft_ivf"
)


def _dataset_fingerprint(sf: str) -> str:
    """Cheap content fingerprint of the embeddings parquet: file names +
    sizes + mtimes. Changing the data under an sf dir changes the
    fingerprint, so the index cache key rotates and the index rebuilds
    instead of silently serving stale postings."""
    path = os.path.join(sf, "embeddings.parquet")
    parts: list[str] = [os.path.abspath(sf)]
    if os.path.isdir(path):
        for fn in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, fn))
            parts.append(f"{fn}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


#: bump when the assignment semantics change (v2: nearest-centroid
#: window orders by the 6dp-ROUNDED cosine) so cached indexes built
#: under the old ordering are never served
_IVF_FORMAT = "v2"


def ivf_index_dir(sf: str) -> str:
    """Stable on-disk location of the materialized index for a dataset —
    keyed by path AND a data fingerprint (file sizes + mtimes), so an
    in-place rewrite of the embeddings invalidates the cached index."""
    return os.path.join(_IVF_ROOT, f"index-{_IVF_FORMAT}-{_dataset_fingerprint(sf)}")


def build_ivf_index(spark: SparkSession, sf: str, index_dir: str | None = None) -> str:
    """Materialize the IVF index: every vector + its coarse assignment,
    written as parquet PARTITIONED BY centroid_id (hive layout), so a
    query's posting-list read is literal partition pruning at the scan.

    This is the piece the plain ``ivf_query_topk`` demonstration skips —
    there, every query re-runs the full coarse assignment, a full-corpus
    scan per query. Building once amortizes that scan across all queries:
    at 100 TB the build is one pass + one shuffle-free partitioned write,
    and each query then touches ~nprobe/k of the files (verified by the
    plan checks in ``tests/test_entry_oracles.py::test_query_matches_oracle``:
    PartitionFilters on centroid_id, and by ``tests/test_ivf_index.py``:
    input_file_name confined to probed partitions). Idempotent via a
    _DONE marker."""
    index_dir = index_dir or ivf_index_dir(sf)
    if os.path.exists(os.path.join(index_dir, "_DONE")):
        return index_dir
    e = load(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = e.filter(F.col("vec_id") <= 3).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("c")
    )
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id", "v", "centroid_id", F.round(_cosine("v", "c"), 6).alias("_cos")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("_cos"), "centroid_id")
    assign = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "v", "centroid_id")
    )
    assign.write.mode("overwrite").partitionBy("centroid_id").parquet(index_dir)
    open(os.path.join(index_dir, "_DONE"), "w").write("ok")
    return index_dir


def ivf_query_topk_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """IVF query against the MATERIALIZED index: probe the NPROBE
    centroids nearest the query (a driver-side O(k) decision, exactly
    how a production IVF serves queries), then scan ONLY the probed
    posting-list partitions — the candidate read is partition-pruned at
    the parquet source, so each query touches ~nprobe/k of the corpus
    instead of re-deriving the full assignment (the plain
    ``ivf_query_topk``'s acknowledged scale caveat). Same result as the
    index-free path; same DuckDB oracle."""
    index_dir = build_ivf_index(spark, sf)
    e = load(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = e.filter(F.col("vec_id") <= 3).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("c")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("q"))
    probed_ids = [
        r["centroid_id"]
        for r in (
            cents.crossJoin(F.broadcast(q))
            .select("centroid_id", F.round(_cosine("c", "q"), 6).alias("_qc"))
            .orderBy(F.desc("_qc"), "centroid_id")
            .limit(NPROBE)
            .collect()
        )
    ]
    cand = (
        spark.read.parquet(index_dir)
        # literal IN-list on the partition column → PartitionFilters;
        # only the probed posting lists are listed and scanned
        .filter(F.col("centroid_id").isin(probed_ids))
        .filter(F.col("vec_id") != 0)
    )
    ranked = cand.crossJoin(F.broadcast(q)).select(
        "vec_id",
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.round(_cosine("v", "q"), 6).alias("cosine"),
    )
    return ranked.orderBy(F.desc("cosine"), "vec_id").limit(5)


QUERIES = {
    "ann_bruteforce_topk": ann_bruteforce_topk,
    "ann_lsh_buckets": ann_lsh_buckets,
    "ivf_coarse_assignment": ivf_coarse_assignment,
    "ivf_query_topk": ivf_query_topk,
    "ivf_query_topk_indexed": ivf_query_topk_indexed,
}

ORACLES = {
    "ann_bruteforce_topk": ANN_BRUTEFORCE_SQL,
    "ann_lsh_buckets": ANN_LSH_SQL,
    "ivf_coarse_assignment": IVF_SQL,
    "ivf_query_topk": IVF_QUERY_SQL,
    "ivf_query_topk_indexed": IVF_QUERY_SQL,
}

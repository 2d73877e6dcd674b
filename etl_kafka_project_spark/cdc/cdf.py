"""Change-data-feed from SNAPSHOT STATE: what changed between two
committed table versions, derived by diffing the versions themselves —
the read-side complement to the write-side changelog feed the merge
publishes after each snapshot CAS, from the delta files the committing
snapshot added (``cdc/merge.py`` ``publish_changelog``,
``serving.read_changelog``).

Why both exist (Delta's CDF makes the same split):

* the **written feed** is per-epoch, cheap, and streamable — but it
  only exists for epochs whose feed files were kept, and it carries
  after-images only (a MOR merge never reads the base at write time,
  so before-images are unknowable there);
* the **state diff** works between ANY two versions — across
  compactions, vacuumed feeds, or whole epoch ranges — and yields
  before AND after images, which is what incremental downstream
  maintenance (see ``contributions`` / ``apply_rollup_delta``) needs.

Scale shape: version-over-version changes touch few buckets, and the
per-bucket manifest lists (``minilake/table.py``) make that knowable
WITHOUT reading data — a bucket whose manifest path is identical in
both snapshots provably holds identical files, so only touched buckets
are read and joined. The join is a key-equi-join between two reads of
the SAME hash-bucket layout: both sides arrive pre-bucketed on the join
key, so a bucketed-catalog deployment plans it shuffle-free; here it is
one co-partitioned exchange per side over touched buckets only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_kafka_project_spark.cdc.merge import key_columns, payload_columns
from etl_kafka_project_spark.minilake.table import LakeTable


def touched_buckets(table: LakeTable, v_from: int, v_to: int) -> set[int]:
    """Buckets whose per-bucket manifest differs between the versions —
    the metadata-only pruning set for a state diff. Manifests are
    immutable and content-addressed by path, so path equality proves
    file-set equality."""
    a = table.snapshot_header(v_from).manifests
    b = table.snapshot_header(v_to).manifests
    return {
        k for k in a.keys() | b.keys() if a.get(k, {}).get("path") != b.get(k, {}).get("path")
    }


def diff_snapshots(table: LakeTable, v_from: int, v_to: int) -> DataFrame:
    """The change feed between two committed versions, from state:

    ``(<key columns>, change_type insert|update|delete, before struct,
    after struct, last_lsn)`` — one row per key whose SEMANTIC payload
    differs (an LWW rewrite that left every payload column byte-equal is
    not a change; ``last_lsn`` is the after-side authority, null for
    deletes). Both reads are pruned to ``touched_buckets`` first, so a
    diff after a one-bucket epoch reads one bucket, not the table, and
    a diff between identical versions reads no file at all."""
    buckets = touched_buckets(table, v_from, v_to)
    snap_to = table.snapshot_header(v_to)
    keys = key_columns(snap_to)
    # the content hash is the one meta column that is row content; the
    # rest (LWW authority, counter, tombstone flag) is bookkeeping
    payload = [*payload_columns(snap_to), "content_sha256"]
    before = table.read(version=v_from, buckets=buckets)
    after = table.read(version=v_to, buckets=buckets)
    # evolution between versions: align the before side onto the after
    # schema (added columns null-fill — their appearance with a value IS
    # the change; dropped columns are ignored; a type-widened column is
    # cast to the after-side type so the before/after image structs are
    # field-wise type-equal and eqNullSafe compares values, not types)
    for c in payload:
        if c not in before.columns:
            before = before.withColumn(c, F.lit(None).cast(snap_to.schema[c].dataType))
        elif before.schema[c].dataType != snap_to.schema[c].dataType:
            before = before.withColumn(c, F.col(c).cast(snap_to.schema[c].dataType))
    # images carry keys + payload (keys are join-equal on updates, so
    # they never affect change classification, but downstream consumers
    # — e.g. ``contributions`` grouping by a key column — need them)
    image = [*keys, *payload]
    b = before.select(*keys, F.struct(*image).alias("before"), F.lit(1).alias("_b"))
    a = after.select(
        *keys, F.struct(*image).alias("after"), F.col("last_lsn"), F.lit(1).alias("_a")
    )
    cond = [b[k].eqNullSafe(a[k]) for k in keys]
    j = b.join(a, cond, "full_outer")
    change = (
        F.when(F.col("_b").isNull(), F.lit("insert"))
        .when(F.col("_a").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    out_keys = [F.coalesce(b[k], a[k]).alias(k) for k in keys]
    return (
        j.select(
            *out_keys,
            change.alias("change_type"),
            F.col("before"),
            F.col("after"),
            F.col("last_lsn"),
        )
        # unchanged keys (same payload both sides) are not changes
        .filter(
            (F.col("change_type") != "update")
            | ~F.col("before").eqNullSafe(F.col("after"))
        )
    )


# ---------- incremental aggregate maintenance ----------


def contributions(
    diff: DataFrame, group_expr: str, measures: dict[str, str]
) -> DataFrame:
    """Turn a state diff into signed per-group aggregate deltas.

    ``group_expr`` / each measure expression are evaluated against a
    single change image (columns of the payload struct), e.g.
    ``measures={"n_files": "1", "total_chars": "length(content)"}``.
    Every diff row contributes up to two signed rows — the before image
    negatively, the after image positively — which makes GROUP-MOVING
    updates (the grouped column itself changed) exact with no special
    case. Output: (group, <measure deltas>) pre-aggregated per group."""
    sides = []
    for side, sign in (("before", F.lit(-1)), ("after", F.lit(1))):
        img = diff.filter(F.col(side).isNotNull()).select(F.col(f"{side}.*"))
        sides.append(
            img.select(
                F.expr(group_expr).alias("group"),
                *[
                    (sign * F.expr(expr)).cast("long").alias(name)
                    for name, expr in measures.items()
                ],
            )
        )
    deltas = sides[0].unionByName(sides[1])
    return deltas.groupBy("group").agg(
        *[F.sum(name).alias(name) for name in measures]
    )


def apply_rollup_delta(
    prev: DataFrame, delta: DataFrame, measures: list[str]
) -> DataFrame:
    """Fold a ``contributions`` delta into a maintained rollup: add
    deltas group-wise; a group whose row count (``measures[0]``, by
    convention a live-row count) reaches zero has no live rows left and
    drops. O(|delta| + |rollup|) per epoch vs a full recompute of the
    table — the point of maintaining the rollup incrementally."""
    p = prev.select("group", *[F.col(m).alias(f"_p_{m}") for m in measures])
    d = delta.select("group", *[F.col(m).alias(f"_d_{m}") for m in measures])
    j = p.join(d, "group", "full_outer")
    out = j.select(
        "group",
        *[
            (F.coalesce(f"_p_{m}", F.lit(0)) + F.coalesce(f"_d_{m}", F.lit(0))).alias(m)
            for m in measures
        ],
    )
    # convention: measures[0] counts live rows per group; 0 rows = gone
    return out.filter(F.col(measures[0]) > 0)

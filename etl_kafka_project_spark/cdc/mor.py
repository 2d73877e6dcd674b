"""Merge-on-read deltas — the storage side of the MERGE.

Rewriting every touched bucket per epoch (copy-on-write) makes write
amplification O(live table), which caps sustained events/s on a
write-heavy CDC stream. The MERGE (``cdc/merge.py``, the Iceberg
merge-on-read / Paimon-LSM shape) instead **appends the folded batch as
delta files** — O(batch) bytes per epoch — and defers conflict
resolution:

* **write** (:func:`delta_rows`): the fold output (one action per key,
  per-column ``(value, lsn)`` cells + reset/delete barriers, see
  ``cdc/fold.py``) is stored as-is, plus the content sha computed for
  this batch's content cell;
* **read** (:func:`resolve_deltas`): base rows are re-encoded as
  single-cell writes at their ``last_lsn`` and unioned with all delta
  rows; one hash aggregation per key (``max_by`` per column + barrier
  maxes + the sum of ``_applied`` — exactly the fold's associative
  phase-2) yields the resolved row. Correct because epochs are
  LSN-range-disjoint from compacted base (the engine's delivery
  contract, ``cdc/fold.py`` docstring), so "delta cell lsn vs base
  last_lsn" is a faithful ordering. Re-delivered events never reach a
  delta file: ``merge_events`` drops them before the fold against the
  stream's applied LSN intervals in the snapshot, so every delta row
  counts only first deliveries and the read needs no re-delivery
  window;
* **compact** (:func:`compact_deltas`): resolve and rewrite buckets
  whose delta share grew past a threshold — amortized, off the hot
  path, and what keeps read cost bounded. The same rewrite drops
  tombstones below a drained-through LSN and fans hot buckets out
  across several base files (``cdc/salting.py``).

The exactly-once story is unchanged: delta files + the epoch id commit
in the same atomic snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_kafka_project_spark.cdc.fold import NEVER, cell_alive
from etl_kafka_project_spark.cdc.merge import _remove_files, key_columns, payload_columns
from etl_kafka_project_spark.cdc.metrics import Stopwatch
from etl_kafka_project_spark.cdc.salting import plan_write_splits, salted_repartition
from etl_kafka_project_spark.config import EngineConfig
from etl_kafka_project_spark.functions.exprcache import cached_exprs
from etl_kafka_project_spark.minilake.table import (
    FileEntry,
    LakeTable,
    Snapshot,
    SnapshotConflictError,
)

def delta_schema(snap: Snapshot) -> T.StructType:
    """Stored schema of delta files for the table's CURRENT schema —
    old delta files with fewer columns null-fill on read (same
    metadata-only evolution as base files)."""
    dtypes = {f.name: f.dataType for f in snap.schema.fields}
    fields = [T.StructField(k, dtypes[k], True) for k in key_columns(snap)]
    for c in payload_columns(snap):
        fields.append(T.StructField(c, dtypes[c], True))
        fields.append(T.StructField(f"{c}_lsn", T.LongType(), True))
    fields += [
        T.StructField("content_sha256", T.StringType(), True),
        T.StructField("_max_lsn", T.LongType(), True),
        T.StructField("_last_d_lsn", T.LongType(), True),
        T.StructField("_last_reset_lsn", T.LongType(), True),
        T.StructField("_is_delete", T.BooleanType(), True),
        T.StructField("_applied", T.LongType(), True),
    ]
    return T.StructType(fields)


def delta_rows(folded: DataFrame, snap: Snapshot) -> DataFrame:
    """Fold output → storable delta rows: one projection that adds the
    batch's content sha, tied to the content cell's lsn, and keeps any
    extra column the caller carries (e.g. ``_bucket``). Its expressions
    are memoized across epochs (``functions/exprcache.py``)."""
    cols = [f.name for f in delta_schema(snap).fields]
    extra = [c for c in folded.columns if c not in cols]

    def build() -> list[F.Column]:
        if "content" in cols:
            sha = F.when(F.col("content_lsn") > NEVER, F.sha2(F.col("content"), 256))
        else:
            sha = F.lit(None).cast("string")
        return [sha.alias(c) if c == "content_sha256" else F.col(c) for c in cols + extra]

    return folded.select(*cached_exprs(("delta_rows", tuple(cols), tuple(extra)), build))


def _encode_base_as_delta(base: DataFrame, snap: Snapshot) -> DataFrame:
    """A resolved base row is, for resolution purposes, a bundle of
    single-column writes at ``last_lsn`` — for EVERY column, null or
    not, plus a delete barrier if tombstoned.

    Null columns must be stamped at ``last_lsn`` too: a base null can
    mean "erased by a delete/reset barrier at last_lsn", and the barrier
    itself is gone once compaction folded it into the base. Stamping
    nulls at NEVER let any delta cell written BEFORE the barrier
    out-rank the null and resurrect the erased value. Under the delivery
    contract no live delta holds a write with lsn <= last_lsn of a
    compacted key, so the base legitimately wins every such tie-or-older
    comparison, column by column."""
    cols: list[F.Column] = [F.col(k) for k in key_columns(snap)]
    for c in payload_columns(snap):
        cols.append(F.col(c))
        cols.append(F.col("last_lsn").alias(f"{c}_lsn"))
    dead = F.col("_deleted")
    cols += [
        F.col("content_sha256"),
        F.col("last_lsn").alias("_max_lsn"),
        F.when(dead, F.col("last_lsn")).alias("_last_d_lsn"),
        F.when(dead, F.col("last_lsn")).alias("_last_reset_lsn"),
        dead.alias("_is_delete"),
        F.col("row_version").alias("_applied"),
    ]
    return base.select(*cols)


def resolve_deltas(base: DataFrame, deltas: DataFrame, snap: Snapshot) -> DataFrame:
    """Resolve base ∪ deltas to the standard stored row shape — a union
    and ONE hash aggregation per key (associative, skew-tolerant for the
    same reason the fold is). ``row_version`` is the sum of
    ``_applied``: re-deliveries were dropped before the fold, so every
    row counts first deliveries only."""
    key_cols = key_columns(snap)
    payload = payload_columns(snap)
    union = _encode_base_as_delta(base, snap).unionByName(
        deltas, allowMissingColumns=True
    )

    def ord_of(c: str) -> F.Column:
        l = F.coalesce(F.col(f"{c}_lsn"), F.lit(NEVER))
        return F.when(l > NEVER, l)

    aggs = [
        F.max("_max_lsn").alias("_max_lsn"),
        F.max("_last_d_lsn").alias("_d"),
        F.max("_last_reset_lsn").alias("_r"),
        F.sum("_applied").alias("_rv"),
    ]
    for c in payload:
        aggs.append(F.max_by(F.col(c), ord_of(c)).alias(f"_v_{c}"))
        aggs.append(F.max(ord_of(c)).alias(f"_l_{c}"))
    if "content" in payload:
        # the sha cell rides the content cell's lsn
        aggs.append(F.max_by(F.col("content_sha256"), ord_of("content")).alias("_v_sha"))

    g = union.groupBy(*key_cols).agg(*aggs)

    def alive(c: str) -> F.Column:
        l = F.coalesce(F.col(f"_l_{c}"), F.lit(NEVER))
        return cell_alive(l, F.col("_d"), F.col("_r"))

    out: list[F.Column] = [F.col(k) for k in key_cols]
    for c in payload:
        out.append(F.when(alive(c), F.col(f"_v_{c}")).alias(c))
    if "content" in payload:
        out.append(F.when(alive("content"), F.col("_v_sha")).alias("content_sha256"))
    else:
        out.append(F.lit(None).cast("string").alias("content_sha256"))
    out += [
        F.col("_max_lsn").alias("last_lsn"),
        F.col("_rv").alias("row_version"),
        (F.col("_d").isNotNull() & (F.col("_d") == F.col("_max_lsn"))).alias("_deleted"),
    ]
    resolved = g.select(*out)
    # conform to the stored column order
    return resolved.select(*[f.name for f in snap.schema.fields])


def write_delta_files(table: LakeTable, folded_with_bucket: DataFrame, snap: Snapshot) -> list[FileEntry]:
    """Append the folded batch as delta files, written straight from
    the fold's (AQE-coalesced) reducers: no second exchange, one file
    per reducer, named in the manifest once per bucket it holds
    (``LakeTable.write_data_files``)."""
    rows = delta_rows(folded_with_bucket, snap)
    return table.write_data_files(rows, kind="delta")


def delta_stats(snap: Snapshot) -> dict:
    base_rows = sum(f.rows for f in snap.files if f.kind == "base")
    delta_rows_ = sum(f.rows for f in snap.files if f.kind == "delta")
    delta_files = len({f.path for f in snap.files if f.kind == "delta"})
    return {"base_rows": base_rows, "delta_rows": delta_rows_, "delta_files": delta_files}


def compact_deltas(
    table: LakeTable,
    delta_share: float = 0.0,
    config: EngineConfig | None = None,
    purge_tombstones_below_lsn: int | None = None,
) -> dict:
    """Fold delta files into base (per-bucket resolve + rewrite).

    ``delta_share`` makes compaction *threshold-driven per bucket*: only
    buckets whose ``delta_rows / (base_rows + delta_rows)`` is at least
    the share are compacted (stats come free from the snapshot's file
    manifests — no Spark job). Cold buckets keep their base files
    untouched and their few delta rows resolve at read until they heat
    up; at steady state this stops the compactor from re-reading the
    whole touched working set on every cadence (the round-1 behavior
    when every delta-carrying bucket compacted unconditionally).
    ``delta_share=0`` compacts every delta-carrying bucket (full
    compaction — maintenance / end-of-replay). No-op when the table
    carries no delta rows and no purge is asked for.

    ``purge_tombstones_below_lsn``: tombstone rows with
    ``last_lsn <= watermark`` are dropped for good (SURVEY §2.7 U3) —
    pass the stream's drained-through LSN (e.g. ``max_lsn`` from the
    lineage log minus the re-delivery horizon); once the stream is past
    it, no stale pre-delete event can arrive for the marker to guard
    against. Every bucket holding such a tombstone is rewritten, found
    with one column-pruned scan. ``None`` purges nothing.

    Skew-aware layout: each rewritten bucket gets
    ``ceil(rows / config.target_file_rows)`` write splits from the
    manifest row counts (``cdc/salting.py``), so a hot bucket fans out
    across several base files instead of one giant one."""
    config = config or EngineConfig()
    snap = table.snapshot()
    stats = delta_stats(snap)
    purge = purge_tombstones_below_lsn
    if not stats["delta_rows"] and purge is None:
        return {**stats, "compacted": False}
    watch = Stopwatch()
    base_rows: dict[int, int] = {}
    drow: dict[int, int] = {}
    for f in snap.files:
        d = base_rows if f.kind == "base" else drow
        d[f.bucket] = d.get(f.bucket, 0) + f.rows
    touched = {
        b
        for b, d in drow.items()
        if d / (base_rows.get(b, 0) + d) >= delta_share
    }
    # Pin every read to the snapshot the stats came from: the resolve's
    # input set must be EXACTLY the files the commit below removes, or a
    # commit racing in between makes them diverge.
    n_tombs = 0
    if purge is not None:
        dead = F.col("_deleted") & (F.col("last_lsn") <= purge)
        tombs = (
            table.read(version=snap.version, include_tombstones=True)
            .filter(dead)
            .groupBy(table.bucket_expr(snap).alias("_bucket"))
            .count()
            .collect()
        )
        touched |= {r["_bucket"] for r in tombs}
        n_tombs = sum(r["count"] for r in tombs)
    if not touched:
        return {**stats, "compacted": False, "cold_buckets_skipped": len(drow)}
    resolved = table.read(version=snap.version, buckets=touched, include_tombstones=True)
    if purge is not None:
        resolved = resolved.filter(~dead)
    resolved = resolved.withColumn("_bucket", table.bucket_expr(snap))
    splits = plan_write_splits(
        {b: base_rows.get(b, 0) + drow.get(b, 0) for b in touched},
        config.target_file_rows,
    )
    if max(splits.values()) > 1:
        resolved = salted_repartition(resolved, key_columns(snap), splits)
    else:
        resolved = resolved.repartition(max(1, len(touched) // 2), F.col("_bucket"))
    new_files = table.write_data_files(resolved, kind="base")
    # Commit by EXACT removed-entry set, not by bucket: removal of the
    # resolved inputs commutes with a concurrent epoch appending new
    # delta files to the same buckets (the retry keeps them — they
    # hold first deliveries newer than every lsn the compactor folded,
    # so resolving them against the compacted base is order-faithful),
    # whereas bucket replacement
    # would silently drop files the compactor never read. An entry is
    # a (path, bucket) pair: a delta file shared with cold buckets
    # loses only the touched buckets' entries and stays live for the
    # rest. Retries are therefore safe UNLESS some input entry is
    # already gone — then a concurrent compactor folded the same
    # inputs, and committing our rewrite would duplicate every row of
    # it: abort and discard.
    removed = {(f.path, f.bucket) for f in snap.files if f.bucket in touched}
    expected = snap.version
    for _ in range(50):
        try:
            committed = table.commit(
                expected_version=expected, new_files=new_files, removed_files=removed
            )
            break
        except SnapshotConflictError:
            cur = table.snapshot()
            if not removed <= {(f.path, f.bucket) for f in cur.files}:
                _remove_files(table, new_files)  # orphaned rewrite
                return {**stats, "compacted": False, "lost_race": True}
            expected = cur.version
    else:
        raise SnapshotConflictError("compaction could not commit after 50 retries")
    return {
        **stats,
        "compacted": True,
        "buckets": len(touched),
        "cold_buckets_skipped": len(drow.keys() - touched),
        "tombstones_purged": n_tombs,
        "snapshot_version": committed.version,
        "wall_ms": round(watch.elapsed_ms(), 1),
    }

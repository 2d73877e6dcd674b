"""Merge-on-read MERGE of a change batch into a LakeTable.

The vectorized replacement for the reference's per-event state mutation
(``pyspark_interface.py:38-70``) and keyed sink upsert
(``redis_interface.py:38-61``). One micro-batch = ONE merge:

    change events
      → fold (``cdc/fold.py``): one resolved action per key, per-column
        ``(value, lsn)`` cells plus delete/reset barriers
      → append the folded actions as delta files of the touched hash
        buckets (``cdc/mor.py write_delta_files``) — O(batch) bytes
      → atomic snapshot commit that also records the stream epoch
        (exactly-once).

Resolution against the stored rows happens at read
(``cdc/mor.py resolve_deltas``) and is amortized by compaction
(``cdc/mor.py compact_deltas``).

Table meta columns (the generalization of the reference's per-key
``touch_counter``, ``utils/schemas.py:29``):

* ``last_lsn``       — newest LSN applied to the key (LWW authority),
* ``row_version``    — count of change events ever applied to the key,
* ``content_sha256`` — per-row content hash (input_hint invariant),
  computed only on rows whose content cell the batch wrote,
* ``_deleted``       — tombstone flag. Deleted keys keep a tombstone row
  (payload nulls + last_lsn) so stale pre-delete events arriving in later
  batches are recognized and ignored; ``compact_deltas`` can physically
  drop old tombstones (``purge_tombstones_below_lsn``).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_kafka_project_spark.cdc.envelope import PAYLOAD_FIELDS
from etl_kafka_project_spark.cdc.fold import fold_batch
from etl_kafka_project_spark.config import EngineConfig
from etl_kafka_project_spark.minilake.table import LakeTable, SnapshotConflictError


def _remove_files(table: LakeTable, files) -> None:
    """Best-effort removal of a failed commit attempt's data files."""
    for fe in files:
        try:
            os.remove(os.path.join(table.root, fe.path))
        except OSError:
            pass

META_FIELDS = [
    T.StructField("content_sha256", T.StringType(), True),
    T.StructField("last_lsn", T.LongType(), False),
    T.StructField("row_version", T.LongType(), False),
    T.StructField("_deleted", T.BooleanType(), False),
]


def table_schema(payload_fields: list[T.StructField] | None = None) -> T.StructType:
    """Stored schema = input_hint payload + merge meta columns."""
    fields = list(payload_fields or PAYLOAD_FIELDS)
    # payload columns are nullable in storage (tombstones null them out)
    fields = [T.StructField(f.name, f.dataType, True) for f in fields]
    return T.StructType(fields + META_FIELDS)


def create_code_table(
    spark: SparkSession, root: str, config: EngineConfig | None = None
) -> LakeTable:
    config = (config or EngineConfig()).validate()
    return LakeTable.create(
        spark,
        root,
        schema=table_schema(),
        key_columns=list(config.key_columns),
        n_buckets=config.n_buckets,
    )


@dataclass
class MergeStats:
    epoch_id: int | None
    events_in: int
    keys: int
    upserts: int
    deletes: int
    touched_buckets: int
    wall_ms: float
    per_bucket: list[dict]
    snapshot_version: int | None = None
    skipped: bool = False
    #: hottest key's folded event count (adaptive-salting signal),
    #: observed on the write job
    max_key_events: int = 0
    #: [min, max] _max_lsn of the batch
    lsn_range: list[int] | None = None


def _link_changelog_deltas(
    table: LakeTable, new_files, changelog_dir: str, epoch: tuple[str, int]
) -> None:
    """Publish the epoch's delta files as its change-feed entry by
    hardlink (fallback: copy, for a cross-device changelog dir). The
    epoch dir is rebuilt from scratch so crash/conflict retries stay
    idempotent — a conflict retry re-merges from a fresh snapshot and
    relinks its OWN files, never the dropped attempt's."""
    import shutil

    dest = os.path.join(changelog_dir, f"stream={epoch[0]}", f"epoch={epoch[1]}")
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest, exist_ok=True)
    for fe in new_files:
        src = os.path.join(table.root, fe.path)
        dst = os.path.join(dest, os.path.basename(fe.path))
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)


def _merge_mor(
    table: LakeTable,
    folded: DataFrame,
    snap,
    epoch: tuple[str, int] | None,
    changelog_dir: str | None,
    t0: float,
) -> MergeStats:
    """Merge-on-read epoch apply: ONE batch-scale job.

    The folded actions append as delta files — O(batch) bytes written;
    resolution happens at read (cdc/mor.py), compaction amortizes it
    (stream.py schedules). The round-2 shape ran a separate stats job
    (groupBy(_bucket).collect) over a persisted fold BEFORE writing; now
    an ``Observation`` (CollectMetrics) rides the write job itself, so
    the fold computes exactly once, nothing is cached, and the
    per-trigger serial floor sheds a whole job's plan/schedule/collect
    round-trip — the floor is what caps sustained scaling efficiency
    (BENCH/BASELINE.md). Per-bucket lineage (keys per bucket) falls out
    of the written file manifest entries for free; batch-global stats
    (deletes, applied events, lsn range, hottest key) come from the
    observation.
    """
    from pyspark.sql import Observation

    from etl_kafka_project_spark.cdc.mor import write_delta_files

    # env-gated sub-phase wall clocks (SPARK_GRAFT_MERGE_PHASES=1): the
    # per-epoch serial floor is what caps sustained scaling efficiency,
    # so it has to be measurable, not guessed at
    timing = os.environ.get("SPARK_GRAFT_MERGE_PHASES") == "1"
    marks: list[tuple[str, float]] = [("start", time.time())]

    obs = Observation()
    observed = folded.observe(
        obs,
        F.count(F.lit(1)).alias("keys"),
        F.sum(F.col("_is_delete").cast("long")).alias("deletes"),
        F.sum("_applied").alias("events"),
        F.min("_max_lsn").alias("min_lsn"),
        F.max("_max_lsn").alias("max_lsn"),
        F.max("_applied").alias("max_key_events"),
    )
    marks.append(("plan_build", time.time()))
    new_files = write_delta_files(table, observed, snap)
    marks.append(("write_job", time.time()))
    if changelog_dir is not None and epoch is not None:
        # The outbound change feed IS the epoch's delta files: the feed
        # columns are a pure projection of the fold output the deltas
        # store (serving._feed_from_delta does the projection at read),
        # so instead of a second batch-scale write job over a persisted
        # fold (the round-3 shape), the committed delta files are
        # HARDLINKED into the feed's epoch dir — the Paimon
        # changelog-producer=input / Iceberg changelog-from-deltas
        # pattern. Per epoch this sheds one full write job and halves
        # bytes written; the feed stays immutable across compaction and
        # vacuum because the links keep the inodes alive. Linked BEFORE
        # the snapshot commit, so a crash-retried epoch rebuilds the dir.
        _link_changelog_deltas(table, new_files, changelog_dir, epoch)
        marks.append(("changelog_link", time.time()))
    m = obs.get  # write job has run; never blocks here
    n_keys = int(m["keys"] or 0)
    if n_keys == 0:
        return MergeStats(
            epoch_id=epoch[1] if epoch else None,
            events_in=0, keys=0, upserts=0, deletes=0, touched_buckets=0,
            wall_ms=(time.time() - t0) * 1000, per_bucket=[],
            snapshot_version=snap.version, skipped=False,
        )
    n_deletes = int(m["deletes"] or 0)
    bucket_keys: dict[int, int] = {}
    for fe in new_files:
        bucket_keys[fe.bucket] = bucket_keys.get(fe.bucket, 0) + fe.rows
    try:
        committed = table.commit(
            expected_version=snap.version, new_files=new_files, epoch=epoch
        )
    except SnapshotConflictError:
        # a concurrent writer moved the table: these delta files carry a
        # now-stale _writer_version stamp (parent-version commit-order
        # authority), so the caller must RE-MERGE from a fresh snapshot
        # (cdc/stream.py apply_epoch retries); drop this attempt's files
        # rather than leave stamped orphans for the vacuum
        _remove_files(table, new_files)
        raise
    if timing:
        import sys

        marks.append(("commit", time.time()))
        spans = ", ".join(
            f"{name}={t1 - t0:.3f}s"
            for (_, t0), (name, t1) in zip(marks, marks[1:])
        )
        print(f"[merge-phases] epoch={epoch}: {spans}", file=sys.stderr, flush=True)
    return MergeStats(
        epoch_id=epoch[1] if epoch else None,
        events_in=int(m["events"] or 0),
        keys=n_keys,
        upserts=n_keys - n_deletes,
        deletes=n_deletes,
        touched_buckets=len(bucket_keys),
        wall_ms=(time.time() - t0) * 1000,
        per_bucket=[{"_bucket": b, "keys": k} for b, k in sorted(bucket_keys.items())],
        snapshot_version=committed.version,
        max_key_events=int(m["max_key_events"] or 0),
        lsn_range=[int(m["min_lsn"]), int(m["max_lsn"])],
    )


def merge_events(
    table: LakeTable,
    events: DataFrame,
    config: EngineConfig,
    epoch: tuple[str, int] | None = None,
    salt: int | None = None,
    changelog_dir: str | None = None,
) -> MergeStats:
    """fold + merge in one call (the foreachBatch body, minus idempotence
    which lives in ``cdc/stream.py``).

    ``changelog_dir``: if set (and an epoch id is given), the epoch's
    delta files are published as the outbound change feed — the analog
    of the reference's Redis pub/sub ``movie_updates`` channel
    (``redis_interface.py:121-123``), consumable batch or streaming
    (``serving.py``). Unlike the reference (which publishes full merged
    documents), the feed is a partial-update stream: per-column write
    lsns + the reset barrier make "unchanged" vs "set to null"
    distinguishable (``serving.apply_changelog``).
    """
    from etl_kafka_project_spark.cdc.evolution import align_events

    t0 = time.time()
    # header only: the append never reads the parent's file listing (the
    # write needs version/schema/props; resolution happens at read), so
    # the per-epoch serial floor skips assembling every bucket manifest
    snap = table.snapshot_header()
    key_cols = snap.props["key_columns"]
    payload_cols = [
        f.name
        for f in snap.schema.fields
        if f.name not in key_cols and f.name not in {m.name for m in META_FIELDS}
    ]
    events = align_events(events, snap.schema)
    folded = fold_batch(
        events,
        key_columns=key_cols,
        payload_columns=payload_cols,
        lsn_col=config.lsn_column,
        op_col=config.op_column,
        salt=salt,
    ).withColumn("_bucket", table.bucket_expr(snap))
    return _merge_mor(
        table, folded, snap, epoch=epoch, changelog_dir=changelog_dir, t0=t0
    )

"""Merge-on-read MERGE of a change batch into a LakeTable.

The vectorized replacement for the reference's per-event state mutation
(``pyspark_interface.py:38-70``) and keyed sink upsert
(``redis_interface.py:38-61``). One micro-batch = ONE merge:

    change events
      → drop re-deliveries: events whose lsn lies inside the stream's
        applied LSN intervals, kept in the snapshot
      → fold (``cdc/fold.py``): one resolved action per key, per-column
        ``(value, lsn)`` cells plus delete/reset barriers
      → append the folded actions as delta files, one per fold
        reducer, each holding every bucket its keys hash to
        (``cdc/mor.py write_delta_files``) — O(batch) bytes
      → atomic snapshot commit that also records the stream epoch and
        the fresh LSN span (exactly-once)
      → the change feed: the delta files that commit added, linked into
        the epoch's feed dir only after the CAS (``publish_changelog``).

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
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_kafka_project_spark.cdc.envelope import PAYLOAD_FIELDS
from etl_kafka_project_spark.cdc.fold import fold_batch
from etl_kafka_project_spark.cdc.metrics import Stopwatch
from etl_kafka_project_spark.config import EngineConfig
from etl_kafka_project_spark.functions.exprcache import cached_exprs
from etl_kafka_project_spark.minilake.table import LakeTable, Snapshot, SnapshotConflictError


def _remove_files(table: LakeTable, files) -> None:
    """Best-effort removal of a failed commit attempt's data files
    (once per path: a delta file has one entry per bucket it holds)."""
    for path in {fe.path for fe in files}:
        try:
            os.remove(os.path.join(table.root, path))
        except OSError:
            pass

#: stream id under which a ``merge_events`` call without an epoch
#: records and drops its applied lsns
ANONYMOUS_STREAM = "_anonymous"

META_FIELDS = [
    T.StructField("content_sha256", T.StringType(), True),
    T.StructField("last_lsn", T.LongType(), False),
    T.StructField("row_version", T.LongType(), False),
    T.StructField("_deleted", T.BooleanType(), False),
]

#: names of the table meta columns — the one definition every reader and
#: writer of the stored row layout consults
META_COLUMNS = tuple(f.name for f in META_FIELDS)


def key_columns(snap: Snapshot) -> list[str]:
    """The table's primary-key columns, in declared order."""
    return list(snap.props["key_columns"])


def payload_columns(snap: Snapshot) -> list[str]:
    """Stored columns that are neither keys nor meta, in schema order."""
    keys = snap.props["key_columns"]
    return [c for c in snap.schema.names if c not in keys and c not in META_COLUMNS]


def table_schema(payload_fields: list[T.StructField] | None = None) -> T.StructType:
    """Stored schema = input_hint payload + merge meta columns."""
    fields = list(payload_fields or PAYLOAD_FIELDS)
    # payload columns are nullable in storage (tombstones null them out)
    fields = [T.StructField(f.name, f.dataType, True) for f in fields]
    return T.StructType(fields + META_FIELDS)


def create_code_table(
    spark: SparkSession, root: str, config: EngineConfig | None = None
) -> LakeTable:
    config = config or EngineConfig()
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
    #: valid events dropped before the fold as re-deliveries (their lsn
    #: lies inside the stream's applied intervals)
    redeliveries_dropped: int = 0
    #: ``(lowest fresh lsn, the stream's prior high-water mark, n)`` when
    #: n > 0 events left after the drop lie at or below that mark:
    #: out-of-order first deliveries (``cdc/stream.py`` order guard)
    order_violation: tuple[int, int, int] | None = None
    #: merge sub-phase walls in seconds (plan build, write job, commit,
    #: feed publish); apply_epoch files them under the lineage doc's
    #: ``phases``
    phases: dict[str, float] = field(default_factory=dict)


def publish_changelog(
    table: LakeTable, version: int, changelog_dir: str, epoch: tuple[str, int]
) -> None:
    """Publish an epoch's change feed: the delta files that snapshot
    ``version`` (the commit that recorded the epoch) added over its
    parent, hardlinked (fallback: copied) into
    ``changelog/stream=<id>/epoch=<n>``. The feed is thus defined by the
    snapshot that committed the epoch and exists only after that CAS.
    Only missing files are linked and nothing is deleted, so running it
    again finishes an interrupted publish. Driver-side: snapshot headers
    and the manifests of the buckets the commit changed, no Spark job."""
    import shutil

    new = table.snapshot_header(version)
    old = table.snapshot_header(new.parent)
    changed = {b for b, m in new.manifests.items() if old.manifests.get(b) != m}
    added = {fe.path for fe in table.snapshot(version, buckets=changed).files} - {
        fe.path for fe in table.snapshot(new.parent, buckets=changed).files
    }
    dest = os.path.join(changelog_dir, f"stream={epoch[0]}", f"epoch={epoch[1]}")
    os.makedirs(dest, exist_ok=True)
    for path in sorted(added):
        src = os.path.join(table.root, path)
        dst = os.path.join(dest, os.path.basename(path))
        try:
            os.link(src, dst)
        except FileExistsError:
            pass  # linked by an earlier or a concurrent publish
        except OSError:
            # cross-device feed dir: copy under a name readers skip, then
            # rename, so a crash never leaves a truncated feed file
            tmp = os.path.join(dest, "." + os.path.basename(path))
            shutil.copy2(src, tmp)
            os.replace(tmp, dst)


def _inside(intervals: list[list[int]]) -> str:
    """SQL predicate: the lsn lies inside one of ``intervals`` (integer
    literals); false, not null, for a null lsn, so it is never dropped.
    SQL text, not Column algebra: these expressions change every epoch,
    and one ``F.expr`` costs one py4j call where the equivalent Column
    tree costs one per operator (~12 ms of driver time per epoch)."""
    ranges = " OR ".join(f"lsn BETWEEN {int(lo)} AND {int(hi)}" for lo, hi in intervals)
    return f"coalesce({ranges}, false)" if intervals else "false"


def merge_events(
    table: LakeTable,
    events: DataFrame,
    epoch: tuple[str, int] | None = None,
    salt: int | None = None,
    changelog_dir: str | None = None,
    quarantined: Callable[[], int] | None = None,
) -> MergeStats:
    """drop re-deliveries + fold + merge-on-read apply + snapshot commit
    in one call (the foreachBatch body, minus idempotence which lives in
    ``cdc/stream.py``). ONE batch-scale job: the folded actions append
    as delta files, O(batch) bytes written; resolution happens at read
    (``cdc/mor.py``), and compaction amortizes it. Two ``Observation``s
    ride the write job, so the fold computes once and nothing is cached:
    one on the events (re-deliveries dropped, the fresh lsn span, and
    the out-of-order count), one on the fold (deletes, applied events,
    hottest key). Per-bucket key counts fall out of the written files'
    manifest entries. A batch that folds to no key commits nothing.

    Re-delivery: every event whose lsn lies inside the applied LSN
    intervals the snapshot holds for the epoch's stream id is dropped
    before the fold, and the commit records the fresh span
    (``LakeTable.commit(applied=...)``) in the same CAS as the data. A
    call without an epoch records and drops under
    :data:`ANONYMOUS_STREAM`. The record counts the lsns the batch
    delivered: the fold's distinct-lsn count (``_applied``) plus
    ``quarantined()``, the caller's count of rows it split off this
    delivery before the call (dead letters, read once the write job has
    run, e.g. from an ``Observation`` on the undivided batch). A span
    holed only by dead letters is thus still dense, and a skipped
    segment below it stays a gap (``minilake.table.record_span``).

    ``changelog_dir``: if set (and an epoch id is given), the committed
    epoch's delta files are published as the outbound change feed
    (:func:`publish_changelog`, after the CAS) — the analog of the
    reference's Redis pub/sub ``movie_updates`` channel
    (``redis_interface.py:121-123``), consumable batch or streaming
    (``serving.py``). The feed costs no write job: its columns are a
    projection of the fold output the deltas store, and the links keep
    the files alive across compaction and vacuum (the Paimon
    changelog-producer=input shape). Unlike the reference (which
    publishes full merged documents), the feed is a partial-update
    stream: per-column write lsns + the reset barrier make "unchanged"
    vs "set to null" distinguishable (``serving.apply_changelog``).
    """
    from pyspark.sql import Observation

    from etl_kafka_project_spark.cdc.evolution import align_events
    from etl_kafka_project_spark.cdc.mor import write_delta_files

    watch = Stopwatch()
    # header only: the append never reads the parent's file listing (the
    # write needs version/schema/props/progress; resolution happens at
    # read), so the per-epoch serial floor skips assembling every bucket
    # manifest
    snap = table.snapshot_header()
    stream_id = epoch[0] if epoch else ANONYMOUS_STREAM
    intervals = snap.lsn_intervals.get(stream_id, [])
    hwm = intervals[-1][1] if intervals else None
    inside = _inside(intervals)
    fresh = f"CASE WHEN NOT {inside} THEN lsn END"
    late = "false" if hwm is None else f"{fresh} <= {hwm}"
    ev_obs = Observation()
    events = (
        align_events(events, snap.schema)
        .observe(
            ev_obs,
            F.expr(f"count_if({inside}) AS dropped"),
            F.expr(f"min({fresh}) AS lo"),
            F.expr(f"max({fresh}) AS hi"),
            F.expr(f"count_if({late}) AS late"),
        )
        .where(f"NOT {inside}")
    )
    folded = fold_batch(
        events,
        key_columns=key_columns(snap),
        payload_columns=payload_columns(snap),
        salt=salt,
    ).withColumn("_bucket", table.bucket_expr(snap))
    obs = Observation()
    observed = folded.observe(
        obs,
        *cached_exprs(
            "merge_fold_obs",
            lambda: [
                F.count(F.lit(1)).alias("keys"),
                F.sum(F.col("_is_delete").cast("long")).alias("deletes"),
                F.sum("_applied").alias("events"),
                F.max("_applied").alias("max_key_events"),
            ],
        ),
    )
    watch.lap("merge_plan_build_s")
    new_files = write_delta_files(table, observed, snap)
    watch.lap("merge_write_job_s")
    m, e = obs.get, ev_obs.get  # the write job has run; never blocks here
    n_keys, n_deletes = int(m["keys"] or 0), int(m["deletes"] or 0)
    n_events, n_late = int(m["events"] or 0), int(e["late"] or 0)
    committed = snap  # a batch that folds to no key commits nothing
    if n_keys:
        lo, hi = e["lo"], e["hi"]
        # no span to record when every fresh event lacks an lsn (only a
        # caller that skipped split_dead_letters can send those)
        delivered = n_events + (quarantined() if quarantined else 0)
        applied = None if lo is None else (stream_id, lo, hi, delivered)
        try:
            committed = table.commit(
                expected_version=snap.version, new_files=new_files, epoch=epoch,
                applied=applied,
            )
        except SnapshotConflictError:
            # a concurrent writer moved the table, and the drop above was
            # planned against the parent's intervals — a writer of the
            # same stream id may have applied some of these lsns since.
            # The caller RE-MERGES from a fresh snapshot (cdc/stream.py
            # apply_epoch retries); drop this attempt's files rather
            # than leave orphans for the vacuum
            _remove_files(table, new_files)
            raise
        watch.lap("merge_commit_s")
        if changelog_dir is not None and epoch is not None:
            publish_changelog(table, committed.version, changelog_dir, epoch)
            watch.lap("merge_changelog_link_s")
    bucket_keys: dict[int, int] = {}
    for fe in new_files:
        bucket_keys[fe.bucket] = bucket_keys.get(fe.bucket, 0) + fe.rows
    return MergeStats(
        epoch_id=epoch[1] if epoch else None,
        events_in=n_events,
        keys=n_keys,
        upserts=n_keys - n_deletes,
        deletes=n_deletes,
        touched_buckets=len(bucket_keys),
        wall_ms=watch.elapsed_ms(),
        per_bucket=[{"_bucket": b, "keys": k} for b, k in sorted(bucket_keys.items())],
        snapshot_version=committed.version,
        max_key_events=int(m["max_key_events"] or 0),
        redeliveries_dropped=int(e["dropped"] or 0),
        order_violation=(e["lo"], hwm, n_late) if n_late else None,
        phases=watch.phases,
    )

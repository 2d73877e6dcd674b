"""Structured Streaming binlog tail → exactly-once lake MERGE.

Replaces the reference's consumer poll loop (``kafka_interface.py:47-81``:
``poll(1.0)`` → ``json.loads`` → per-message callback → ``commit()``) with
ONE streaming query: a file-source tail of ordered binlog segments (the
sandbox stand-in for ``format("kafka")`` — swap the reader, keep the body),
``foreachBatch`` applying each micro-batch as a single vectorized MERGE.

Exactly-once (north rule), two cooperating mechanisms:

* Spark's checkpoint (``checkpointLocation``) makes epoch ids stable
  across restarts — a batch that failed mid-apply is retried with the
  SAME epoch id;
* the lake table records ``committed_epochs`` and the stream's applied
  LSN intervals inside the same atomic snapshot commit as the data
  (``minilake/table.py``), so the retry of an already-committed epoch is
  detected and skipped, and a re-delivered event is dropped before the
  fold (``cdc/merge.py``) — the analog of the
  reference's commit-after-process + idempotent keyed sink
  (``kafka_interface.py:74`` + ``redis_interface.py:58``), but actually
  atomic instead of approximately so.

Per-epoch flow: idempotence check → dead-letter split (envelope
validation, ``cdc/envelope.py``) → schema evolution (``cdc/evolution.py``)
→ fold + MERGE + CAS + feed publish (``cdc/fold.py``/``cdc/merge.py``) →
quarantine → lineage document next to the checkpoint (``cdc/metrics.py``);
an epoch found already committed skips the merge, not the steps after it.
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from etl_kafka_project_spark.cdc.envelope import (
    EVENT_SCHEMA,
    dead_letter_reason,
    split_dead_letters,
)
from etl_kafka_project_spark.cdc.evolution import evolve_table
from etl_kafka_project_spark.cdc.merge import MergeStats, merge_events, publish_changelog
from etl_kafka_project_spark.cdc.metrics import LineageLog, Stopwatch
from etl_kafka_project_spark.config import EngineConfig
from etl_kafka_project_spark.functions.exprcache import cached_exprs
from etl_kafka_project_spark.minilake.table import LakeTable

#: max snapshot-CAS losses one epoch tolerates before failing the query;
#: each loss means a concurrent stream committed — the retry re-merges
#: from the fresh snapshot, so progress is guaranteed as long as SOME
#: writer advances (the compactor uses its own, wider bound)
EPOCH_COMMIT_RETRIES = 20


class OutOfOrderDeliveryError(RuntimeError):
    """An applied epoch violated the in-order delivery contract: after
    the re-delivery drop, some of its valid events sit at or below this
    stream's applied high-water mark — FIRST deliveries inside a gap of
    the applied LSN intervals, arriving after newer events were already
    applied (e.g. a file source listing two same-millisecond segments
    out of log order). The engine's bounded per-key state (``last_lsn``
    as the LWW authority) cannot apply such a batch with in-LSN-order
    semantics, so the guard fails loud. The epoch's snapshot is already
    committed when this raises: recover by rolling back to the prior
    snapshot (time travel) and re-delivering in order."""


def _dead_letter_counts(path: str) -> dict[str, int]:
    """Per-reason dead-letter counts from the quarantine files' own
    parquet footers/pages (driver-side, no Spark job)."""
    import pyarrow.parquet as pq

    import pyarrow.compute as pc

    try:
        table = pq.read_table(path, columns=["_dead_reason"])
    except (FileNotFoundError, OSError):
        return {}
    vc = pc.value_counts(table.column("_dead_reason").combine_chunks())
    return {str(e["values"]): int(e["counts"]) for e in vc.to_pylist()}


@dataclass
class ReplayJob:
    """Configuration + state of one binlog-replay streaming query."""

    table_root: str
    stream_dir: str
    checkpoint_dir: str
    config: EngineConfig = field(default_factory=EngineConfig)
    stream_id: str = "replay"
    event_schema: T.StructType = field(default_factory=lambda: EVENT_SCHEMA)
    max_files_per_trigger: int | None = None
    source_format: str = "parquet"  # or "json" (cdc/sources.py)
    #: e.g. "10 minutes": declares an event-time watermark on the
    #: stream and drops duplicates of (key..., lsn) inside it with
    #: ``dropDuplicatesWithinWatermark`` before ``foreachBatch`` (north
    #: star: "dropDuplicates over watermarked state"), shuffling every
    #: event into the streaming state store. Re-deliveries of applied
    #: events are dropped by ``merge_events`` whether or not it is set,
    #: so this repeats that work at the cost of a state-store shuffle;
    #: it is kept as the north star's construct.
    watermark: str | None = None
    #: filled as epochs apply (driver-side; one entry per foreachBatch call)
    applied: list[MergeStats] = field(default_factory=list, init=False)
    #: two-phase fold fan-out, set once an epoch shows a hot key
    #: (adaptive salting, see ``apply_epoch``)
    salt: int | None = field(default=None, init=False)

    #: emit an outbound change feed (reference Redis pub/sub analog,
    #: ``redis_interface.py:121-123``) under <table_root>/changelog
    emit_changelog: bool = True

    @property
    def dead_letter_dir(self) -> str:
        return os.path.join(self.checkpoint_dir, "dead_letters")

    @property
    def changelog_dir(self) -> str:
        return os.path.join(self.table_root, "changelog")

    @property
    def lineage_dir(self) -> str:
        return os.path.join(self.checkpoint_dir, "lineage")

    def _skip_committed(
        self, table: LakeTable, batch_df: DataFrame, epoch_id: int, watch: Stopwatch
    ) -> tuple[MergeStats, dict]:
        """Exactly-once skip of an epoch the table already committed — a
        crash-resume retry, or a concurrent retry of this stream that
        won the CAS with our epoch id. The committing attempt's
        observation is not in hand, so one aggregate over the batch
        gives its dead-letter count and valid-lsn span. That attempt may
        also have died before or inside its feed publish: finish it from
        the snapshot that committed the epoch, found by walking snapshot
        headers back from the current one."""
        current = table.snapshot_header()
        if self.emit_changelog:
            try:
                snap = current
                while (parent := table.snapshot_header(snap.parent)).has_epoch(
                    self.stream_id, epoch_id
                ):
                    snap = parent
                publish_changelog(
                    table, snap.version, self.changelog_dir, (self.stream_id, epoch_id)
                )
            except FileNotFoundError:
                # the walk (or the diff) reached an expired snapshot
                watch.phases["changelog_snapshot_expired"] = True
            watch.lap("merge_changelog_link_s")
        stats = MergeStats(
            epoch_id=epoch_id, events_in=0, keys=0, upserts=0, deletes=0,
            touched_buckets=0, wall_ms=0.0, per_bucket=[], skipped=True,
            snapshot_version=current.version,
        )
        return stats, batch_df.agg(*self._batch_metrics()).first().asDict()

    @staticmethod
    def _batch_metrics() -> list[F.Column]:
        """The batch's dead-letter count and valid-event lsn span —
        min/max over valid rows only (a dead letter's bogus lsn must not
        trip the order guard). Memoized unbound expressions."""

        def build() -> list[F.Column]:
            valid_lsn = F.when(dead_letter_reason().isNull(), F.col("lsn"))
            return [
                F.sum(dead_letter_reason().isNotNull().cast("long")).alias("n_dead"),
                F.min(valid_lsn).alias("lsn_min"),
                F.max(valid_lsn).alias("lsn_max"),
            ]

        return cached_exprs("epoch_obs_metrics", build)

    # ---------- incompatible-type dead letters ----------

    def _incompatible_columns(self, table: LakeTable, batch_schema: T.StructType) -> list[str]:
        """Payload columns whose batch type can neither match nor safely
        widen the stored type (``diff_schemas`` verdict, SURVEY §4.2:
        incompatible changes → dead letter). Cached per batch schema:
        table schemas only ever widen, and the widening chains are
        disjoint families, so a column's incompatibility verdict for a
        given batch schema never changes — the hot path pays one dict
        lookup."""
        fp = batch_schema.json()
        if not hasattr(self, "_incompat_cache"):
            self._incompat_cache: dict[str, list[str]] = {}
        if fp not in self._incompat_cache:
            from etl_kafka_project_spark.cdc.evolution import diff_schemas

            plan = diff_schemas(table.snapshot_header().schema, batch_schema)
            self._incompat_cache[fp] = sorted(n for n, _, _ in plan.incompatible)
        return self._incompat_cache[fp]

    @staticmethod
    def _incompat_predicate(bad_cols: list[str]) -> F.Column:
        cond = F.lit(False)
        for c in bad_cols:
            cond = cond | F.col(c).isNotNull()
        return cond

    def _quarantined(self, batch_df: DataFrame, bad_cols: list[str]) -> DataFrame:
        """The epoch's full dead-letter frame: envelope-invalid rows
        (``split_dead_letters`` reasons) plus envelope-VALID rows that
        carry a non-null value in an incompatibly-typed column — merging
        those would silently coerce (string→int null-fills, int→string
        stringifies) instead of honoring the evolve contract."""
        _, dead = split_dead_letters(batch_df)
        if bad_cols:
            incompat = batch_df.filter(
                dead_letter_reason().isNull() & self._incompat_predicate(bad_cols)
            ).withColumn(
                "_dead_reason", F.lit("incompatible_type:" + "+".join(bad_cols))
            )
            dead = dead.unionByName(incompat)
        return dead

    # ---------- the foreachBatch body ----------

    def apply_epoch(self, batch_df: DataFrame, epoch_id: int) -> MergeStats:
        """Apply one micro-batch exactly once. Public so batch-mode
        replays and tests can drive it without a streaming query.

        Merge and commit the epoch, or find it already committed (a
        crash-resume retry, or a concurrent retry that won the CAS);
        then the same idempotent finish, so a retry after a crash at
        any step past the CAS finishes the epoch. Housekeeping runs
        only after this attempt's own commit."""
        spark = batch_df.sparkSession
        # observations must fire even when a filter empties the batch
        # (all-redelivered epochs): AQE's empty-relation propagation
        # would drop the CollectMetrics node (see session.py). Guarded
        # here too for sessions not built by build_session.
        _rule = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
        _excl = spark.conf.get("spark.sql.adaptive.optimizer.excludedRules", "") or ""
        if _rule not in _excl:
            spark.conf.set(
                "spark.sql.adaptive.optimizer.excludedRules",
                f"{_excl},{_rule}" if _excl else _rule,
            )
        table = LakeTable(spark, self.table_root)
        watch = Stopwatch()
        phases = watch.phases
        # incompatible-typed columns (rare; driver-side schema diff,
        # cached per batch schema): rows carrying a non-null value there
        # dead-letter — the merge must never silently coerce them
        bad_cols = self._incompatible_columns(table, batch_df.schema)

        if table.snapshot_header().has_epoch(self.stream_id, epoch_id):
            stats, obs = self._skip_committed(table, batch_df, epoch_id, watch)
        else:
            stats, obs = self._merge_and_commit(table, batch_df, epoch_id, bad_cols, watch)

        # quarantine dead letters (idempotent overwrite per epoch);
        # per-reason counts come from the written files' metadata — no
        # dedicated counting job, and no write at all for a clean epoch
        dead_counts: dict[str, int] = {}
        if int(obs["n_dead"] or 0) > 0 or bad_cols:
            dead_path = os.path.join(self.dead_letter_dir, f"epoch={epoch_id}")
            self._quarantined(batch_df, bad_cols).write.mode("overwrite").parquet(dead_path)
            dead_counts = _dead_letter_counts(dead_path)
        watch.lap("dead_letters_s")

        # Delivery-order guard: the merge counted the events left after
        # its re-delivery drop at or below the stream's high-water mark
        # (first deliveries inside a gap), on the job it already ran. A
        # skipped epoch is not checked again: the attempt that committed
        # it was, and a crash after its lineage record leaves the
        # verdict in the doc this skip overwrites, so it is carried.
        lineage = LineageLog(self.lineage_dir, self.stream_id)
        order_violation = None
        if self.config.order_guard != "off":
            if stats.skipped:
                prior = (lineage.read_epoch(epoch_id) or {}).get("phases", {})
                if "order_violation" in prior:
                    phases["order_violation"] = prior["order_violation"]
            elif stats.order_violation:
                order_violation = stats.order_violation
                phases["order_violation"] = list(order_violation)
        extra: dict = {"phases": phases, "redeliveries_dropped": stats.redeliveries_dropped}
        if obs["lsn_min"] is not None:
            # the batch's full valid-lsn span, re-deliveries included
            extra["lsn_span"] = [int(obs["lsn_min"]), int(obs["lsn_max"])]

        # Housekeeping, only after a commit of this attempt's own.
        # Compaction: fold deltas into base every N applied epochs
        # (idempotent; a crash before/after just defers it). Bounds
        # read-time resolve cost between compactions.
        n_applied = len([s for s in self.applied if not s.skipped]) + 1
        if not stats.skipped and n_applied % self.config.compact_every_epochs == 0:
            from etl_kafka_project_spark.cdc.mor import compact_deltas

            c = compact_deltas(
                table, delta_share=self.config.compact_delta_share, config=self.config
            )
            watch.lap("compact_s")
            phases["compact_buckets"] = c.get("buckets", 0)
            phases["compact_cold_skipped"] = c.get("cold_buckets_skipped", 0)

        # Snapshot-expiry housekeeping (opt-in cadence): vacuum snapshot
        # JSONs past the retention window plus data/manifest files no
        # retained snapshot references. The vacuum's orphan age-gate
        # makes it safe while concurrent streams stage commits.
        if (
            not stats.skipped
            and self.config.expire_snapshots_every_epochs
            and n_applied % self.config.expire_snapshots_every_epochs == 0
        ):
            from etl_kafka_project_spark.cdc.compaction import expire_snapshots

            e = expire_snapshots(table, keep_last=self.config.expire_keep_last)
            watch.lap("expire_s")
            phases["expire_snapshots_removed"] = e.get("snapshots_removed", 0)
            phases["expire_data_files_removed"] = e.get("data_files_removed", 0)

        # Adaptive hot-key salting (AQE-style, reactive): the merge's
        # stats carry the hottest key's folded event count for free; once
        # it crosses config.hot_key_threshold, subsequent epochs fold via
        # the two-phase salted aggregation. The epoch that DETECTED the
        # skew already folded correctly (the plain fold is skew-tolerant
        # via map-side partials) — salting only buys the pathological
        # single-dominant-key + wide-payload case.
        if self.salt is None and stats.max_key_events >= self.config.hot_key_threshold:
            self.salt = self.config.salt_buckets
            phases["salted_from_next_epoch"] = self.salt

        lineage.record(stats, dead_letters=dead_counts, extra=extra)
        self.applied.append(stats)
        if order_violation is not None and self.config.order_guard == "error":
            lo, hwm, n = order_violation
            raise OutOfOrderDeliveryError(
                f"stream {self.stream_id!r} epoch {epoch_id}: {n} valid events"
                f" from lsn {lo} are at or below the applied high-water mark"
                f" {hwm} but inside no applied lsn interval — out-of-order"
                f" first deliveries. Its snapshot (v{stats.snapshot_version})"
                f" is committed: roll back via time travel and re-deliver in"
                f" order, or set EngineConfig(order_guard='warn') to"
                f" record-and-continue."
            )
        return stats

    def _merge_and_commit(
        self, table: LakeTable, batch_df: DataFrame, epoch_id: int,
        bad_cols: list[str], watch: Stopwatch,
    ) -> tuple[MergeStats, dict]:
        """Merge the batch's valid events and commit them with the epoch
        id. Returns the stats and the batch's observed dead-letter count
        and valid-lsn span, or the skip's when a concurrent retry of
        this stream committed the epoch first."""
        # Envelope validation rides the MERGE job itself: an
        # Observation counts invalid events during the merge's own
        # batch scan, and the quarantine write job — a SECOND full
        # pass over the (content-heavy) batch — runs only when that
        # count is non-zero. Dead letters are the rare path; the
        # common all-valid epoch pays exactly ONE pass over the
        # batch, which both halves per-epoch memory-bus traffic
        # (the content-heavy scaling ceiling, BENCH/BASELINE.md)
        # and sheds a job from the per-trigger serial floor.
        from pyspark.sql import Observation

        # the same single-pass observation also captures the batch's
        # full valid-event lsn span for the lineage doc, at zero extra
        # jobs
        dead_obs = Observation()
        metrics = self._batch_metrics()
        if bad_cols:
            metrics = [*metrics, F.count_if(
                dead_letter_reason().isNull() & self._incompat_predicate(bad_cols)
            ).alias("n_incompat")]
        batch = batch_df.observe(dead_obs, *metrics)
        valid, _ = split_dead_letters(batch)

        # fetched once: each Observation.get is a py4j round trip
        observed = functools.cache(lambda: dead_obs.get)

        def quarantined() -> int:
            # a quarantined row's lsn was delivered too (counting the
            # null-lsn ones over-counts, which only keeps gaps open)
            m = observed()
            return int(m["n_dead"] or 0) + int(m.get("n_incompat") or 0)

        # an incompatibly-typed column drops from the merge input (its
        # non-null carriers dead-letter), so align_events null-fills it
        # like any absent column
        if bad_cols:
            valid = valid.filter(~self._incompat_predicate(bad_cols)).drop(*bad_cols)

        # Optimistic-concurrency retry: two live streams replaying
        # into ONE table interleave snapshot commits; the loser's
        # CAS raises SnapshotConflictError. A retry RE-MERGES from
        # the fresh snapshot, whose applied intervals the re-delivery
        # drop is planned against (the failed attempt's files were
        # already dropped at the commit site, cdc/merge.py). Each
        # iteration also re-runs evolve_table (idempotent) in case
        # the concurrent winner was a schema evolution.
        from etl_kafka_project_spark.minilake.table import SnapshotConflictError

        # Schema-coverage cache (per-trigger serial-floor item,
        # round-5 verdict #5): the evolve diff costs ~80 ms of
        # driver time per epoch, and in steady state every epoch
        # carries the SAME batch schema. Coverage is MONOTONE —
        # table schemas only ever widen (add/widen, never
        # narrow/drop), including under concurrent streams — so once
        # a batch schema has been diffed (and any ALTER committed),
        # that exact schema is covered forever and the diff can be
        # skipped. A schema change (the rare event) misses the cache
        # and pays the full evolve path.
        batch_schema_fp = valid.schema.json()
        if not hasattr(self, "_covered_schemas"):
            self._covered_schemas: set[str] = set()

        for attempt in range(EPOCH_COMMIT_RETRIES + 1):
            try:
                # additive/widening schema evolution BEFORE the
                # merge; its commit is idempotent (re-diff after
                # crash is empty), so it can sit outside the
                # epoch-stamped data commit safely
                if batch_schema_fp not in self._covered_schemas:
                    evolve_table(table, valid.schema)
                    self._covered_schemas.add(batch_schema_fp)
                if attempt == 0:
                    watch.lap("evolve_s")
                stats = merge_events(
                    table,
                    valid,
                    epoch=(self.stream_id, epoch_id),
                    salt=self.salt,
                    changelog_dir=self.changelog_dir if self.emit_changelog else None,
                    quarantined=quarantined,
                )
                break
            except SnapshotConflictError:
                watch.phases["commit_conflicts"] = attempt + 1
                if table.snapshot_header().has_epoch(self.stream_id, epoch_id):
                    watch.lap("merge_s")
                    return self._skip_committed(table, batch_df, epoch_id, watch)
        else:
            raise SnapshotConflictError(
                f"epoch {epoch_id} of stream {self.stream_id} lost the"
                f" snapshot CAS {EPOCH_COMMIT_RETRIES + 1} times in a row"
            )
        watch.lap("merge_s")
        watch.phases.update(stats.phases)
        # the merge job always runs (even for an empty batch), so the
        # observation never blocks
        return stats, observed()


    # ---------- streaming query ----------

    #: continuous-tail cadence (reference EXTRACT_INTERVAL analog,
    #: ``config.py:13``): e.g. "15 seconds" → trigger(processingTime=...)
    processing_interval: str | None = None

    def start(self, spark: SparkSession, available_now: bool = True) -> StreamingQuery:
        """Start the streaming tail of ``stream_dir``.

        ``availableNow`` processes the current backlog then stops (the
        replay shape); pass ``available_now=False`` for a continuous tail.
        ``maxFilesPerTrigger`` bounds epoch size — the analog of the
        reference's bounded drain (``kafka_interface.py:83-109``).
        ``source_format`` selects the binlog reader (``cdc/sources.py``):
        'parquet' (default) or 'json' (JSON-lines envelopes).
        """
        from etl_kafka_project_spark.cdc import sources

        if self.source_format == "json":
            events = sources.json_binlog(
                spark, self.stream_dir, self.event_schema, self.max_files_per_trigger
            )
        else:
            events = sources.parquet_binlog(
                spark, self.stream_dir, self.event_schema, self.max_files_per_trigger
            )
        if self.watermark:
            events = events.withWatermark("ts", self.watermark).dropDuplicatesWithinWatermark(
                [*self.config.key_columns, "lsn"]
            )
        writer = (
            events.writeStream.queryName(f"cdc-{self.stream_id}")
            .option("checkpointLocation", os.path.join(self.checkpoint_dir, "spark"))
            .foreachBatch(lambda df, eid: self.apply_epoch(df, eid))
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif self.processing_interval:
            writer = writer.trigger(processingTime=self.processing_interval)
        return writer.start()

    def run(self, spark: SparkSession, timeout_s: float | None = None) -> list[MergeStats]:
        """start + await: replay the whole backlog, return per-epoch stats."""
        q = self.start(spark, available_now=True)
        q.awaitTermination(timeout_s)
        if q.isActive:
            q.stop()
        if q.exception() is not None:
            raise q.exception()
        return self.applied


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
* the lake table records ``committed_epochs`` inside the same atomic
  snapshot commit as the data (``minilake/table.py``), so the retry of an
  already-committed epoch is detected and skipped — the analog of the
  reference's commit-after-process + idempotent keyed sink
  (``kafka_interface.py:74`` + ``redis_interface.py:58``), but actually
  atomic instead of approximately so.

Per-epoch flow: idempotence check → dead-letter split (envelope
validation, ``cdc/envelope.py``) → schema evolution (``cdc/evolution.py``)
→ fold + MERGE (``cdc/fold.py``/``cdc/merge.py``) → lineage document next
to the checkpoint (``cdc/metrics.py``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from etl_kafka_project_spark.cdc.envelope import EVENT_SCHEMA, split_dead_letters

#: max snapshot-CAS losses one epoch tolerates before failing the query;
#: each loss means a concurrent stream committed — the retry re-merges
#: from the fresh snapshot, so progress is guaranteed as long as SOME
#: writer advances (the compactor uses its own, wider bound)
EPOCH_COMMIT_RETRIES = 20


class OutOfOrderDeliveryError(RuntimeError):
    """An applied epoch violated the in-order delivery contract: its
    minimum valid LSN sits below this stream's applied high-water mark
    yet inside none of the previously applied LSN intervals — a FIRST
    delivery arriving after newer events were already applied (e.g. a
    file source listing two same-millisecond segments out of log
    order). The engine's bounded per-key state (``last_lsn`` as the
    LWW / re-delivery authority) cannot apply such a batch with
    in-LSN-order semantics, so the guard fails loud instead of silently
    mis-counting the late events as re-deliveries. The epoch's snapshot
    is already committed when this raises: recover by rolling back to
    the prior snapshot (time travel) and re-delivering in order."""


def _coalesce_ranges(ranges: list[list[int]]) -> list[list[int]]:
    """Sort + merge overlapping/adjacent integer LSN intervals. In-order
    delivery collapses to ONE interval, so the guard's bookkeeping is
    O(1) in steady state regardless of epoch count."""
    out: list[list[int]] = []
    for lo, hi in sorted(ranges):
        if out and lo <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return out


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
from etl_kafka_project_spark.cdc.evolution import evolve_table
from etl_kafka_project_spark.cdc.merge import MergeStats, merge_events
from etl_kafka_project_spark.cdc.metrics import LineageLog
from etl_kafka_project_spark.config import EngineConfig
from etl_kafka_project_spark.minilake.table import LakeTable


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
    salt: int | None = None
    source_format: str = "parquet"  # or "json" (cdc/sources.py)
    #: e.g. "10 minutes": enables cross-epoch dedup of re-delivered
    #: events with an event-time watermark declared on the stream
    #: (north star: "dropDuplicates over watermarked state"). How the
    #: duplicates are actually dropped is picked by ``watermark_scope``.
    watermark: str | None = None
    #: HOW the watermarked dedup executes (only read when ``watermark``
    #: is set):
    #:
    #: * ``"committed"`` (default) — exploit that ``foreachBatch`` is
    #:   SERIAL: epoch N's snapshot commit lands before epoch N+1 is
    #:   planned, so by the delivery contract (epochs LSN-range-disjoint
    #:   except verbatim re-delivery, ``cdc/fold.py``) any event with
    #:   ``lsn <= `` this stream's committed high-water mark IS a
    #:   re-delivery. ``apply_epoch`` drops those with one cheap literal
    #:   predicate — no state store, no extra shuffle; the watermark
    #:   stays declared on the stream for event-time/late-data
    #:   semantics. Measured ~3.6x cheaper than ``"state"`` at bench
    #:   scale (round-3 verdict #3); the hwm persists next to the
    #:   checkpoint so kill-and-resume keeps the guarantee.
    #: * ``"state"`` — the literal north-star construct:
    #:   ``dropDuplicatesWithinWatermark`` on (key..., lsn) BEFORE
    #:   ``foreachBatch``, shuffling every event into the streaming
    #:   state store. Equivalent result, pays for generality this
    #:   engine's serial-commit sink doesn't need (a sink that ACKed
    #:   deliveries before committing would).
    watermark_scope: str = "committed"
    #: filled as epochs apply (driver-side; one entry per foreachBatch call)
    applied: list[MergeStats] = field(default_factory=list)

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

    # ---------- committed high-water mark (watermark_scope="committed") ----------

    @property
    def _hwm_path(self) -> str:
        return os.path.join(self.checkpoint_dir, "hwm.json")

    def _committed_hwm(self) -> int | None:
        """Max LSN this stream has committed, surviving restarts (read
        once per process, then tracked driver-side)."""
        if not hasattr(self, "_hwm"):
            import json

            try:
                with open(self._hwm_path) as f:
                    self._hwm = int(json.load(f)["hwm"])
            except (OSError, ValueError, KeyError):
                self._hwm = None
        return self._hwm

    def _advance_hwm(self, max_lsn: int) -> None:
        """Persist the new high-water mark AFTER the snapshot commit.
        A crash between commit and this write just leaves a stale hwm;
        the merge's own per-key staleness guards still no-op the
        re-delivery, so the filter is an optimization that is always
        safe to lag."""
        import json

        cur = self._committed_hwm()
        if cur is not None and max_lsn <= cur:
            return
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        tmp = self._hwm_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"hwm": int(max_lsn), "stream": self.stream_id}, f)
        os.replace(tmp, self._hwm_path)
        self._hwm = int(max_lsn)

    # ---------- delivery-order guard (config.order_guard) ----------

    def _applied_lsn_ranges(self) -> list[list[int]]:
        """Coalesced [min, max] LSN intervals of every epoch this stream
        has applied, rebuilt from the lineage log on first use so the
        guard survives restarts (a crash in the commit→lineage-record
        window loses at most that one epoch's interval; the consequence
        is a possible spurious guard trip on its re-delivery — loud,
        never silent corruption)."""
        if not hasattr(self, "_lsn_ranges"):
            ranges = []
            for doc in LineageLog(self.lineage_dir, self.stream_id).read_all():
                # lsn_span = the batch's full valid span
                r = doc.get("lsn_span")
                if r:
                    ranges.append([int(r[0]), int(r[1])])
            self._lsn_ranges: list[list[int]] = _coalesce_ranges(ranges)
        return self._lsn_ranges

    def _note_applied_range(self, lo: int, hi: int) -> None:
        self._lsn_ranges = _coalesce_ranges(self._applied_lsn_ranges() + [[lo, hi]])

    def _skip_committed(
        self, table: LakeTable, lineage: LineageLog, epoch_id: int
    ) -> tuple[MergeStats, list[int] | None]:
        """Exactly-once skip of an epoch the table already committed — a
        crash-resume retry, or a concurrent retry of this stream that won
        the CAS with our epoch id. Returns the skipped stats, carrying the
        original commit's ``lsn_range``, and that commit's ``lsn_span``
        (None if it left no lineage doc), which also goes back into the
        order guard's applied intervals: the caller overwrites the
        original lineage doc, and a doc without the span would make a
        restarted job trip a spurious violation on the next verbatim
        re-delivery."""
        stats = MergeStats(
            epoch_id=epoch_id, events_in=0, keys=0, upserts=0, deletes=0,
            touched_buckets=0, wall_ms=0.0, per_bucket=[], skipped=True,
            snapshot_version=table.current_version(),
        )
        prev = lineage.read_epoch(epoch_id) or {}
        if prev.get("lsn_range"):
            stats.lsn_range = [int(x) for x in prev["lsn_range"]]
        span = prev.get("lsn_span")
        if span:
            span = [int(span[0]), int(span[1])]
            if self.config.order_guard != "off":
                self._note_applied_range(*span)
        return stats, span

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
        from etl_kafka_project_spark.cdc.envelope import dead_letter_reason

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
        replays and tests can drive it without a streaming query."""
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
        lineage = LineageLog(self.lineage_dir, self.stream_id)

        dead_path = os.path.join(self.dead_letter_dir, f"epoch={epoch_id}")
        if table.snapshot().has_epoch(self.stream_id, epoch_id):
            # crash-resume retry of a committed epoch: exactly-once skip.
            # The quarantine write is gated on the merge job's observed
            # invalid count and so happens AFTER the data commit; a crash
            # in that window reaches here with the epoch's dead letters
            # unwritten — detect (no marker dir) and heal, idempotently.
            dead_counts = {}
            if not os.path.exists(dead_path):
                bad = self._incompatible_columns(table, batch_df.schema)
                self._quarantined(batch_df, bad).write.mode("overwrite").parquet(dead_path)
                dead_counts = _dead_letter_counts(dead_path)
            stats, span = self._skip_committed(table, lineage, epoch_id)
            extra = {"lsn_span": span} if span else {}
            lineage.record(stats, dead_letters=dead_counts, skipped=True, extra=extra)
            self.applied.append(stats)
            return stats

        import time as _time

        phases: dict[str, float] = {}
        t = _time.time()

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

        from etl_kafka_project_spark.cdc.envelope import dead_letter_reason

        from etl_kafka_project_spark.functions.exprcache import cached_exprs

        dead_obs = Observation()
        # the same single-pass observation also captures the batch's
        # PRE-dedup-filter valid-event lsn span for the delivery-order
        # guard — min/max over valid rows only (a dead letter's bogus
        # lsn must not trip the guard), at zero extra jobs
        _lsn = self.config.lsn_column
        obs_exprs = cached_exprs(
            ("epoch_obs_metrics", _lsn),
            lambda: [
                F.sum(
                    dead_letter_reason().isNotNull().cast("long")
                ).alias("n_dead"),
                F.min(
                    F.when(dead_letter_reason().isNull(), F.col(_lsn))
                ).alias("lsn_min"),
                F.max(
                    F.when(dead_letter_reason().isNull(), F.col(_lsn))
                ).alias("lsn_max"),
            ],
        )
        batch = batch_df.observe(dead_obs, *obs_exprs)
        valid, _ = split_dead_letters(batch)

        # incompatible-typed columns (rare; driver-side schema diff,
        # cached per batch schema): rows carrying a non-null value
        # there dead-letter — the merge must never silently coerce
        # them — and the column drops from the merge input so
        # align_events null-fills it like any absent column
        bad_cols = self._incompatible_columns(table, valid.schema)
        if bad_cols:
            valid = valid.filter(~self._incompat_predicate(bad_cols)).drop(*bad_cols)

        # watermarked cross-epoch dedup, "committed" scope: every
        # event at or below this stream's committed high-water mark
        # is a verbatim re-delivery (delivery contract; foreachBatch
        # commits serially) — drop pre-merge with a literal
        # predicate instead of a state-store shuffle. Valid events
        # always carry a non-null lsn (envelope P2), so the
        # null-unsafe comparison never drops a fresh event.
        if self.watermark and self.watermark_scope == "committed":
            hwm = self._committed_hwm()
            if hwm is not None:
                valid = valid.filter(
                    F.col(self.config.lsn_column) > F.lit(int(hwm))
                )

        # Optimistic-concurrency retry: two live streams replaying
        # into ONE table interleave snapshot commits; the loser's
        # CAS raises SnapshotConflictError. A retry must RE-MERGE
        # from the fresh snapshot — not just re-commit — because
        # delta rows are stamped with the parent version as the
        # commit-order authority (the failed attempt's files were
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

        # set only by the conflict-skip branch: the winner's span,
        # carried into the overwritten lineage doc below
        lsn_span_carried: list[int] | None = None

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
                    phases["evolve_s"] = round(_time.time() - t, 2)
                    t = _time.time()
                stats = merge_events(
                    table,
                    valid,
                    self.config,
                    epoch=(self.stream_id, epoch_id),
                    salt=self.salt,
                    changelog_dir=self.changelog_dir if self.emit_changelog else None,
                )
                break
            except SnapshotConflictError:
                phases["commit_conflicts"] = attempt + 1
                if table.snapshot().has_epoch(self.stream_id, epoch_id):
                    # a concurrent retry of THIS stream won with our
                    # epoch id — exactly-once skip, same as the
                    # crash-resume path above
                    stats, lsn_span_carried = self._skip_committed(
                        table, lineage, epoch_id
                    )
                    break
        else:
            raise SnapshotConflictError(
                f"epoch {epoch_id} of stream {self.stream_id} lost the"
                f" snapshot CAS {EPOCH_COMMIT_RETRIES + 1} times in a row"
            )
        phases["merge_s"] = round(_time.time() - t, 2)
        t = _time.time()

        # quarantine dead letters (idempotent overwrite per epoch);
        # per-reason counts come from the written files' metadata —
        # no dedicated counting job. The merge job above always runs
        # (even for an empty batch), so the observation never blocks.
        if int(dead_obs.get["n_dead"] or 0) > 0 or bad_cols:
            self._quarantined(batch_df, bad_cols).write.mode("overwrite").parquet(
                dead_path
            )
            dead_counts = _dead_letter_counts(dead_path)
        else:
            # zero-dead marker: lets the crash-resume skip path tell
            # "nothing to quarantine" from "crashed before writing"
            os.makedirs(dead_path, exist_ok=True)
            dead_counts = {}
        phases["dead_letters_s"] = round(_time.time() - t, 2)
        t = _time.time()

        # Delivery-order guard: the observation above saw the batch's
        # valid-lsn span BEFORE the committed-hwm dedup filter, so an
        # out-of-order FIRST delivery is caught even when that filter
        # would silently drop it. Detection is exact for the realistic
        # failure shape (a whole late segment): the batch's min lsn
        # falls below the applied high-water mark yet inside no applied
        # interval. Re-deliveries pass (their lsns lie inside applied
        # intervals), and in-order streams keep the bookkeeping at ONE
        # coalesced interval. Events between a violating batch's min and
        # max that fall in a gap while the min does not are the only
        # shape the [min,max] summary cannot see.
        order_violation: tuple[int, int] | None = None
        lsn_span: list[int] | None = lsn_span_carried
        if self.config.order_guard != "off" and not stats.skipped:
            obs = dead_obs.get
            lo, hi = obs.get("lsn_min"), obs.get("lsn_max")
            if lo is not None:
                ranges = self._applied_lsn_ranges()
                hwm = ranges[-1][1] if ranges else None
                if hwm is not None and lo <= hwm and not any(
                    a <= lo <= b for a, b in ranges
                ):
                    order_violation = (int(lo), int(hwm))
                    phases["order_violation"] = [int(lo), int(hwm)]
                lsn_span = [int(lo), int(hi)]
                self._note_applied_range(*lsn_span)

        # advance the committed high-water mark only after the epoch's
        # snapshot commit landed (merge_events returned)
        if self.watermark and self.watermark_scope == "committed" and stats.lsn_range:
            self._advance_hwm(stats.lsn_range[1])

        # Housekeeping: fold deltas into base every N applied epochs
        # (idempotent; a crash before/after just defers it). Bounds
        # read-time resolve cost between compactions.
        n_applied = len([s for s in self.applied if not s.skipped]) + 1
        if n_applied % self.config.compact_every_epochs == 0:
            from etl_kafka_project_spark.cdc.mor import compact_deltas

            c = compact_deltas(
                table, delta_share=self.config.compact_delta_share, config=self.config
            )
            phases["compact_s"] = round(_time.time() - t, 2)
            t = _time.time()
            phases["compact_buckets"] = c.get("buckets", 0)
            phases["compact_cold_skipped"] = c.get(
                "cold_buckets_skipped", c.get("skipped_buckets", 0)
            )

        # Snapshot-expiry housekeeping (opt-in cadence): vacuum snapshot
        # JSONs past the retention window plus data/manifest files no
        # retained snapshot references. The vacuum's orphan age-gate
        # makes it safe while concurrent streams stage commits.
        if (
            self.config.expire_snapshots_every_epochs
            and n_applied % self.config.expire_snapshots_every_epochs == 0
        ):
            from etl_kafka_project_spark.cdc.compaction import expire_snapshots

            e = expire_snapshots(table, keep_last=self.config.expire_keep_last)
            phases["expire_s"] = round(_time.time() - t, 2)
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

        extra: dict = {"phases": phases}
        if lsn_span is not None:
            # the batch's FULL valid-lsn span (pre-dedup-filter, all
            # events — vs lsn_range's fold-shaped min-of-per-key-maxima);
            # the order guard rebuilds its applied intervals from this
            extra["lsn_span"] = lsn_span
        lineage.record(
            stats, dead_letters=dead_counts, skipped=stats.skipped, extra=extra
        )
        self.applied.append(stats)
        if order_violation is not None and self.config.order_guard == "error":
            lo, hwm = order_violation
            raise OutOfOrderDeliveryError(
                f"stream {self.stream_id!r} epoch {epoch_id}: batch min lsn"
                f" {lo} is below the applied high-water mark {hwm} but inside"
                f" no applied lsn interval — an out-of-order first delivery."
                f" Its snapshot (v{stats.snapshot_version}) is committed:"
                f" roll back via time travel and re-deliver in order, or set"
                f" EngineConfig(order_guard='warn') to record-and-continue."
            )
        return stats

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
            events = events.withWatermark("ts", self.watermark)
            if self.watermark_scope == "state":
                events = events.dropDuplicatesWithinWatermark(
                    [*self.config.key_columns, self.config.lsn_column]
                )
            # "committed" scope drops re-deliveries in apply_epoch via
            # the persisted high-water mark (see watermark_scope above)
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


def run_replay(
    spark: SparkSession,
    table_root: str,
    stream_dir: str,
    checkpoint_dir: str,
    config: EngineConfig | None = None,
    stream_id: str = "replay",
    event_schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> list[MergeStats]:
    """One-call replay: tail ``stream_dir`` into the table at
    ``table_root`` until the backlog drains (availableNow)."""
    job = ReplayJob(
        table_root=table_root,
        stream_dir=stream_dir,
        checkpoint_dir=checkpoint_dir,
        config=(config or EngineConfig()).validate(),
        stream_id=stream_id,
        event_schema=event_schema or EVENT_SCHEMA,
        max_files_per_trigger=max_files_per_trigger,
    )
    return job.run(spark)

"""Engine configuration.

The analog of the reference's startup config-validation gate
(``utils/config.py:52-137``): every ``EngineConfig`` is validated when it
is constructed, so a bad knob fails fast with a typed error instead of
mid-stream.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import ClassVar


class ConfigError(ValueError):
    """Raised when an EngineConfig fails validation (ref utils/exceptions.py)."""


@dataclass(frozen=True)
class EngineConfig:
    """Knobs for the CDC apply pipeline.

    ``n_buckets`` is the lake table's hash-bucket count on the primary key
    ``(repo, path)`` — the Iceberg ``bucket(N, ...)`` partition-transform
    analog. At 100 TB / 1000 executors this would be in the thousands; in
    the 32-core sandbox the default 32 keeps one bucket per core.

    ``hot_key_threshold`` is the per-batch event count above which a key
    is treated as skewed: when a ``ReplayJob`` epoch's merge stats
    (observed for free on the merge's write job) show a key at or above
    it, subsequent epochs fold via the two-phase salted aggregation
    (``cdc/fold.py``; reactive AQE-style detection — see
    ``cdc/stream.py``). A direct ``merge_events`` call reads no config:
    its ``salt=`` argument forces salting up front. ``salt_buckets`` is
    the fan-out of phase one.

    The change-event envelope's ``lsn``/``op`` column names are fixed
    (``cdc/envelope.py``), and the compaction cadence is a constant.
    """

    key_columns: tuple[str, ...] = ("repo", "path")
    n_buckets: int = 32
    hot_key_threshold: int = 100_000
    salt_buckets: int = 16
    #: compaction splits a bucket's rewrite into ceil(rows / this) files
    #: (skew-aware write fan-out, ``cdc/salting.py``)
    target_file_rows: int = 2_000_000
    #: epochs append folded delta files, resolved at read and compacted
    #: every ``compact_every_epochs`` applied epochs
    compact_every_epochs: ClassVar[int] = 8
    #: per-bucket compaction threshold: a bucket compacts only when
    #: delta_rows / (base_rows + delta_rows) >= this share (0 = always
    #: compact every delta-carrying bucket). Keeps the epoch-cadence
    #: compactor from re-reading cold buckets' full base data for a
    #: handful of delta rows.
    compact_delta_share: ClassVar[float] = 0.2
    #: snapshot-expiry housekeeping cadence: every N applied epochs the
    #: ReplayJob runs expire_snapshots(keep_last=expire_keep_last) after
    #: its delta compaction. None (default) = never — snapshot history
    #: is what time travel / state-diff CDF read, so retention is an
    #: explicit per-deployment choice. The vacuum age-gates young
    #: orphans, so it is safe to run while other streams commit.
    expire_snapshots_every_epochs: int | None = None
    expire_keep_last: int = 8
    #: delivery-contract guard: the engine's bounded per-key state
    #: (``last_lsn`` as the LWW authority, cdc/merge.py) requires each
    #: KEY's events to arrive in LSN order, re-delivery of
    #: already-applied events excepted. Tracking that per key is
    #: unbounded, so the guard checks the stronger per-STREAM property:
    #: an event left after the merge's re-delivery drop at or below the
    #: stream's applied high-water mark lies in a gap of the applied LSN
    #: intervals (snapshot-held, cdc/merge.py) and is an out-of-order
    #: FIRST delivery — one count on the merge's existing observation,
    #: no extra Spark job. That property is exactly the contract of a
    #: binlog/WAL segment tail (this engine's primary source), which a
    #: file source can still break when two segment files tie on
    #: modification time — the failure the guard exists to catch. A
    #: skipped segment shows as a gap when the stream's lsns are dense
    #: (dead letters count as delivered); with sparse lsns (e.g. WAL
    #: byte offsets) only when the gap is wider than the holes inside
    #: the next applied batch's span — a narrower one is taken for
    #: spacing, and its late delivery is dropped as a re-delivery
    #: (``redeliveries_dropped``), not raised (``record_span``,
    #: minilake/table.py). A multi-partition Kafka topic orders per
    #: partition, not globally: use one stream id per partition
    #: (cdc/sources.py). "warn" records
    #: the violation in lineage phases and continues; the default
    #: "error" records it and raises OutOfOrderDeliveryError (the
    #: epoch's snapshot is already committed: roll back by time travel
    #: to ``snapshot_version - 1`` and re-deliver in order); "off"
    #: records nothing.
    order_guard: str = "error"

    def __post_init__(self) -> None:
        if self.expire_snapshots_every_epochs is not None and (
            self.expire_snapshots_every_epochs < 1
        ):
            raise ConfigError("expire_snapshots_every_epochs must be >= 1 or None")
        if self.expire_keep_last < 1:
            raise ConfigError("expire_keep_last must be >= 1")
        if self.order_guard not in ("error", "warn", "off"):
            raise ConfigError("order_guard must be error|warn|off")
        if not self.key_columns:
            raise ConfigError("key_columns must be non-empty")
        if self.n_buckets < 1:
            raise ConfigError(f"n_buckets must be >= 1, got {self.n_buckets}")
        if self.salt_buckets < 1:
            raise ConfigError(f"salt_buckets must be >= 1, got {self.salt_buckets}")
        if self.hot_key_threshold < 1:
            raise ConfigError("hot_key_threshold must be >= 1")
        if {"lsn", "op"} & set(self.key_columns):
            raise ConfigError("lsn/op columns cannot be key columns")

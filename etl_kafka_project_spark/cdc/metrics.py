"""Per-epoch, per-partition lineage + throughput metrics.

The reference's only observability is a ``df.show()`` and log lines per
message (``pyspark_interface.py:69-70``, ``extractor.py:62-63``). The
engine persists one JSON lineage document per applied epoch **next to the
checkpoint** (north rule: "per-partition lineage + metrics persisted
alongside the checkpoint for crash-resume"):

    {stream_id, epoch, ts, events_in, keys, upserts, deletes,
     dead_letters: {reason: n}, touched_buckets, snapshot_version,
     wall_ms, events_per_sec, skipped,
     max_key_events, lsn_range: [min, max],
     per_bucket: [{_bucket, keys}, ...]}

Batch-global stats are observed on the merge's write job itself; the
per-bucket key counts come from the commit's file manifest.

Writes are atomic (tmp + rename) and keyed by epoch id, so a replayed
epoch after crash-resume overwrites its own document — lineage stays
exactly-once along with the data.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from etl_kafka_project_spark.cdc.merge import MergeStats
from etl_kafka_project_spark.minilake.table import _atomic_write_json


class LineageLog:
    """Append-point for per-epoch lineage documents (one file per epoch)."""

    def __init__(self, root: str, stream_id: str = "replay"):
        self.root = root
        self.stream_id = stream_id
        os.makedirs(root, exist_ok=True)

    def _path(self, epoch_id: int) -> str:
        return os.path.join(self.root, f"epoch-{epoch_id:010d}.json")

    def record(
        self,
        stats: MergeStats,
        dead_letters: dict[str, int] | None = None,
        skipped: bool = False,
        extra: dict | None = None,
    ) -> dict:
        epoch_id = stats.epoch_id if stats.epoch_id is not None else -1
        wall_s = stats.wall_ms / 1000.0
        doc = {
            "stream_id": self.stream_id,
            "epoch": epoch_id,
            "ts": time.time(),
            "events_in": stats.events_in,
            "keys": stats.keys,
            "upserts": stats.upserts,
            "deletes": stats.deletes,
            "dead_letters": dead_letters or {},
            "touched_buckets": stats.touched_buckets,
            "snapshot_version": stats.snapshot_version,
            "wall_ms": round(stats.wall_ms, 3),
            "events_per_sec": (
                round(stats.events_in / wall_s, 3) if wall_s > 0 and stats.events_in > 0 else None
            ),
            "skipped": skipped,
            "max_key_events": stats.max_key_events,
            "lsn_range": stats.lsn_range,
            "per_bucket": stats.per_bucket,
            **(extra or {}),
        }
        _atomic_write_json(self._path(epoch_id), doc)
        return doc

    def read_epoch(self, epoch_id: int) -> dict | None:
        """One epoch's document, or None if never recorded."""
        try:
            with open(self._path(epoch_id)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def read_all(self) -> list[dict]:
        docs = []
        for fn in sorted(os.listdir(self.root)):
            if fn.startswith("epoch-") and fn.endswith(".json"):
                with open(os.path.join(self.root, fn)) as f:
                    docs.append(json.load(f))
        return docs

    def as_dataframe(self, spark: SparkSession) -> DataFrame:
        """Lineage as a DataFrame for SQL over observability data
        (per-partition throughput = explode(per_bucket))."""
        return spark.read.json(os.path.join(self.root, "epoch-*.json"))

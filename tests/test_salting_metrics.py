"""Driver-side units that need no Spark session: write-split planning
(cdc/salting.py) and lineage documents (cdc/metrics.py)."""

import dataclasses
import json
import os

from etl_kafka_project_spark.cdc.merge import MergeStats
from etl_kafka_project_spark.cdc.metrics import LineageLog
from etl_kafka_project_spark.cdc.salting import plan_write_splits


def test_plan_write_splits_hot_bucket_fans_out():
    splits = plan_write_splits({0: 10_000_000, 1: 50_000, 2: 0}, target_file_rows=1_000_000)
    assert splits == {0: 10, 1: 1, 2: 1}


def test_plan_write_splits_clamps():
    splits = plan_write_splits({0: 10**12}, target_file_rows=1_000_000)
    assert splits[0] == 64
    assert plan_write_splits({0: 1}, target_file_rows=0)[0] >= 1


def _stats(epoch_id=7):
    return MergeStats(
        epoch_id=epoch_id, events_in=1000, keys=900, upserts=850, deletes=50,
        touched_buckets=8, wall_ms=1234.5,
        per_bucket=[{"_bucket": 0, "keys": 900, "deletes": 50, "events": 1000,
                     "min_lsn": 1, "max_lsn": 1000}],
        snapshot_version=3,
    )


def test_lineage_record_roundtrip(tmp_path):
    log = LineageLog(str(tmp_path / "lineage"), stream_id="s1")
    doc = log.record(_stats(), dead_letters={"bad_op": 2})
    assert doc["epoch"] == 7 and doc["events_per_sec"] is not None
    assert doc["dead_letters"] == {"bad_op": 2}

    # crash-retry overwrite: same epoch file, exactly one document
    log.record(dataclasses.replace(_stats(), skipped=True))
    docs = log.read_all()
    assert len(docs) == 1 and docs[0]["skipped"] is True

    # on-disk doc is plain JSON with per-bucket lineage
    raw = json.load(open(os.path.join(str(tmp_path / "lineage"), "epoch-0000000007.json")))
    assert raw["per_bucket"][0]["max_lsn"] == 1000


def test_adaptive_hot_key_salting(spark, tmp_path):
    """hot_key_threshold wiring: an epoch whose per-bucket stats reveal a
    key at/above the threshold flips the job to salted folds for later
    epochs, and the final state stays oracle-correct."""
    import pandas as pd

    from etl_kafka_project_spark.cdc.envelope import EVENT_SCHEMA
    from etl_kafka_project_spark.cdc.merge import create_code_table
    from etl_kafka_project_spark.cdc.stream import ReplayJob
    from etl_kafka_project_spark.config import EngineConfig

    cfg = EngineConfig(n_buckets=4, hot_key_threshold=50, salt_buckets=4)
    root = str(tmp_path / "table")
    create_code_table(spark, root, cfg)
    job = ReplayJob(
        table_root=root,
        stream_dir=str(tmp_path / "unused"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        config=cfg,
    )

    def batch(lsns, repo):
        n = len(lsns)
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "lsn": pd.array(lsns, dtype="Int64"),
                    "op": ["I"] + ["U"] * (n - 1),
                    "ts": pd.to_datetime(["2026-01-01"] * n),
                    "repo": [repo] * n,
                    "path": ["p"] * n,
                    "commit": [f"c{i}" for i in lsns],
                    "lang": ["rust"] * n,
                    "content": [f"body{i}" for i in lsns],
                }
            ),
            EVENT_SCHEMA,
        )

    # epoch 0: cold — 10 events on one key, below threshold
    job.apply_epoch(batch(range(10), "cold"), 0)
    assert job.salt is None
    # epoch 1: hot — 80 events on one key, >= threshold -> detector trips
    job.apply_epoch(batch(range(100, 180), "hot"), 1)
    assert job.salt == cfg.salt_buckets
    # epoch 2 folds salted; correctness unchanged
    job.apply_epoch(batch(range(200, 260), "hot"), 2)
    from etl_kafka_project_spark.minilake.table import LakeTable

    rows = {r["repo"]: r for r in LakeTable(spark, root).read().collect()}
    assert rows["hot"]["row_version"] == 140
    assert rows["hot"]["commit"] == "c259"
    assert rows["cold"]["row_version"] == 10

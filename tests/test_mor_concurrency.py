"""Concurrent writer vs compactor (round-3 verdict hardening item).

The MOR compactor commits by EXACT removed-file set (cdc/mor.py), which
makes compaction COMMUTE with a concurrent epoch appending delta files
to the same buckets: on ``SnapshotConflictError`` the compactor retries
against the advanced snapshot, keeping the concurrent files. A second
compactor folding the same inputs is the one case retry must NOT win —
the rewrite would duplicate every row — so the loser detects its inputs
gone and aborts, discarding its files.

Interleavings are injected DETERMINISTICALLY (no thread timing): the
racing commit is performed inside the victim's own ``commit`` call via
an instance-level wrapper, exactly at the optimistic-concurrency window.
"""

import pandas as pd
import pytest

from etl_kafka_project_spark.cdc.envelope import EVENT_SCHEMA
from etl_kafka_project_spark.cdc.merge import create_code_table, merge_events
from etl_kafka_project_spark.cdc.mor import compact_deltas
from etl_kafka_project_spark.cdc.oracle import replay_oracle
from etl_kafka_project_spark.config import EngineConfig
from etl_kafka_project_spark.minilake.table import LakeTable

CFG = EngineConfig(n_buckets=4)


def _events(lsns, repo="r0"):
    rows = [
        (lsn, "I", f"p{lsn % 5}.py", f"c{lsn}", "py", f"content-{lsn}")
        for lsn in lsns
    ]
    df = pd.DataFrame(rows, columns=["lsn", "op", "path", "commit", "lang", "content"])
    df["repo"] = repo
    df["ts"] = pd.Timestamp("2024-01-01", tz="UTC").as_unit("us")
    return df[["lsn", "op", "ts", "repo", "path", "commit", "lang", "content"]]


def _check_oracle(table, all_events):
    cols = [
        "repo", "path", "commit", "lang", "content",
        "content_sha256", "last_lsn", "row_version",
    ]
    got = (
        table.read().select(*cols).toPandas()
        .sort_values(["repo", "path"]).reset_index(drop=True)
    )
    want = replay_oracle(all_events).reindex(columns=cols)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_compactor_retries_past_concurrent_epoch(spark, tmp_path):
    """An epoch that commits INSIDE the compactor's commit window is
    kept: the compactor retries, and resolved state equals the oracle of
    all events (the late epoch's deltas resolve against the new base)."""
    table = create_code_table(spark, str(tmp_path / "t"), CFG)
    e0, e1 = _events(range(1, 21)), _events(range(21, 31))
    merge_events(table, spark.createDataFrame(e0, EVENT_SCHEMA), epoch=("s", 0))

    orig = table.commit
    hits = {"injected": 0, "calls": 0}

    def racing_commit(**kw):
        hits["calls"] += 1
        if kw.get("removed_files") and not hits["injected"]:
            hits["injected"] = 1
            # concurrent epoch lands first, via a SEPARATE handle
            merge_events(
                LakeTable(spark, table.root),
                spark.createDataFrame(e1, EVENT_SCHEMA),
                epoch=("s", 1),
            )
        return orig(**kw)

    table.commit = racing_commit
    try:
        res = compact_deltas(table, delta_share=0.0)
    finally:
        del table.commit
    assert hits["injected"] == 1
    assert res["compacted"] is True
    assert hits["calls"] >= 2  # first attempt conflicted, retry won
    snap = table.snapshot()
    # the concurrent epoch's delta files survived the compaction commit
    assert any(f.kind == "delta" for f in snap.files)
    assert snap.committed_epochs["s"] == [0, 1]
    _check_oracle(table, pd.concat([e0, e1], ignore_index=True))


def test_losing_compactor_aborts_without_duplicates(spark, tmp_path):
    """Two compactors over the same inputs: the loser sees its inputs
    removed, aborts with lost_race, cleans up its files, and the table
    holds each row exactly once."""
    table = create_code_table(spark, str(tmp_path / "t"), CFG)
    e0 = _events(range(1, 31))
    merge_events(table, spark.createDataFrame(e0, EVENT_SCHEMA), epoch=("s", 0))

    orig = table.commit
    hits = {"injected": 0}

    def racing_commit(**kw):
        if kw.get("removed_files") and not hits["injected"]:
            hits["injected"] = 1
            # a rival compactor folds the SAME inputs first
            compact_deltas(LakeTable(spark, table.root), delta_share=0.0)
        return orig(**kw)

    table.commit = racing_commit
    try:
        res = compact_deltas(table, delta_share=0.0)
    finally:
        del table.commit
    assert hits["injected"] == 1
    assert res["compacted"] is False and res["lost_race"] is True
    snap = table.snapshot()
    # winner's compaction stands alone: all-base manifest holding each of
    # the 5 keys exactly once (a doubled commit would double these rows)
    assert all(f.kind == "base" for f in snap.files)
    assert sum(f.rows for f in snap.files) == 5
    # loser's rewrite files were deleted from disk, not left orphaned
    import os

    manifest = {f.path for f in snap.files}
    current_on_disk = set()
    data_root = os.path.join(table.root, "data")
    for sub in os.listdir(data_root):
        for fn in os.listdir(os.path.join(data_root, sub)):
            current_on_disk.add(os.path.join("data", sub, fn))
    # disk may hold files of EARLIER snapshots (time travel), but every
    # base file written AFTER the winner's version would be the loser's
    orphans = current_on_disk - {
        f.path for v in range(snap.version + 1) for f in table.snapshot(v).files
    }
    assert orphans == set()
    _check_oracle(table, e0)


def test_crash_between_compaction_conflict_retries(spark, tmp_path):
    """Fault at the compaction commit: the first attempt loses the CAS
    to a concurrent epoch, and the process dies before the retry
    commits. The table holds both epochs and no compaction, so state
    equals the oracle, and the vacuum deletes the compactor's orphaned
    base files."""
    import os

    from etl_kafka_project_spark.cdc.compaction import expire_snapshots

    table = create_code_table(spark, str(tmp_path / "t"), CFG)
    e0, e1 = _events(range(1, 21)), _events(range(21, 31))
    merge_events(table, spark.createDataFrame(e0, EVENT_SCHEMA), epoch=("s", 0))

    orig = table.commit
    attempts: list = []

    def racing_then_crash(**kw):
        if kw.get("removed_files"):
            attempts.append(kw["new_files"])
            if len(attempts) == 1:
                merge_events(
                    LakeTable(spark, table.root),
                    spark.createDataFrame(e1, EVENT_SCHEMA),
                    epoch=("s", 1),
                )
            else:
                raise RuntimeError("injected crash between compaction retries")
        return orig(**kw)

    table.commit = racing_then_crash
    try:
        with pytest.raises(RuntimeError, match="injected"):
            compact_deltas(table, delta_share=0.0)
    finally:
        del table.commit
    assert len(attempts) == 2 and attempts[0] == attempts[1]
    orphans = {fe.path for fe in attempts[0]}
    snap = table.snapshot()
    assert snap.committed_epochs["s"] == [0, 1]
    assert not orphans & {f.path for f in snap.files}
    all_events = pd.concat([e0, e1], ignore_index=True)
    _check_oracle(table, all_events)

    assert all(os.path.exists(os.path.join(table.root, p)) for p in orphans)
    expire_snapshots(table, orphan_grace_sec=0)
    assert not any(os.path.exists(os.path.join(table.root, p)) for p in orphans)
    _check_oracle(table, all_events)

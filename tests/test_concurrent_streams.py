"""Two live streams replaying into ONE table: optimistic-concurrency
epoch commits with interleaved SnapshotConflictError retries.

Round-3 verdict #6: per-stream committed_epochs, namespaced changelogs,
and the commuting compactor were all tested individually, but nothing
drove two concurrent ReplayJobs whose epoch commits actually collide.
The deterministic test injects a conflict at the commit point and
asserts the retry re-merges from the fresh snapshot; the threaded test
runs two full replays concurrently and asserts both event sets land
exactly once.
"""

import os
import threading

import pandas as pd
import pytest

from etl_kafka_project_spark.cdc.envelope import EVENT_SCHEMA
from etl_kafka_project_spark.cdc.fixtures import StreamSpec, generate_stream
from etl_kafka_project_spark.cdc.merge import create_code_table
from etl_kafka_project_spark.cdc.metrics import LineageLog
from etl_kafka_project_spark.cdc.oracle import replay_oracle
from etl_kafka_project_spark.cdc.stream import ReplayJob
from etl_kafka_project_spark.config import EngineConfig
from etl_kafka_project_spark.minilake.table import LakeTable

CFG = EngineConfig(n_buckets=8)


def _job(tmp_path, stream_id, **kw):
    return ReplayJob(
        table_root=str(tmp_path / "table"),
        stream_dir=str(tmp_path / f"stream-{stream_id}"),
        checkpoint_dir=str(tmp_path / f"ckpt-{stream_id}"),
        config=CFG,
        stream_id=stream_id,
        **kw,
    )


def _stream(tmp_path, stream_id, n_events=300, n_segments=3, seed=7):
    """Generate a stream whose key space is namespaced by stream id (two
    binlog shards never write the same key — cross-shard key ownership
    is the partitioned-delivery contract)."""
    spec = StreamSpec(
        n_events=n_events, n_keys=60, n_segments=n_segments,
        min_lines=2, max_lines=3, seed=seed, dup_rate=0.0,
    )
    events, segs = generate_stream(str(tmp_path / f"stream-{stream_id}"), spec)
    events = events.copy()
    events["repo"] = stream_id + "/" + events["repo"]
    for seg in segs:
        pdf = pd.read_parquet(seg)
        pdf["repo"] = stream_id + "/" + pdf["repo"]
        pdf.to_parquet(seg)
    return events, sorted(segs)


def _read_segment(spark, seg):
    return spark.read.schema(EVENT_SCHEMA).parquet(seg)


def _final_state(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "table"))
    pdf = t.read().toPandas()
    return pdf.sort_values(["repo", "path"]).reset_index(drop=True)


def _compare(got, events_by_stream):
    want = (
        pd.concat([replay_oracle(ev) for ev in events_by_stream])
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    cols = sorted(set(got.columns) & set(want.columns))
    pd.testing.assert_frame_equal(got[cols], want[cols], check_dtype=False)


def test_injected_conflict_retries_and_lands(spark, tmp_path, monkeypatch):
    """Deterministic: the FIRST epoch-stamped commit of stream s1 loses
    the CAS to a ghost writer injected right before it; apply_epoch must
    retry (re-merge from the fresh snapshot, re-stamped delta files) and
    land the epoch exactly once."""
    ev, segs = _stream(tmp_path, "s1")
    create_code_table(spark, str(tmp_path / "table"), CFG)
    job = _job(tmp_path, "s1")

    orig = LakeTable.commit
    state = {"injected": False}

    def flaky_commit(self, expected_version, *a, **kw):
        if not state["injected"] and kw.get("epoch", (None,))[0] == "s1":
            state["injected"] = True
            # a concurrent writer lands an (epoch-only) commit first
            orig(self, expected_version, epoch=("ghost", 0))
        return orig(self, expected_version, *a, **kw)

    monkeypatch.setattr(LakeTable, "commit", flaky_commit)
    for i, seg in enumerate(segs):
        job.apply_epoch(_read_segment(spark, seg), i)
    monkeypatch.setattr(LakeTable, "commit", orig)

    assert state["injected"]
    assert all(not s.skipped for s in job.applied)
    docs = LineageLog(job.lineage_dir, "s1").read_all()
    assert any(d.get("phases", {}).get("commit_conflicts") for d in docs)

    _compare(_final_state(spark, tmp_path), [ev])

    # the losing attempt's re-stamped delta files were cleaned up: every
    # file on disk is referenced by the current snapshot
    t = LakeTable(spark, str(tmp_path / "table"))
    live = {f.path for f in t.snapshot().files}
    on_disk = set()
    for bdir in os.listdir(os.path.join(t.root, "data")):
        for fn in os.listdir(os.path.join(t.root, "data", bdir)):
            on_disk.add(f"data/{bdir}/{fn}")
    assert on_disk == live


def test_conflict_skip_preserves_winner_lsn_span(spark, tmp_path, monkeypatch):
    """A concurrent retry of the SAME stream wins epoch 1's commit; the
    loser takes the exactly-once skip branch. The skip must overwrite
    the winner's lineage doc WITHOUT erasing its lsn_span and must
    record skipped=true; a restarted job reads its applied intervals
    from the snapshot, so a verbatim re-delivery of the epoch passes the
    order guard."""
    ev, segs = _stream(tmp_path, "s1")
    create_code_table(spark, str(tmp_path / "table"), CFG)
    job = _job(tmp_path, "s1")
    winner = _job(tmp_path, "s1")  # same stream id, same lineage dir

    orig = LakeTable.commit
    state = {"injected": False}

    def flaky_commit(self, expected_version, *a, **kw):
        if not state["injected"] and kw.get("epoch", (None, None)) == ("s1", 1):
            state["injected"] = True
            # the concurrent retry lands THE SAME epoch first (full
            # merge + lineage record), then our CAS fails
            winner.apply_epoch(_read_segment(spark, segs[1]), 1)
        return orig(self, expected_version, *a, **kw)

    monkeypatch.setattr(LakeTable, "commit", flaky_commit)
    for i, seg in enumerate(segs):
        job.apply_epoch(_read_segment(spark, seg), i)
    monkeypatch.setattr(LakeTable, "commit", orig)
    assert state["injected"]

    # the loser skipped epoch 1 but its overwritten lineage doc keeps
    # the winner's span evidence and is marked skipped
    doc = LineageLog(job.lineage_dir, "s1").read_epoch(1)
    assert doc["skipped"] is True
    assert doc.get("lsn_span"), doc
    _compare(_final_state(spark, tmp_path), [ev])

    # epoch 1's feed dir holds exactly the winner's committed files: the
    # loser published nothing before its lost CAS
    table = LakeTable(spark, str(tmp_path / "table"))
    v1 = next(
        v
        for v in range(1, table.current_version() + 1)
        if table.snapshot_header(v).has_epoch("s1", 1)
    )
    added = {fe.path for fe in table.snapshot(v1).files} - {
        fe.path for fe in table.snapshot(v1 - 1).files
    }
    feed_dir = os.path.join(job.changelog_dir, "stream=s1", "epoch=1")
    assert added and set(os.listdir(feed_dir)) == {os.path.basename(p) for p in added}

    # restart: a fresh job reads its applied intervals from the
    # snapshot; a verbatim re-delivery of epoch 1's events (new epoch id) must
    # pass the order guard (lsns lie inside applied intervals), not
    # raise OutOfOrderDeliveryError
    job2 = _job(tmp_path, "s1")
    job2.apply_epoch(_read_segment(spark, segs[1]), 3)
    # all re-deliveries: the final state is unchanged (events_in is a
    # fold throughput stat, not a state-change count)
    _compare(_final_state(spark, tmp_path), [ev])


@pytest.mark.slow
def test_two_concurrent_replays_exactly_once(spark, tmp_path):
    """Two ReplayJobs (distinct streams, shared table) apply epochs from
    two threads with a barrier forcing every epoch pair to race. Both
    full event sets must land exactly once, whatever the interleaving."""
    ev_a, segs_a = _stream(tmp_path, "sA", seed=7)
    ev_b, segs_b = _stream(tmp_path, "sB", seed=19)
    create_code_table(spark, str(tmp_path / "table"), CFG)
    jobs = {"sA": _job(tmp_path, "sA"), "sB": _job(tmp_path, "sB")}
    # pre-plan batches so thread bodies only merge/commit
    batches = {
        "sA": [_read_segment(spark, s) for s in segs_a],
        "sB": [_read_segment(spark, s) for s in segs_b],
    }

    barrier = threading.Barrier(2, timeout=120)
    errors: list[BaseException] = []

    def run(stream_id):
        try:
            for i, b in enumerate(batches[stream_id]):
                barrier.wait()  # both streams enter each epoch together
                jobs[stream_id].apply_epoch(b, i)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)
            barrier.abort()

    threads = [threading.Thread(target=run, args=(s,)) for s in jobs]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors

    table = LakeTable(spark, str(tmp_path / "table"))
    committed = table.snapshot().committed_epochs
    assert sorted(committed.get("sA", [])) == [0, 1, 2]
    assert sorted(committed.get("sB", [])) == [0, 1, 2]

    _compare(_final_state(spark, tmp_path), [ev_a, ev_b])

    conflicts = sum(
        d.get("phases", {}).get("commit_conflicts", 0)
        for s in jobs
        for d in LineageLog(jobs[s].lineage_dir, s).read_all()
    )
    print(f"commit conflicts across both streams: {conflicts}")

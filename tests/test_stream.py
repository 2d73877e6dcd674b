"""Structured Streaming replay: end-to-end equivalence, exactly-once epoch
idempotence, kill-and-resume, dead-letter quarantine (SURVEY §5.2.1/4/6)."""

import os

import pandas as pd
import pytest

from etl_kafka_project_spark.cdc.envelope import EVENT_SCHEMA
from etl_kafka_project_spark.cdc.fixtures import StreamSpec, generate_stream, space_mtimes
from etl_kafka_project_spark.cdc.merge import create_code_table
from etl_kafka_project_spark.cdc.metrics import LineageLog
from etl_kafka_project_spark.cdc.oracle import replay_oracle
from etl_kafka_project_spark.cdc.stream import ReplayJob
from etl_kafka_project_spark.config import EngineConfig

CFG = EngineConfig(n_buckets=8)


def _final_state_pdf(table):
    cols = ["repo", "path", "commit", "lang", "content", "content_sha256", "last_lsn", "row_version"]
    return table.read().select(*cols).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)


def _job(tmp_path, config=CFG, **kw):
    return ReplayJob(
        table_root=str(tmp_path / "table"),
        stream_dir=str(tmp_path / "stream"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        config=config,
        **kw,
    )


def test_streaming_replay_matches_oracle(spark, tmp_path):
    spec = StreamSpec(n_events=1200, n_keys=150, n_segments=6, min_lines=2, max_lines=4)
    events, _ = generate_stream(str(tmp_path / "stream"), spec)
    create_code_table(spark, str(tmp_path / "table"), CFG)

    job = _job(tmp_path, max_files_per_trigger=2)
    stats = job.run(spark)
    assert len(stats) >= 3  # bounded triggers → multiple epochs
    assert all(not s.skipped for s in stats)

    got = _final_state_pdf(_open(spark, job))
    want = replay_oracle(events).reindex(columns=got.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # lineage: one doc per epoch, events_in sums to events incl. duplicates
    docs = LineageLog(job.lineage_dir, job.stream_id).read_all()
    assert len(docs) == len(stats)
    assert all(d["events_per_sec"] is not None for d in docs if d["events_in"])
    # merge sub-phase walls ride every applied epoch's doc
    merge_phases = {"merge_plan_build_s", "merge_write_job_s", "merge_commit_s"}
    for d in docs:
        assert merge_phases <= d["phases"].keys()
        assert all(d["phases"][k] >= 0 for k in merge_phases)
    # a clean replay quarantines nothing: no per-epoch dead-letter dir
    assert not os.path.exists(job.dead_letter_dir)


def _open(spark, job):
    from etl_kafka_project_spark.minilake.table import LakeTable

    return LakeTable(spark, job.table_root)


def test_epoch_replay_is_skipped(spark, tmp_path):
    """Crash-retry of a committed epoch must be a no-op (exactly-once)."""
    spec = StreamSpec(n_events=300, n_keys=40, n_segments=2, min_lines=2, max_lines=3)
    events, segs = generate_stream(str(tmp_path / "stream"), spec)
    create_code_table(spark, str(tmp_path / "table"), CFG)
    job = _job(tmp_path)

    batch = spark.read.schema(EVENT_SCHEMA).parquet(segs[0])
    s1 = job.apply_epoch(batch, 0)
    assert not s1.skipped
    before = _final_state_pdf(_open(spark, job))
    v_before = _open(spark, job).current_version()

    s2 = job.apply_epoch(batch, 0)  # simulated foreachBatch retry
    assert s2.skipped
    assert _open(spark, job).current_version() == v_before
    pd.testing.assert_frame_equal(before, _final_state_pdf(_open(spark, job)))

    # the committing snapshot's parent has expired: the skip cannot
    # re-derive the epoch's feed, records that, and does not fail
    from etl_kafka_project_spark.cdc.compaction import expire_snapshots

    feed_dir = os.path.join(job.changelog_dir, f"stream={job.stream_id}", "epoch=0")
    feed = sorted(os.listdir(feed_dir))
    expire_snapshots(_open(spark, job), keep_last=1)
    assert job.apply_epoch(batch, 0).skipped
    doc = LineageLog(job.lineage_dir, job.stream_id).read_epoch(0)
    assert doc["phases"]["changelog_snapshot_expired"] is True
    assert feed and sorted(os.listdir(feed_dir)) == feed


def test_kill_and_resume(spark, tmp_path):
    """Stop the stream mid-replay, restart from checkpoint: no lost or
    duplicated effects; final state equals the oracle."""
    spec = StreamSpec(n_events=1000, n_keys=120, n_segments=8, min_lines=2, max_lines=3)
    events, _ = generate_stream(str(tmp_path / "stream"), spec)
    create_code_table(spark, str(tmp_path / "table"), CFG)

    # phase 1: apply only part of the backlog, then "crash"
    job1 = _job(tmp_path, max_files_per_trigger=2)
    q = job1.start(spark, available_now=True)
    while q.isActive and len(job1.applied) < 2:
        q.awaitTermination(0.2)
    q.stop()
    q.awaitTermination()
    applied_before = len(job1.applied)
    assert 0 < applied_before  # partial progress happened

    # phase 2: fresh driver object, same checkpoint → resume
    job2 = _job(tmp_path, max_files_per_trigger=2)
    job2.run(spark)

    got = _final_state_pdf(_open(spark, job2))
    want = replay_oracle(events).reindex(columns=got.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # row_version is the per-key applied-event count: any double-apply
    # would inflate it past the oracle's — already covered by frame
    # equality, spelled out here for the kill-resume contract
    assert got["row_version"].sum() == want["row_version"].sum()


def test_dead_letters_quarantined(spark, tmp_path):
    spec = StreamSpec(n_events=200, n_keys=30, n_segments=1, dup_rate=0.0, min_lines=2, max_lines=3)
    events, _ = generate_stream(str(tmp_path / "stream"), spec)
    create_code_table(spark, str(tmp_path / "table"), CFG)
    job = _job(tmp_path)

    corrupt = pd.DataFrame(
        {
            "lsn": pd.array([None, 99991, 99992, 99993], dtype="Int64"),
            "op": ["I", "X", "I", "I"],
            "ts": pd.Timestamp("2024-01-01", tz="UTC"),
            "repo": ["r", "r", None, "r"],
            "path": ["p", "p", "p", "p"],
            "commit": ["c"] * 4,
            "lang": ["py"] * 4,
            "content": ["x", "x", "x", None],
        }
    )
    noisy = pd.concat([events, corrupt], ignore_index=True)
    stats = job.apply_epoch(spark.createDataFrame(noisy, EVENT_SCHEMA), 0)
    assert stats.events_in == len(events)

    dead = spark.read.parquet(os.path.join(job.dead_letter_dir, "epoch=0"))
    reasons = {r["_dead_reason"] for r in dead.select("_dead_reason").collect()}
    assert reasons == {"null_lsn", "bad_op", "null_key", "null_content"}
    assert dead.count() == 4

    got = _final_state_pdf(_open(spark, job))
    want = replay_oracle(events).reindex(columns=got.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_incompatible_column_dead_letters(spark, tmp_path):
    """A payload column arriving with an incompatible type (lang as long
    where the table stores string) must dead-letter its non-null carriers
    whole-row with reason ``incompatible_type:<col>`` and merge the rest
    with the column treated as absent — never a silent cast (string→int
    would null-fill, int→string would stringify). SURVEY §4.2 item 4."""
    import datetime

    from pyspark.sql import types as T

    create_code_table(spark, str(tmp_path / "table"), CFG)
    job = _job(tmp_path)
    ts = datetime.datetime(2024, 1, 1)
    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("commit", T.StringType()),
            T.StructField("lang", T.LongType()),  # table stores string
            T.StructField("content", T.StringType()),
        ]
    )
    rows = [
        (1, "I", ts, "r0", "a.py", "c1", 7, "body-a"),  # bad lang → dead
        (2, "I", ts, "r0", "b.py", "c2", None, "body-b"),  # null lang → applies
        (3, "U", ts, "r0", "c.py", None, 9, None),  # bad lang → dead
    ]
    stats = job.apply_epoch(spark.createDataFrame(rows, schema), 0)
    assert not stats.skipped

    # only the null-lang insert applied; lang never silently coerced
    state = _open(spark, job).read().toPandas()
    assert state["path"].tolist() == ["b.py"] and state["lang"].isna().all()
    # table schema unchanged: no incompatible ALTER ever commits
    assert (
        _open(spark, job).snapshot().schema["lang"].dataType == T.StringType()
    )

    dead = spark.read.parquet(os.path.join(job.dead_letter_dir, "epoch=0")).toPandas()
    assert sorted(dead["lsn"]) == [1, 3]
    assert set(dead["_dead_reason"]) == {"incompatible_type:lang"}
    docs = LineageLog(job.lineage_dir, job.stream_id).read_all()
    assert docs[-1]["dead_letters"] == {"incompatible_type:lang": 2}

    # steady state: the cached per-schema verdict quarantines epoch 1's
    # bad-lang update whole-row — its content must NOT half-apply
    rows2 = [(4, "U", ts, "r0", "b.py", None, 11, "body-b2")]
    job.apply_epoch(spark.createDataFrame(rows2, schema), 1)
    state2 = _open(spark, job).read().toPandas()
    assert state2["content"].tolist() == ["body-b"]
    dead2 = spark.read.parquet(os.path.join(job.dead_letter_dir, "epoch=1")).toPandas()
    assert dead2["lsn"].tolist() == [4]

    # crash-resume heal: quarantine lost → the retry rewrites it with
    # the incompatible rows included and still applies nothing (an
    # all-quarantined epoch folds empty, so no snapshot ever commits —
    # the retry is a natural no-op, same as an all-redelivered epoch)
    import shutil

    v_before = _open(spark, job).current_version()
    shutil.rmtree(os.path.join(job.dead_letter_dir, "epoch=1"))
    s3 = job.apply_epoch(spark.createDataFrame(rows2, schema), 1)
    assert s3.events_in == 0 and s3.keys == 0
    assert _open(spark, job).current_version() == v_before
    dead3 = spark.read.parquet(os.path.join(job.dead_letter_dir, "epoch=1")).toPandas()
    assert dead3["lsn"].tolist() == [4]
    assert set(dead3["_dead_reason"]) == {"incompatible_type:lang"}


def _dup_stream(tmp_path):
    """400 events in 2 segments + 20 of segment 0's events re-delivered
    verbatim as a third segment (the cross-epoch duplicate scenario)."""
    spec = StreamSpec(n_events=400, n_keys=60, n_segments=2, dup_rate=0.0,
                      shuffle_within_segment=False, min_lines=2, max_lines=3)
    events, segs = generate_stream(str(tmp_path / "stream"), spec)
    dup = pd.read_parquet(segs[0]).head(20)
    dup_path = str(tmp_path / "stream" / "segment-00002.parquet")
    dup.to_parquet(dup_path)
    # re-space ALL THREE mtimes: the dup is written after generate_stream
    # already spaced segs 0/1 five ms apart, so its natural mtime can land
    # BETWEEN them and the file source would deliver it as epoch 1
    space_mtimes(sorted(segs) + [dup_path])
    return events


@pytest.mark.parametrize("order_guard", ["error", "off"])
def test_watermarked_cross_epoch_dedup(spark, tmp_path, order_guard):
    """north star: dropDuplicates over watermarked state. A verbatim
    duplicate delivered in a LATER epoch (outside the per-batch fold's
    sight) is dropped inside the streaming graph by
    dropDuplicatesWithinWatermark, whatever the order guard's mode."""
    events = _dup_stream(tmp_path)
    create_code_table(spark, str(tmp_path / "table"), CFG)
    cfg = EngineConfig(n_buckets=CFG.n_buckets, order_guard=order_guard)
    job = _job(tmp_path, config=cfg, max_files_per_trigger=1, watermark="1 hour")
    stats = job.run(spark)
    # the stateful graph may append one trailing NO-DATA batch under
    # availableNow — Spark runs it to let the advanced watermark evict
    # state; it applies nothing
    assert len(stats) in (3, 4)
    assert all(s.events_in == 0 for s in stats[2:])  # the re-delivery applied nothing
    # ...committed nothing, and so published no feed dir
    feed = os.path.join(job.changelog_dir, f"stream={job.stream_id}")
    assert sorted(os.listdir(feed)) == ["epoch=0", "epoch=1"]

    got = _final_state_pdf(_open(spark, job))
    want = replay_oracle(events).reindex(columns=got.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def _restart_keeps_progress(spark, tmp_path, watermark):
    """Stream progress lives in the snapshot: a NEW job object resuming
    the same checkpoint, with the lineage dir deleted, still drops a
    duplicate segment delivered after the restart, and its order guard
    still sees the gap a skipped segment left."""
    import shutil

    from etl_kafka_project_spark.cdc.stream import OutOfOrderDeliveryError

    spec = StreamSpec(n_events=600, n_keys=60, n_segments=3, dup_rate=0.0,
                      shuffle_within_segment=False, min_lines=2, max_lines=3)
    events, segs = generate_stream(str(tmp_path / "stream"), spec)
    segs = sorted(segs)
    gap = shutil.move(segs[1], str(tmp_path / "late.parquet"))
    create_code_table(spark, str(tmp_path / "table"), CFG)

    # the stateful graph of a watermarked job may append one trailing
    # NO-DATA batch under availableNow; it applies nothing
    trailing = (0, 1) if watermark else (0,)
    job1 = _job(tmp_path, max_files_per_trigger=1, watermark=watermark)
    stats = job1.run(spark)
    assert len(stats) - 2 in trailing
    assert all(s.events_in for s in stats[:2])
    assert all(s.events_in == 0 for s in stats[2:])
    shutil.rmtree(job1.lineage_dir)

    # "restart": fresh driver-side job state, same checkpoint; the dupe
    # arrives only now, so Spark's offsets alone can't skip it
    dup = pd.read_parquet(segs[0]).head(20)
    dup.to_parquet(str(tmp_path / "stream" / "segment-00003.parquet"))
    job2 = _job(tmp_path, max_files_per_trigger=1, watermark=watermark)
    stats = job2.run(spark)
    assert len(stats) - 1 in trailing
    assert all(s.events_in == 0 for s in stats)
    # without a watermark the merge drops the re-delivery; with one, the
    # state store already did
    dropped = sum(d["redeliveries_dropped"] for d in LineageLog(job2.lineage_dir).read_all())
    assert dropped == (0 if watermark else 20)

    late = pd.read_parquet(gap)
    got = _final_state_pdf(_open(spark, job2))
    want = replay_oracle(events[~events.lsn.isin(late.lsn)]).reindex(columns=got.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    with pytest.raises(OutOfOrderDeliveryError):
        job2.apply_epoch(spark.read.schema(EVENT_SCHEMA).parquet(gap), 99)


def test_watermarked_hwm_survives_restart(spark, tmp_path):
    _restart_keeps_progress(spark, tmp_path, "1 hour")


def test_hwm_survives_restart_without_lineage(spark, tmp_path):
    _restart_keeps_progress(spark, tmp_path, None)


def test_expiry_housekeeping_cadence(spark, tmp_path):
    """expire_snapshots on the ReplayJob cadence: history past the
    retention window vanishes while the replay stays correct."""
    spec = StreamSpec(n_events=600, n_keys=80, n_segments=6, min_lines=2, max_lines=3)
    events, _ = generate_stream(str(tmp_path / "stream"), spec)
    create_code_table(spark, str(tmp_path / "table"), CFG)
    cfg = EngineConfig(
        n_buckets=CFG.n_buckets, expire_snapshots_every_epochs=2, expire_keep_last=2
    )
    job = ReplayJob(
        table_root=str(tmp_path / "table"),
        stream_dir=str(tmp_path / "stream"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        config=cfg,
        max_files_per_trigger=1,
    )
    stats = job.run(spark)
    assert len(stats) == 6

    table = _open(spark, job)
    current = table.current_version()
    snap_dir = os.path.join(str(tmp_path / "table"), "snapshots")
    versions = sorted(
        int(f[1:].split(".")[0]) for f in os.listdir(snap_dir)  # v{N}.json
    )
    # the newest expire pass ran at the last applied epoch that hit the
    # cadence; everything older than its keep_last=2 window is gone
    assert versions[-1] == current
    assert len(versions) <= 2 + 2  # keep window + epochs applied since

    docs = LineageLog(job.lineage_dir, job.stream_id).read_all()
    assert any(d.get("phases", {}).get("expire_snapshots_removed") for d in docs)

    got = _final_state_pdf(table)
    want = replay_oracle(events).reindex(columns=got.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_order_guard_trips_on_out_of_order_first_delivery(spark, tmp_path):
    """Delivery-contract guard: a FIRST delivery arriving below the
    applied high-water mark (e.g. a file source listing two
    same-millisecond segments out of log order) fails loud instead of
    silently mis-counting the late events as re-deliveries; verbatim
    re-delivery of an applied segment still passes, and
    order_guard='warn' records the violation without raising."""
    from etl_kafka_project_spark.cdc.stream import OutOfOrderDeliveryError

    spec = StreamSpec(n_events=400, n_keys=60, n_segments=4, min_lines=2, max_lines=3)
    _, segs = generate_stream(str(tmp_path / "stream"), spec)
    create_code_table(spark, str(tmp_path / "table"), CFG)
    read = lambda p: spark.read.schema(EVENT_SCHEMA).parquet(p)

    job = _job(tmp_path)
    job.apply_epoch(read(segs[0]), 0)
    job.apply_epoch(read(segs[2]), 1)  # skips segment 1: creates a gap
    with pytest.raises(OutOfOrderDeliveryError):
        job.apply_epoch(read(segs[1]), 2)  # gap-filling first delivery
    # verbatim re-delivery lies inside applied intervals — no trip
    job.apply_epoch(read(segs[0]), 3)
    # the violation is in the epoch's lineage doc either way
    doc = LineageLog(job.lineage_dir, job.stream_id).read_epoch(2)
    assert doc["phases"]["order_violation"][0] <= doc["phases"]["order_violation"][1]

    # warn mode: same shape records but does not raise
    cfg = EngineConfig(n_buckets=CFG.n_buckets, order_guard="warn")
    create_code_table(spark, str(tmp_path / "table2"), cfg)
    job2 = ReplayJob(
        table_root=str(tmp_path / "table2"),
        stream_dir=str(tmp_path / "stream"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
        config=cfg,
    )
    job2.apply_epoch(read(segs[0]), 0)
    job2.apply_epoch(read(segs[2]), 1)
    job2.apply_epoch(read(segs[1]), 2)
    doc = LineageLog(job2.lineage_dir, job2.stream_id).read_epoch(2)
    assert "order_violation" in doc["phases"]

    # a fresh job reads the intervals from the snapshot on resume:
    # re-delivery of every applied segment still passes the guard
    job3 = ReplayJob(
        table_root=str(tmp_path / "table2"),
        stream_dir=str(tmp_path / "stream"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
        config=cfg,
    )
    job3.apply_epoch(read(segs[2]), 3)
    doc = LineageLog(job3.lineage_dir, job3.stream_id).read_epoch(3)
    assert "order_violation" not in doc["phases"]


def test_crash_after_commit_before_lineage_record(spark, tmp_path, monkeypatch):
    """Fault at the "after CAS commit" boundary: epoch 1's snapshot
    commits, then the process dies before its lineage doc is written. A
    fresh job resuming the same checkpoint skips the epoch and records
    its lsn_span from the batch; a later verbatim re-delivery passes
    the order guard and the final state matches the oracle."""
    spec = StreamSpec(n_events=400, n_keys=60, n_segments=4, min_lines=2, max_lines=3)
    events, segs = generate_stream(str(tmp_path / "stream"), spec)
    segs = sorted(segs)
    create_code_table(spark, str(tmp_path / "table"), CFG)
    read = lambda p: spark.read.schema(EVENT_SCHEMA).parquet(p)

    orig = LineageLog.record
    crashed = []

    def crash_once(self, stats, *a, **kw):
        if stats.epoch_id == 1 and not crashed:
            crashed.append(1)
            raise RuntimeError("injected crash before the lineage record")
        return orig(self, stats, *a, **kw)

    monkeypatch.setattr(LineageLog, "record", crash_once)
    job = _job(tmp_path)
    job.apply_epoch(read(segs[0]), 0)
    with pytest.raises(RuntimeError, match="injected"):
        job.apply_epoch(read(segs[1]), 1)
    lineage = LineageLog(job.lineage_dir, job.stream_id)
    assert lineage.read_epoch(1) is None
    assert _open(spark, job).snapshot().has_epoch(job.stream_id, 1)

    # restart: fresh driver-side state; Spark retries epoch 1 with the
    # same batch
    job2 = _job(tmp_path)
    assert job2.apply_epoch(read(segs[1]), 1).skipped
    doc = lineage.read_epoch(1)
    seg1 = pd.read_parquet(segs[1])
    assert doc["skipped"] is True
    assert doc["lsn_span"] == [int(seg1.lsn.min()), int(seg1.lsn.max())]

    job2.apply_epoch(read(segs[2]), 2)
    job2.apply_epoch(read(segs[3]), 3)
    # a second restart reads the intervals from the snapshot; the
    # verbatim re-delivery of segment 1 lies inside them
    job3 = _job(tmp_path)
    job3.apply_epoch(read(segs[1]), 4)

    got = _final_state_pdf(_open(spark, job3))
    want = replay_oracle(events).reindex(columns=got.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def _committed_feed_files(table, stream_id, epoch_id) -> set[str]:
    """Basenames of the delta files added by the snapshot that committed
    the epoch: the one definition of that epoch's change feed."""
    v = next(
        v
        for v in range(1, table.current_version() + 1)
        if table.snapshot_header(v).has_epoch(stream_id, epoch_id)
    )
    added = {fe.path for fe in table.snapshot(v).files} - {
        fe.path for fe in table.snapshot(v - 1).files
    }
    assert added
    return {os.path.basename(p) for p in added}


def _assert_feed_reproduces_table(spark, job, got):
    from etl_kafka_project_spark import serving

    payload = ["commit", "lang", "content"]
    feed = serving.read_changelog(spark, job.table_root)
    applied = serving.apply_changelog(feed, ["repo", "path"], payload)
    cols = ["repo", "path", *payload, "last_lsn"]
    pd.testing.assert_frame_equal(
        applied.toPandas()[cols].sort_values(["repo", "path"]).reset_index(drop=True),
        got[cols],
        check_dtype=False,
    )


def test_crash_after_delta_write_before_snapshot_cas(spark, tmp_path, monkeypatch):
    """Fault at the "delta files written, snapshot not committed"
    boundary: epoch 1's delta files are written, then the process dies
    before the snapshot CAS. The feed is published only after the CAS,
    so the epoch has no feed dir and no feed rows. A fresh job resuming
    the checkpoint re-merges the epoch and publishes its feed from its
    own committed files; the crashed attempt's delta files are orphans
    that the vacuum removes, and neither the table nor the feed counts
    them."""
    from etl_kafka_project_spark import serving
    from etl_kafka_project_spark.cdc.compaction import expire_snapshots
    from etl_kafka_project_spark.minilake.table import LakeTable

    spec = StreamSpec(n_events=400, n_keys=60, n_segments=4, min_lines=2, max_lines=3)
    events, segs = generate_stream(str(tmp_path / "stream"), spec)
    segs = sorted(segs)
    create_code_table(spark, str(tmp_path / "table"), CFG)
    read = lambda p: spark.read.schema(EVENT_SCHEMA).parquet(p)

    orig = LakeTable.commit
    crashed: list = []  # the crashed attempt's delta file entries

    def crash_once(self, *a, **kw):
        if kw.get("epoch") == ("replay", 1) and not crashed:
            crashed.extend(kw["new_files"])
            raise RuntimeError("injected crash before the snapshot CAS")
        return orig(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "commit", crash_once)
    job = _job(tmp_path)
    job.apply_epoch(read(segs[0]), 0)
    with pytest.raises(RuntimeError, match="injected"):
        job.apply_epoch(read(segs[1]), 1)
    table = _open(spark, job)
    assert not table.snapshot_header().has_epoch(job.stream_id, 1)
    epoch_dir = os.path.join(job.changelog_dir, f"stream={job.stream_id}", "epoch=1")
    orphans = {fe.path for fe in crashed}
    assert orphans and not os.path.exists(epoch_dir)
    feed = serving.read_changelog(spark, job.table_root)
    assert feed.filter(feed.epoch == 1).count() == 0

    # restart: fresh driver-side state; Spark retries epoch 1 with the
    # same batch, which is not committed and so applies in full
    job2 = _job(tmp_path)
    assert not job2.apply_epoch(read(segs[1]), 1).skipped
    job2.apply_epoch(read(segs[2]), 2)
    job2.apply_epoch(read(segs[3]), 3)

    got = _final_state_pdf(table)
    want = replay_oracle(events).reindex(columns=got.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # epoch 1's feed dir holds exactly the files its committed snapshot added
    added = _committed_feed_files(table, job.stream_id, 1)
    assert set(os.listdir(epoch_dir)) == added
    assert not added & {os.path.basename(p) for p in orphans}

    # the feed, applied, reproduces the table
    _assert_feed_reproduces_table(spark, job, got)

    # the crashed attempt's delta files are orphans: the vacuum deletes them
    assert all(os.path.exists(os.path.join(table.root, p)) for p in orphans)
    expire_snapshots(table, orphan_grace_sec=0)
    assert not any(os.path.exists(os.path.join(table.root, p)) for p in orphans)


#: the four envelope-invalid rows of test_dead_letters_quarantined, one
#: per dead-letter reason
_CORRUPT = pd.DataFrame(
    {
        "lsn": pd.array([None, 99991, 99992, 99993], dtype="Int64"),
        "op": ["I", "X", "I", "I"],
        "ts": pd.Timestamp("2024-01-01", tz="UTC"),
        "repo": ["r", "r", None, "r"],
        "path": ["p", "p", "p", "p"],
        "commit": ["c"] * 4,
        "lang": ["py"] * 4,
        "content": ["x", "x", "x", None],
    }
)


@pytest.mark.parametrize("step", ["feed_publish", "quarantine", "compaction_commit"])
def test_crash_after_cas_resumes_by_skip(spark, tmp_path, monkeypatch, step):
    """Fault matrix after the snapshot CAS: epoch 1 (a segment plus the
    four corrupt rows) commits, then the process dies in one post-commit
    step — in the feed publish before its first link, in the dead-letter
    quarantine write, or in the compaction commit. A fresh job resuming
    the checkpoint finds the epoch committed, skips it, and finishes
    every step by running the same code again: the feed dir
    holds exactly the files the committing snapshot added, the
    quarantine holds all four reasons and the lineage doc counts them,
    and the feed, applied, reproduces the table and the oracle."""
    from etl_kafka_project_spark.minilake.table import LakeTable

    spec = StreamSpec(n_events=400, n_keys=60, n_segments=4, min_lines=2, max_lines=3)
    events, segs = generate_stream(str(tmp_path / "stream"), spec)
    segs = sorted(segs)
    create_code_table(spark, str(tmp_path / "table"), CFG)
    read = lambda p: spark.read.schema(EVENT_SCHEMA).parquet(p)
    noisy = lambda: read(segs[1]).unionByName(spark.createDataFrame(_CORRUPT, EVENT_SCHEMA))
    crashed: list = []

    def crash(*_):
        crashed.append(step)
        raise RuntimeError(f"injected crash in {step}")

    if step == "feed_publish":
        link = os.link
        monkeypatch.setattr(
            os,
            "link",
            lambda src, dst: (
                crash() if f"{os.sep}epoch=1{os.sep}" in dst and not crashed else link(src, dst)
            ),
        )
    elif step == "quarantine":
        orig_q = ReplayJob._quarantined
        monkeypatch.setattr(
            ReplayJob,
            "_quarantined",
            lambda self, *a: crash() if not crashed else orig_q(self, *a),
        )
    else:
        # compaction due on the second applied epoch, i.e. epoch 1
        monkeypatch.setattr(EngineConfig, "compact_every_epochs", 2)
        orig_c = LakeTable.commit
        monkeypatch.setattr(
            LakeTable,
            "commit",
            lambda self, *a, **kw: (
                crash() if kw.get("removed_files") and not crashed else orig_c(self, *a, **kw)
            ),
        )

    job = _job(tmp_path)
    job.apply_epoch(read(segs[0]), 0)
    with pytest.raises(RuntimeError, match="injected"):
        job.apply_epoch(noisy(), 1)
    table = _open(spark, job)
    lineage = LineageLog(job.lineage_dir, job.stream_id)
    assert crashed == [step]
    assert table.snapshot_header().has_epoch(job.stream_id, 1)
    assert lineage.read_epoch(1) is None
    epoch_dir = os.path.join(job.changelog_dir, f"stream={job.stream_id}", "epoch=1")
    added = _committed_feed_files(table, job.stream_id, 1)
    if step == "feed_publish":
        assert os.listdir(epoch_dir) == []  # the publish died before its first link

    # restart: fresh driver-side state; Spark retries epoch 1 with the
    # same batch, which is committed and so skips
    job2 = _job(tmp_path)
    assert job2.apply_epoch(noisy(), 1).skipped
    assert set(os.listdir(epoch_dir)) == added

    reasons = {"null_lsn", "bad_op", "null_key", "null_content"}
    dead = spark.read.parquet(os.path.join(job.dead_letter_dir, "epoch=1"))
    assert {r["_dead_reason"] for r in dead.select("_dead_reason").collect()} == reasons
    assert dead.count() == 4
    doc = lineage.read_epoch(1)
    seg1 = pd.read_parquet(segs[1])
    assert doc["skipped"] is True
    assert doc["dead_letters"] == {r: 1 for r in reasons}
    assert doc["lsn_span"] == [int(seg1.lsn.min()), int(seg1.lsn.max())]

    job2.apply_epoch(read(segs[2]), 2)
    job2.apply_epoch(read(segs[3]), 3)
    got = _final_state_pdf(table)
    want = replay_oracle(events).reindex(columns=got.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    _assert_feed_reproduces_table(spark, job, got)


def test_order_guard_catches_gap_event_above_an_applied_min(spark, tmp_path):
    """A batch whose minimum lsn lies inside an applied interval (a
    re-delivery) but which also carries a late FIRST delivery inside a
    gap: the merge drops the re-delivered events before the fold, the
    one event left sits below the high-water mark, and the guard trips.
    The late event's lsn joins the applied intervals; the rest of the
    gap stays open."""
    from etl_kafka_project_spark.cdc.stream import OutOfOrderDeliveryError

    spec = StreamSpec(n_events=400, n_keys=60, n_segments=4, min_lines=2, max_lines=3)
    _, segs = generate_stream(str(tmp_path / "stream"), spec)
    segs = sorted(segs)
    create_code_table(spark, str(tmp_path / "table"), CFG)
    read = lambda p: spark.read.schema(EVENT_SCHEMA).parquet(p)

    job = _job(tmp_path)  # order_guard="error"
    job.apply_epoch(read(segs[0]), 0)
    job.apply_epoch(read(segs[2]), 1)  # segment 1's lsns are now a gap
    seg0, seg1, seg2 = (pd.read_parquet(s) for s in segs[:3])
    late = int(seg1.lsn.min())
    assert seg0.lsn.max() < late < seg2.lsn.min()
    mixed = read(segs[0]).unionByName(read(segs[1]).filter(f"lsn = {late}"))
    with pytest.raises(OutOfOrderDeliveryError):
        job.apply_epoch(mixed, 2)

    doc = LineageLog(job.lineage_dir, job.stream_id).read_epoch(2)
    assert doc["lsn_span"] == [int(seg0.lsn.min()), late]
    assert doc["phases"]["order_violation"] == [late, int(seg2.lsn.max()), 1]
    assert doc["redeliveries_dropped"] == len(seg0)
    assert doc["events_in"] == 1
    assert _open(spark, job).snapshot_header().lsn_intervals[job.stream_id] == [
        [int(seg0.lsn.min()), late], [int(seg2.lsn.min()), int(seg2.lsn.max())],
    ]


@pytest.mark.parametrize("hole", ["bad_op", "incompatible_type"])
def test_order_guard_sees_gap_below_a_span_holed_by_a_dead_letter(spark, tmp_path, hole):
    """A segment delivered before its predecessor, with one dead letter
    inside its lsn span: the dead letter's lsn was delivered, so the
    span still counts as dense and the gap below it stays open. The
    predecessor's late first delivery then trips the guard; none of its
    events is taken for a re-delivery."""
    from pyspark.sql import functions as F

    from etl_kafka_project_spark.cdc.stream import OutOfOrderDeliveryError

    spec = StreamSpec(n_events=300, n_keys=60, n_segments=3, dup_rate=0.0,
                      min_lines=2, max_lines=3)
    _, segs = generate_stream(str(tmp_path / "stream"), spec)
    segs = sorted(segs)
    create_code_table(spark, str(tmp_path / "table"), CFG)
    read = lambda p: spark.read.schema(EVENT_SCHEMA).parquet(p)
    seg0, seg1, seg2 = (pd.read_parquet(s) for s in segs)
    bad = F.col("lsn") == int(seg2.lsn.min()) + 5
    holed = read(segs[2])
    if hole == "bad_op":
        holed = holed.withColumn("op", F.when(bad, F.lit("X")).otherwise(F.col("op")))
    else:  # a long in the string column `lang`, on that row only
        holed = holed.withColumn("lang", F.when(bad, F.lit(7)).cast("long"))

    job = _job(tmp_path)  # order_guard="error"
    job.apply_epoch(read(segs[0]), 0)
    assert job.apply_epoch(holed, 1).events_in == len(seg2) - 1
    assert _open(spark, job).snapshot_header().lsn_intervals[job.stream_id] == [
        [int(seg0.lsn.min()), int(seg0.lsn.max())],
        [int(seg2.lsn.min()), int(seg2.lsn.max())],
    ]
    with pytest.raises(OutOfOrderDeliveryError):
        job.apply_epoch(read(segs[1]), 2)

    doc = LineageLog(job.lineage_dir, job.stream_id).read_epoch(2)
    assert doc["redeliveries_dropped"] == 0
    assert doc["events_in"] == len(seg1)
    assert doc["phases"]["order_violation"] == [
        int(seg1.lsn.min()), int(seg2.lsn.max()), len(seg1),
    ]


def test_crash_after_lineage_record_before_order_guard_raises(spark, tmp_path, monkeypatch):
    """Fault between the lineage record and the order guard's raise: the
    out-of-order epoch 2 commits and its doc records the violation, then
    the process dies. A fresh job retrying the epoch skips it without
    raising; the doc it rewrites keeps ``order_violation``, and the state
    is the committed snapshot's."""
    spec = StreamSpec(n_events=400, n_keys=60, n_segments=4, min_lines=2, max_lines=3)
    _, segs = generate_stream(str(tmp_path / "stream"), spec)
    segs = sorted(segs)
    create_code_table(spark, str(tmp_path / "table"), CFG)
    read = lambda p: spark.read.schema(EVENT_SCHEMA).parquet(p)

    orig = LineageLog.record
    crashed = []

    def crash_after(self, stats, *a, **kw):
        doc = orig(self, stats, *a, **kw)
        if stats.epoch_id == 2 and not crashed:
            crashed.append(1)
            raise RuntimeError("injected crash after the lineage record")
        return doc

    monkeypatch.setattr(LineageLog, "record", crash_after)
    job = _job(tmp_path)
    job.apply_epoch(read(segs[0]), 0)
    job.apply_epoch(read(segs[2]), 1)
    with pytest.raises(RuntimeError, match="injected"):
        job.apply_epoch(read(segs[1]), 2)  # gap-filling first delivery
    table = _open(spark, job)
    assert table.snapshot_header().has_epoch(job.stream_id, 2)
    lineage = LineageLog(job.lineage_dir, job.stream_id)
    violation = lineage.read_epoch(2)["phases"]["order_violation"]
    version, committed = table.current_version(), _final_state_pdf(table)

    job2 = _job(tmp_path)
    assert job2.apply_epoch(read(segs[1]), 2).skipped
    doc = lineage.read_epoch(2)
    assert doc["skipped"] is True
    assert doc["phases"]["order_violation"] == violation
    assert table.current_version() == version
    pd.testing.assert_frame_equal(_final_state_pdf(table), committed)


def test_rate_controlled_continuous_tail(spark, tmp_path):
    """T8: a processingTime-triggered CONTINUOUS tail (available_now=False)
    picks up segments that arrive over time and merges them correctly —
    the reference's EXTRACT_INTERVAL polling loop (config.py:13) as a
    rate-controlled Structured Streaming trigger."""
    import shutil
    import time

    spec = StreamSpec(n_events=900, n_keys=120, n_segments=6, min_lines=2, max_lines=3)
    events, segs = generate_stream(str(tmp_path / "staging"), spec)
    os.makedirs(str(tmp_path / "stream"))
    create_code_table(spark, str(tmp_path / "table"), CFG)

    job = _job(tmp_path, processing_interval="1 seconds")
    segs = sorted(segs)
    # half the backlog exists when the tail starts... (mtimes re-spaced:
    # a tight copy loop can land two segments in the same millisecond,
    # and the file source breaks mtime ties in arbitrary listing order —
    # an out-of-order delivery the engine's contract forbids)
    backlog = []
    for s in segs[:3]:
        backlog.append(shutil.copy(s, str(tmp_path / "stream")))
    space_mtimes(backlog)
    q = job.start(spark, available_now=False)
    try:
        deadline = time.time() + 60
        while not job.applied and time.time() < deadline:
            time.sleep(0.5)
        assert job.applied, "tail never applied the initial backlog"
        # ...the rest arrives late, while the query is running
        for s in segs[3:]:
            shutil.copy(s, str(tmp_path / "stream"))
            time.sleep(0.3)
        want = replay_oracle(events).reindex(
            columns=["repo", "path", "commit", "lang", "content",
                     "content_sha256", "last_lsn", "row_version"]
        )
        while time.time() < deadline:
            applied_events = sum(s.events_in for s in job.applied if not s.skipped)
            if applied_events >= events.lsn.nunique():
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert q.exception() is None
    assert len([s for s in job.applied if not s.skipped]) >= 2

    got = _final_state_pdf(_open(spark, job))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # the trigger really was processingTime (not one availableNow drain):
    # epochs were applied across distinct trigger firings
    docs = LineageLog(job.lineage_dir, job.stream_id).read_all()
    assert len(docs) == len(job.applied)


def test_steady_epoch_runs_two_jobs_and_few_delta_files(spark, tmp_path):
    """A steady epoch (changelog on, no dead letters, no compaction) is
    the fold exchange plus the delta write: exactly 2 Spark jobs. Its
    delta files come straight from the fold's reducers, so their count
    is bounded by the reducer count, not by the touched buckets."""
    from etl_kafka_project_spark.minilake.table import LakeTable

    spec = StreamSpec(n_events=3000, n_keys=600, n_segments=3, min_lines=2, max_lines=4)
    _, segs = generate_stream(str(tmp_path / "stream"), spec)
    cfg = EngineConfig(n_buckets=32)
    create_code_table(spark, str(tmp_path / "table"), cfg)
    job = _job(tmp_path, config=cfg)
    assert job.emit_changelog
    table = LakeTable(spark, job.table_root)
    sc = spark.sparkContext
    reducers = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def delta_paths() -> set[str]:
        return {f.path for f in table.snapshot().files if f.kind == "delta"}

    for epoch, seg in enumerate(sorted(segs)):
        batch = spark.read.schema(EVENT_SCHEMA).parquet(seg)
        before = delta_paths()
        group = f"steady-epoch-{tmp_path.name}-{epoch}"
        sc.setJobGroup(group, "steady epoch")
        try:
            stats = job.apply_epoch(batch, epoch)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert not stats.skipped and stats.touched_buckets == 32
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
        assert 1 <= len(delta_paths() - before) <= reducers < stats.touched_buckets

"""minilake LakeTable: snapshots, atomic commit, bucket pruning, evolution."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_kafka_project_spark.minilake.table import LakeTable, SnapshotConflictError

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("n", T.IntegerType(), True),
    ]
)


def _mk(spark, root):
    return LakeTable.create(spark, root, SCHEMA, key_columns=["repo", "path"], n_buckets=4)


def _superseded(t, files):
    """``(path, bucket)`` entries of the current files in the buckets
    ``files`` rewrite (a commit removes entries, not paths)."""
    buckets = {f.bucket for f in files}
    return {(f.path, f.bucket) for f in t.snapshot().files if f.bucket in buckets}


def test_create_empty_and_read(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    assert t.current_version() == 0
    assert t.read().count() == 0
    assert t.read().schema == SCHEMA


def test_write_commit_read_roundtrip(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    df = spark.createDataFrame([("r1", "a", 1), ("r2", "b", 2)], SCHEMA)
    files = t.write_data_files(df.withColumn("_bucket", t.bucket_expr()))
    snap = t.commit(0, new_files=files)
    assert snap.version == 1
    got = {(r.repo, r.path, r.n) for r in t.read().collect()}
    assert got == {("r1", "a", 1), ("r2", "b", 2)}


def test_snapshot_header_is_full_metadata_without_files(spark, tmp_table_dir):
    """The O(1) header read carries the same version/schema/epochs as
    the full snapshot but materializes no file entries."""
    t = _mk(spark, tmp_table_dir)
    df = spark.createDataFrame([("r1", "a", 1), ("r2", "b", 2)], SCHEMA)
    files = t.write_data_files(df.withColumn("_bucket", t.bucket_expr()))
    t.commit(0, new_files=files, epoch=("s", 7))
    full, head = t.snapshot(), t.snapshot_header()
    assert head.version == full.version
    assert head.schema == full.schema
    assert head.committed_epochs == full.committed_epochs
    assert head.files == () and len(full.files) > 0


def test_bucket_pruning_reads_subset(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    rows = [(f"r{i}", f"p{i}", i) for i in range(20)]
    df = spark.createDataFrame(rows, SCHEMA)
    files = t.write_data_files(df.withColumn("_bucket", t.bucket_expr()))
    t.commit(0, new_files=files)
    # bucket of one known key
    b = (
        spark.createDataFrame([("r3", "p3", 3)], SCHEMA)
        .select(t.bucket_expr().alias("b"))
        .collect()[0]["b"]
    )
    sub = t.read(buckets={b})
    keys = {(r.repo, r.path) for r in sub.collect()}
    assert ("r3", "p3") in keys
    assert len(keys) < 20  # actually pruned


def test_optimistic_concurrency(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    with pytest.raises(SnapshotConflictError):
        t.commit(expected_version=5)


def test_epoch_idempotence_bookkeeping(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.commit(0, epoch=("s1", 0))
    assert t.snapshot().has_epoch("s1", 0)
    assert not t.snapshot().has_epoch("s1", 1)
    with pytest.raises(SnapshotConflictError):
        t.commit(1, epoch=("s1", 0))


def test_record_span_bridges_only_gaps_its_holes_cover():
    from etl_kafka_project_spark.minilake.table import record_span

    top = [[1, 100]]
    assert record_span(top, 101, 200, 100) == [[1, 200]]  # adjacent
    assert record_span(top, 201, 300, 100) == [[1, 100], [201, 300]]  # dense: gap kept
    # 50 of 100 lsns delivered: a gap of 50 is spacing, one of 51 is not
    assert record_span(top, 151, 250, 50) == [[1, 250]]
    assert record_span(top, 152, 251, 50) == [[1, 100], [152, 251]]
    assert record_span([], 5, 9, 1) == [[5, 9]]


def test_snapshot_without_lsn_intervals_fails_clearly(spark, tmp_table_dir):
    import json
    import os

    _mk(spark, tmp_table_dir)
    path = os.path.join(tmp_table_dir, "snapshots", "v0.json")
    with open(path) as f:
        d = json.load(f)
    del d["lsn_intervals"]
    with open(path, "w") as f:
        json.dump(d, f)
    with pytest.raises(ValueError, match="no applied lsn_intervals"):
        LakeTable(spark, tmp_table_dir).snapshot_header()


def test_time_travel(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    df = spark.createDataFrame([("r1", "a", 1)], SCHEMA)
    t.commit(0, new_files=t.write_data_files(df.withColumn("_bucket", t.bucket_expr())))
    df2 = spark.createDataFrame([("r2", "b", 2)], SCHEMA)
    t.commit(1, new_files=t.write_data_files(df2.withColumn("_bucket", t.bucket_expr())))
    assert t.read(version=1).count() == 1
    assert t.read(version=2).count() == 2


def test_schema_evolution_add_and_widen(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    df = spark.createDataFrame([("r1", "a", 1)], SCHEMA)
    t.commit(0, new_files=t.write_data_files(df.withColumn("_bucket", t.bucket_expr())))
    evolved = T.StructType(
        [
            T.StructField("repo", T.StringType(), True),
            T.StructField("path", T.StringType(), True),
            T.StructField("n", T.LongType(), True),  # int → long widening
            T.StructField("author", T.StringType(), True),  # added
        ]
    )
    t.commit(1, schema=evolved)
    out = t.read()
    assert dict(out.dtypes)["n"] == "bigint"
    row = out.collect()[0]
    assert row.n == 1 and row.author is None


def test_manifest_stats_pruning(spark, tmp_table_dir):
    """Iceberg-parity manifest pruning: per-file key [min,max] stats are
    harvested from parquet footers at write time, and a key-equality read
    prunes files whose stats prove the key absent."""
    from etl_kafka_project_spark.cdc.envelope import EVENT_SCHEMA
    from etl_kafka_project_spark.cdc.fixtures import StreamSpec, generate_events
    from etl_kafka_project_spark.cdc.merge import create_code_table, merge_events
    from etl_kafka_project_spark.config import EngineConfig

    cfg = EngineConfig(n_buckets=4)
    events = generate_events(StreamSpec(n_events=600, n_keys=80, min_lines=2, max_lines=3))
    table = create_code_table(spark, tmp_table_dir, cfg)
    merge_events(table, spark.createDataFrame(events, EVENT_SCHEMA), epoch=("t", 0))

    snap = table.snapshot()
    assert all(f.stats and "repo" in f.stats for f in snap.files)

    # pick a real key; its bucket holds ~20 keys across 1 file — pruning
    # must keep files that might contain it and return exactly its row
    live = table.read()
    row = live.orderBy("repo", "path").first()
    pruned = table.read(key_equals={"repo": row["repo"], "path": row["path"]})
    got = pruned.collect()
    assert len(got) == 1 and got[0]["content"] == row["content"]

    # a key lexically outside every file's range prunes ALL files →
    # empty scan without opening anything
    none = table.read(key_equals={"repo": "zzzz-no-such-repo"})
    assert none.count() == 0
    kept = [
        f for f in snap.files
        if f.might_contain("repo", "zzzz-no-such-repo")
    ]
    assert len(kept) == 0  # manifest stats alone proved absence


def test_manifest_reuse_across_commits(spark, tmp_table_dir):
    """A commit writes manifests ONLY for the buckets it touches; every
    other bucket reuses the parent snapshot's manifest file by path, so
    commit serialization cost is O(touched), not O(table)."""
    import json
    import os

    t = _mk(spark, tmp_table_dir)
    rows = [(f"r{i}", f"p{i}", i) for i in range(40)]
    df = spark.createDataFrame(rows, SCHEMA)
    t.commit(0, new_files=t.write_data_files(df.withColumn("_bucket", t.bucket_expr())))
    v1 = t.snapshot()
    assert set(v1.manifests) == {f.bucket for f in v1.files}

    # second commit appends a file to ONE bucket
    df2 = spark.createDataFrame([("r3", "p3", 99)], SCHEMA)
    files2 = t.write_data_files(df2.withColumn("_bucket", t.bucket_expr()))
    touched = {f.bucket for f in files2}
    assert len(touched) == 1
    t.commit(1, new_files=files2)
    v2 = t.snapshot()
    for b, m in v1.manifests.items():
        if b in touched:
            assert v2.manifests[b]["path"] != m["path"]
        else:
            assert v2.manifests[b]["path"] == m["path"]  # reused by reference

    # the stored snapshot JSON carries manifest refs, not inline files
    with open(os.path.join(tmp_table_dir, "snapshots", "v2.json")) as f:
        d = json.load(f)
    assert "manifests" in d and "files" not in d

    # an epoch-only commit (no file changes) rewrites NO manifest
    t.commit(2, epoch=("s", 0))
    v3 = t.snapshot()
    assert {m["path"] for m in v3.manifests.values()} == {
        m["path"] for m in v2.manifests.values()
    }

    # data unaffected by the representation (append: both r3 rows exist)
    got = {(r.repo, r.path, r.n) for r in t.read().collect()}
    assert ("r3", "p3", 99) in got and ("r3", "p3", 3) in got
    assert len(got) == 41


def test_manifest_vacuum(spark, tmp_table_dir):
    """expire_snapshots removes manifest files referenced by no retained
    snapshot (and keeps the live ones)."""
    import os

    from etl_kafka_project_spark.cdc.compaction import expire_snapshots

    t = _mk(spark, tmp_table_dir)
    # rewrite the SAME bucket 3 times — each commit supersedes that
    # bucket's manifest, orphaning the previous version
    for i in range(3):
        df = spark.createDataFrame([("r1", "p1", i)], SCHEMA)
        files = t.write_data_files(df.withColumn("_bucket", t.bucket_expr()))
        t.commit(i, new_files=files, removed_files=_superseded(t, files))
    stats = expire_snapshots(t, keep_last=1, orphan_grace_sec=0.0)
    assert stats["manifests_removed"] > 0
    live = {m["path"] for m in t.snapshot().manifests.values()}
    on_disk = {
        f"manifests/{fn}" for fn in os.listdir(os.path.join(tmp_table_dir, "manifests"))
    }
    assert on_disk == live
    assert {(r.repo, r.path, r.n) for r in t.read().collect()} == {("r1", "p1", 2)}


def test_vacuum_age_gates_young_orphans(spark, tmp_table_dir):
    """A vacuum racing an in-flight commit must not delete files staged
    but not yet referenced by a snapshot: unreferenced data/manifest
    files younger than ``orphan_grace_sec`` survive the default vacuum
    (Iceberg orphan-removal semantics)."""
    import os

    from etl_kafka_project_spark.cdc.compaction import expire_snapshots

    t = _mk(spark, tmp_table_dir)
    for i in range(2):
        df = spark.createDataFrame([("r1", "p1", i)], SCHEMA)
        files = t.write_data_files(df.withColumn("_bucket", t.bucket_expr()))
        t.commit(i, new_files=files, removed_files=_superseded(t, files))
    # simulate an in-flight commit: data + manifest staged, no snapshot yet
    df = spark.createDataFrame([("r9", "p9", 99)], SCHEMA)
    staged = t.write_data_files(df.withColumn("_bucket", t.bucket_expr()))
    n_manifests = len(os.listdir(os.path.join(tmp_table_dir, "manifests")))
    stats = expire_snapshots(t, keep_last=1)  # default grace period
    # just-written orphans (the staged files AND the superseded v0
    # manifest, all seconds old) are untouched; old snapshot JSONs (no
    # race hazard — the CAS is the commit point) still expire
    assert stats["data_files_removed"] == 0
    assert stats["manifests_removed"] == 0
    assert stats["snapshots_removed"] > 0
    for fe in staged:
        assert os.path.exists(os.path.join(tmp_table_dir, fe.path))
    assert len(os.listdir(os.path.join(tmp_table_dir, "manifests"))) == n_manifests
    # the in-flight commit can still land on the staged files
    t.commit(2, new_files=staged, removed_files=_superseded(t, staged))
    got = {(r.repo, r.path, r.n) for r in t.read().collect()}
    assert ("r9", "p9", 99) in got


def test_vacuum_never_deletes_snapshots_newer_than_its_read(
    spark, tmp_table_dir, monkeypatch
):
    """A commit can land AFTER the vacuum captures current_version but
    BEFORE it lists the snapshot dir: the racing snapshot JSON is newer
    than the captured version and must survive (deleting it wedges the
    table — pointer ahead of the newest JSON — and orphans the epoch's
    committed data). Round-5 review finding."""
    import os

    from etl_kafka_project_spark.cdc.compaction import expire_snapshots

    t = _mk(spark, tmp_table_dir)
    for i in range(3):
        df = spark.createDataFrame([("r1", "p1", i)], SCHEMA)
        files = t.write_data_files(df.withColumn("_bucket", t.bucket_expr()))
        t.commit(i, new_files=files, removed_files=_superseded(t, files))
    # freeze the vacuum's view at v2 while a concurrent commit lands v3
    real = t.current_version()  # 3
    monkeypatch.setattr(
        type(t), "current_version", lambda self: real - 1, raising=True
    )
    # default grace: the racing commit's young data files are the
    # grace period's job — the snapshot JSON has no mtime gate, which
    # is exactly what this test pins
    expire_snapshots(t, keep_last=1)
    monkeypatch.undo()
    # the racing v3 snapshot survives and the table still reads at it
    assert os.path.exists(os.path.join(tmp_table_dir, "snapshots", "v3.json"))
    assert t.current_version() == 3
    assert {(r.repo, r.path, r.n) for r in t.read().collect()} == {("r1", "p1", 2)}


def test_vacuum_survives_keep_last_growth(spark, tmp_table_dir):
    """Raising keep_last between runs puts already-deleted versions back
    inside the retention window; the vacuum must retain what exists, not
    abort on the historical gap. Round-5 review finding."""
    from etl_kafka_project_spark.cdc.compaction import expire_snapshots

    t = _mk(spark, tmp_table_dir)
    for i in range(4):
        df = spark.createDataFrame([("r1", "p1", i)], SCHEMA)
        files = t.write_data_files(df.withColumn("_bucket", t.bucket_expr()))
        t.commit(i, new_files=files, removed_files=_superseded(t, files))
    expire_snapshots(t, keep_last=1, orphan_grace_sec=0.0)  # deletes v0..v3
    stats = expire_snapshots(t, keep_last=4, orphan_grace_sec=0.0)  # window grows
    assert stats["snapshots_removed"] == 0
    assert {(r.repo, r.path, r.n) for r in t.read().collect()} == {("r1", "p1", 3)}


def test_delta_read_plans_no_window(spark, tmp_table_dir):
    """A read of a delta-holding table resolves base ∪ deltas as a union
    and one aggregation per key: neither a full nor a bucket-pruned read
    plans a Window."""
    import contextlib
    import io

    from etl_kafka_project_spark.cdc.envelope import EVENT_SCHEMA
    from etl_kafka_project_spark.cdc.fixtures import StreamSpec, generate_events
    from etl_kafka_project_spark.cdc.merge import create_code_table, merge_events
    from etl_kafka_project_spark.config import EngineConfig

    events = generate_events(StreamSpec(n_events=300, n_keys=40, min_lines=2, max_lines=3))
    table = create_code_table(spark, tmp_table_dir, EngineConfig(n_buckets=4))
    for i, half in enumerate((events.iloc[:150], events.iloc[150:])):
        merge_events(table, spark.createDataFrame(half, EVENT_SCHEMA), epoch=("t", i))
    assert {f.kind for f in table.snapshot().files} == {"delta"}
    for df in (table.read(), table.read(buckets={0})):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "Aggregate" in plan
        assert "Window" not in plan, plan

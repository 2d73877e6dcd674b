"""Serving layer (search / pagination / change feed) and table
maintenance (compaction, tombstone purge, snapshot expiry)."""

import os

import pytest

from etl_kafka_project_spark import serving
from etl_kafka_project_spark.cdc.compaction import expire_snapshots
from etl_kafka_project_spark.cdc.fixtures import StreamSpec, generate_stream
from etl_kafka_project_spark.cdc.merge import create_code_table
from etl_kafka_project_spark.cdc.mor import compact_deltas
from etl_kafka_project_spark.cdc.oracle import replay_oracle
from etl_kafka_project_spark.cdc.stream import ReplayJob
from etl_kafka_project_spark.config import EngineConfig
from etl_kafka_project_spark.minilake.table import LakeTable

CFG = EngineConfig(n_buckets=8)


@pytest.fixture(scope="module")
def replayed(spark, tmp_path_factory):
    """One replayed table shared by the read-only serving tests."""
    tmp = tmp_path_factory.mktemp("serving")
    spec = StreamSpec(n_events=900, n_keys=120, n_segments=4, min_lines=2, max_lines=3)
    events, _ = generate_stream(str(tmp / "stream"), spec)
    create_code_table(spark, str(tmp / "table"), CFG)
    job = ReplayJob(
        table_root=str(tmp / "table"),
        stream_dir=str(tmp / "stream"),
        checkpoint_dir=str(tmp / "ckpt"),
        config=CFG,
    )
    job.run(spark)
    return str(tmp / "table"), events


def test_point_lookup_prunes_to_one_bucket(spark, replayed, monkeypatch):
    """Round-3 verdict #7: a serve point query (every key column pinned
    by an exact term) must read only the key's hash bucket — and within
    it only manifest-stat survivors — not the whole snapshot."""
    root, events = replayed
    live = replay_oracle(events)
    key = live.iloc[0]
    table = LakeTable(spark, root)
    total_files = len(table.snapshot().files)
    assert total_files >= CFG.n_buckets  # multi-bucket table, >=1 file each

    seen: list[list[str]] = []
    orig = LakeTable._read_files

    def spy(self, snap, files, schema=None):
        seen.append([f.path for f in files])
        return orig(self, snap, files, schema)

    monkeypatch.setattr(LakeTable, "_read_files", spy)
    df = serving.point_lookup(spark, root, {"repo": key.repo, "path": key.path})
    rows = df.collect()
    monkeypatch.setattr(LakeTable, "_read_files", orig)

    assert df is not None
    assert len(rows) == 1 and rows[0]["repo"] == key.repo and rows[0]["path"] == key.path
    read_paths = [p for batch in seen for p in batch]
    # O(files-in-one-bucket): every file handed to the reader lives in
    # ONE bucket dir, and the total is far below the snapshot's file set
    buckets = {p.split("/")[1] for p in read_paths}
    assert len(buckets) == 1
    assert 0 < len(read_paths) < total_files / 4

    # non-point queries (key columns not fully pinned) fall back
    assert serving.point_lookup(spark, root, {"repo": key.repo}) is None
    assert serving.point_lookup(spark, root, None) is None

    # the serve endpoint returns the same row through the pruned path
    from tools.serve import ServeSession

    out = ServeSession(spark, root).handle(
        {"op": "search", "exact": {"repo": key.repo, "path": key.path}}
    )
    assert out["ok"] and len(out["rows"]) == 1
    assert out["rows"][0]["path"] == key.path


def test_search_conjunctive_and_pagination(spark, replayed):
    root, events = replayed
    df = serving.latest(spark, root)

    hot = serving.search(df, exact={"repo": "repo-000"}, limit=None)
    want = replay_oracle(events)
    assert hot.count() == (want.repo == "repo-000").sum()

    # conjunctive: exact repo AND text term in content
    both = serving.search(
        df, exact={"repo": "repo-000"}, text={"content": "line 0"}, limit=None
    )
    assert 0 < both.count() <= hot.count()

    # multi-value text arg: both terms required
    n_and = serving.search(df, text={"content": "line 0, line 2"}, limit=None).count()
    n_single = serving.search(df, text={"content": "line 0"}, limit=None).count()
    assert 0 < n_and <= n_single

    # pagination: LIMIT offset,limit with deterministic order
    page1 = serving.search(df, order_by=["repo", "path"], offset=0, limit=5)
    page2 = serving.search(df, order_by=["repo", "path"], offset=5, limit=5)
    rows1, rows2 = page1.collect(), page2.collect()
    assert len(rows1) == 5 and len(rows2) == 5
    assert {tuple(r) for r in rows1}.isdisjoint({tuple(r) for r in rows2})

    with pytest.raises(serving.QueryValidationError):
        serving.search(df, text={"content": "x; DROP"}).collect()


def test_fill_none(spark, replayed):
    root, _ = replayed
    df = serving.latest(spark, root)
    filled = serving.fill_none(df.select("lang", "commit"))
    assert filled.filter(filled.lang.isNull() | filled.commit.isNull()).count() == 0


def test_changelog_feed(spark, replayed):
    root, events = replayed
    feed = serving.read_changelog(spark, root)
    assert set(feed.columns) >= {"epoch", "repo", "path", "op", "lsn"}
    assert feed.select("epoch").distinct().count() >= 1
    # every final live key appears in the feed (its last change was published)
    want = replay_oracle(events)
    live = {(r.repo, r.path) for r in feed.filter(feed.op == "U").select("repo", "path").distinct().collect()}
    assert {(t.repo, t.path) for t in want.itertuples()} <= live

    # streaming subscription reads the same rows
    q = (
        serving.stream_changelog(spark, root)
        .writeStream.format("memory")
        .queryName("feed_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    n = spark.sql("select count(*) c from feed_test").first()["c"]
    assert n == feed.count()


def test_compaction_and_tombstone_purge(spark, tmp_path):
    spec = StreamSpec(n_events=800, n_keys=100, n_segments=6, min_lines=2, max_lines=3)
    events, _ = generate_stream(str(tmp_path / "stream"), spec)
    create_code_table(spark, str(tmp_path / "table"), CFG)
    job = ReplayJob(
        table_root=str(tmp_path / "table"),
        stream_dir=str(tmp_path / "stream"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        config=CFG,
        max_files_per_trigger=1,
    )
    job.run(spark)
    table = LakeTable(spark, str(tmp_path / "table"))

    before = table.read(include_tombstones=True)
    n_tombs = before.filter(before._deleted).count()
    assert n_tombs > 0  # fixture op mix guarantees deletes survive

    live_before = table.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    stats = compact_deltas(table, config=CFG, purge_tombstones_below_lsn=spec.n_events)
    assert stats["compacted"] and stats["tombstones_purged"] == n_tombs
    after = table.read(include_tombstones=True)
    assert after.filter(after._deleted).count() == 0

    # live rows unchanged by maintenance
    live_after = table.read().toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(
        live_before.reindex(columns=sorted(live_before.columns)),
        live_after.reindex(columns=sorted(live_after.columns)),
    )

    # snapshot expiry: old versions vanish, current stays readable
    v = table.current_version()
    out = expire_snapshots(table, keep_last=1, orphan_grace_sec=0.0)
    assert out["snapshots_removed"] > 0
    assert table.current_version() == v
    assert table.read().count() == len(live_after)
    with pytest.raises(FileNotFoundError):
        table.snapshot(0)


def test_changelog_as_kafka_messages(spark, replayed):
    """K1 parity: the feed encodes as keyed JSON messages (the Kafka
    producer shape, kafka_interface.py:24-44)."""
    import json

    root, _ = replayed
    feed = serving.read_changelog(spark, root).limit(5)
    msgs = serving.changelog_as_messages(feed, ["repo", "path"]).collect()
    assert len(msgs) == 5
    for m in msgs:
        doc = json.loads(bytes(m["value"]).decode())
        assert bytes(m["key"]).decode() == f"{doc['repo']}/{doc['path']}"
        assert {"op", "lsn"} <= set(doc)


def test_changelog_two_streams_no_clobber(spark, tmp_path):
    """Two streams merging into ONE table get separate feed namespaces
    (``changelog/stream=<id>/epoch=<n>``) — same epoch id on both streams
    must not overwrite each other's feed, and applying the combined feed
    still reproduces the table's live state (round-3 advice)."""
    import pandas as pd
    from pyspark.sql import types as T

    from etl_kafka_project_spark.cdc.envelope import EVENT_SCHEMA

    root = str(tmp_path / "table")
    create_code_table(spark, root, CFG)

    def events(rows):
        cols = ["lsn", "op", "repo", "path", "commit", "lang", "content"]
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["ts"] = pd.Timestamp("2024-01-01")
        schema = T.StructType([f for f in EVENT_SCHEMA.fields])
        return spark.createDataFrame(pdf[[f.name for f in schema.fields]], schema)

    def job(sid):
        return ReplayJob(
            table_root=root,
            stream_dir=str(tmp_path / "unused"),
            checkpoint_dir=str(tmp_path / f"ckpt-{sid}"),
            config=CFG,
            stream_id=sid,
        )

    # LSN-disjoint streams, SAME epoch id 0 on both
    job("stream-a").apply_epoch(
        events([(1, "I", "ra", "p", "c1", "go", "va"), (2, "U", "ra", "p", "c2", None, None)]), 0
    )
    job("stream-b").apply_epoch(
        events([(101, "I", "rb", "p", "c9", "py", "vb")]), 0
    )

    feed = serving.read_changelog(spark, root)
    assert {r["stream"] for r in feed.select("stream").distinct().collect()} == {
        "stream-a",
        "stream-b",
    }
    only_a = serving.read_changelog(spark, root, stream_id="stream-a")
    assert {r["repo"] for r in only_a.select("repo").distinct().collect()} == {"ra"}

    payload = ["commit", "lang", "content"]
    applied = serving.apply_changelog(feed, ["repo", "path"], payload)
    got = applied.toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    want = (
        serving.latest(spark, root)
        .select("repo", "path", *payload, "last_lsn")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)


def test_changelog_spans_schema_evolution(spark, tmp_path):
    """Delta-linked feed epochs written before and after an additive
    ALTER must unify on read: ``read_changelog``'s mergeSchema pass
    null-fills the evolved column (and its write-lsn twin) for
    pre-evolution epochs, while post-evolution epochs surface the value
    — and applying the unified feed reproduces the evolved live state."""
    import pandas as pd
    from pyspark.sql import types as T

    from etl_kafka_project_spark.cdc.envelope import EVENT_SCHEMA
    from etl_kafka_project_spark.cdc.evolution import evolve_table
    from etl_kafka_project_spark.cdc.merge import merge_events

    root = str(tmp_path / "table")
    feed_dir = os.path.join(root, "changelog")
    table = create_code_table(spark, root, CFG)

    def events(schema, rows, cols):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["ts"] = pd.Timestamp("2024-01-01")
        return spark.createDataFrame(pdf[[f.name for f in schema.fields]], schema)

    base_cols = ["lsn", "op", "repo", "path", "commit", "lang", "content"]
    merge_events(
        table,
        events(EVENT_SCHEMA, [(1, "I", "r1", "p", "c1", "go", "v1")], base_cols),
        CFG,
        epoch=("s", 0),
        changelog_dir=feed_dir,
    )

    authored = T.StructType(
        EVENT_SCHEMA.fields + [T.StructField("author", T.StringType(), True)]
    )
    evolve_table(table, authored)
    merge_events(
        table,
        events(
            authored,
            [(2, "U", "r1", "p", "c2", None, None, "alice")],
            base_cols + ["author"],
        ),
        CFG,
        epoch=("s", 1),
        changelog_dir=feed_dir,
    )

    feed = serving.read_changelog(spark, root)
    rows = {r["epoch"]: r for r in feed.collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["author"] is None and rows[0]["op"] == "U" and rows[0]["lsn"] == 1
    assert rows[0]["author_lsn"] is None  # never written, not a stale sentinel
    assert rows[1]["author"] == "alice" and rows[1]["lsn"] == 2

    payload = ["commit", "lang", "content", "author"]
    applied = serving.apply_changelog(feed, ["repo", "path"], payload).collect()
    assert len(applied) == 1
    got = applied[0]
    assert got["commit"] == "c2" and got["lang"] == "go" and got["author"] == "alice"


def test_apply_changelog_reproduces_table_state(spark, replayed):
    """Feed-fidelity (ADVICE round 1): a consumer applying the partial-
    update feed per its contract (per-column lsn LWW + reset barrier +
    deletes) must land on EXACTLY the lake's live state — proving the
    feed carries enough to distinguish 'unchanged' from 'set to null'."""
    import pandas as pd

    root, _ = replayed
    feed = serving.read_changelog(spark, root)
    payload = ["commit", "lang", "content"]
    applied = serving.apply_changelog(feed, ["repo", "path"], payload)
    got = (
        applied.toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    want = (
        serving.latest(spark, root)
        .select("repo", "path", *payload, "last_lsn")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)


def test_serve_endpoint_end_to_end(spark, replayed):
    """EP3 parity: the runnable serving endpoint (tools/serve.py) answers
    search (incl. multi-value ', ' args + pagination), changelog catch-up,
    and streaming subscription over a replayed table."""
    import sys

    root, events = replayed
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from serve import ServeSession

    sess = ServeSession(spark, root)

    r = sess.handle({"op": "snapshot_version"})
    assert r["ok"] and r["version"] >= 1

    # exact search, default pagination (0, 10)
    r = sess.handle({"op": "search", "exact": {"repo": "repo-000"}})
    assert r["ok"] and 0 < len(r["rows"]) <= 10
    assert all(row["repo"] == "repo-000" for row in r["rows"])
    # null -> 'None' fill at the boundary (reference sink parity)
    assert all(v is not None for row in r["rows"] for v in row.values())

    # multi-value text arg: every ', '-split term required
    n_and = len(
        sess.handle({"op": "search", "text": {"content": "line 0, line 2"}, "limit": None})["rows"]
    )
    n_one = len(
        sess.handle({"op": "search", "text": {"content": "line 0"}, "limit": None})["rows"]
    )
    assert 0 < n_and <= n_one

    # pagination pages are disjoint and ordered
    p1 = sess.handle({"op": "search", "order_by": ["repo", "path"], "offset": 0, "limit": 5})
    p2 = sess.handle({"op": "search", "order_by": ["repo", "path"], "offset": 5, "limit": 5})
    k1 = {(r_["repo"], r_["path"]) for r_ in p1["rows"]}
    k2 = {(r_["repo"], r_["path"]) for r_ in p2["rows"]}
    assert len(k1) == 5 and len(k2) == 5 and k1.isdisjoint(k2)

    # injection guard surfaces as an error, not a crash
    r = sess.handle({"op": "search", "text": {"content": "x; DROP"}})
    assert not r["ok"] and "validation" in r["error"]

    # changelog catch-up and streaming subscription agree
    batch = sess.handle({"op": "changelog"})
    sub = sess.handle({"op": "subscribe"})
    assert batch["ok"] and sub["ok"] and len(sub["rows"]) == len(batch["rows"])

    assert sess.handle({"op": "nope"})["ok"] is False
    assert sess.handle({"op": "stop"})["stopped"]


def test_search_offset_requires_order(spark, replayed):
    """offset over an unordered scan has no stable page boundaries —
    the library refuses; the serve endpoint defaults order_by to the
    key columns (exercised in test_serve_endpoint_end_to_end)."""
    root, _ = replayed
    df = serving.latest(spark, root)
    with pytest.raises(ValueError, match="order_by"):
        serving.search(df, offset=5, limit=5)


def test_point_lookup_on_numeric_keys(spark, tmp_path):
    """The manifest [min, max] pruning compares values natively: the
    lookup must pass table-typed values, not the endpoint's strings
    (int stats vs str raised TypeError). Round-5 review finding."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("v", T.StringType(), True),
        ]
    )
    root = str(tmp_path / "inttable")
    t = LakeTable.create(spark, root, schema, key_columns=["id"], n_buckets=4)
    df = spark.createDataFrame([(i, f"v{i}") for i in range(20)], schema)
    files = t.write_data_files(df.withColumn("_bucket", t.bucket_expr()))
    t.commit(0, new_files=files)

    out = serving.point_lookup(spark, root, {"id": "7"})
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["v"] == "v7"


def test_feed_from_delta_keeps_key_colliding_with_payload_name(spark):
    """A key column whose name minus '_lsn''s length collides with a
    payload column ('name_enc' vs payload 'name') must stay a key — only
    an actual *_lsn suffix marks a bookkeeping twin. Round-5 review
    finding."""
    df = spark.createDataFrame(
        [("k1", "alice", 5, 5, None, None, False)],
        "name_enc string, name string, name_lsn long, _max_lsn long,"
        " _last_d_lsn long, _last_reset_lsn long, _is_delete boolean",
    )
    out = serving._feed_from_delta(df)
    assert "name_enc" in out.columns
    row = out.collect()[0]
    assert row["name_enc"] == "k1" and row["name"] == "alice" and row["op"] == "U"

"""State-diff change feed (cdc/cdf.py): snapshot-to-snapshot diffs with
before/after images, metadata-only bucket pruning, and incremental
rollup maintenance — checked against a version-by-version pandas oracle
built from plain ``LakeTable.read`` calls (no cdf code on the oracle
side)."""

import pytest

from etl_kafka_project_spark.cdc.cdf import (
    apply_rollup_delta,
    contributions,
    diff_snapshots,
    touched_buckets,
)
from etl_kafka_project_spark.cdc.fixtures import StreamSpec, generate_stream
from etl_kafka_project_spark.cdc.merge import create_code_table
from etl_kafka_project_spark.cdc.stream import ReplayJob
from etl_kafka_project_spark.config import EngineConfig
from etl_kafka_project_spark.minilake.table import LakeTable

CFG = EngineConfig(n_buckets=8)

KEYS = ["repo", "path"]


@pytest.fixture(scope="module")
def replayed(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("cdf")
    spec = StreamSpec(n_events=1200, n_keys=150, n_segments=6, min_lines=2, max_lines=3)
    generate_stream(str(tmp / "stream"), spec)
    create_code_table(spark, str(tmp / "table"), CFG)
    job = ReplayJob(
        table_root=str(tmp / "table"),
        stream_dir=str(tmp / "stream"),
        checkpoint_dir=str(tmp / "ckpt"),
        config=CFG,
        max_files_per_trigger=2,  # 6 segments -> 3 epochs -> >= 3 versions
    )
    job.run(spark)
    return str(tmp / "table")


def _state(table, version):
    """key tuple -> payload tuple, via the plain read path."""
    df = table.read(version=version)
    payload = [c for c in df.columns if c not in KEYS + ["last_lsn", "row_version", "_deleted"]]
    return {
        tuple(r[k] for k in KEYS): tuple(r[c] for c in payload)
        for r in df.collect()
    }, payload


def test_diff_matches_read_oracle_for_every_version_pair(spark, replayed):
    table = LakeTable(spark, replayed)
    top = table.current_version()
    assert top >= 2, "need multiple committed versions"
    for v in range(1, top + 1):
        before, _ = _state(table, v - 1)
        after, _ = _state(table, v)
        want = {}
        for k in set(before) | set(after):
            if k not in before:
                want[k] = "insert"
            elif k not in after:
                want[k] = "delete"
            elif before[k] != after[k]:
                want[k] = "update"
        got = {
            tuple(r[k] for k in KEYS): r["change_type"]
            for r in diff_snapshots(table, v - 1, v).collect()
        }
        assert got == want, f"diff {v - 1}->{v} mismatch"


def test_diff_images_and_lsn(spark, replayed):
    table = LakeTable(spark, replayed)
    top = table.current_version()
    diff = diff_snapshots(table, 0, top)
    rows = diff.collect()
    assert rows, "full-history diff cannot be empty"
    for r in rows:
        if r["change_type"] == "insert":
            assert r["before"] is None and r["after"] is not None
            assert r["last_lsn"] is not None
        elif r["change_type"] == "delete":
            assert r["before"] is not None and r["after"] is None
        else:
            assert r["before"] is not None and r["after"] is not None
            assert tuple(r["before"]) != tuple(r["after"])


def test_identical_versions_prune_to_empty_without_reading(spark, replayed):
    table = LakeTable(spark, replayed)
    v = table.current_version()
    assert touched_buckets(table, v, v) == set()
    assert diff_snapshots(table, v, v).count() == 0


def test_empty_diff_has_the_same_schema_as_a_nonempty_one(spark, replayed):
    """An identical-version diff reads no file, yet keeps the diff's
    output shape: same column names and types as a real diff."""
    table = LakeTable(spark, replayed)
    v = table.current_version()

    def shape(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    assert shape(diff_snapshots(table, v, v)) == shape(diff_snapshots(table, v - 1, v))


def test_touched_buckets_prune_is_sound(spark, replayed):
    """Pruned diff == unpruned diff (metadata pruning drops no changes),
    and a single-epoch diff touches a strict subset when the epoch did."""
    table = LakeTable(spark, replayed)
    top = table.current_version()
    n_buckets = table.snapshot(top).props["n_buckets"]
    for v in range(1, top + 1):
        tb = touched_buckets(table, v - 1, v)
        assert tb is not None and len(tb) <= n_buckets
        # soundness: every changed key's bucket is in the touched set
        diff = diff_snapshots(table, v - 1, v)
        bucketed = diff.withColumn("_b", table.bucket_expr(table.snapshot(top)))
        bad = bucketed.filter(~bucketed._b.isin(*tb) if tb else bucketed._b.isNotNull())
        assert bad.count() == 0


def test_incremental_rollup_tracks_full_recompute(spark, replayed):
    """Maintain per-repo (n_files, total_chars) from per-version diffs;
    after folding every epoch's contributions the rollup equals a direct
    groupBy of the final table — the incremental path never resyncs."""
    from pyspark.sql import functions as F

    table = LakeTable(spark, replayed)
    top = table.current_version()
    measures = {"n_files": "1", "total_chars": "length(coalesce(content, ''))"}
    schema = "group string, n_files long, total_chars long"
    rollup = spark.createDataFrame([], schema)
    for v in range(1, top + 1):
        delta = contributions(diff_snapshots(table, v - 1, v), "repo", measures)
        rollup = apply_rollup_delta(rollup, delta, list(measures)).localCheckpoint()
    want = (
        table.read()
        .groupBy(F.col("repo").alias("group"))
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(F.length(F.coalesce("content", F.lit("")))).alias("total_chars"),
        )
    )
    got = {r["group"]: (r["n_files"], r["total_chars"]) for r in rollup.collect()}
    exp = {r["group"]: (r["n_files"], r["total_chars"]) for r in want.collect()}
    assert got == exp


def test_serve_diff_op(spark, replayed):
    """The serving endpoint's ``diff`` op returns the latest-vs-previous
    state diff as JSON rows."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from serve import ServeSession

    sess = ServeSession(spark, replayed)
    r = sess.handle({"op": "diff"})
    assert r["ok"]
    table = LakeTable(spark, replayed)
    top = table.current_version()
    assert len(r["rows"]) == diff_snapshots(table, top - 1, top).count()
    full = sess.handle({"op": "diff", "from_version": 0, "to_version": top})
    assert full["ok"] and len(full["rows"]) > 0
    assert {row["change_type"] for row in full["rows"]} <= {"insert", "update", "delete"}


def test_rollup_group_move_is_exact(spark):
    """A diff whose update moves a row between groups decrements the old
    group and increments the new one (the two-sided contribution)."""
    from pyspark.sql import Row

    diff = spark.createDataFrame(
        [
            Row(
                change_type="update",
                before=Row(g="a", n=10),
                after=Row(g="b", n=12),
            )
        ]
    )
    delta = contributions(diff, "g", {"rows": "1", "total": "n"})
    got = {r["group"]: (r["rows"], r["total"]) for r in delta.collect()}
    assert got == {"a": (-1, -10), "b": (1, 12)}

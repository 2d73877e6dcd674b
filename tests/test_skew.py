"""Hot-key skew (SURVEY §4.2.2, FIXTURES §2): a batch where ONE key
carries most of the events must fold correctly (map-side partials), the
salted two-phase fold must agree exactly, and the write planner must fan
the hot bucket out across multiple files."""

import pandas as pd

from etl_kafka_project_spark.cdc.envelope import EVENT_SCHEMA
from etl_kafka_project_spark.cdc.merge import create_code_table, merge_events
from etl_kafka_project_spark.cdc.mor import compact_deltas, delta_stats
from etl_kafka_project_spark.cdc.oracle import replay_oracle
from etl_kafka_project_spark.config import EngineConfig
from etl_kafka_project_spark.minilake.table import LakeTable


def _skewed_events(n_hot=5000, n_cold=50):
    """~99% of events update one (hot) key; a D mid-stream exercises the
    reset barrier under skew."""
    rows = []
    lsn = 0
    for i in range(n_cold):
        lsn += 1
        rows.append((lsn, "I", f"repo-{i:02d}", f"src/f{i}.py", f"c{i}", "python", f"cold {i}"))
    for v in range(n_hot):
        lsn += 1
        op = "D" if v == n_hot // 2 else ("I" if v == 0 else "U")
        rows.append(
            (lsn, op, "repo-hot", "src/hot.py", f"h{v}",
             "python", None if op == "D" else f"hot content v{v}")
        )
    df = pd.DataFrame(rows, columns=["lsn", "op", "repo", "path", "commit", "lang", "content"])
    df["ts"] = pd.Timestamp("2024-01-01", tz="UTC").as_unit("us")
    return df[["lsn", "op", "ts", "repo", "path", "commit", "lang", "content"]]


def _final(table):
    cols = ["repo", "path", "commit", "lang", "content", "content_sha256", "last_lsn", "row_version"]
    return table.read().select(*cols).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)


def test_skewed_batch_plain_vs_salted_vs_oracle(spark, tmp_path):
    events = _skewed_events()
    want = replay_oracle(events)

    for name, salt in [("plain", None), ("salted", 8)]:
        cfg = EngineConfig(n_buckets=8)
        root = str(tmp_path / name)
        table = create_code_table(spark, root, cfg)
        merge_events(table, spark.createDataFrame(events, EVENT_SCHEMA), epoch=("t", 0), salt=salt)
        got = _final(table)
        pd.testing.assert_frame_equal(got, want.reindex(columns=got.columns), check_dtype=False)
        # the hot key resolved through its mid-stream delete correctly
        hot = got[got.repo == "repo-hot"].iloc[0]
        assert hot["content"] == "hot content v4999" and hot["row_version"] == 5000


def test_hot_bucket_write_fanout(spark, tmp_path):
    """Compaction write path: a bucket whose rows exceed target_file_rows
    gets multiple write tasks/base files (cdc/salting.py), cold buckets
    one each."""
    events = _skewed_events(n_hot=2000, n_cold=40)
    # many live rows in one bucket: use U-events on DISTINCT hot-bucket
    # keys so the final table itself is hot
    extra = []
    for i in range(3000):
        extra.append((10_000 + i, "I", "repo-hot", f"src/gen_{i}.py", f"g{i}", "python", f"gen {i}"))
    extra_df = pd.DataFrame(extra, columns=["lsn", "op", "repo", "path", "commit", "lang", "content"])
    extra_df["ts"] = pd.Timestamp("2024-01-01", tz="UTC").as_unit("us")
    all_events = pd.concat([events, extra_df[events.columns]], ignore_index=True)

    cfg = EngineConfig(n_buckets=4, target_file_rows=500)
    table = create_code_table(spark, str(tmp_path / "t"), cfg)
    merge_events(table, spark.createDataFrame(all_events, EVENT_SCHEMA), epoch=("t", 0))
    want = table.read(include_tombstones=True).count()
    assert compact_deltas(table, config=cfg)["compacted"]

    snap = table.snapshot()
    assert all(fe.kind == "base" for fe in snap.files)
    per_bucket_files: dict[int, int] = {}
    for fe in snap.files:
        per_bucket_files[fe.bucket] = per_bucket_files.get(fe.bucket, 0) + 1
    # some bucket got > target_file_rows rows → fanned out into >1 file
    assert max(per_bucket_files.values()) > 1
    # totals survive layout decisions
    assert sum(fe.rows for fe in snap.files) == want
    assert table.read(include_tombstones=True).count() == want


def test_mor_compaction_after_skewed_epochs(spark, tmp_path):
    """Skewed epochs append deltas; compaction folds them and
    the resolved state still equals the oracle."""
    events = _skewed_events(n_hot=3000, n_cold=30)
    cfg = EngineConfig(n_buckets=8)
    table = create_code_table(spark, str(tmp_path / "t"), cfg)
    half = len(events) // 2
    merge_events(table, spark.createDataFrame(events.iloc[:half], EVENT_SCHEMA), epoch=("t", 0))
    merge_events(table, spark.createDataFrame(events.iloc[half:], EVENT_SCHEMA), epoch=("t", 1))
    assert delta_stats(table.snapshot())["delta_rows"] > 0

    out = compact_deltas(table)
    assert out["compacted"] and delta_stats(table.snapshot())["delta_rows"] == 0
    got = _final(table)
    want = replay_oracle(events).reindex(columns=got.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

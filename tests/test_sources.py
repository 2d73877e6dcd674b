"""Source connectors (cdc/sources.py): JSON-lines binlog end-to-end,
source union, Kafka reader construction, and the epoch-interleaving
determinism property (SURVEY §5.2.6)."""

import pandas as pd
import pytest

from etl_kafka_project_spark.cdc.envelope import EVENT_SCHEMA
from etl_kafka_project_spark.cdc.fixtures import StreamSpec, generate_stream
from etl_kafka_project_spark.cdc.merge import create_code_table, merge_events
from etl_kafka_project_spark.cdc.oracle import replay_oracle
from etl_kafka_project_spark.cdc.sources import union_sources
from etl_kafka_project_spark.cdc.stream import ReplayJob
from etl_kafka_project_spark.config import EngineConfig
from etl_kafka_project_spark.minilake.table import LakeTable

CFG = EngineConfig(n_buckets=8)


def _final(table):
    cols = ["repo", "path", "commit", "lang", "content", "content_sha256", "last_lsn", "row_version"]
    return table.read().select(*cols).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)


def test_json_binlog_replay_matches_oracle(spark, tmp_path):
    spec = StreamSpec(n_events=600, n_keys=80, n_segments=4, dup_rate=0.0, min_lines=2, max_lines=3)
    events, segs = generate_stream(str(tmp_path / "stream"), spec, fmt="json")
    assert segs[0].endswith(".json")
    create_code_table(spark, str(tmp_path / "table"), CFG)
    job = ReplayJob(
        table_root=str(tmp_path / "table"),
        stream_dir=str(tmp_path / "stream"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        config=CFG,
        source_format="json",
        max_files_per_trigger=2,
    )
    job.run(spark)
    got = _final(LakeTable(spark, str(tmp_path / "table")))
    want = replay_oracle(events).reindex(columns=got.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_union_sources_nullfills(spark):
    a = spark.createDataFrame([(1, "I", "r", "p")], "lsn long, op string, repo string, path string")
    b = spark.createDataFrame(
        [(2, "U", "r", "p", "x")], "lsn long, op string, repo string, path string, content string"
    )
    u = union_sources(a, b)
    assert u.count() == 2
    assert u.filter("lsn = 1").first()["content"] is None


def test_kafka_reader_builds_plan(spark):
    """No broker in the sandbox — the builder must still produce a valid
    streaming plan with the envelope schema (plan-construction parity)."""
    from etl_kafka_project_spark.cdc.sources import kafka_binlog

    try:
        df = kafka_binlog(spark, "localhost:9092", "changes")
    except Exception as e:  # pragma: no cover - kafka jar absent is fine
        assert "kafka" in str(e).lower()
        pytest.skip("kafka connector jar not on classpath in sandbox")
    assert df.isStreaming
    assert {f.name for f in EVENT_SCHEMA.fields} <= set(df.columns)


def test_epoch_interleaving_determinism(spark, tmp_path):
    """Property (SURVEY §5.2.6): splitting the same event log into
    different epoch boundaries yields the same final state."""
    spec = StreamSpec(n_events=500, n_keys=60, dup_rate=0.0, min_lines=2, max_lines=3)
    from etl_kafka_project_spark.cdc.fixtures import generate_events

    events = generate_events(spec)

    finals = []
    for chunks in ([500], [100, 400], [250, 150, 100]):
        root = str(tmp_path / f"t{len(chunks)}")
        table = create_code_table(spark, root, CFG)
        start = 0
        for i, size in enumerate(chunks):
            part = events.iloc[start : start + size]
            start += size
            merge_events(table, spark.createDataFrame(part, EVENT_SCHEMA), epoch=("t", i))
        finals.append(_final(table))
    pd.testing.assert_frame_equal(finals[0], finals[1])
    pd.testing.assert_frame_equal(finals[0], finals[2])

"""Schema evolution: additive columns, safe widenings, incompatible
rejection, and the late-old-writer LWW interaction (FIXTURES.md §3)."""

import pandas as pd
import pytest
from pyspark.sql import types as T

from etl_kafka_project_spark.cdc.envelope import EVENT_SCHEMA
from etl_kafka_project_spark.cdc.evolution import (
    align_events,
    diff_schemas,
    evolve_table,
    evolved_schema,
)
from etl_kafka_project_spark.cdc.fixtures import StreamSpec, generate_events, generate_stream
from etl_kafka_project_spark.cdc.merge import create_code_table, merge_events, table_schema
from etl_kafka_project_spark.cdc.oracle import replay_oracle
from etl_kafka_project_spark.config import EngineConfig

CFG = EngineConfig(n_buckets=8)

EVOLVED_EVENT_SCHEMA = T.StructType(
    EVENT_SCHEMA.fields
    + [T.StructField("author", T.StringType(), True), T.StructField("size", T.LongType(), True)]
)


def test_diff_additive_widening_incompatible():
    base = table_schema()
    batch = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("author", T.StringType()),  # additive
            T.StructField("lang", T.IntegerType()),  # string→int: incompatible
        ]
    )
    plan = diff_schemas(base, batch)
    assert [f.name for f in plan.added] == ["author"]
    assert plan.incompatible == [("lang", T.StringType(), T.IntegerType())]

    # widening: stored int, batch long
    narrow = T.StructType([T.StructField("k", T.StringType()), T.StructField("n", T.IntegerType())])
    wide = T.StructType([T.StructField("n", T.LongType())])
    plan2 = diff_schemas(narrow, wide)
    assert plan2.widened == [("n", T.IntegerType(), T.LongType())]
    out = evolved_schema(narrow, plan2)
    assert dict((f.name, f.dataType) for f in out.fields)["n"] == T.LongType()

    # batch NARROWER than table: no change needed
    plan3 = diff_schemas(
        T.StructType([T.StructField("n", T.LongType())]),
        T.StructType([T.StructField("n", T.IntegerType())]),
    )
    assert not plan3.changes_schema and not plan3.incompatible


def test_evolve_table_is_idempotent(spark, tmp_table_dir):
    table = create_code_table(spark, tmp_table_dir, CFG)
    v0 = table.current_version()
    snap, plan = evolve_table(table, EVOLVED_EVENT_SCHEMA)
    assert plan.changes_schema and snap.version == v0 + 1
    names = [f.name for f in snap.schema.fields]
    assert "author" in names and "size" in names
    # meta columns stay trailing
    assert names[-4:] == ["content_sha256", "last_lsn", "row_version", "_deleted"]
    # re-diff after crash: no-op
    snap2, plan2 = evolve_table(table, EVOLVED_EVENT_SCHEMA)
    assert not plan2.changes_schema and snap2.version == snap.version


def test_mid_stream_evolution_with_late_old_writer(spark, tmp_table_dir):
    """old-schema batches → evolved batches → a late old-writer batch;
    final state must match the oracle replay of the full evolved log."""
    spec = StreamSpec(n_events=900, n_keys=120, min_lines=2, max_lines=3, evolve_after_lsn=300)
    events = generate_events(spec)
    table = create_code_table(spark, tmp_table_dir, CFG)

    pre = events[events.lsn <= 300].drop(columns=["author", "size"])
    evolved = events[(events.lsn > 300) & (events.lsn <= 760)]
    # late old-writer: events after the cut arriving WITHOUT the new columns
    late_old = events[events.lsn > 760].drop(columns=["author", "size"])

    merge_events(table, spark.createDataFrame(pre, EVENT_SCHEMA), CFG, epoch=("t", 0))
    evolve_table(table, EVOLVED_EVENT_SCHEMA)
    merge_events(table, spark.createDataFrame(evolved, EVOLVED_EVENT_SCHEMA), CFG, epoch=("t", 1))
    merge_events(table, spark.createDataFrame(late_old, EVENT_SCHEMA), CFG, epoch=("t", 2))

    cols = ["repo", "path", "commit", "lang", "content", "author", "size",
            "content_sha256", "last_lsn", "row_version"]
    got = table.read().select(*cols).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)

    # oracle replays the evolved log, but late-old-writer events carried NO
    # author/size (they were dropped on write) → null those before replay
    oracle_events = events.copy()
    oracle_events.loc[oracle_events.lsn > 760, ["author", "size"]] = None
    want = replay_oracle(oracle_events).reindex(columns=got.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # evolution happened mid-stream: some rows carry authors, some never did
    assert got["author"].notna().any()


def test_pre_evolution_segments_keep_declared_types(spark, tmp_path):
    """Segments written before ``evolve_after_lsn`` hold an all-null
    ``author`` column; it is stored as a string column, so a reader that
    declares the evolved schema reads it (parquet type null would fail
    with PARQUET_COLUMN_DATA_TYPE_MISMATCH)."""
    spec = StreamSpec(n_events=400, n_keys=50, n_segments=4, evolve_after_lsn=300)
    events, segs = generate_stream(str(tmp_path / "stream"), spec)
    per_seg = [
        [r["author"] for r in spark.read.schema(EVOLVED_EVENT_SCHEMA).parquet(seg).collect()]
        for seg in segs
    ]
    assert per_seg[0] and all(a is None for a in per_seg[0])
    assert {a for seg in per_seg for a in seg if a} == set(events.author.dropna())


def test_align_events_nullfills_and_casts(spark):
    table = table_schema(
        [T.StructField(n, t, True) for n, t in
         [("repo", T.StringType()), ("path", T.StringType()), ("commit", T.StringType()),
          ("lang", T.StringType()), ("content", T.StringType()), ("size", T.LongType())]]
    )
    ev = spark.createDataFrame(
        [(1, "I", "r", "p", "c", "x", 3)],
        "lsn long, op string, repo string, path string, commit string, content string, size int",
    )
    out = align_events(ev, table)
    row = out.first()
    assert row["lang"] is None and row["size"] == 3
    assert dict(out.dtypes)["size"] == "bigint"


def test_source_tag_is_envelope_not_payload():
    """`_source` (the topic tag from sources.kafka_binlog/union_sources)
    must never evolve into the table schema as a payload column."""
    from pyspark.sql import types as T

    from etl_kafka_project_spark.cdc.evolution import diff_schemas
    from etl_kafka_project_spark.cdc.merge import table_schema

    batch = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("commit", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("content", T.StringType()),
            T.StructField("_source", T.StringType()),
            T.StructField("_raw", T.StringType()),
        ]
    )
    plan = diff_schemas(table_schema(), batch)
    assert plan.added == [] and plan.widened == [] and plan.incompatible == []


# ---------- MOR-path evolution property (round-2 hardening) ----------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

AUTHOR_SCHEMA = T.StructType(
    EVENT_SCHEMA.fields + [T.StructField("author", T.StringType(), True)]
)
_KEYS = [("r0", "a.py"), ("r0", "b.py"), ("r1", "a.py")]


@st.composite
def evolving_logs(draw):
    n = draw(st.integers(min_value=2, max_value=20))
    cut = draw(st.integers(min_value=1, max_value=n - 1))
    compact_mid = draw(st.booleans())
    rows = []
    for lsn in range(1, n + 1):
        repo, path = _KEYS[draw(st.integers(min_value=0, max_value=len(_KEYS) - 1))]
        op = draw(st.sampled_from(["I", "U", "D"]))
        if op == "D":
            commit = lang = content = author = None
        else:
            commit = draw(st.one_of(st.none(), st.sampled_from(["c1", "c2"])))
            lang = draw(st.one_of(st.none(), st.sampled_from(["py", "go"])))
            content = draw(st.one_of(st.none(), st.sampled_from(["x", "yy"])))
            if op == "I" and content is None:
                content = "seed"
            author = draw(st.one_of(st.none(), st.sampled_from(["ann", "bob"])))
        rows.append((lsn, op, repo, path, commit, lang, content, author))
    df = pd.DataFrame(
        rows, columns=["lsn", "op", "repo", "path", "commit", "lang", "content", "author"]
    )
    df["ts"] = pd.Timestamp("2024-01-01", tz="UTC").as_unit("us")
    df = df[["lsn", "op", "ts", "repo", "path", "commit", "lang", "content", "author"]]
    # the column only exists after the cut (pre-evolution writers)
    df.loc[df.lsn <= cut, "author"] = None
    return df, cut, compact_mid


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=evolving_logs())
def test_mor_evolution_property(spark, tmp_path_factory, case):
    """For ANY small log evolved mid-stream under MERGE-ON-READ (deltas,
    optional mid-compaction): old delta files written with the narrower
    delta schema must null-fill on read and the resolved state must
    equal the oracle. This pins `delta_schema` evolution — the round-1
    suite exercised evolution mainly through COW rewrites."""
    from etl_kafka_project_spark.cdc.mor import compact_deltas

    events, cut, compact_mid = case
    tmp = tmp_path_factory.mktemp("morevo")
    table = create_code_table(spark, str(tmp / "t"), CFG)

    pre = events[events.lsn <= cut].drop(columns=["author"])
    post = events[events.lsn > cut]
    merge_events(table, spark.createDataFrame(pre, EVENT_SCHEMA), CFG, epoch=("t", 0))
    if compact_mid:
        compact_deltas(table, delta_share=0.0)
    evolve_table(table, AUTHOR_SCHEMA)
    if not post.empty:
        merge_events(
            table, spark.createDataFrame(post, AUTHOR_SCHEMA), CFG, epoch=("t", 1)
        )

    cols = ["repo", "path", "commit", "lang", "content", "author",
            "content_sha256", "last_lsn", "row_version"]
    got = (
        table.read().select(*cols).toPandas()
        .sort_values(["repo", "path"]).reset_index(drop=True)
    )
    want = replay_oracle(events).reindex(columns=cols)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

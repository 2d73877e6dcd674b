"""Property-style invariants (SURVEY §5.2.6) over hypothesis-generated
event logs: for ANY small log (arbitrary op mix, arbitrary null columns,
arbitrary batch split) the engine's final state equals the trivially-
correct pandas oracle. Few examples, deadline off — each example runs
real Spark jobs."""

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_kafka_project_spark.cdc.envelope import EVENT_SCHEMA
from etl_kafka_project_spark.cdc.merge import create_code_table, merge_events
from etl_kafka_project_spark.cdc.oracle import replay_oracle
from etl_kafka_project_spark.config import EngineConfig

KEYS = [("r0", "a.py"), ("r0", "b.py"), ("r1", "a.py")]


@st.composite
def event_logs(draw):
    n = draw(st.integers(min_value=1, max_value=24))
    rows = []
    for lsn in range(1, n + 1):
        k = draw(st.integers(min_value=0, max_value=len(KEYS) - 1))
        op = draw(st.sampled_from(["I", "U", "D"]))
        repo, path = KEYS[k]
        if op == "D":
            commit = lang = content = None
        else:
            # U may carry arbitrary nulls (partial update); I carries a
            # full image except columns the writer doesn't know (nullable)
            commit = draw(st.one_of(st.none(), st.sampled_from(["c1", "c2", "c3"])))
            lang = draw(st.one_of(st.none(), st.sampled_from(["py", "go"])))
            content = draw(st.one_of(st.none(), st.sampled_from(["x", "yy", "zzz"])))
            if op == "I" and content is None:
                content = "seed"  # valid I events carry content (envelope rule)
        rows.append((lsn, op, repo, path, commit, lang, content))
    df = pd.DataFrame(rows, columns=["lsn", "op", "repo", "path", "commit", "lang", "content"])
    df["ts"] = pd.Timestamp("2024-01-01", tz="UTC").as_unit("us")
    split = draw(st.integers(min_value=0, max_value=n))
    return df[["lsn", "op", "ts", "repo", "path", "commit", "lang", "content"]], split


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=event_logs())
def test_any_log_any_split_matches_oracle(spark, tmp_path_factory, case):
    events, split = case
    cfg = EngineConfig(n_buckets=4)
    root = str(tmp_path_factory.mktemp("prop") / "t")
    table = create_code_table(spark, root, cfg)
    for i, chunk in enumerate([events.iloc[:split], events.iloc[split:]]):
        if len(chunk):
            merge_events(table, spark.createDataFrame(chunk, EVENT_SCHEMA), epoch=("p", i))

    cols = ["repo", "path", "commit", "lang", "content", "content_sha256", "last_lsn", "row_version"]
    got = table.read().select(*cols).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    want = replay_oracle(events).reindex(columns=cols)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

"""Hypothesis property test for MOR cross-epoch re-delivery (round-3
verdict item #6): for ANY event log, ANY partition into epochs, ANY
verbatim re-delivery of a subset of earlier epochs' events inside later
epochs, and ANY compaction point, the resolved table must equal the
pandas oracle of the ORIGINAL log — including ``row_version`` (each
event counted exactly once; re-deliveries are provable no-ops via the
``_writer_version`` staleness window in cdc/mor.py)."""

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_kafka_project_spark.cdc.envelope import EVENT_SCHEMA
from etl_kafka_project_spark.cdc.merge import create_code_table, merge_events
from etl_kafka_project_spark.cdc.mor import compact_deltas
from etl_kafka_project_spark.cdc.oracle import replay_oracle
from etl_kafka_project_spark.config import EngineConfig

KEYS = [("r0", "a.py"), ("r0", "b.py"), ("r1", "a.py")]


@st.composite
def redelivery_cases(draw):
    n = draw(st.integers(min_value=2, max_value=18))
    rows = []
    for lsn in range(1, n + 1):
        repo, path = KEYS[draw(st.integers(min_value=0, max_value=len(KEYS) - 1))]
        op = draw(st.sampled_from(["I", "U", "D"]))
        if op == "D":
            commit = lang = content = None
        else:
            commit = draw(st.one_of(st.none(), st.sampled_from(["c1", "c2"])))
            lang = draw(st.one_of(st.none(), st.sampled_from(["py", "go"])))
            content = draw(st.one_of(st.none(), st.sampled_from(["x", "yy", "zzz"])))
            if op == "I" and content is None:
                content = "seed"
        rows.append((lsn, op, repo, path, commit, lang, content))
    events = pd.DataFrame(
        rows, columns=["lsn", "op", "repo", "path", "commit", "lang", "content"]
    )
    events["ts"] = pd.Timestamp("2024-01-01", tz="UTC").as_unit("us")
    events = events[["lsn", "op", "ts", "repo", "path", "commit", "lang", "content"]]

    # random partition into 2-3 LSN-ordered epochs
    n_epochs = draw(st.integers(min_value=2, max_value=3))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=0, max_value=n), min_size=n_epochs - 1,
                max_size=n_epochs - 1,
            )
        )
    )
    bounds = [0, *cuts, n]
    epochs = [events.iloc[bounds[i] : bounds[i + 1]] for i in range(n_epochs)]

    # for every epoch after the first: a VERBATIM re-delivered subset of
    # all strictly-earlier events (the delivery contract's only allowed
    # overlap), interleaved into the epoch's batch
    redeliver = []
    for i in range(n_epochs):
        earlier = events.iloc[: bounds[i]]
        if len(earlier):
            mask = draw(
                st.lists(st.booleans(), min_size=len(earlier), max_size=len(earlier))
            )
            redeliver.append(earlier[pd.Series(mask, index=earlier.index)])
        else:
            redeliver.append(earlier)

    # compact (full, delta_share=0) after this epoch index; n_epochs = never
    compact_after = draw(st.integers(min_value=0, max_value=n_epochs))
    return events, epochs, redeliver, compact_after


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=redelivery_cases())
def test_any_redelivery_any_compaction_is_noop(spark, tmp_path_factory, case):
    events, epochs, redeliver, compact_after = case
    cfg = EngineConfig(n_buckets=4)
    root = str(tmp_path_factory.mktemp("morprop") / "t")
    table = create_code_table(spark, root, cfg)

    for i, (chunk, re_chunk) in enumerate(zip(epochs, redeliver)):
        batch = pd.concat([chunk, re_chunk]).sort_values("lsn", kind="stable")
        if len(batch):
            merge_events(
                table, spark.createDataFrame(batch, EVENT_SCHEMA), cfg, epoch=("p", i)
            )
        if i == compact_after:
            compact_deltas(table, delta_share=0.0)

    cols = [
        "repo", "path", "commit", "lang", "content",
        "content_sha256", "last_lsn", "row_version",
    ]
    got = (
        table.read().select(*cols).toPandas()
        .sort_values(["repo", "path"]).reset_index(drop=True)
    )
    want = replay_oracle(events).reindex(columns=cols)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

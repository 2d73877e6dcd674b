"""Unit tests for the batch LWW fold (cdc/fold.py) — constructed cases."""

import pandas as pd
from pyspark.sql import types as T

from etl_kafka_project_spark.cdc.envelope import EVENT_SCHEMA
from etl_kafka_project_spark.cdc.fold import NEVER, fold_batch

KEYS = ["repo", "path"]
PAYLOAD = ["commit", "lang", "content"]


def _events(spark, rows):
    cols = ["lsn", "op", "repo", "path", "commit", "lang", "content"]
    pdf = pd.DataFrame(rows, columns=cols)
    pdf["ts"] = pd.Timestamp("2024-01-01")
    schema = T.StructType([f for f in EVENT_SCHEMA.fields])
    return spark.createDataFrame(pdf[[f.name for f in schema.fields]], schema)


def _fold(spark, rows, salt=None):
    df = fold_batch(_events(spark, rows), KEYS, PAYLOAD, salt=salt)
    return {tuple(r[k] for k in KEYS): r.asDict() for r in df.collect()}


def test_insert_then_partial_update_non_null_wins(spark):
    out = _fold(
        spark,
        [
            (1, "I", "r", "p", "c1", "python", "v1"),
            (2, "U", "r", "p", "c2", None, None),  # partial: only commit
        ],
    )
    row = out[("r", "p")]
    assert row["commit"] == "c2" and row["commit_lsn"] == 2
    assert row["lang"] == "python" and row["lang_lsn"] == 1
    assert row["content"] == "v1" and row["content_lsn"] == 1
    assert row["_max_lsn"] == 2 and not row["_is_delete"] and row["_applied"] == 2


def test_delete_wins_when_newest(spark):
    out = _fold(
        spark,
        [
            (1, "I", "r", "p", "c1", "go", "v1"),
            (5, "D", "r", "p", None, None, None),
        ],
    )
    row = out[("r", "p")]
    assert row["_is_delete"] and row["_last_d_lsn"] == 5 and row["_max_lsn"] == 5
    assert row["content"] is None and row["content_lsn"] == NEVER


def test_delete_then_reinsert_rebuilds_only_from_newer(spark):
    out = _fold(
        spark,
        [
            (1, "I", "r", "p", "old", "go", "old-content"),
            (2, "D", "r", "p", None, None, None),
            (3, "U", "r", "p", "new", None, "new-content"),  # lang never set post-D
        ],
    )
    row = out[("r", "p")]
    assert not row["_is_delete"]
    assert row["commit"] == "new" and row["content"] == "new-content"
    # pre-delete lang must NOT leak through the delete boundary
    assert row["lang"] is None and row["lang_lsn"] == NEVER
    assert row["_last_d_lsn"] == 2


def test_duplicate_lsn_is_noop(spark):
    rows = [
        (1, "I", "r", "p", "c1", "go", "v1"),
        (2, "U", "r", "p", "c2", None, None),
        (2, "U", "r", "p", "c2", None, None),  # verbatim replay duplicate
    ]
    out = _fold(spark, rows)
    assert out[("r", "p")]["_applied"] == 2


def test_out_of_order_within_batch_lsn_is_authority(spark):
    # arrival order scrambled; lsn decides
    out = _fold(
        spark,
        [
            (3, "U", "r", "p", "newest", None, None),
            (1, "I", "r", "p", "oldest", "go", "v1"),
            (2, "U", "r", "p", "middle", "js", None),
        ],
    )
    row = out[("r", "p")]
    assert row["commit"] == "newest" and row["lang"] == "js" and row["content"] == "v1"


def test_null_key_group_survives_fold(spark):
    # A null key column must flow through the fold (groupBy keeps null
    # keys; the _applied re-join is eqNullSafe). Callers normally
    # quarantine null keys via split_dead_letters, but fold_batch itself
    # must not silently lose them — regression for the round-3 advice.
    out = _fold(
        spark,
        [
            (1, "I", "r", None, "c1", "go", "v1"),
            (2, "U", "r", None, "c2", None, None),
            (3, "I", "r", "p", "cx", "py", "vx"),
        ],
    )
    row = out[("r", None)]
    assert row["commit"] == "c2" and row["lang"] == "go" and row["_applied"] == 2
    assert out[("r", "p")]["_applied"] == 1


def test_applied_count_identical_across_shapes(spark):
    """A key with hundreds of distinct lsns (plus verbatim in-batch
    duplicates) in one batch: the fused shape (size of collect_set) and
    the two-phase shape (dropDuplicates, then partial counts summed)
    must give the same exact ``_applied``, which feeds ``row_version``."""
    n = 296
    rows = [
        (i + 1, "I" if i == 0 else "U", "r", "p", f"c{i}", None, None)
        for i in range(n)
    ]
    rows += rows[:10]
    plain = _fold(spark, rows)[("r", "p")]
    salted = _fold(spark, rows, salt=4)[("r", "p")]
    assert plain["_applied"] == salted["_applied"] == n


def test_salted_fold_identical_to_plain(spark):
    rows = [
        (1, "I", "r", "p", "c1", "go", "v1"),
        (2, "U", "r", "p", None, "js", None),
        (3, "D", "r", "p", None, None, None),
        (4, "U", "r", "p", "c4", None, "v4"),
        (5, "I", "q", "p2", "x", "md", "docs"),
        (6, "D", "q", "p2", None, None, None),
    ]
    plain = _fold(spark, rows)
    salted = _fold(spark, rows, salt=4)
    assert plain == salted

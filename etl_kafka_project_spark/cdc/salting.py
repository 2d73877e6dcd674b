"""Skew-aware salted repartitioning for the write side of the MERGE.

The reference's answer to placement was a fixed ``repartition(100)`` per
message (``pyspark_interface.py:63``) — no skew awareness. In this engine
the *join* side of skew is AQE's job (``skewJoin.enabled``); the *write*
side is ours: after the merge resolves, rows are physically laid out by
hash bucket, and a hot bucket (e.g. the repo carrying 20% of all events,
FIXTURES.md §2) would otherwise serialize into a single write task and a
single giant file.

``plan_write_splits`` decides, per touched bucket, how many write tasks
(= output files) it gets — ``ceil(expected_rows / target_file_rows)`` —
from *known* row counts (parent snapshot file stats + this batch's folded
key counts), not a sampling pass. ``salted_repartition`` then shuffles by
``(bucket, salt)`` where ``salt = pmod(hash(key…, 'w'), splits[bucket])``:
cold buckets keep 1 split, hot buckets fan out. Deterministic, bounded
file counts (Σ splits), and the same key always salts identically so a
bucket's files stay disjoint by key.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: upper bound on one bucket's write splits (= output files)
MAX_SPLITS = 64


def plan_write_splits(
    expected_rows: Mapping[int, int],
    target_file_rows: int,
) -> dict[int, int]:
    """Splits per bucket: ceil(rows/target), clamped to [1, MAX_SPLITS]."""
    return {
        b: max(1, min(MAX_SPLITS, -(-int(rows) // max(1, target_file_rows))))
        for b, rows in expected_rows.items()
    }


def salted_repartition(
    df: DataFrame,
    key_columns: Sequence[str],
    splits: Mapping[int, int],
) -> DataFrame:
    """Repartition merge output by (bucket, salt) ahead of the bucketed
    file write. Total partitions = Σ splits so every split maps to ~one
    write task; buckets not in ``splits`` default to 1 split."""
    n_parts = max(1, sum(splits.values()))
    # bucket → n_splits as a map literal; salt only fans out hot buckets
    map_args: list[F.Column] = []
    for b, s in splits.items():
        map_args.extend([F.lit(int(b)), F.lit(int(s))])
    splits_map = F.create_map(*map_args)
    salt = F.pmod(
        F.hash(*[F.col(k) for k in key_columns], F.lit("w")),
        F.coalesce(splits_map[F.col("_bucket")], F.lit(1)),
    )
    return (
        df.withColumn("_salt", salt)
        .repartition(n_parts, F.col("_bucket"), F.col("_salt"))
        .drop("_salt")
    )

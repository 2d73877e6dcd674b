"""The CDC change-event envelope.

The reference's change event is a JSON-encoded ``Movie`` keyed by
``imdb_id`` on a Kafka topic, with a strict 8-field envelope check that
*rejects* unknown shapes (``utils/data_structures/movie.py:40-57``,
``kafka_interface.py:39,71``). The engine's envelope is the binlog/WAL
shape from BASELINE.json's input_hint:

    (lsn bigint, op string I/U/D, ts timestamp,
     repo string, path string, commit string, lang string, content string)

with primary key ``(repo, path)``, version authority ``lsn`` (strictly
monotonic global sequence), and *evolve-on-widen* instead of
reject-on-mismatch: unknown additive columns are admitted and promoted to
the table schema (``cdc/evolution.py``); genuinely corrupt events (null
key or null/non-monotonic lsn or bad op-code) go to a dead-letter table
instead of killing the stream (replaces the reference's log-and-continue
channel, ``extractor.py:67-68``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

OPS = ("I", "U", "D")

#: Payload columns of the lake table (input_hint shape). ``content`` is the
#: sha256-invariant column; null on D events. All fields nullable: the
#: decode layer must be able to REPRESENT invalid events (null key/lsn) so
#: that ``split_dead_letters`` — not the schema — is the validation gate,
#: the evolve-don't-reject counterpart of ``movie.py:52-54``.
PAYLOAD_FIELDS = [
    T.StructField("repo", T.StringType(), True),
    T.StructField("path", T.StringType(), True),
    T.StructField("commit", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("content", T.StringType(), True),
]

#: Full change-event envelope.
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
    + PAYLOAD_FIELDS
)


def dead_letter_reason() -> F.Column:
    """Envelope-validation verdict per event: null when valid, else the
    dead-letter reason (see :func:`split_dead_letters`). Unbound
    when-chain (~40 ms of py4j construction) memoized across epochs."""
    from etl_kafka_project_spark.functions.exprcache import cached_exprs

    return cached_exprs(
        ("dead_letter_reason",),
        lambda: (
            F.when(F.col("lsn").isNull(), F.lit("null_lsn"))
            .when(F.col("repo").isNull() | F.col("path").isNull(), F.lit("null_key"))
            .when(~F.col("op").isin(*OPS), F.lit("bad_op"))
            .when(
                (F.col("op") == "I") & F.col("content").isNull(),
                F.lit("null_content"),
            )
        ),
    )


def split_dead_letters(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Partition a decoded batch into (valid, dead_letter).

    Valid: non-null key columns, non-null lsn, op in {I,U,D}, and content
    present on inserts (U may carry null columns — partial update, resolved
    by column-granular coalesce in the merge; D carries no payload).
    Everything else is dead-lettered with a reason column — the engine's
    replacement for the reference's typed-exception log-and-continue
    (``utils/exceptions.py``, ``kafka_interface.py:75-76``).
    """
    from etl_kafka_project_spark.functions.exprcache import cached_exprs

    reason = dead_letter_reason()
    is_valid = cached_exprs(("dead_letter_is_valid",), lambda: reason.isNull())
    # valid side: one filter on the cached predicate (the hot path —
    # withColumn+drop would cost two more driver round-trips per epoch)
    valid = events.filter(is_valid)
    dead = events.withColumn("_dead_reason", reason).filter(
        F.col("_dead_reason").isNotNull()
    )
    return valid, dead

"""Change-stream sources — the reference's two Kafka topics
(``utils/interfaces/kafka_interface.py:47-81``, topics ``config.py:48``)
generalized to Structured Streaming readers that all yield the same typed
envelope (``cdc/envelope.py``), so the rest of the engine is
source-agnostic.

Three shapes:

* **parquet binlog segments** (the sandbox default) — ordered
  ``segment-*.parquet`` files tailed by the file source,
* **JSON-lines binlog segments** — the Kafka-message-shaped variant:
  each line is one JSON envelope; decoded with ``from_json`` + explicit
  schema (never inference), corrupt lines → dead letter,
* **Kafka** — ``format("kafka")`` with the same ``from_json`` decode of
  ``value`` and the key checked against the payload. No broker exists in
  this sandbox, so this builder is exercised only for plan construction;
  on a real cluster it is the production path and needs only
  ``spark-sql-kafka`` on the classpath.

Multiple topics/sources union into one stream with a source tag
(the reference's round-robin topic drain, ``extractor.py:70-85``,
becomes ``unionByName`` — fairness is Spark's job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_kafka_project_spark.cdc.envelope import EVENT_SCHEMA


def parquet_binlog(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Tail a directory of ordered parquet binlog segments."""
    reader = spark.readStream.schema(schema or EVENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def json_binlog(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Tail JSON-lines segments (one envelope per line). Decoding uses
    the explicit event schema; lines that fail to parse surface as
    all-null envelopes which ``split_dead_letters`` quarantines (the
    engine's version of the reference's strict envelope check,
    ``movie.py:52-54``)."""
    schema = schema or EVENT_SCHEMA
    reader = spark.readStream.schema(T.StructType([T.StructField("value", T.StringType())]))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.text(path).withColumnRenamed("value", "_line")
    parsed = raw.select(F.from_json(F.col("_line"), schema).alias("e"), F.col("_line"))
    return parsed.select("e.*")


#: The wire schema ``format("kafka")`` produces — pinned here so the
#: decode can be contract-tested against recorded frames without a
#: broker (no spark-sql-kafka jar exists in the sandbox).
KAFKA_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("timestampType", T.IntegerType(), True),
    ]
)


def decode_kafka_frame(raw: DataFrame, schema: T.StructType | None = None) -> DataFrame:
    """Decode a Kafka-wire-shaped frame (``KAFKA_WIRE_SCHEMA`` — the
    exact columns ``format("kafka")`` emits) into the typed envelope.
    Split from :func:`kafka_binlog` so the decode half of the production
    path is testable end-to-end on recorded frames in a broker-less
    sandbox: everything downstream of ``reader.load()`` is THIS function,
    batch or streaming alike (the expression is identical; Structured
    Streaming plans it per micro-batch)."""
    schema = schema or EVENT_SCHEMA
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("e"),
        F.col("topic").alias("_source"),
    ).select("e.*", "_source")


def kafka_binlog(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    schema: T.StructType | None = None,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """The production source: JSON envelopes on Kafka topics (reference
    ``kafka_interface.py``). Offsets live in the Spark checkpoint — the
    engine's epoch idempotence makes reprocessing after failover a no-op,
    reproducing commit-after-process + idempotent-sink
    (``kafka_interface.py:74`` + ``redis_interface.py:58``) atomically.

    Delivery-order contract: a multi-partition topic orders events per
    PARTITION (hence per key under key-hash partitioning), not globally
    — a lagging partition legally produces global lsn gaps across
    micro-batches, and interleaved batch spans break the
    range-disjoint contract the re-delivery drop relies on
    (``cdc/fold.py`` docstring). Use one stream id per partition: each
    partition then keeps its own applied LSN intervals in the snapshot,
    in order. A partition whose lsns are sparse (WAL byte offsets)
    shows a skipped segment to the order guard only when the gap is
    wider than the holes in the next batch's span; a narrower one is
    dropped as a re-delivery (``EngineConfig.order_guard``)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    return decode_kafka_frame(reader.load(), schema)


def union_sources(*streams: DataFrame) -> DataFrame:
    """Merge several tagged source streams into one (reference
    round-robin drain → unionByName; missing columns null-fill so
    heterogeneous sources evolve independently)."""
    out = streams[0]
    for s in streams[1:]:
        out = out.unionByName(s, allowMissingColumns=True)
    return out

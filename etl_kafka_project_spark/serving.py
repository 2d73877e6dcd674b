"""Query surface over lake snapshots — the engine's analog of the
reference's GraphQL-over-RediSearch serving path (EP3: ``run/server.py``,
``graphql_interface.py:17-63``, ``redis_interface.py:101-119``).

Reference semantics reproduced:

* **conjunctive multi-field search** — every GraphQL kwarg became an
  AND-ed RediSearch term (``graphql_interface.py:33-39``); here each
  requested field becomes an AND-ed DataFrame predicate over the latest
  snapshot, and Catalyst pushes the predicates into the parquet scan,
* **multi-value args** — a ``"v1, v2"`` argument was split on ``', '``
  into multiple required terms (``graphql_interface.py:36``); same here,
* **text vs tag fields** — RediSearch TextFields matched tokens,
  TagFields matched exact tags (``utils/schemas.py:7-16``); mapped to
  ``contains`` (token-ish) vs exact-term-in-CSV-string matching,
* **pagination** — ``LIMIT offset, limit`` default (0, 10)
  (``redis_interface.py:101,107``) → ``offset().limit()``,
* **injection guard** — query strings containing ``;`` / ``--`` were
  rejected (``redis_interface.py:103-104``); DataFrame filters are
  parameterized so injection is structurally impossible, but the guard is
  kept as input validation for API parity,
* **null → 'None' fill at the read boundary** (``redis_interface.py:63-74``),
* **change-feed subscription** (``graphql_interface.py:47-63``) → batch or
  streaming read of the table's changelog directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_kafka_project_spark.cdc.fold import NEVER, cell_alive
from etl_kafka_project_spark.cdc.merge import key_columns, payload_columns
from etl_kafka_project_spark.minilake.table import LakeTable, Snapshot

DEFAULT_LIMIT = 10  # reference default page size, redis_interface.py:101


class QueryValidationError(ValueError):
    """Bad search input (reference injection guard, redis_interface.py:103)."""


def _guard(term: str) -> str:
    if ";" in term or "--" in term:
        raise QueryValidationError(f"invalid characters in query term: {term!r}")
    return term


def search(
    df: DataFrame,
    text: dict[str, str] | None = None,
    tags: dict[str, str] | None = None,
    exact: dict[str, str] | None = None,
    offset: int = 0,
    limit: int = DEFAULT_LIMIT,
    order_by: list[str] | None = None,
) -> DataFrame:
    """Conjunctive multi-field search with pagination.

    Every (field → "v1, v2") entry is split on ``', '`` and EVERY term
    must match (AND of ANDs, the reference's query builder):

    * ``text`` fields: case-insensitive substring containment per term,
    * ``tags`` fields: the stored value is a ``', '``-joined CSV string
      (reference list encoding, ``actor_handler.py:26``); each term must
      be an exact member,
    * ``exact`` fields: equality per term (useful for single-valued
      fields; multiple terms on one exact field can only match if equal).
    """
    cond = F.lit(True)
    for field_name, arg in (text or {}).items():
        for term in str(arg).split(", "):
            cond = cond & F.lower(F.col(field_name)).contains(_guard(term).lower())
    for field_name, arg in (tags or {}).items():
        for term in str(arg).split(", "):
            cond = cond & F.array_contains(F.split(F.col(field_name), ", "), _guard(term))
    for field_name, arg in (exact or {}).items():
        for term in str(arg).split(", "):
            cond = cond & (F.col(field_name) == _guard(term))
    out = df.filter(cond)
    if order_by:
        out = out.orderBy(*order_by)
    if offset:
        if not order_by:
            # offset over an unordered multi-partition scan has no
            # stable row order across queries — page 2 could repeat or
            # skip page-1 rows. The serve endpoint defaults order_by to
            # the table's key columns; library callers must choose.
            raise ValueError(
                "search(offset=...) requires order_by for stable"
                " pagination (e.g. the table's key columns)"
            )
        out = out.offset(offset)
    return out.limit(limit) if limit is not None else out


def fill_none(df: DataFrame) -> DataFrame:
    """Replace nulls in string columns with ``"None"`` at the read
    boundary — reference sink behavior (``redis_interface.py:63-74``)."""
    string_cols = [name for name, dtype in df.dtypes if dtype == "string"]
    return df.na.fill("None", subset=string_cols)


# ---------- change feed (pub/sub analog) ----------


def _changelog(spark: SparkSession, table_root: str) -> tuple[DataFrame, Snapshot, str, str]:
    """The feed's delta files as stored, the table's snapshot header,
    the feed dir and the glob of its epoch dirs. After each snapshot CAS
    the merge hardlinks the delta files that snapshot added under
    ``changelog/stream=<id>/epoch=<n>`` (``cdc/merge.py
    publish_changelog``), so an epoch dir exists only for a committed
    epoch; the per-stream namespace
    keeps two streams merging into one table from clobbering each
    other's feed epochs. The epoch dirs found are read with the table's
    CURRENT delta schema, so epochs written before a schema evolution
    null-fill the evolved columns and no footer is opened to find the
    schema; ``stream``/``epoch`` come from the dir names."""
    import glob as _glob

    from etl_kafka_project_spark.cdc.mor import delta_schema

    path = os.path.join(table_root, "changelog")
    pattern = os.path.join(path, "stream=*", "epoch=*")
    dirs = sorted(_glob.glob(pattern))
    if not dirs:
        raise FileNotFoundError(f"no changelog under {path}")
    snap = LakeTable(spark, table_root).snapshot_header()
    df = spark.read.schema(delta_schema(snap)).option("basePath", path).parquet(*dirs)
    return df, snap, path, pattern


def _feed_from_delta(df: DataFrame, snap: Snapshot) -> DataFrame:
    """Project the changelog's delta files (after the snapshot CAS, the
    merge hardlinks the delta files the committing snapshot added into
    the feed dir instead of writing a second copy, ``cdc/merge.py
    publish_changelog``) into the feed
    contract shape ``(<keys>, op U/D, lsn, reset_lsn, <payload>,
    <payload>_lsn..., stream, epoch)``, keys and payload as the table's
    snapshot lays them out. A write-lsn of the NEVER sentinel (column
    never set by a surviving event) surfaces as null."""
    payload = payload_columns(snap)
    return df.select(
        *key_columns(snap),
        F.when(F.col("_is_delete"), F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.col("_max_lsn").alias("lsn"),
        F.col("_last_reset_lsn").alias("reset_lsn"),
        *payload,
        *[
            F.when(F.col(f"{c}_lsn") > NEVER, F.col(f"{c}_lsn")).alias(f"{c}_lsn")
            for c in payload
        ],
        "stream",
        "epoch",
    )


def read_changelog(
    spark: SparkSession,
    table_root: str,
    from_epoch: int | None = None,
    stream_id: str | None = None,
) -> DataFrame:
    """Batch read of the outbound change feed written by the merge
    (``cdc/merge.py`` changelog_dir). One row per changed key per epoch:
    ``(<keys>, op U/D, lsn, reset_lsn, <payload>, <payload>_lsn...,
    stream, epoch)``."""
    df, snap, _, _ = _changelog(spark, table_root)
    df = _feed_from_delta(df, snap)
    if stream_id is not None:
        df = df.filter(F.col("stream") == stream_id)
    if from_epoch is not None:
        df = df.filter(F.col("epoch") >= from_epoch)
    return df


def stream_changelog(spark: SparkSession, table_root: str) -> DataFrame:
    """Streaming subscription to the change feed — the engine's
    ``subscribe_movie_updates`` (``graphql_interface.py:44-63``): a file-
    source tail of the changelog dir, ``outputMode('append')``-safe,
    projected to the same shape as :func:`read_changelog`."""
    # a file stream needs its schema up front: take the batch reader's,
    # which carries the stream/epoch dir columns too
    batch, snap, path, pattern = _changelog(spark, table_root)
    return _feed_from_delta(
        spark.readStream.schema(batch.schema).option("basePath", path).parquet(pattern), snap
    )


def apply_changelog(
    feed: DataFrame, key_columns: list[str], payload_columns: list[str]
) -> DataFrame:
    """Fold the change feed into the final live state — the feed's
    consumer contract made executable: per column, the newest write
    (``max_by`` over ``{c}_lsn``, null = the epoch did not write the
    column) wins, writes below a newer reset barrier (``reset_lsn``: an
    I or D nulls every older cell) die, and keys whose newest action is
    a delete drop. Equals ``LakeTable.read()`` of the merged table
    (proved in test_serving_compaction), so a downstream keyed sink that
    applies the feed this way stays byte-identical to the lake."""
    d_lsn = F.max(F.when(F.col("op") == "D", F.col("lsn"))).alias("_d")
    aggs = [F.max("lsn").alias("last_lsn"), d_lsn, F.max("reset_lsn").alias("_r")]
    for c in payload_columns:
        aggs.append(F.max_by(F.col(c), F.col(f"{c}_lsn")).alias(f"_v_{c}"))
        aggs.append(F.max(f"{c}_lsn").alias(f"_l_{c}"))
    g = feed.groupBy(*key_columns).agg(*aggs)
    live = ~(F.col("_d").isNotNull() & (F.col("_d") == F.col("last_lsn")))
    out = [F.col(k) for k in key_columns]
    for c in payload_columns:
        l = F.coalesce(F.col(f"_l_{c}"), F.lit(NEVER))
        alive = cell_alive(l, F.col("_d"), F.col("_r"))
        out.append(F.when(alive, F.col(f"_v_{c}")).alias(c))
    out.append(F.col("last_lsn"))
    return g.filter(live).select(*out)


def changelog_as_messages(feed: DataFrame, key_columns: list[str]) -> DataFrame:
    """Encode the change feed as keyed JSON messages — the reference's
    Kafka producer shape (``kafka_interface.py:24-44``: key = primary
    key, value = JSON document; ``movie.py:68-81`` MovieEncoder).
    The result has Kafka sink columns (key, value); write it with
    ``df.write.format("kafka")`` where a broker exists, or any keyed
    sink here."""
    payload = [c for c in feed.columns]
    return feed.select(
        F.concat_ws("/", *[F.col(k) for k in key_columns]).cast("binary").alias("key"),
        F.to_json(F.struct(*payload)).cast("binary").alias("value"),
    )


def latest(spark: SparkSession, table_root: str, version: int | None = None) -> DataFrame:
    """Read the (or a time-traveled) snapshot without tombstones."""
    return LakeTable(spark, table_root).read(version=version)


def point_lookup(spark: SparkSession, table_root: str, exact: dict | None) -> DataFrame | None:
    """Pruned read for a point query: when ``exact`` pins EVERY key
    column to a single term, the row can live in exactly one hash bucket
    — compute it (a LocalTableScan over one literal row, no files) and
    read only that bucket's manifest, further pruned by per-file
    [min, max] key stats (``LakeTable.read(key_equals=...)``). On a
    multi-bucket table this turns the serve endpoint's detail-fetch
    (reference keyed GET, ``redis_interface.py:86-99``) from a full
    snapshot scan into an O(files-in-one-bucket) read. Returns ``None``
    when the query isn't a point lookup (caller falls back to the full
    snapshot scan)."""
    if not exact:
        return None
    table = LakeTable(spark, table_root)
    snap = table.snapshot_header()
    keys = key_columns(snap)
    if not all(k in exact and ", " not in str(exact[k]) for k in keys):
        return None
    vals = {k: _guard(str(exact[k])) for k in keys}
    one = spark.createDataFrame(
        [tuple(vals[k] for k in keys)], schema=", ".join(f"`{k}` string" for k in keys)
    ).select(
        *[F.col(k).cast(snap.schema[k].dataType).alias(k) for k in keys]
    )
    # one collect carries the bucket AND the key values in their TABLE
    # types: the manifest's [min, max] pruning compares natively, so a
    # string passed against an int-keyed table's stats would TypeError
    row = one.select(
        table.bucket_expr(snap).alias("_b"), *keys
    ).collect()[0]
    return table.read(
        buckets={int(row["_b"])}, key_equals={k: row[k] for k in keys}
    )

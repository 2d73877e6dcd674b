"""The reference pipeline, end-to-end, on the generic engine.

Reproduces the movie ETL of ``ShalevS343/etl-kafka-project`` — two Kafka
topics of keyed JSON movie fragments, pandas-CSV enrichment, a keyed
non-null-wins merge with a ``touch_counter``, emit-on-completion with
tombstone, and a null→``'None'``-filled keyed sink — as a handful of
vectorized Spark operations over the CDC engine:

* two source streams → ``unionByName(allowMissingColumns=True)`` of
  lsn-tagged ``U`` events (the reference's round-robin topic drain,
  ``extractor.py:70-85``; arrival order becomes the LSN),
* enrichment — the four pandas point-lookups
  (``genre_handler.py:13-27``, ``actor_handler.py:13-26``,
  ``oscar_handler.py:16-29``, ``bafta_handler.py:16-30``, concat
  ``api_entity_handler.py:69-84``) — as **broadcast left joins** +
  ``collect_list``/``concat_ws`` BEFORE the merge, batch-vectorized
  instead of per-message,
* the keyed merge (``pyspark_interface.py:38-70``: per-event filter +
  withColumn-per-non-null-field + union) as the engine's fold+MERGE with
  key ``imdb_id`` and op ``U`` (column-granular non-null LWW is exactly
  the reference's update rule); ``row_version`` plays ``touch_counter``
  (``utils/schemas.py:29``) since each source touches a key once,
* emit-on-completion (``pyspark_interface.py:72-95``: emit when
  ``touch_counter == 2``, then delete the key from state) as a read of
  completed rows + a tombstone batch merged back,
* sink null-fill ``'None'`` (``redis_interface.py:63-74``) via
  ``serving.fill_none``.

Movie schema per ``utils/schemas.py:18-30`` (8 strings; the integer
``touch_counter`` is the engine's ``row_version`` meta column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_kafka_project_spark import serving
from etl_kafka_project_spark.cdc.merge import merge_events, table_schema
from etl_kafka_project_spark.config import EngineConfig
from etl_kafka_project_spark.minilake.table import LakeTable

MOVIE_PAYLOAD_FIELDS = [
    T.StructField(name, T.StringType(), True)
    for name in [
        "movie_name",
        "genres",
        "directors",
        "lead_actors",
        "rating",
        "awards",
        "release_date",
    ]
]

MOVIE_CONFIG = EngineConfig(key_columns=("imdb_id",), n_buckets=8)


def create_movie_table(spark: SparkSession, root: str, config: EngineConfig = MOVIE_CONFIG) -> LakeTable:
    schema = T.StructType(
        [T.StructField("imdb_id", T.StringType(), False)] + list(MOVIE_PAYLOAD_FIELDS)
    )
    return LakeTable.create(
        spark,
        root,
        schema=table_schema(schema.fields),
        key_columns=list(config.key_columns),
        n_buckets=config.n_buckets,
    )


def tag_sources(tmdb: DataFrame, omdb: DataFrame) -> DataFrame:
    """Union the two source topics into one change stream.

    Each source carries a per-source ``seq``; the global LSN interleaves
    them (tmdb even, omdb odd) — the deterministic stand-in for the
    reference's arrival order (round-robin drain, ``extractor.py:70-85``).
    All ops are ``U``: the reference's update path is column-granular
    non-null-wins whether or not the key exists (``pyspark_interface.py:42-54``).
    """
    t = tmdb.select(
        (F.col("seq").cast("long") * 2).alias("lsn"),
        F.lit("U").alias("op"),
        "imdb_id",
        *[c for c in tmdb.columns if c not in ("seq", "imdb_id")],
    )
    o = omdb.select(
        (F.col("seq").cast("long") * 2 + 1).alias("lsn"),
        F.lit("U").alias("op"),
        "imdb_id",
        *[c for c in omdb.columns if c not in ("seq", "imdb_id")],
    )
    return t.unionByName(o, allowMissingColumns=True)


def enrich(
    events: DataFrame,
    genres: DataFrame,
    actors: DataFrame,
    oscars: DataFrame,
    baftas: DataFrame,
) -> DataFrame:
    """Vectorized replacement of the reference's four per-message pandas
    lookups (``api_entity_handler.py:54-84``), dimensions broadcast:

    * ``genres(imdb_id, genre)`` — first match by imdb_id,
    * ``actors(FilmID, Actor)`` — all matches, ``', '``-joined,
    * ``oscar_awards(film, category)`` + ``bafta_awards(nominee,
      category)`` — matched by MOVIE NAME, oscars then baftas,
      ``', '``-joined, null if both empty; only applied to events that
      carry a ``movie_name`` (the reference guard,
      ``api_entity_handler.py:61-62``).

    Deterministic ordering: the reference preserves CSV row order in its
    ``.tolist()`` joins, so dimensions carry their original row position
    and lists are sorted by it.
    """
    genre_dim = (
        genres.withColumn("_pos", F.monotonically_increasing_id())
        .groupBy("imdb_id")
        .agg(F.min_by("genre", "_pos").alias("_genre"))  # first match (genre_handler.py:27)
    )
    actor_dim = (
        actors.withColumn("_pos", F.monotonically_increasing_id())
        .groupBy("FilmID")
        .agg(
            F.concat_ws(", ", F.array_sort(F.collect_list(F.struct("_pos", "Actor"))).getField("Actor")).alias(
                "_lead_actors"
            )
        )
        .withColumnRenamed("FilmID", "imdb_id")
    )

    def award_dim(df: DataFrame, name_col: str) -> DataFrame:
        return (
            df.withColumn("_pos", F.monotonically_increasing_id())
            .groupBy(name_col)
            .agg(F.array_sort(F.collect_list(F.struct("_pos", "category"))).getField("category").alias("cats"))
            .withColumnRenamed(name_col, "_movie_name")
        )

    oscar_dim = award_dim(oscars, "film")
    bafta_dim = award_dim(baftas, "nominee").withColumnRenamed("cats", "bcats")

    out = (
        events.join(F.broadcast(genre_dim), "imdb_id", "left")
        .join(F.broadcast(actor_dim), "imdb_id", "left")
        .join(
            F.broadcast(oscar_dim),
            F.col("movie_name") == F.col("_movie_name"),
            "left",
        )
        .drop("_movie_name")
    )
    out = out.join(
        F.broadcast(bafta_dim), out["movie_name"] == bafta_dim["_movie_name"], "left"
    ).drop("_movie_name")

    # oscar + bafta concat, null if both empty AND ONLY on named events
    all_cats = F.concat(
        F.coalesce(F.col("cats"), F.array()), F.coalesce(F.col("bcats"), F.array())
    )
    awards = F.when(
        F.col("movie_name").isNotNull() & (F.size(all_cats) > 0),
        F.array_join(all_cats, ", "),
    )
    return (
        out.withColumn("genres", F.col("_genre"))
        .withColumn("lead_actors", F.col("_lead_actors"))
        .withColumn("awards", awards)
        .drop("_genre", "_lead_actors", "cats", "bcats")
    )


def run_movie_pipeline(
    spark: SparkSession,
    table_root: str,
    tmdb: DataFrame,
    omdb: DataFrame,
    genres: DataFrame,
    actors: DataFrame,
    oscars: DataFrame,
    baftas: DataFrame,
    config: EngineConfig = MOVIE_CONFIG,
) -> tuple[DataFrame, LakeTable]:
    """Full reference flow. Returns (emitted rows as the sink saw them,
    the state table after emit-tombstoning)."""
    table = create_movie_table(spark, table_root, config)
    events = enrich(tag_sources(tmdb, omdb), genres, actors, oscars, baftas)
    merge_events(table, events, epoch=("movies", 0))

    state = table.read()
    # completion trigger: both sources touched the key
    # (touch_counter == 2, pyspark_interface.py:76)
    completed = state.filter(F.col("row_version") == 2)
    emitted = serving.fill_none(
        completed.select("imdb_id", *[f.name for f in MOVIE_PAYLOAD_FIELDS])
    )
    # materialize BEFORE tombstoning state (the reference emits first,
    # deletes after, pyspark_interface.py:79-80); executor-side pin —
    # the emitted snapshot must not re-read post-tombstone state, and
    # completed movies need not fit on the driver
    emitted = emitted.localCheckpoint(eager=True)

    max_lsn = state.agg(F.max("last_lsn")).first()[0] or 0
    tombstones = completed.select(
        (F.lit(max_lsn) + F.row_number().over(Window.orderBy("imdb_id"))).alias("lsn"),
        F.lit("D").alias("op"),
        "imdb_id",
    )
    merge_events(table, tombstones, epoch=("movies", 1))
    return emitted, table

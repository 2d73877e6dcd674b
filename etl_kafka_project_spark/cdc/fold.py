"""Per-batch LWW fold: collapse a micro-batch of change events to one
resolved action per key.

This is the engine's core operator — the vectorized replacement for the
reference's per-message keyed state surgery (``pyspark_interface.py:38-70``:
per-event ``filter(key == id)`` + ``withColumn`` per non-null field +
``union``). Semantics reproduced, per key, in LSN order:

* ``I``  — full-row insert/replace: the row becomes exactly the event's
  payload — columns the event does NOT carry (e.g. a late old-schema
  writer after an evolution, FIXTURES.md §3) reset to null, implemented
  as a *reset barrier*: value cells older than the newest I/D die,
* ``U``  — upsert; **non-null columns win** (column-granular LWW — the
  analog of the reference's "for each non-None field: withColumn",
  ``pyspark_interface.py:45-48``), null columns fall through to the
  previous value,
* ``D``  — delete; state after the delete is rebuilt only from events
  *newer than the delete* (tombstone-then-reinsert correctness),
* duplicate ``lsn`` — exact replay duplicates are no-ops
  (``dropDuplicates`` on the LSN authority; the analog of the reference's
  sink existence probe, ``tmdb_data_fetcher.py:163-166``).

Implementation notes (scale-first):

Instead of a ``row_number() OVER (PARTITION BY key ORDER BY lsn DESC)``
window — which must shuffle *every event* to its key's reducer and sort —
the fold is a pure **hash aggregation**: per column,
``max_by(value_if_live, lsn_of_that_write)``, i.e. "the value whose last
non-null write has the highest LSN". ``max_by`` is associative and
commutative (lsns are unique per key), so Catalyst plans a partial
(map-side) ObjectHashAggregate before the shuffle: a hot key with 10M
events in a batch sends one partial row per map task, not 10M rows, to
the reducer. This is what makes the fold skew-tolerant at 100 TB.
(Measured on 38k × 2.5KB events: max_by 2.0s vs 5.2s for the equivalent
max-over-struct, which Spark plans as a SortAggregate.)

The per-key replay bookkeeping (``_applied`` = exact distinct-lsn count,
``_lsns`` = bounded smallest-lsn sample) rides the SAME aggregation via
``collect_set(lsn)``: unlike ``count_distinct`` — whose Expand-based
rewrite flips the whole wide-payload fold to a SortAggregate —
``collect_set`` is an ordinary ObjectHashAggregate function, so one
scan + one exchange produce the entire fold (round 3 ran a second
narrow (key, lsn) branch with its own two exchanges, a window sort and
a re-join per epoch; fusing removed a batch scan and two shuffles from
every epoch). The set buffer is O(distinct lsns per key per batch) —
bounded in the default engine by ``config.hot_key_threshold`` (100k ≈
800 KB worst case), past which the stream's adaptive salting switches
the fold to the *two-phase* shape below anyway.

The **two-phase** shape (``fold_batch(salt=...)``, also reachable via
``SPARK_GRAFT_FOLD_SHAPE=two_phase`` for A/B) keeps the round-3 narrow
(key, lsn) branch — two spillable hash aggregations over ~16-byte rows
with a window-bounded sample buffer — for the pathological case of a
single key dominating an entire batch; correctness is identical because
every aggregate involved is associative + commutative over unique lsns.

Cross-batch delivery contract: batches must be LSN-range-disjoint from
already-committed epochs except for verbatim re-delivery of old events
(which the merge's staleness guard drops). Within a batch, arbitrary
disorder is fine — lsn is the authority. Partial interleaving of NEW
events below a key's applied ``last_lsn`` across different epochs is out
of contract (the table stores one ``last_lsn`` per key, not one per
column) — the standard row-sequence LWW contract of lake CDC mergers.

The fold outputs one row per key:

    key..., _max_lsn, _last_d_lsn, _last_reset_lsn, _is_delete, _applied,
    <payload cols>

where ``_is_delete`` means the newest event for the key is a delete and
``_applied`` counts events folded (the generalization of the reference's
per-key ``touch_counter``, ``utils/schemas.py:29``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_kafka_project_spark.functions.exprcache import cached_exprs

#: LSN sentinel for "this column was never set by a surviving event".
NEVER = -1

#: Cap on the per-key distinct-lsn sample carried in ``_lsns`` (the
#: SMALLEST ``LSN_SAMPLE + 1`` distinct lsns of the batch, sorted; size
#: == LSN_SAMPLE + 1 marks truncation). The merge paths use it to count
#: EXACTLY how many of a batch's events were verbatim re-deliveries of
#: already-applied lsns (overlap = lsns <= the target's prior max), so
#: ``row_version`` counts each event once even when a batch MIXES a
#: key's re-delivered old events with new ones — a case the whole-row
#: staleness guards cannot see (found by the round-3 Hypothesis test).
#: Smallest-first is the right truncation: stale lsns are by definition
#: the small ones, so the overlap count stays exact unless a single key
#: re-delivers > LSN_SAMPLE events in one batch (then the counter
#: over-counts conservatively — values are never affected). Memory is
#: bounded: the window rank caps the collect at LSN_SAMPLE+1 rows/key.
LSN_SAMPLE = 256


def fold_batch(
    events: DataFrame,
    key_columns: Sequence[str],
    payload_columns: Sequence[str],
    lsn_col: str = "lsn",
    op_col: str = "op",
    salt: int | None = None,
) -> DataFrame:
    """Collapse a batch of change events to one resolved row per key.

    Output columns: ``*key_columns, <payload> (value), <payload>_lsn
    (last-non-null write lsn, -1 if never), _max_lsn, _last_d_lsn,
    _is_delete, _applied``.

    ``salt``: if given, run the aggregation in two phases — first
    ``groupBy(key, pmod(lsn, salt))`` partials, then the final merge by
    key. Only worth it when one key dominates the batch; the plain path
    already does map-side partial aggregation.
    """
    key_columns = list(key_columns)
    payload_columns = [c for c in payload_columns if c not in key_columns]

    # Survivor rule: a delete resets the key; only events strictly newer
    # than the key's newest delete contribute values. Computed without a
    # join: per column, ``max_by(value-if-live, lsn-of-that-write)`` picks
    # the newest non-null write (max_by ignores rows with a null ordering
    # key, so D rows and null columns never win), and the write's lsn is
    # kept alongside so barriers can erase it afterwards. max_by/max plan
    # as ObjectHashAggregate with map-side partials — measured ~2.6×
    # faster than the equivalent max-over-struct, which Spark plans as a
    # SortAggregate over the wide rows.
    #
    # Replay duplicates (same lsn re-delivered verbatim) are no-ops by
    # construction here: ties in max_by carry identical values, and
    # ``_applied`` counts DISTINCT lsns — no pre-dedup shuffle needed.
    #
    # All of these are UNBOUND expressions whose py4j construction costs
    # ~190 ms of serial driver time — memoized across epochs
    # (functions/exprcache.py): a steady-state replay builds them once.
    def _build_aggs() -> list[F.Column]:
        d_lsn = F.max(F.when(F.col(op_col) == "D", F.col(lsn_col))).alias(
            "_last_d_lsn"
        )
        # reset barrier: I and D both replace the whole row as of their lsn
        reset_lsn = F.max(
            F.when(F.col(op_col).isin("I", "D"), F.col(lsn_col))
        ).alias("_last_reset_lsn")

        def cell_aggs(col: str) -> list[F.Column]:
            live = F.when(F.col(op_col) != "D", F.col(col))
            lsn_of_write = F.when(live.isNotNull(), F.col(lsn_col))
            return [
                F.max_by(live, lsn_of_write).alias(f"_v_{col}"),
                F.max(lsn_of_write).alias(f"_l_{col}"),
            ]

        aggs = [
            F.max(F.col(lsn_col)).alias("_max_lsn"),
            d_lsn,
            reset_lsn,
        ]
        for c in payload_columns:
            aggs += cell_aggs(c)
        return aggs

    aggs = cached_exprs(
        ("fold_aggs", tuple(key_columns), tuple(payload_columns), lsn_col, op_col),
        _build_aggs,
    )

    import os as _os

    two_phase = salt is not None or _os.environ.get("SPARK_GRAFT_FOLD_SHAPE") == "two_phase"

    if not two_phase:
        # FUSED shape (default): _applied / _lsns ride the wide
        # aggregation as collect_set(lsn) — one scan, one exchange, no
        # join (see module docstring for the shape trade-offs). The set
        # dedups verbatim replay duplicates by construction; _applied =
        # its size (exact distinct-lsn count), _lsns = its smallest
        # LSN_SAMPLE+1 members sorted (size == LSN_SAMPLE+1 marks
        # truncation, same contract as the two-phase shape).
        lsnset = cached_exprs(
            ("fold_post", lsn_col),
            lambda: F.collect_set(F.col(lsn_col)).alias("_lsnset"),
        )
        folded = events.groupBy(*key_columns).agg(*aggs, lsnset)
        # _applied/_lsns derive from _lsnset inside _resolve's single
        # projection — three fewer DataFrame round-trips per epoch
        return _resolve(folded, key_columns, payload_columns, from_lsnset=True)

    # TWO-PHASE shape: _applied = exact count of DISTINCT lsns per key,
    # computed on a NARROW (key, lsn) projection as a two-phase hash
    # aggregation: phase 1 groups by (key, lsn) — map-side partials dedup
    # verbatim replay duplicates locally AND spread a hot key across
    # reducers by lsn — phase 2 counts per key. Both phases are spillable
    # hash aggregates over ~16-byte rows, so a key with millions of
    # events in one batch never concentrates in a single non-spillable
    # aggregation buffer (the fused shape's collect_set would).
    #
    # _lsns = the SMALLEST LSN_SAMPLE+1 distinct lsns, sorted — the
    # bounded per-key sample the merge paths use to subtract verbatim
    # cross-epoch re-deliveries from row_version exactly (see LSN_SAMPLE
    # above). The row_number window bounds the collect_list buffer at
    # LSN_SAMPLE+1 narrow rows per key, and shares the final groupBy's
    # hash partitioning (one exchange covers both).
    wn = Window.partitionBy(*key_columns).orderBy(F.col(lsn_col))
    applied = (
        events.select(*key_columns, lsn_col)
        .groupBy(*key_columns, lsn_col)
        .agg(F.lit(1))
        .withColumn("_rn", F.row_number().over(wn))
        .groupBy(*key_columns)
        .agg(
            F.count(F.lit(1)).alias("_applied"),
            F.sort_array(
                F.collect_list(F.when(F.col("_rn") <= LSN_SAMPLE + 1, F.col(lsn_col)))
            ).alias("_lsns"),
        )
    )

    if salt is None:
        wide = events.groupBy(*key_columns).agg(*aggs)
    else:
        # Two-phase salted aggregation for the pathological
        # one-key-dominates-the-batch case: partial per (key, salt), then
        # final per key. Exactly correct because max/max_by are
        # associative + commutative over unique lsns.
        ev = events.dropDuplicates([*key_columns, lsn_col])
        partial = ev.groupBy(
            *key_columns, F.pmod(F.col(lsn_col), F.lit(salt)).alias("_salt")
        ).agg(*aggs)
        final_aggs = [
            F.max("_max_lsn").alias("_max_lsn"),
            F.max("_last_d_lsn").alias("_last_d_lsn"),
            F.max("_last_reset_lsn").alias("_last_reset_lsn"),
        ]
        for c in payload_columns:
            final_aggs += [
                F.max_by(F.col(f"_v_{c}"), F.col(f"_l_{c}")).alias(f"_v_{c}"),
                F.max(F.col(f"_l_{c}")).alias(f"_l_{c}"),
            ]
        wide = partial.groupBy(*key_columns).agg(*final_aggs)

    # per-key inner join of two already-key-partitioned singleton
    # frames — no wide data moves. NULL-SAFE on the key columns: a
    # null-key group survives both groupBys (groupBy keeps null keys)
    # and must survive the re-join too — a plain equi-join would
    # silently drop it, losing events for callers that bypass
    # split_dead_letters' null-key quarantine.
    w, a = wide.alias("w"), applied.alias("a")
    cond = [F.col(f"w.{k}").eqNullSafe(F.col(f"a.{k}")) for k in key_columns]
    folded = w.join(a, cond, "inner").select("w.*", F.col("a._applied"), F.col("a._lsns"))
    return _resolve(folded, key_columns, payload_columns)


def _resolve(
    folded: DataFrame,
    key_columns: list[str],
    payload_columns: list[str],
    from_lsnset: bool = False,
) -> DataFrame:
    # Post-aggregation resolution: discard value cells at or below the
    # newest delete (they were erased), surface (value, value_lsn) pairs.
    # Unbound projection, memoized across epochs like the fold aggs.
    # ``from_lsnset``: the fused shape carries the raw collect_set; the
    # bookkeeping columns derive here, in the same single projection.
    def _build() -> list[F.Column]:
        if from_lsnset:
            applied_c = F.size("_lsnset").cast("long").alias("_applied")
            lsns_c = F.slice(F.array_sort("_lsnset"), 1, LSN_SAMPLE + 1).alias(
                "_lsns"
            )
        else:
            applied_c, lsns_c = F.col("_applied"), F.col("_lsns")
        out_cols: list[F.Column] = [F.col(c) for c in key_columns] + [
            F.col("_max_lsn"),
            F.col("_last_d_lsn"),
            F.col("_last_reset_lsn"),
            (
                F.col("_last_d_lsn").isNotNull()
                & (F.col("_last_d_lsn") == F.col("_max_lsn"))
            ).alias("_is_delete"),
            applied_c,
            lsns_c,
        ]
        # a cell survives if it is newer than the newest delete (strict — a
        # D erases everything at its lsn) and not older than the newest
        # reset (>= — an I's own writes share its lsn and survive)
        erased_below = F.coalesce(F.col("_last_d_lsn"), F.lit(NEVER))
        reset_floor = F.coalesce(F.col("_last_reset_lsn"), F.lit(NEVER))
        for c in payload_columns:
            v, l = F.col(f"_v_{c}"), F.col(f"_l_{c}")
            alive = (l > erased_below) & (l >= reset_floor)
            out_cols.append(F.when(alive, v).alias(c))
            out_cols.append(
                F.when(alive, l).otherwise(F.lit(NEVER)).alias(f"{c}_lsn")
            )
        return out_cols

    out_cols = cached_exprs(
        ("fold_resolve", tuple(key_columns), tuple(payload_columns), from_lsnset),
        _build,
    )
    return folded.select(*out_cols)

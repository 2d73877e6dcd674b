"""Schema evolution: evolve-on-widen instead of reject-on-mismatch.

The reference *rejects* change events whose envelope doesn't match the
declared 8-field shape (``utils/data_structures/movie.py:52-54`` raises on
any missing key). The engine inverts that (north rule): the incoming
micro-batch's schema is diffed against the table schema; **additive
nullable columns** and **safe widenings** (int→long, float→double) evolve
the table via an atomic snapshot ALTER; anything incompatible is reported
so the caller can dead-letter those events instead of killing the stream.

Diffing is driver-side Arrow/StructType comparison — batch schemas are a
handful of fields, so no distributed work is needed; old data files are
simply *read* with the evolved schema (Spark's parquet reader null-fills
missing columns and widens int32→int64 / float→double natively).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_kafka_project_spark.minilake.table import LakeTable, Snapshot

#: envelope columns never stored in the table: the change-event
#: authority fields plus source-reader metadata (`_raw` from the JSON
#: reader, `_source` the topic tag added by sources.kafka_binlog /
#: union_sources) — without `_source` here, the first unioned/Kafka
#: batch would permanently evolve a junk column into the table schema
ENVELOPE_COLS = ("lsn", "op", "ts", "_raw", "_source")

#: safe widening lattice: a stored narrow type may be promoted to any type
#: later in its chain when a batch arrives with the wider type.
_WIDENING_CHAINS: dict[str, list[str]] = {
    "byte": ["byte", "short", "integer", "long"],
    "short": ["short", "integer", "long"],
    "integer": ["integer", "long"],
    "float": ["float", "double"],
}


def _widens_to(narrow: T.DataType, wide: T.DataType) -> bool:
    chain = _WIDENING_CHAINS.get(narrow.typeName(), [narrow.typeName()])
    return wide.typeName() in chain and wide.typeName() != narrow.typeName()


@dataclass
class EvolutionPlan:
    """Result of diffing a batch schema against the table schema."""

    added: list[T.StructField] = field(default_factory=list)
    widened: list[tuple[str, T.DataType, T.DataType]] = field(default_factory=list)  # (name, old, new)
    incompatible: list[tuple[str, T.DataType, T.DataType]] = field(default_factory=list)

    @property
    def changes_schema(self) -> bool:
        return bool(self.added or self.widened)


def diff_schemas(table_schema: T.StructType, batch_schema: T.StructType) -> EvolutionPlan:
    """Diff an incoming batch's payload fields against the table schema.

    Envelope columns (lsn/op/ts) are skipped — they map to the table's
    meta columns, not payload. Batch fields missing from the table are
    additive; same-name fields with a safely wider type are widenings;
    same-name fields with any other type change are incompatible (caller
    dead-letters). Table columns absent from the batch are fine — the
    merge null-fills them (late old-writer case, FIXTURES.md §3).
    """
    table_fields = {f.name: f for f in table_schema.fields}
    plan = EvolutionPlan()
    for bf in batch_schema.fields:
        if bf.name in ENVELOPE_COLS:
            continue
        tf = table_fields.get(bf.name)
        if tf is None:
            plan.added.append(T.StructField(bf.name, bf.dataType, True))
        elif tf.dataType == bf.dataType:
            continue
        elif _widens_to(tf.dataType, bf.dataType):
            plan.widened.append((bf.name, tf.dataType, bf.dataType))
        elif _widens_to(bf.dataType, tf.dataType):
            continue  # batch is NARROWER — reading casts up for free
        else:
            plan.incompatible.append((bf.name, tf.dataType, bf.dataType))
    return plan


def evolved_schema(table_schema: T.StructType, plan: EvolutionPlan) -> T.StructType:
    """Apply an EvolutionPlan to a table schema. New payload columns are
    inserted BEFORE the meta columns (content_sha256/last_lsn/...) so
    payload-vs-meta ordering stays stable for readers."""
    widen = {name: new for name, _, new in plan.widened}
    meta_names = {"content_sha256", "last_lsn", "row_version", "_deleted"}
    fields: list[T.StructField] = []
    for f in table_schema.fields:
        if f.name in meta_names:
            continue
        fields.append(T.StructField(f.name, widen.get(f.name, f.dataType), f.nullable))
    fields.extend(plan.added)
    fields.extend(f for f in table_schema.fields if f.name in meta_names)
    return T.StructType(fields)


def evolve_table(table: LakeTable, batch_schema: T.StructType) -> tuple[Snapshot, EvolutionPlan]:
    """Diff + (if needed) commit a schema-only ALTER snapshot.

    The ALTER is its own atomic commit, separate from the data merge that
    follows; re-running after a crash is a no-op (the diff comes back
    empty), so crash-between-ALTER-and-merge cannot double-apply anything.
    Returns the (possibly new) current snapshot and the plan (the caller
    inspects ``plan.incompatible`` to dead-letter those columns' events —
    the streaming path does this in ``ReplayJob.apply_epoch`` via
    ``_incompatible_columns`` / ``_quarantined``).
    """
    # header-only read: the diff needs schema+version, not the file
    # listing — materializing every bucket manifest per epoch is O(table)
    # serial driver time for nothing
    snap = table.snapshot_header()
    plan = diff_schemas(snap.schema, batch_schema)
    if plan.changes_schema:
        snap = table.commit(
            expected_version=snap.version,
            new_files=[],
            schema=evolved_schema(snap.schema, plan),
        )
    return snap, plan


def align_events(events: DataFrame, table_schema: T.StructType) -> DataFrame:
    """Project a change-event batch onto the table's payload columns:
    missing columns null-fill (late old-writer events after an ALTER,
    FIXTURES.md §3), narrower columns cast up, extra non-payload columns
    drop. Envelope columns pass through untouched."""
    from etl_kafka_project_spark.functions.exprcache import cached_exprs

    meta_names = {"content_sha256", "last_lsn", "row_version", "_deleted"}
    have = {f.name: f for f in events.schema.fields}

    def _build() -> list[F.Column]:
        cols: list[F.Column] = [F.col(c) for c in ENVELOPE_COLS if c in have]
        for f in table_schema.fields:
            if f.name in meta_names:
                continue
            if f.name not in have:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            elif have[f.name].dataType != f.dataType:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.col(f.name))
        return cols

    # unbound projection, memoized on the (batch schema, table schema)
    # pair — steady-state epochs repeat the same pair every trigger
    cols = cached_exprs(
        ("align_events", events.schema.json(), table_schema.json()), _build
    )
    return events.select(*cols)

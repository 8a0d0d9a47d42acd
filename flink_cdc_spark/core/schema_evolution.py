"""Schema evolution calculus: apply / merge / diff / lenient-ize / coerce.

Pure-Python port over our Schema model of the reference's:
  * SchemaUtils.applySchemaChangeEvent
    (flink-cdc-common/src/main/java/org/apache/flink/cdc/common/utils/SchemaUtils.java:111-205)
  * SchemaMergingUtils.getLeastCommonSchema / getLeastCommonType /
    mergeTimestampType / mergeDecimalType / getSchemaDifference
    (common/utils/SchemaMergingUtils.java:130-470, merging tree :852-940)
  * SchemaDerivator lenient-ization
    (runtime/operators/schema/common/SchemaDerivator.java:207-298)

These drive the driver-side SchemaOperator analog: between micro-batches the
engine applies DDL to its schema maps, diffs against the sink schema, and
issues the corresponding ALTERs / DataFrame casts.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Optional

from . import types as ct
from .types import DataType
from .events import (
    AddColumnEvent,
    AlterColumnTypeEvent,
    AlterTableCommentEvent,
    ColumnPosition,
    ColumnWithPosition,
    CreateTableEvent,
    DropColumnEvent,
    DropTableEvent,
    RenameColumnEvent,
    SchemaChangeEvent,
    TruncateTableEvent,
)
from .schema import Column, Schema

MAX_DECIMAL_PRECISION = 38
DEFAULT_DECIMAL_SCALE = 0
MAX_TIMESTAMP_PRECISION = 9

# ---------------------------------------------------------------------------
# applySchemaChangeEvent (SchemaUtils.java:111-205)
# ---------------------------------------------------------------------------


def apply_schema_change_event(schema: Optional[Schema], event: SchemaChangeEvent) -> Schema:
    if isinstance(event, CreateTableEvent):
        return event.schema
    if schema is None:
        raise ValueError(f"No existing schema to apply {event} to")
    if isinstance(event, AddColumnEvent):
        return _apply_add_column(schema, event)
    if isinstance(event, DropColumnEvent):
        dropped = set(event.dropped_column_names)
        return schema.with_columns(c for c in schema.columns if c.name not in dropped)
    if isinstance(event, RenameColumnEvent):
        mapping = dict(event.name_mapping)
        return schema.with_columns(
            c.with_name(mapping[c.name]) if c.name in mapping else c for c in schema.columns
        )
    if isinstance(event, AlterColumnTypeEvent):
        mapping = dict(event.type_mapping)
        return schema.with_columns(
            c.with_type(mapping[c.name]) if c.name in mapping else c for c in schema.columns
        )
    if isinstance(event, AlterTableCommentEvent):
        return replace(schema, comment=event.comment)
    if isinstance(event, (TruncateTableEvent, DropTableEvent)):
        return schema
    raise ValueError(f"Unknown schema change event: {event}")


def _apply_add_column(schema: Schema, event: AddColumnEvent) -> Schema:
    columns = list(schema.columns)
    for cwp in event.added_columns:
        # the reference rejects re-adding an existing column
        # (SchemaUtils.applyAddColumnEvent "already existed" check) — this
        # is what makes TRY_EVOLVE vs EVOLVE observable on N->1 merges
        if any(c.name == cwp.column.name for c in columns):
            raise ValueError(
                f"ADD COLUMN error: column {cwp.column.name} already exists "
                f"in table {event.table_id}"
            )
        if cwp.position == ColumnPosition.FIRST:
            columns.insert(0, cwp.column)
        elif cwp.position == ColumnPosition.LAST:
            columns.append(cwp.column)
        else:
            names = [c.name for c in columns]
            if cwp.existed_column_name not in names:
                raise ValueError(
                    f"{cwp.position.value} type AddColumnEvent error: Column "
                    f"{cwp.existed_column_name} does not exist in table {event.table_id}"
                )
            idx = names.index(cwp.existed_column_name)
            columns.insert(idx if cwp.position == ColumnPosition.BEFORE else idx + 1, cwp.column)
    return schema.with_columns(columns)


# ---------------------------------------------------------------------------
# Type widening lattice (SchemaMergingUtils.java:852-940)
# ---------------------------------------------------------------------------

_STRING = ct.string()
_DOUBLE = ct.double()
_FLOAT = ct.float_()
_DECIMAL_MAX = ct.decimal(MAX_DECIMAL_PRECISION, DEFAULT_DECIMAL_SCALE)
_BIGINT = ct.bigint()
_INT = ct.int_()
_SMALLINT = ct.smallint()
_TINYINT = ct.tinyint()
_TS_TZ = ct.timestamp_tz(MAX_TIMESTAMP_PRECISION)
_TS_LTZ = ct.timestamp_ltz(MAX_TIMESTAMP_PRECISION)
_TS = ct.timestamp(MAX_TIMESTAMP_PRECISION)
_DATE = ct.date()

_TYPE_MERGING_TREE = {
    ct.VARCHAR: [_STRING],
    ct.CHAR: [_STRING],
    ct.BOOLEAN: [_STRING],
    ct.BINARY: [_STRING],
    ct.VARBINARY: [_STRING],
    ct.DOUBLE: [_DOUBLE, _STRING],
    ct.FLOAT: [_FLOAT, _DOUBLE, _STRING],
    ct.DECIMAL: [_STRING],
    ct.BIGINT: [_BIGINT, _DECIMAL_MAX, _DOUBLE, _STRING],
    ct.INT: [_INT, _BIGINT, _DECIMAL_MAX, _DOUBLE, _STRING],
    ct.SMALLINT: [_SMALLINT, _INT, _BIGINT, _DECIMAL_MAX, _FLOAT, _DOUBLE, _STRING],
    ct.TINYINT: [_TINYINT, _SMALLINT, _INT, _BIGINT, _DECIMAL_MAX, _FLOAT, _DOUBLE, _STRING],
    ct.TIMESTAMP_TZ: [_TS_TZ, _STRING],
    ct.TIMESTAMP_LTZ: [_TS_LTZ, _TS_TZ, _STRING],
    ct.TIMESTAMP: [_TS, _TS_LTZ, _TS_TZ, _STRING],
    ct.DATE: [_DATE, _TS, _TS_LTZ, _TS_TZ, _STRING],
    ct.TIME: [_STRING],
    ct.ARRAY: [_STRING],
    ct.MAP: [_STRING],
    ct.ROW: [_STRING],
    ct.VARIANT: [_STRING],
}

_EXACT_NUMERIC = {ct.TINYINT, ct.SMALLINT, ct.INT, ct.BIGINT, ct.DECIMAL}


def get_numeric_precision(dt: DataType) -> int:
    """SchemaMergingUtils.getNumericPrecision (:470-500)."""
    if dt.root == ct.TINYINT:
        return 3
    if dt.root == ct.SMALLINT:
        return 5
    if dt.root == ct.INT:
        return 10
    if dt.root == ct.BIGINT:
        return 19
    if dt.root == ct.DECIMAL:
        return dt.precision
    raise ValueError(f"Failed to get precision of non-exact decimal type {dt}")


def _create_decimal_bounded(precision: int, scale: int) -> DataType:
    """Cap precision at 38, trimming integral digits first (ref :925-936)."""
    if precision <= MAX_DECIMAL_PRECISION:
        return ct.decimal(precision, scale)
    loss = precision - MAX_DECIMAL_PRECISION
    if scale >= loss:
        return ct.decimal(MAX_DECIMAL_PRECISION, scale - loss)
    return ct.decimal(MAX_DECIMAL_PRECISION, 0)


def _merge_timestamp_type(l: DataType, r: DataType) -> DataType:
    levels = {ct.TIMESTAMP: 0, ct.TIMESTAMP_LTZ: 1, ct.TIMESTAMP_TZ: 2}
    lv = max(levels[l.root], levels[r.root])
    precision = max(l.precision or 0, r.precision or 0)
    return [ct.timestamp, ct.timestamp_ltz, ct.timestamp_tz][lv](precision)


def _merge_decimal_type(l: DataType, r: DataType) -> DataType:
    if l.root == ct.DECIMAL and r.root == ct.DECIMAL:
        int_digits = max(l.precision - l.scale, r.precision - r.scale)
        scale = max(l.scale, r.scale)
        return _create_decimal_bounded(int_digits + scale, scale)
    if l.root == ct.DECIMAL and r.root in _EXACT_NUMERIC:
        dec, other = l, r
    elif r.root == ct.DECIMAL and l.root in _EXACT_NUMERIC:
        dec, other = r, l
    else:
        return ct.string()
    precision = max(dec.precision, dec.scale + get_numeric_precision(other))
    return _create_decimal_bounded(precision, dec.scale)


_TIMESTAMP_FAMILY = {ct.TIMESTAMP, ct.TIMESTAMP_LTZ, ct.TIMESTAMP_TZ}


def get_least_common_type(current: DataType, target: DataType) -> DataType:
    """SchemaMergingUtils.getLeastCommonType (:351-380)."""
    nullable = current.nullable or target.nullable
    current, target = current.not_null(), target.not_null()
    if current == target:
        return current.null() if nullable else current
    if current.root in _TIMESTAMP_FAMILY and target.root in _TIMESTAMP_FAMILY:
        merged = _merge_timestamp_type(current, target)
    elif current.root == ct.DECIMAL or target.root == ct.DECIMAL:
        merged = _merge_decimal_type(current, target)
    else:
        merged = None
        target_tree = _TYPE_MERGING_TREE[target.root]
        for t in _TYPE_MERGING_TREE[current.root]:
            if t in target_tree:
                merged = t
                break
        if merged is None:
            merged = ct.string()
    return merged.null() if nullable else merged.not_null()


def get_least_common_schema(current: Optional[Schema], upcoming: Schema) -> Schema:
    """Widen `current` so rows of `upcoming` fit
    (SchemaMergingUtils.getLeastCommonSchema :130-199). Column order of
    `current` is kept; genuinely new columns append at the end as nullable."""
    if current is None:
        return upcoming
    by_name = {c.name: c for c in upcoming.columns}
    merged = []
    for col in current.columns:
        up = by_name.get(col.name)
        if up is None:
            merged.append(col.with_type(col.type.null()))
        elif up.type.not_null() == col.type.not_null():
            merged.append(col.with_type(col.type.null() if (col.type.nullable or up.type.nullable) else col.type))
        else:
            merged.append(col.with_type(get_least_common_type(col.type, up.type)))
    current_names = {c.name for c in current.columns}
    for col in upcoming.columns:
        if col.name not in current_names:
            merged.append(col.with_type(col.type.null()))
    return current.with_columns(merged)


def get_schema_difference(table_id, before: Optional[Schema], after: Schema) -> list:
    """Events turning `before` into `after`
    (SchemaMergingUtils.getSchemaDifference :200-266): AddColumn for new
    columns (positioned), AlterColumnType for widened ones."""
    if before is None:
        return [CreateTableEvent(table_id, after)]
    events = []
    before_by_name = {c.name: c for c in before.columns}
    added = []
    prev_name = None
    for col in after.columns:
        old = before_by_name.get(col.name)
        if old is None:
            if prev_name is None:
                added.append(ColumnWithPosition(col, ColumnPosition.FIRST))
            else:
                added.append(ColumnWithPosition(col, ColumnPosition.AFTER, prev_name))
        elif old.type != col.type:
            events.append(AlterColumnTypeEvent(table_id, ((col.name, col.type),)))
        prev_name = col.name
    if added:
        events.append(AddColumnEvent(table_id, tuple(added)))
    return events


# ---------------------------------------------------------------------------
# Lenient-ization (SchemaDerivator.java:207-298)
# ---------------------------------------------------------------------------


def lenientize_schema_change_event(event: SchemaChangeEvent, evolved_schema: Schema) -> list:
    """Rewrite a schema change so it is non-destructive, for LENIENT behavior
    (SchemaDerivator.lenientize{Add,Drop,Rename}ColumnEvent :207-298):
    rename -> add new column (nullable), nullable-ize the old, keep it;
    drop -> keep the columns but nullable-ize NOT NULL ones (future
    records leave them null, so they must accept nulls); type change ->
    widen via least-common-type. Re-adding a column a lenient drop kept
    (legal upstream, already present downstream) widens in place instead
    of crashing the sink's duplicate check — the rewrite the reference
    achieves via SchemaUtils.isSchemaChangeEventRedundant filtering."""
    if isinstance(event, DropColumnEvent):
        converted = tuple(
            (name, evolved_schema.get_column(name).type.null())
            for name in event.dropped_column_names
            if evolved_schema.get_column(name) is not None
            and not evolved_schema.get_column(name).type.nullable
        )
        return (
            [AlterColumnTypeEvent(event.table_id, converted)] if converted else []
        )
    if isinstance(event, RenameColumnEvent):
        added = []
        converted = []
        for old, new in event.name_mapping:
            col = evolved_schema.get_column(old)
            if col is None:
                continue
            if not col.type.nullable:
                # the old column stops receiving values after the rename
                converted.append((old, col.type.null()))
            if evolved_schema.get_column(new) is None:
                added.append(ColumnWithPosition(col.with_name(new).with_type(col.type.null())))
        out = []
        if added:
            out.append(AddColumnEvent(event.table_id, tuple(added)))
        if converted:
            out.append(AlterColumnTypeEvent(event.table_id, tuple(converted)))
        return out
    if isinstance(event, AlterColumnTypeEvent):
        widened = []
        for name, new_type in event.type_mapping:
            col = evolved_schema.get_column(name)
            if col is None:
                continue
            lct = get_least_common_type(col.type, new_type)
            if lct != col.type:
                widened.append((name, lct))
        return [AlterColumnTypeEvent(event.table_id, tuple(widened))] if widened else []
    if isinstance(event, AddColumnEvent):
        # added columns must be nullable downstream (upstream history lacks
        # them); names a lenient drop retained widen in place
        fresh = []
        widened = []
        for cwp in event.added_columns:
            existing = evolved_schema.get_column(cwp.column.name)
            if existing is None:
                fresh.append(
                    ColumnWithPosition(
                        cwp.column.with_type(cwp.column.type.null()),
                        cwp.position,
                        cwp.existed_column_name,
                    )
                )
            else:
                lct = get_least_common_type(existing.type, cwp.column.type.null())
                if lct != existing.type:
                    widened.append((cwp.column.name, lct))
        out = []
        if fresh:
            out.append(AddColumnEvent(event.table_id, tuple(fresh)))
        if widened:
            out.append(AlterColumnTypeEvent(event.table_id, tuple(widened)))
        return out
    return [event]


def is_schema_change_event_redundant(
    current: Optional[Schema], event: SchemaChangeEvent
) -> bool:
    """Whether `event` has ALREADY been applied to `current`, so replaying
    it (duplicate CreateTableEvents from parallel snapshot waves, restart
    re-delivery of a checkpointed micro-batch) must be skipped — the
    SchemaUtils.isSchemaChangeEventRedundant port (SchemaUtils.java:323-410),
    called before applying like SchemaCoordinator.java:374."""
    if isinstance(event, CreateTableEvent):
        return current is not None
    if isinstance(event, DropTableEvent):
        return current is None
    if current is None:
        return False
    if isinstance(event, AddColumnEvent):
        # applied only if every added column is present, name AND type
        return all(
            any(
                c.name == cwp.column.name and c.type == cwp.column.type
                for c in current.columns
            )
            for cwp in event.added_columns
        )
    if isinstance(event, AlterColumnTypeEvent):
        return all(
            (col := current.get_column(name)) is not None and col.type == new_type
            for name, new_type in event.type_mapping
        )
    if isinstance(event, DropColumnEvent):
        names = set(current.column_names)
        return all(n not in names for n in event.dropped_column_names)
    if isinstance(event, RenameColumnEvent):
        names = set(current.column_names)
        return all(
            old not in names and new in names for old, new in event.name_mapping
        )
    # TRUNCATE / comment: no way to know — assume not applied
    return False


def merge_create_table_events(table_id, schemas) -> Schema:
    """N->1 route merging: least-common schema across source tables
    (SchemaDerivator.deduceMergedCreateTableEvent :348)."""
    merged: Optional[Schema] = None
    for s in schemas:
        merged = get_least_common_schema(merged, s)
    # primary keys survive only if every source shares them
    pk_sets = [tuple(s.primary_keys) for s in schemas]
    if pk_sets and all(p == pk_sets[0] for p in pk_sets):
        merged = replace(merged, primary_keys=pk_sets[0])
    else:
        merged = replace(merged, primary_keys=())
    return merged

"""Schema evolution — column adds and type widenings (north rule, M6).

The reference absorbs base-table schema changes automatically because
CDCRowSchema is re-derived from every query page
(stream_reader.rs:389-390, consumer.rs:82-151).  This engine mirrors
that: the fold derives its payload from each batch's DataFrame schema,
so a new column simply starts appearing in deltas.  The sink side is
where evolution needs action:

- **column add**: old buckets lack the column; every read uses the
  table schema the manifest records, under which a column missing from
  a file reads as null — no rewrite (Iceberg: ADD COLUMN is
  metadata-only).  A time-travel read uses the schema of its own
  version's manifest.
- **column absent from a batch**: target values pass through the merge
  untouched (apply_delta's ``extra_payload``).
- **type widening** (int→bigint, float→double): bucket files of one
  table must share physical types, so the merge detects the widening
  against the manifest schema, treats every bucket as affected once, and
  rewrites with a cast (Iceberg widens via metadata; the parquet
  backend pays one rewrite — recorded in the merge stats).
"""

from __future__ import annotations

from pyspark.sql import types as T

#: allowed widenings (Iceberg's safe type promotions)
_WIDENINGS = {
    (T.IntegerType(), T.LongType()),
    (T.ShortType(), T.IntegerType()),
    (T.ShortType(), T.LongType()),
    (T.ByteType(), T.ShortType()),
    (T.ByteType(), T.IntegerType()),
    (T.ByteType(), T.LongType()),
    (T.FloatType(), T.DoubleType()),
}


def widen_type(old: T.DataType, new: T.DataType) -> T.DataType:
    """The common evolved type of old/new, or raise if incompatible."""
    if old == new:
        return old
    if (old, new) in _WIDENINGS:
        return new
    if (new, old) in _WIDENINGS:
        return old
    if isinstance(old, T.ArrayType) and isinstance(new, T.ArrayType):
        return T.ArrayType(widen_type(old.elementType, new.elementType), True)
    raise TypeError(f"incompatible schema evolution: {old} -> {new}")


def diff_schemas(
    stored: T.StructType | None, incoming: dict[str, T.DataType]
) -> tuple[dict[str, T.DataType], list[str], bool]:
    """Compare the manifest's payload schema with an incoming batch's.

    Returns (evolved column→type map, added columns, needs_rewrite)."""
    evolved: dict[str, T.DataType] = {}
    added: list[str] = []
    needs_rewrite = False
    old = {f.name: f.dataType for f in stored.fields} if stored is not None else {}
    for name, typ in old.items():
        evolved[name] = typ
    for name, typ in incoming.items():
        if name not in old:
            evolved[name] = typ
            if old:
                added.append(name)
        else:
            w = widen_type(old[name], typ)
            evolved[name] = w
            if w != old[name]:
                needs_rewrite = True
    return evolved, added, needs_rewrite

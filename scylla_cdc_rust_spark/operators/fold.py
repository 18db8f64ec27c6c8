"""Per-key LWW fold — the relational re-expression of the replicator.

The reference applies changes row-at-a-time, serially per stream, in
clustering order (/root/reference/scylla-cdc/src/stream_reader.rs:392-396
→ replicator dispatch replicator_consumer.rs:866-883).  Because
Cassandra/Scylla write semantics are last-writer-wins *per cell* with
tombstone precedence, that sequential replay is exactly equivalent to a
cell-level argmax over the total order (ms, seq, batch_seq) — which is
how this engine computes it: one declarative groupBy per key with
``max_by`` per cell plus tombstone thresholds, fully JVM-side with
map-side partial aggregation.  No per-row Python, no per-group Python;
a hot key costs one partial-aggregate buffer per task instead of
serializing one consumer (the reference has no skew handling —
log_reader.rs:223-236).

Three-stage design so micro-batches compose exactly:

- ``fold_delta(batch)``  → one *delta record* per key: tombstone ords,
  row marker, per-cell (value, ord) mentions, set-column element deltas
  (alive/removed/reset), ttl + last write ord.
- ``finalize(delta)``    → final visible state (delta applied to an
  empty table) — the batch-replay answer.
- ``apply_delta(target, delta)`` → cell-wise merge into existing state.
  Sound because micro-batches are delivered in window order: every op
  in batch k+1 is strictly later than every op in batch k for the same
  key (the reference's windowed scan guarantees the same,
  stream_reader.rs:330-345), so sequential semantics compose:
  ``finalize(fold(ops₁ ∪ ops₂)) == apply_delta(finalize(fold(ops₁)), fold_delta(ops₂))``.

Semantics per SURVEY.md §2.4 (A1–A11):

- row tombstone = max ord of ROW_DELETE/PARTITION_DELETE (single-column
  key ⇒ the two coincide; delete_row/delete_partition,
  replicator_consumer.rs:719-724,392-402); cells live iff written
  strictly after it.  Negative op codes are the TTL-expiration variants
  (consumer.rs:43-46) — identical effect.
- row marker = max ord of ROW_INSERT (update_or_insert(.., true),
  replicator_consumer.rs:408-410); a row exists iff its marker outlives
  the tombstone or it has ≥1 live cell (Cassandra row-liveness rule).
- atomic cell (scalar / frozen / whole-array 'list' mode): LWW among
  ops that mention the cell — value present → value, cdc$deleted_<col>
  → null; value wins over the flag within one change (overwrite_column,
  replicator_consumer.rs:727-748).
- 'set' mode collection (non-frozen set/map,
  replicator_consumer.rs:415-469): element-level LWW.  An overwrite
  (cdc$deleted_<col> = true) is a collection tombstone killing elements
  written strictly before it, same-change elements surviving (Scylla
  writes the overwrite tombstone at ts-1); delta adds come from the
  value column, delta removes from cdc$deleted_elements_<col>; removal
  beats addition at equal ord (tombstones win ties).  Final set =
  sorted alive elements; empty ⇒ null.
- PreImage/PostImage ignored (replicator_consumer.rs:878); range-delete
  ops are inert on a clustering-keyless table (see
  operators/range_delete.py for the general pairing operator).
- ttl / last_ord bookkeeping from the max-ord write op (USING
  TIMESTAMP/TTL propagation, replicator_consumer.rs:311-333,703-716).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scylla_cdc_rust_spark.functions.generate_util import explode_nonnull
from scylla_cdc_rust_spark.model import (
    DELETED_ELEMS_PREFIX,
    DELETED_PREFIX,
    OP_NORM,
    ORD,
    TTL,
    CDCSchema,
    OperationType,
)

_W = [int(OperationType.ROW_UPDATE), int(OperationType.ROW_INSERT)]
_D = [int(OperationType.ROW_DELETE), int(OperationType.PARTITION_DELETE)]

NEG_INF = -1  # ord values are non-negative


def _dcol(df: DataFrame, name: str) -> Column:
    """deleted-flag column, or false if the log lacks it (schema drift)."""
    return F.coalesce(F.col(name), F.lit(False)) if name in df.columns else F.lit(False)


def split_modes_full(
    payload: list[str], collection_modes: dict[str, str] | None
) -> tuple[list[str], list[str], list[str], list[str]]:
    """4-way split: (cell, set, map-like, udt) columns.

    - cell: 'atomic' (scalars/frozen) and 'list' (whole-array fast path)
    - set:  'set' — element membership deltas
    - map-like: 'map' (non-frozen map<k,v>) and 'list_delta' (non-frozen
      list as its CDC timeuuid-keyed map encoding,
      replicator_consumer.rs:472-528) — identical per-key value LWW;
      list_delta is presented as values ordered by key (see ``present``)
    - udt: non-frozen UDT — per-field LWW with smallint deleted-field
      indices (replicator_consumer.rs:531-585)
    """
    m = collection_modes or {}
    cell = [c for c in payload if m.get(c, "atomic") in ("atomic", "list")]
    sets = [c for c in payload if m.get(c) == "set"]
    maps = [c for c in payload if m.get(c) in ("map", "list_delta")]
    udts = [c for c in payload if m.get(c) == "udt"]
    bad = {k: v for k, v in m.items()
           if v not in ("atomic", "list", "set", "map", "list_delta", "udt")}
    if bad:
        raise ValueError(f"unknown collection modes: {bad}")
    return cell, sets, maps, udts


def partition_tombstones(
    df: DataFrame, partition_key: str | list[str]
) -> DataFrame:
    """Max PARTITION_DELETE ord per partition key — the A5 general form
    for composite (pk, ck) keys, where a partition delete kills every
    clustering row of the pk (delete_partition,
    replicator_consumer.rs:392-402; tested with clustering keys at
    replication_tests.rs:705-723, multi-pk :757-777).  Feed the result
    to ``fold_delta(partition_key=...)`` callers' ``apply_delta(...,
    partition_tombs=...)`` so target rows of untouched clustering keys
    die too."""
    pks = [partition_key] if isinstance(partition_key, str) else list(partition_key)
    is_pd = F.col(OP_NORM) == int(OperationType.PARTITION_DELETE)
    return (
        df.where(is_pd)
        .groupBy(*pks)
        .agg(F.max(F.col(ORD)).alias("part_tomb"))
    )


def fold_delta(
    df: DataFrame,
    key: str | list[str] = "doc_id",
    collection_modes: dict[str, str] | None = None,
    schema: CDCSchema | None = None,
    set_impl: str = "auto",
    partition_key: str | list[str] | None = None,
) -> DataFrame:
    """Fold a decoded CDC batch into one composable delta record per key.

    ``partition_key``: for composite keys (pk…, ck…), the pk subset —
    PARTITION_DELETE ops then tombstone every row of the pk (A5 general
    form) instead of only the (pk, ck) group they land in; with the
    default None (single-column key) the two coincide
    (replicator_consumer.rs:392-402).

    Input must carry decode outputs (``op``, ``ord``).  ``key`` may be a
    list (used by the salted two-stage fold, operators/salt.py).

    ``set_impl`` picks the physical strategy for 'set'-mode columns:

    - ``"auto"`` (default): sample the average element fan-out of the
      batch (bounded LIMIT scan) and pick 'arrays' for wide deltas
      (≥3 elements/change — measured +25-40%% throughput on the bench
      workload from ~6× fewer shuffled bytes), else 'elements'.
    - ``"elements"``: explode to (key, element) events →
      element-level argmax → collect.  Finest skew distribution (a hot
      key spreads over its elements), but shuffles one row per element
      occurrence.
    - ``"arrays"``: collect each key's change structs and fold them with
      a higher-order ``aggregate`` over the sorted sequence.  Shuffles
      packed int arrays (~6× fewer bytes), one exchange instead of two;
      per-key cost is O(ops · set_size), so prefer it when sets are
      small-to-medium and keys are not pathologically hot.

    Both implementations produce identical delta records and are tested
    against the same oracle.
    """
    keys = [key] if isinstance(key, str) else list(key)
    collection_modes = collection_modes or {"tokens": "set"}
    schema = schema or CDCSchema.from_df_schema(df.schema)
    payload = [c for c in schema.payload if c not in keys]
    cell_cols, set_cols, map_cols, udt_cols = split_modes_full(
        payload, collection_modes
    )

    is_w = F.col(OP_NORM).isin(_W)
    is_d = F.col(OP_NORM).isin(_D)
    ordc = F.col(ORD)

    ptombs = None
    if partition_key is not None:
        # A5 general form: partition deletes tombstone by pk prefix, not
        # by the full composite key — split them out of the row stream
        ptombs = partition_tombstones(df, partition_key)
        df = df.where(F.col(OP_NORM) != int(OperationType.PARTITION_DELETE))
        is_d = F.col(OP_NORM) == int(OperationType.ROW_DELETE)

    if set_cols and set_impl == "auto":
        set_impl = _pick_set_impl(
            df, set_cols, bool(map_cols or udt_cols or partition_key), keys
        )

    aggs = [
        F.coalesce(F.max(F.when(is_d, ordc)), F.lit(NEG_INF)).alias("row_tomb"),
        F.coalesce(
            F.max(F.when(F.col(OP_NORM) == int(OperationType.ROW_INSERT), ordc)),
            F.lit(NEG_INF),
        ).alias("marker"),
        F.max(F.when(is_w, ordc)).alias("last_ord"),
        # ttl of the max-ord write op (max_by keeps a NULL value at the
        # max ordering — only NULL *orderings* are skipped).  max_by over
        # fixed-width values stays in a HashAggregate; a var-length value
        # (string cells) drops the node to SortAggregate — accepted: the
        # fold is bandwidth-bound well before sort CPU (BENCH.md probes)
        F.max_by(F.when(is_w, F.col(TTL)), F.when(is_w, ordc)).alias("ttl_v"),
    ]
    for c in cell_cols:
        dflag = _dcol(df, DELETED_PREFIX + c)
        mentioned = is_w & (F.col(c).isNotNull() | dflag)
        aggs.append(
            F.max_by(F.when(mentioned, F.col(c)), F.when(mentioned, ordc)).alias(
                f"{c}__v"
            )
        )
        aggs.append(F.max(F.when(mentioned, ordc)).alias(f"{c}__ord"))
    for c in set_cols + map_cols:
        dflag = _dcol(df, DELETED_PREFIX + c)
        aggs.append(
            F.coalesce(F.max(F.when(is_w & dflag, ordc)), F.lit(NEG_INF)).alias(
                f"{c}__ctomb"
            )
        )
    for c in udt_cols:
        # A9: per-field LWW (update_udt, replicator_consumer.rs:568-585):
        # overwrite (cdc$deleted_<col>) mentions every field with this
        # change's value; otherwise a present value struct mentions each
        # field that is non-null or whose index is in
        # cdc$deleted_elements_<col> (smallint indices,
        # replicator_consumer.rs:540-544); a present field value wins over
        # its delete index within one change (:546 runs the update with the
        # value, None only when absent).
        dflag = _dcol(df, DELETED_PREFIX + c)
        struct_t = schema.payload[c].spark_type
        fnames = [f.name for f in struct_t.fields]
        delems_name = DELETED_ELEMS_PREFIX + c
        delems = (
            F.coalesce(F.col(delems_name), F.array().cast("array<smallint>"))
            if delems_name in df.columns
            else F.array().cast("array<smallint>")
        )
        val = F.col(c)
        aggs.append(
            F.coalesce(F.max(F.when(is_w & dflag, ordc)), F.lit(NEG_INF)).alias(
                f"{c}__ctomb"
            )
        )
        for i, fn in enumerate(fnames):
            mention = is_w & (
                dflag
                | (
                    val.isNotNull()
                    & (
                        val[fn].isNotNull()
                        | F.array_contains(delems, F.lit(i).cast("smallint"))
                    )
                )
            )
            aggs.append(
                F.max_by(
                    F.when(mention, val[fn]), F.when(mention, ordc)
                ).alias(f"{c}__f{i}__v")
            )
            aggs.append(F.max(F.when(mention, ordc)).alias(f"{c}__f{i}__o"))

    delta = df.groupBy(*keys).agg(*aggs)
    if ptombs is not None:
        # fold the pk-prefix tombstone into each mentioned key's row_tomb;
        # keys ABSENT from this batch are handled by apply_delta's
        # partition_tombs pre-pass against the target
        pks = [partition_key] if isinstance(partition_key, str) else list(partition_key)
        delta = (
            delta.join(F.broadcast(ptombs), on=pks, how="left")
            .withColumn(
                "row_tomb",
                F.greatest(
                    F.col("row_tomb"),
                    F.coalesce(F.col("part_tomb"), F.lit(NEG_INF)),
                ),
            )
            .drop("part_tomb")
        )

    if set_cols and set_impl == "arrays":
        if map_cols or udt_cols:
            raise NotImplementedError(
                "set_impl='arrays' does not combine with map/list_delta/udt "
                "columns yet; use the default 'elements' strategy"
            )
        if partition_key is not None:
            raise NotImplementedError(
                "set_impl='arrays' folds tombstones in-sequence and cannot "
                "see pk-prefix deletes; use 'elements' with partition_key"
            )
        return _set_arrays_path(
            df, delta, keys, cell_cols, set_cols, schema, is_w, is_d, ordc
        )

    # ---- element-level LWW for 'set' columns (explode → argmax → collect) ----
    for c in set_cols:
        del_elems = (
            F.col(DELETED_ELEMS_PREFIX + c)
            if DELETED_ELEMS_PREFIX + c in df.columns
            else F.lit(None).cast("array<int>")
        )
        # explode_nonnull (not explode): the inferred size>0 filter would
        # rebuild the whole event-struct array a second time per row in
        # the scan stage (functions/generate_util.py)
        events = explode_nonnull(
            df.where(is_w & (F.col(c).isNotNull() | del_elems.isNotNull())),
            F.concat(
                F.transform(
                    F.coalesce(F.col(c), F.array()),
                    lambda e: F.struct(e.alias("e"), F.lit(1).alias("a")),
                ),
                F.transform(
                    F.coalesce(del_elems, F.array()),
                    lambda e: F.struct(e.alias("e"), F.lit(0).alias("a")),
                ),
            ),
            "ev",
            *[F.col(k) for k in keys],
            ordc.alias("__ord"),
        ).select(*keys, "__ord", F.col("ev.e").alias("elem"), F.col("ev.a").alias("act"))
        # last event per (key, element); removal beats addition at equal ord.
        # (ord, act) packs into one long — max() is hash-aggregable with a
        # vectorized partial aggregate, unlike max_by over a struct which
        # falls back to SortAggregate (hot-path at 10^10 events)
        packed = events.select(
            *keys,
            "elem",
            (F.col("__ord") * 2 + (1 - F.col("act"))).alias("__pk"),
        )
        # one shuffle for the whole element path: hash-partitioning by key
        # satisfies the clustering requirement of BOTH the (key, elem)
        # aggregate and the later per-key collect + join, so Catalyst
        # inserts no further exchanges downstream
        packed = packed.repartition(*[F.col(k) for k in keys])
        per_elem = packed.groupBy(*keys, "elem").agg(F.max("__pk").alias("__pk"))
        per_elem = per_elem.select(
            *keys,
            "elem",
            (1 - F.col("__pk") % 2).cast("int").alias("last_act"),
            F.shiftright(F.col("__pk"), 1).alias("last_ord_e"),
        )
        evs = per_elem.groupBy(*keys).agg(
            F.collect_list(F.struct("last_ord_e", "elem", "last_act")).alias(
                f"__evs_{c}"
            )
        )
        delta = delta.join(evs, on=keys, how="left")

    # ---- per-(map)key value LWW for 'map'/'list_delta' columns ----
    # update_map_or_set element path / update_list
    # (replicator_consumer.rs:415-469,472-528): adds are the value map's
    # entries, removes are cdc$deleted_elements keys; removal beats
    # addition at equal ord (pre-resolved within one change by dropping
    # adds whose key this change also deletes).
    for c in map_cols:
        map_t = schema.payload[c].spark_type
        kt = map_t.keyType.simpleString()
        vt = map_t.valueType.simpleString()
        delems_name = DELETED_ELEMS_PREFIX + c
        delems = (
            F.col(delems_name)
            if delems_name in df.columns
            else F.lit(None).cast(f"array<{kt}>")
        )
        dele = F.coalesce(delems, F.array().cast(f"array<{kt}>"))
        entries = F.coalesce(
            F.map_entries(F.col(c)),
            F.array().cast(f"array<struct<key:{kt},value:{vt}>>"),
        )
        adds = F.filter(entries, lambda e: ~F.array_contains(dele, e["key"]))
        ev_structs = F.concat(
            F.transform(
                adds,
                lambda e: F.struct(
                    e["key"].alias("k"), e["value"].alias("v"), F.lit(1).alias("a")
                ),
            ),
            F.transform(
                dele,
                lambda k2: F.struct(
                    k2.alias("k"),
                    F.lit(None).cast(vt).alias("v"),
                    F.lit(0).alias("a"),
                ),
            ),
        )
        events = explode_nonnull(
            df.where(is_w & (F.col(c).isNotNull() | delems.isNotNull())),
            ev_structs,
            "ev",
            *[F.col(k) for k in keys],
            ordc.alias("__ord"),
        ).select(
            *keys,
            F.col("ev.k").alias("k"),
            F.col("ev.v").alias("v"),
            (F.col("__ord") * 2 + (1 - F.col("ev.a"))).alias("__pk"),
        )
        events = events.repartition(*[F.col(k) for k in keys])
        per_elem = events.groupBy(*keys, "k").agg(
            F.max_by(F.col("v"), F.col("__pk")).alias("v"),
            F.max("__pk").alias("__pk"),
        )
        per_elem = per_elem.select(
            *keys,
            "k",
            "v",
            (1 - F.col("__pk") % 2).cast("int").alias("last_act"),
            F.shiftright(F.col("__pk"), 1).alias("last_ord_e"),
        )
        mevs = per_elem.groupBy(*keys).agg(
            F.collect_list(F.struct("last_ord_e", "k", "v", "last_act")).alias(
                f"__mevs_{c}"
            )
        )
        delta = delta.join(mevs, on=keys, how="left")

    # ---- summarize set columns into alive / removed / reset ----
    out_cols = [*[F.col(k) for k in keys], F.col("row_tomb"), F.col("marker"), F.col("last_ord"), F.col("ttl_v")]
    for c in cell_cols:
        # mentions at/before the batch row tombstone are dead: equivalent to
        # "tombstoned and unmentioned", so drop them from the delta
        alive_mention = F.col(f"{c}__ord") > F.col("row_tomb")
        out_cols += [
            F.when(alive_mention, F.col(f"{c}__v")).alias(f"{c}__v"),
            F.when(alive_mention, F.col(f"{c}__ord")).alias(f"{c}__ord"),
        ]
    for c in set_cols:
        thr_row, thr_coll = F.col("row_tomb"), F.col(f"{c}__ctomb")
        survives = lambda s: (s["last_ord_e"] > thr_row) & (s["last_ord_e"] >= thr_coll)  # noqa: E731
        evs = F.coalesce(F.col(f"__evs_{c}"), F.array())
        out_cols.append(
            F.array_sort(
                F.transform(
                    F.filter(evs, lambda s: (s["last_act"] == 1) & survives(s)),
                    lambda s: s["elem"],
                )
            ).alias(f"{c}__alive")
        )
        out_cols.append(
            F.array_sort(
                F.transform(
                    F.filter(evs, lambda s: (s["last_act"] == 0) & survives(s)),
                    lambda s: s["elem"],
                )
            ).alias(f"{c}__removed")
        )
        out_cols.append(
            ((thr_row > NEG_INF) | (thr_coll > NEG_INF)).alias(f"{c}__reset")
        )
    for c in map_cols:
        thr_row, thr_coll = F.col("row_tomb"), F.col(f"{c}__ctomb")
        survives = lambda s: (s["last_ord_e"] > thr_row) & (s["last_ord_e"] >= thr_coll)  # noqa: E731
        evs = F.coalesce(F.col(f"__mevs_{c}"), F.array())
        out_cols.append(
            F.array_sort(
                F.transform(
                    F.filter(evs, lambda s: (s["last_act"] == 1) & survives(s)),
                    lambda s: F.struct(s["k"].alias("k"), s["v"].alias("v")),
                )
            ).alias(f"{c}__alive")
        )
        out_cols.append(
            F.array_sort(
                F.transform(
                    F.filter(evs, lambda s: (s["last_act"] == 0) & survives(s)),
                    lambda s: s["k"],
                )
            ).alias(f"{c}__removed")
        )
        out_cols.append(
            ((thr_row > NEG_INF) | (thr_coll > NEG_INF)).alias(f"{c}__reset")
        )
    for c in udt_cols:
        # pack per-field (v, o) argmax results into one struct column;
        # a field mention at/before the batch row tombstone is dead
        fnames = [f.name for f in schema.payload[c].spark_type.fields]
        fields = []
        for i, fn in enumerate(fnames):
            alive_mention = F.col(f"{c}__f{i}__o") > F.col("row_tomb")
            fields.append(
                F.struct(
                    F.when(alive_mention, F.col(f"{c}__f{i}__v")).alias("v"),
                    F.when(alive_mention, F.col(f"{c}__f{i}__o")).alias("o"),
                ).alias(fn)
            )
        out_cols.append(F.struct(*fields).alias(f"{c}__fv"))
        out_cols.append(
            (
                (F.col("row_tomb") > NEG_INF) | (F.col(f"{c}__ctomb") > NEG_INF)
            ).alias(f"{c}__reset")
        )
    return delta.select(*out_cols)


#: avg elements touched per change above which the packed-arrays strategy
#: wins: the element path shuffles ~fan_out rows per event, the arrays
#: path one packed array — crossover measured at ~3 on the bench workload
AUTO_FANOUT_THRESHOLD = 3.0
_AUTO_SAMPLE_ROWS = 20_000


def resolve_set_impl(
    df: DataFrame,
    collection_modes: dict[str, str] | None,
    key: str = "doc_id",
    set_impl: str = "auto",
) -> str:
    """Resolve 'auto' to a concrete strategy once (one bounded sampling
    job) so a windowed replay doesn't re-sample per window."""
    if set_impl != "auto":
        return set_impl
    schema = CDCSchema.from_df_schema(df.schema)
    payload = [c for c in schema.payload if c != key]
    _, sets, maps, udts = split_modes_full(payload, collection_modes)
    if not sets:
        return "elements"
    return _pick_set_impl(df, sets, bool(maps or udts), [key] if isinstance(key, str) else list(key))


#: if one key holds more than this share of the sampled batch, prefer
#: the elements path: the arrays fold collects a key's whole change
#: sequence into one task (memory ∝ hot-key events), while elements
#: spreads a hot key across its (key, element) pairs
AUTO_HOT_KEY_SHARE = 0.05


def _pick_set_impl(
    df: DataFrame,
    set_cols: list[str],
    has_other_modes: bool,
    keys: list[str] | None = None,
) -> str:
    """'auto' strategy: sample the batch (bounded LIMIT scan — one tiny
    job) for (a) average element fan-out and (b) the hottest key's share;
    pick 'arrays' for wide deltas unless a hot key dominates."""
    if has_other_modes:
        return "elements"  # arrays path doesn't combine with map/udt yet
    size_of = lambda c: (  # noqa: E731
        F.size(F.coalesce(F.col(c), F.array()))
        + F.size(
            F.coalesce(
                F.col(DELETED_ELEMS_PREFIX + c)
                if DELETED_ELEMS_PREFIX + c in df.columns
                else F.lit(None).cast("array<int>"),
                F.array(),
            )
        )
    )
    sample = df.limit(_AUTO_SAMPLE_ROWS)
    if keys:
        per_key = sample.groupBy(*keys).agg(
            F.count("*").alias("__n"),
            *[F.sum(size_of(c)).alias(c) for c in set_cols],
        )
        row = per_key.agg(
            F.max("__n").alias("__max"),
            F.sum("__n").alias("__tot"),
            *[F.sum(c).alias(c) for c in set_cols],
        ).collect()[0]
        tot = row["__tot"] or 0
        if tot and (row["__max"] or 0) / tot > AUTO_HOT_KEY_SHARE:
            return "elements"
        fanouts = [row[c] / tot for c in set_cols if row[c] is not None and tot]
    else:
        row = sample.agg(*[F.avg(size_of(c)).alias(c) for c in set_cols]).collect()[0]
        fanouts = [row[c] for c in set_cols if row[c] is not None]
    fan = max(fanouts) if fanouts else 0.0
    return "arrays" if fan >= AUTO_FANOUT_THRESHOLD else "elements"


def _set_arrays_path(df, delta, keys, cell_cols, set_cols, schema, is_w, is_d, ordc):
    """'arrays' strategy for set columns: per-key sorted change sequence
    folded with a higher-order aggregate (see fold_delta docstring)."""
    for c in set_cols:
        elem_t = schema.payload[c].spark_type
        arr_t = elem_t.simpleString() if elem_t is not None else "array<int>"
        empty = F.array().cast(arr_t)
        dflag = _dcol(df, DELETED_PREFIX + c)
        del_elems = (
            F.coalesce(F.col(DELETED_ELEMS_PREFIX + c), empty)
            if DELETED_ELEMS_PREFIX + c in df.columns
            else empty
        )
        ev = F.struct(
            ordc.alias("o"),
            F.coalesce(F.col(c), empty).alias("add"),
            del_elems.alias("rem"),
            # row deletes behave as a collection reset within the sequence
            (dflag | is_d).alias("ovw"),
        )
        events = df.where(
            is_d | (is_w & (F.col(c).isNotNull() | dflag | (F.size(del_elems) > 0)))
        ).select(*keys, ev.alias("e"))
        per_key = events.groupBy(*keys).agg(
            F.sort_array(F.collect_list("e")).alias("__es")
        )
        init = F.struct(empty.alias("alive"), empty.alias("removed"))
        # membership ops (array_union/array_except) don't need sorted
        # inputs — keep the fold unsorted and sort ONCE on the final
        # state: per-event sorting was O(m·log m) work repeated m times
        # per key for an output whose set content is identical
        state = F.aggregate(
            F.col("__es"),
            init,
            lambda acc, e: F.when(
                e["ovw"],
                # overwrite resets to this change's elements; a same-change
                # deleted_elements entry still wins the equal-timestamp tie
                # (removal beats addition), matching the elements path
                F.struct(
                    F.array_except(F.array_distinct(e["add"]), e["rem"]).alias(
                        "alive"
                    ),
                    e["rem"].alias("removed"),
                ),
            ).otherwise(
                F.struct(
                    F.array_except(
                        F.array_union(acc["alive"], e["add"]), e["rem"]
                    ).alias("alive"),
                    F.array_union(
                        F.array_except(acc["removed"], e["add"]), e["rem"]
                    ).alias("removed"),
                )
            ),
        )
        folded = per_key.select(
            *keys,
            F.array_sort(state["alive"]).alias(f"{c}__alive"),
            F.array_sort(state["removed"]).alias(f"{c}__removed"),
        )
        delta = delta.join(folded, on=keys, how="left")

    out_cols = [*[F.col(k) for k in keys], F.col("row_tomb"), F.col("marker"),
                F.col("last_ord"), F.col("ttl_v")]
    for c in cell_cols:
        alive_mention = F.col(f"{c}__ord") > F.col("row_tomb")
        out_cols += [
            F.when(alive_mention, F.col(f"{c}__v")).alias(f"{c}__v"),
            F.when(alive_mention, F.col(f"{c}__ord")).alias(f"{c}__ord"),
        ]
    for c in set_cols:
        elem_t = schema.payload[c].spark_type
        arr_t = elem_t.simpleString() if elem_t is not None else "array<int>"
        empty = F.array().cast(arr_t)
        out_cols += [
            F.coalesce(F.col(f"{c}__alive"), empty).alias(f"{c}__alive"),
            F.coalesce(F.col(f"{c}__removed"), empty).alias(f"{c}__removed"),
            ((F.col("row_tomb") > NEG_INF) | (F.col(f"{c}__ctomb") > NEG_INF)).alias(
                f"{c}__reset"
            ),
        ]
    return delta.select(*out_cols)


def _exists_and_values(
    delta_side,
    cell_cols,
    set_cols,
    target_side=None,
    map_cols=(),
    udt_fields=None,
    target_has=None,
):
    """Shared cell-wise composition used by finalize and apply_delta.

    ``target_side`` maps column name → Column for the existing state
    (None ⇒ empty target).  ``udt_fields``: col → ordered field names.
    ``target_has(col)``: whether the existing state carries the column —
    False for a column the log just grew (schema evolution), where
    complex extraction (struct field / map_entries) from an untyped NULL
    would not analyze.
    """
    if target_has is None:
        target_has = lambda _c: target_side is not None  # noqa: E731
    d = delta_side
    had_tomb = F.coalesce(d("row_tomb") > NEG_INF, F.lit(False))
    values = {}
    live = []
    for c in cell_cols:
        v = F.when(d(f"{c}__ord").isNotNull(), d(f"{c}__v"))
        if target_side is not None:
            v = v.when(had_tomb | d(f"{c}__ord").isNotNull(), F.lit(None)).otherwise(
                target_side(c)
            )
        values[c] = v
        live.append(v.isNotNull())
    for c in set_cols:
        alive = F.coalesce(d(f"{c}__alive"), F.array())
        if target_side is None:
            merged = alive
        else:
            base = F.when(
                F.coalesce(d(f"{c}__reset"), F.lit(False)) | had_tomb, F.array()
            ).otherwise(F.coalesce(target_side(c), F.array()))
            merged = F.array_sort(
                F.array_except(
                    F.array_union(base, alive),
                    F.coalesce(d(f"{c}__removed"), F.array()),
                )
            )
        v = F.when(F.size(merged) > 0, merged)
        values[c] = v
        live.append(v.isNotNull())
    for c in map_cols:
        # target column is map<k,v> (list_delta presents as values sorted
        # by key at read time — see ``present``)
        alive = F.coalesce(d(f"{c}__alive"), F.array())
        if target_side is None or not target_has(c):
            merged = alive
        else:
            reset = F.coalesce(d(f"{c}__reset"), F.lit(False)) | had_tomb
            base = F.when(reset, F.array()).otherwise(
                F.coalesce(F.map_entries(target_side(c)), F.array())
            )
            new_keys = F.transform(alive, lambda e: e["k"])
            removed = F.coalesce(d(f"{c}__removed"), F.array())
            kept = F.filter(
                base,
                lambda e: ~F.array_contains(new_keys, e["key"])
                & ~F.array_contains(removed, e["key"]),
            )
            merged = F.array_sort(
                F.concat(
                    F.transform(
                        kept,
                        lambda e: F.struct(
                            e["key"].alias("k"), e["value"].alias("v")
                        ),
                    ),
                    alive,
                )
            )
        v = F.when(F.size(merged) > 0, F.map_from_entries(merged))
        values[c] = v
        live.append(v.isNotNull())
    for c, fnames in (udt_fields or {}).items():
        fv = d(f"{c}__fv")
        reset = F.coalesce(d(f"{c}__reset"), F.lit(False)) | had_tomb
        field_vals = []
        for fn in fnames:
            if target_side is None or not target_has(c):
                nv = fv[fn]["v"]
            else:
                nv = (
                    F.when(fv[fn]["o"].isNotNull(), fv[fn]["v"])
                    .when(reset, F.lit(None))
                    .otherwise(target_side(c)[fn])
                )
            field_vals.append(nv.alias(fn))
        any_live = F.lit(False)
        for nv in field_vals:
            any_live = any_live | nv.isNotNull()
        v = F.when(any_live, F.struct(*field_vals))
        values[c] = v
        live.append(v.isNotNull())

    marker = F.coalesce(d("marker") > d("row_tomb"), F.lit(False))
    if target_side is not None:
        marker = marker | (~had_tomb & F.coalesce(target_side("__has_marker"), F.lit(False)))
    exists = marker
    for lf in live:
        exists = exists | F.coalesce(lf, F.lit(False))
    return values, exists, marker, had_tomb


def _udt_fields_from_delta(delta: DataFrame, udt_cols: list[str]) -> dict:
    """col → ordered field names, read off the delta's own __fv schema."""
    out = {}
    for c in udt_cols:
        out[c] = [f.name for f in delta.schema[f"{c}__fv"].dataType.fields]
    return out


def finalize(
    delta: DataFrame,
    key: str | list[str] = "doc_id",
    payload: list[str] | None = None,
    collection_modes: dict[str, str] | None = None,
    bookkeeping: bool = False,
) -> DataFrame:
    """Delta applied to an empty table → final visible state.

    ``bookkeeping``: also emit the target-table columns ``__has_marker``
    (the delta's own row marker — a row that only UPDATEs created has
    none, so a later delete of its last live cell removes it) and
    ``is_deleted`` (always false: only existing rows are kept)."""
    keys = [key] if isinstance(key, str) else list(key)
    payload = payload or _payload_from_delta(delta, key)
    cell_cols, set_cols, map_cols, udt_cols = split_modes_full(
        payload, collection_modes or {"tokens": "set"}
    )
    d = lambda n: F.col(n)  # noqa: E731
    values, exists, marker, _ = _exists_and_values(
        d, cell_cols, set_cols, None, map_cols,
        _udt_fields_from_delta(delta, udt_cols),
    )
    proj = [F.col(k) for k in keys]
    proj += [values[c].alias(c) for c in payload]
    proj += [
        F.when(F.col("last_ord").isNotNull(), F.col("ttl_v")).alias("ttl"),
        F.col("last_ord"),
    ]
    if bookkeeping:
        proj += [marker.alias("__has_marker"), F.lit(False).alias("is_deleted")]
    return delta.where(exists).select(*proj)


def _payload_from_delta(delta: DataFrame, key: str) -> list[str]:
    cols = []
    for c in delta.columns:
        if c.endswith("__v") or c.endswith("__alive") or c.endswith("__fv"):
            cols.append(c.rsplit("__", 1)[0])
    return cols


def fold(
    df: DataFrame,
    key: str | list[str] = "doc_id",
    collection_modes: dict[str, str] | None = None,
    schema: CDCSchema | None = None,
    partition_key: str | list[str] | None = None,
    set_impl: str = "auto",
) -> DataFrame:
    """One-shot batch replay: fold the whole log into final state."""
    keys = [key] if isinstance(key, str) else list(key)
    collection_modes = collection_modes or {"tokens": "set"}
    schema = schema or CDCSchema.from_df_schema(df.schema)
    payload = [c for c in schema.payload if c not in keys]
    delta = fold_delta(
        df, key=key, collection_modes=collection_modes, schema=schema,
        partition_key=partition_key, set_impl=set_impl,
    )
    return finalize(delta, key=key, payload=payload, collection_modes=collection_modes)


def apply_delta(
    target: DataFrame,
    delta: DataFrame,
    key: str | list[str] = "doc_id",
    payload: list[str] | None = None,
    collection_modes: dict[str, str] | None = None,
    keep_tombstones: bool = True,
    extra_payload: list[str] | None = None,
    partition_tombs: DataFrame | None = None,
) -> DataFrame:
    """Cell-wise MERGE of a batch delta into existing target state.

    ``target`` schema: key(s), payload..., ttl, last_ord, __has_marker,
    is_deleted.  Returns the new target state (same schema).  This is
    the relational body of ``MERGE INTO ... WHEN MATCHED UPDATE / WHEN
    NOT MATCHED INSERT / WHEN MATCHED DELETE`` (SURVEY.md §2.4 A1–A5).

    ``extra_payload``: target columns with no counterpart in this batch
    (schema evolution — a column the log stopped/has not started
    carrying): values pass through untouched unless the row is
    tombstoned.

    ``partition_tombs``: this batch's ``partition_tombstones`` output —
    for composite (pk, ck) keys, pk-prefix deletes must also kill target
    rows of clustering keys the batch never mentions (A5 general form,
    replicator_consumer.rs:392-402): target rows written at/before their
    pk's part_tomb are marked deleted before the merge.
    """
    keys = [key] if isinstance(key, str) else list(key)
    payload = payload or _payload_from_delta(delta, key)
    cell_cols, set_cols, map_cols, udt_cols = split_modes_full(
        payload, collection_modes or {"tokens": "set"}
    )
    udt_fields = _udt_fields_from_delta(delta, udt_cols)

    if partition_tombs is not None:
        pks = [c for c in partition_tombs.columns if c != "part_tomb"]
        target = (
            target.join(F.broadcast(partition_tombs), on=pks, how="left")
            .withColumn(
                "is_deleted",
                F.coalesce(F.col("is_deleted"), F.lit(False))
                | (F.col("last_ord") <= F.coalesce(F.col("part_tomb"), F.lit(NEG_INF))),
            )
            .drop("part_tomb")
        )

    t = target.alias("t")
    dd = delta.alias("d")
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(f"t.{k}") == F.col(f"d.{k}"))
    joined = t.join(dd, on=cond, how="full_outer")

    # staleness gate: a delta whose newest op is not newer than the target's
    # last applied ord is a replayed window — ignore it wholesale (the
    # exactly-once guard behind the watermark filter; the reference dedups
    # replays on (time, batch_seq_no), replication_tests.rs:93-98)
    stale = F.greatest(
        F.coalesce(F.col("d.last_ord"), F.lit(NEG_INF)),
        F.coalesce(F.col("d.row_tomb"), F.lit(NEG_INF)),
    ) <= F.coalesce(F.col("t.last_ord"), F.lit(NEG_INF))

    def dside(n: str) -> Column:
        return F.when(~stale, F.col(f"d.{n}"))

    target_cols = set(target.columns)

    def tside(n: str) -> Column:
        if n == "__has_marker":
            return F.col("t.__has_marker") & ~F.coalesce(F.col("t.is_deleted"), F.lit(False))
        if n not in target_cols:
            return F.lit(None)  # newly added column (schema evolution)
        return F.when(~F.coalesce(F.col("t.is_deleted"), F.lit(True)), F.col(f"t.{n}"))

    values, exists, marker, had_tomb = _exists_and_values(
        dside, cell_cols, set_cols, tside, map_cols, udt_fields,
        target_has=lambda c: c in target_cols,
    )
    for c in extra_payload or []:
        ev = F.when(~F.coalesce(had_tomb, F.lit(False)), tside(c))
        values[c] = ev
        exists = exists | F.coalesce(ev.isNotNull(), F.lit(False))

    new_ttl = (
        F.when(dside("last_ord").isNotNull(), dside("ttl_v"))
        .when(had_tomb, F.lit(None))
        .otherwise(tside("ttl"))
    )
    new_last_ord = F.greatest(
        F.coalesce(dside("last_ord"), F.lit(NEG_INF)),
        F.coalesce(dside("row_tomb"), F.lit(NEG_INF)),
        F.coalesce(F.col("t.last_ord"), F.lit(NEG_INF)),
    )

    proj = [
        F.coalesce(F.col(f"d.{k}"), F.col(f"t.{k}")).alias(k) for k in keys
    ]
    proj += [
        F.when(exists, values[c]).alias(c) for c in [*payload, *(extra_payload or [])]
    ]
    proj += [
        F.when(exists, new_ttl).alias("ttl"),
        new_last_ord.alias("last_ord"),
        marker.alias("__has_marker"),
        (~exists).alias("is_deleted"),
    ]
    out = joined.select(*proj)
    if not keep_tombstones:
        out = out.where(~F.col("is_deleted"))
    return out


def present(df: DataFrame, collection_modes: dict[str, str] | None = None) -> DataFrame:
    """Project the physical state into the user-visible shape.

    'list_delta' columns are stored as their CDC encoding — a map keyed
    by timeuuid surrogate (replicator_consumer.rs:472-528: Scylla itself
    keys list elements internally by timeuuid) — so deltas stay
    composable across batches; the user-visible list is the values
    ordered by key.  All other modes are already user-shaped.
    """
    for c, m in (collection_modes or {}).items():
        if m == "list_delta" and c in df.columns:
            df = df.withColumn(
                c,
                F.when(
                    F.col(c).isNotNull(),
                    F.transform(
                        F.array_sort(F.map_entries(F.col(c))),
                        lambda e: e["value"],
                    ),
                ),
            )
    return df

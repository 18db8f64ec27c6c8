"""A5 general form: composite (pk, ck) keys where PARTITION_DELETE kills
every clustering row of the pk — ported from the reference's
test_partition_delete (replication_tests.rs:705-723) and
test_partition_delete_with_multiple_pk (:757-777)."""

import pyarrow as pa
import pytest

from scylla_cdc_rust_spark.functions.decode import decode
from scylla_cdc_rust_spark.model import (
    BATCH_SEQ,
    END_OF_BATCH,
    EPOCH,
    OPERATION,
    STREAM_ID,
    TIME_MS,
    TIME_SEQ,
    TTL,
    OperationType,
)
from scylla_cdc_rust_spark.operators.fold import (
    apply_delta,
    finalize,
    fold,
    fold_delta,
    partition_tombstones,
)
from tests.scenarios import T0
from tests.util import spark_df_via_parquet

SCHEMA = pa.schema(
    [
        (STREAM_ID, pa.binary()),
        (TIME_MS, pa.int64()),
        (TIME_SEQ, pa.int64()),
        (BATCH_SEQ, pa.int32()),
        (END_OF_BATCH, pa.bool_()),
        (OPERATION, pa.int8()),
        (TTL, pa.int64()),
        ("pk", pa.int32()),
        ("pk2", pa.int32()),
        ("ck", pa.int32()),
        ("v", pa.int32()),
        ("cdc$deleted_v", pa.bool_()),
        (EPOCH, pa.int32()),
    ]
)


class CompositeLog:
    def __init__(self):
        self.rows = []
        self._t = 0

    def _emit(self, op, pk, ck=None, v=None, pk2=0, del_v=False):
        self._t += 1
        self.rows.append(
            {
                STREAM_ID: b"\x02" * 16,
                TIME_MS: T0 + self._t * 1000,
                TIME_SEQ: 0,
                BATCH_SEQ: 0,
                END_OF_BATCH: True,
                OPERATION: int(op),
                TTL: None,
                "pk": pk,
                "pk2": pk2,
                "ck": ck,
                "v": v,
                "cdc$deleted_v": del_v,
                EPOCH: 0,
            }
        )
        return self

    def insert(self, pk, ck, v, pk2=0):
        return self._emit(OperationType.ROW_INSERT, pk, ck, v, pk2)

    def update(self, pk, ck, v=None, pk2=0, del_v=False):
        return self._emit(OperationType.ROW_UPDATE, pk, ck, v, pk2, del_v)

    def delete_row(self, pk, ck, pk2=0):
        return self._emit(OperationType.ROW_DELETE, pk, ck, pk2=pk2)

    def delete_partition(self, pk, pk2=0):
        # partition delete carries no clustering key (ck NULL)
        return self._emit(OperationType.PARTITION_DELETE, pk, None, pk2=pk2)

    def build(self):
        cols = {f.name: [r[f.name] for r in self.rows] for f in SCHEMA}
        return pa.table(cols, schema=SCHEMA)


KEYS = ["pk", "ck"]


def run(spark, b, tmp, partition_key="pk", keys=KEYS):
    df = decode(spark_df_via_parquet(spark, b.build(), tmp))
    out = fold(df, key=keys, collection_modes={}, partition_key=partition_key)
    return {
        tuple(r[k] for k in keys): r["v"] for r in out.collect()
    }


def test_partition_delete_kills_all_clustering_rows(spark, tmp_path):
    # replication_tests.rs:705-723: two rows under pk=0, then DELETE pk=0
    b = CompositeLog().insert(0, 0, 0).insert(0, 1, 1).delete_partition(0)
    assert run(spark, b, tmp_path) == {}


def test_partition_delete_spares_other_pk(spark, tmp_path):
    b = (
        CompositeLog()
        .insert(0, 0, 0)
        .insert(0, 1, 1)
        .insert(1, 0, 9)
        .delete_partition(0)
    )
    assert run(spark, b, tmp_path) == {(1, 0): 9}


def test_reinsert_after_partition_delete(spark, tmp_path):
    b = (
        CompositeLog()
        .insert(0, 0, 0)
        .delete_partition(0)
        .insert(0, 1, 7)  # later write under the deleted pk survives
    )
    assert run(spark, b, tmp_path) == {(0, 1): 7}


def test_row_delete_is_narrower_than_partition_delete(spark, tmp_path):
    b = CompositeLog().insert(0, 0, 0).insert(0, 1, 1).delete_row(0, 0)
    assert run(spark, b, tmp_path) == {(0, 1): 1}


def test_partition_delete_multiple_pk_columns(spark, tmp_path):
    # replication_tests.rs:757-777: composite partition key (pk1, pk2)
    b = (
        CompositeLog()
        .insert(0, 0, 0, pk2=1)
        .insert(0, 1, 1, pk2=2)
        .delete_partition(0, pk2=2)
    )
    keys = ["pk", "pk2", "ck"]
    got = run(spark, b, tmp_path, partition_key=["pk", "pk2"], keys=keys)
    assert got == {(0, 1, 0): 0}


def test_partition_delete_across_batches(spark, tmp_path):
    """The delete arrives in a later micro-batch: target rows of
    clustering keys the batch never mentions must die via the
    partition_tombs pre-pass."""
    b = CompositeLog().insert(0, 0, 0).insert(0, 1, 1).insert(1, 0, 9)
    cut = len(b.rows)
    b.delete_partition(0)
    b.insert(0, 2, 5)  # post-delete write under the same pk
    full = b.build()
    t1, t2 = full.slice(0, cut), full.slice(cut)

    df1 = decode(spark_df_via_parquet(spark, t1, tmp_path / "b1"))
    d1 = fold_delta(df1, key=KEYS, collection_modes={}, partition_key="pk")
    state1 = finalize(d1, key=KEYS, collection_modes={}, bookkeeping=True)
    assert {tuple(r[k] for k in KEYS) for r in state1.collect()} == {
        (0, 0), (0, 1), (1, 0)
    }

    df2 = decode(spark_df_via_parquet(spark, t2, tmp_path / "b2"))
    d2 = fold_delta(df2, key=KEYS, collection_modes={}, partition_key="pk")
    merged = apply_delta(
        state1,
        d2,
        key=KEYS,
        collection_modes={},
        keep_tombstones=False,
        partition_tombs=partition_tombstones(df2, "pk"),
    )
    got = {tuple(r[k] for k in KEYS): r["v"] for r in merged.collect()}
    assert got == {(1, 0): 9, (0, 2): 5}

    # must equal the one-shot fold of the full log
    fulldf = decode(spark_df_via_parquet(spark, full, tmp_path / "full"))
    want = {
        tuple(r[k] for k in KEYS): r["v"]
        for r in fold(fulldf, key=KEYS, collection_modes={}, partition_key="pk").collect()
    }
    assert got == want


def test_partition_delete_with_set_column(spark, tmp_path):
    """pk-prefix tombstones must also gate element-level (set) state:
    elements added before the partition delete die, later ones live."""
    import pyarrow as pa

    schema = pa.schema(
        [
            (STREAM_ID, pa.binary()),
            (TIME_MS, pa.int64()),
            (TIME_SEQ, pa.int64()),
            (BATCH_SEQ, pa.int32()),
            (END_OF_BATCH, pa.bool_()),
            (OPERATION, pa.int8()),
            (TTL, pa.int64()),
            ("pk", pa.int32()),
            ("ck", pa.int32()),
            ("tags", pa.list_(pa.int32())),
            ("cdc$deleted_tags", pa.bool_()),
            ("cdc$deleted_elements_tags", pa.list_(pa.int32())),
            (EPOCH, pa.int32()),
        ]
    )
    rows = []

    def emit(t, op, pk, ck, tags=None, dele=None):
        rows.append(
            {
                STREAM_ID: b"\x03" * 16, TIME_MS: T0 + t * 1000, TIME_SEQ: 0,
                BATCH_SEQ: 0, END_OF_BATCH: True, OPERATION: int(op), TTL: None,
                "pk": pk, "ck": ck, "tags": tags,
                "cdc$deleted_tags": False, "cdc$deleted_elements_tags": dele,
                EPOCH: 0,
            }
        )

    emit(1, OperationType.ROW_UPDATE, 0, 0, tags=[1, 2])
    emit(2, OperationType.ROW_UPDATE, 0, 1, tags=[3])
    emit(3, OperationType.PARTITION_DELETE, 0, None)
    emit(4, OperationType.ROW_UPDATE, 0, 0, tags=[9])   # re-add after pd
    emit(5, OperationType.ROW_UPDATE, 1, 0, tags=[7])   # other pk untouched
    tbl = pa.table({f.name: [r[f.name] for r in rows] for f in schema}, schema=schema)

    df = decode(spark_df_via_parquet(spark, tbl, tmp_path))
    out = fold(
        df, key=KEYS, collection_modes={"tags": "set"}, partition_key="pk"
    )
    got = {
        (r["pk"], r["ck"]): (None if r["tags"] is None else list(r["tags"]))
        for r in out.collect()
    }
    assert got == {(0, 0): [9], (1, 0): [7]}


CONSUMER_SCHEMA = "pk int, ck int, v int, ttl long, last_ord long"


def consumer_run(spark, tbl, tmp):
    from scylla_cdc_rust_spark.operators.consumer_api import replay_consumer_fold

    df = decode(spark_df_via_parquet(spark, tbl, tmp))
    out = replay_consumer_fold(
        df, collection_modes={}, output_schema=CONSUMER_SCHEMA,
        key=KEYS, partition_key="pk",
    )
    return {(r["pk"], r["ck"]): r["v"] for r in out.collect()}


def test_consumer_partition_delete_composite_key(spark, tmp_path):
    """ReplayConsumer (verification tier) must apply the A5 general form
    too: PARTITION_DELETE pops every state key sharing the pk prefix,
    matching fold.partition_tombstones (replication_tests.rs:705-777)."""
    b = (
        CompositeLog()
        .insert(0, 0, 0)
        .insert(0, 1, 1)
        .insert(1, 0, 9)
        .delete_partition(0)
        .insert(0, 2, 5)  # later write under the deleted pk survives
    )
    tbl = b.build().drop_columns(["pk2"])
    got = consumer_run(spark, tbl, tmp_path / "c")
    assert got == {(1, 0): 9, (0, 2): 5}
    # and it must equal the declarative fold on the same log
    assert got == run(spark, b, tmp_path / "f")


@pytest.mark.parametrize("seed", [83, 84])
def test_consumer_vs_fold_partition_delete_fuzz(spark, tmp_path, seed):
    """Cross-check the two tiers on random composite-key logs that
    include partition deletes: sequential consumer state machine ==
    declarative fold == sequential oracle."""
    import random

    from scylla_cdc_rust_spark.datagen.oracle import oracle_replay

    rng = random.Random(seed)
    b = CompositeLog()
    for _ in range(400):
        pk, ck = rng.randint(0, 5), rng.randint(0, 3)
        roll = rng.random()
        if roll < 0.4:
            b.insert(pk, ck, rng.randint(0, 99))
        elif roll < 0.7:
            b.update(pk, ck, v=rng.randint(0, 99) if rng.random() < 0.8 else None,
                     del_v=rng.random() < 0.2)
        elif roll < 0.85:
            b.delete_row(pk, ck)
        else:
            b.delete_partition(pk)
    tbl = b.build().drop_columns(["pk2"])

    got_consumer = consumer_run(spark, tbl, tmp_path / "c")
    got_fold = run(spark, b, tmp_path / "f")
    want = {
        k: rec["v"]
        for k, rec in oracle_replay(
            tbl, key=KEYS, collection_modes={}, partition_key="pk"
        ).items()
    }
    assert got_consumer == got_fold == want


@pytest.mark.parametrize("seed", [81, 82])
def test_composite_key_fuzz(spark, tmp_path, seed):
    """Randomized composite-key interleavings (writes, column deletes,
    row deletes, partition deletes) vs the sequential oracle's A5
    general-form replay."""
    import random

    from scylla_cdc_rust_spark.datagen.oracle import oracle_replay

    rng = random.Random(seed)
    b = CompositeLog()
    for _ in range(500):
        pk, ck = rng.randint(0, 6), rng.randint(0, 4)
        roll = rng.random()
        if roll < 0.35:
            b.insert(pk, ck, rng.randint(0, 99))
        elif roll < 0.70:
            b.update(pk, ck, v=rng.randint(0, 99) if rng.random() < 0.8 else None,
                     del_v=rng.random() < 0.2)
        elif roll < 0.85:
            b.delete_row(pk, ck)
        else:
            b.delete_partition(pk)
    tbl = b.build().drop_columns(["pk2"])

    df = decode(spark_df_via_parquet(spark, tbl, tmp_path))
    got = {
        (r["pk"], r["ck"]): (r["v"], r["ttl"], r["last_ord"])
        for r in fold(df, key=KEYS, collection_modes={}, partition_key="pk").collect()
    }
    want = {
        k: (rec["v"], rec["ttl"], rec["last_ord"])
        for k, rec in oracle_replay(
            tbl, key=KEYS, collection_modes={}, partition_key="pk"
        ).items()
    }
    assert got == want

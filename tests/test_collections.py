"""A7(general map)/A8(list delta)/A9(UDT) scenarios ported from the
reference replication tests (replication_tests.rs: test_list_update
:779-800, test_list_replace :829-848, test_udt_insert :726-752,
test_udt_update :802-827, test_udt_fields_update :925-958), replayed by
the declarative fold and diffed against the sequential oracle."""

import pytest

from scylla_cdc_rust_spark.operators.fold import (
    apply_delta,
    finalize,
    fold_delta,
    present,
)
from scylla_cdc_rust_spark.functions.decode import decode
from tests.scenarios import GENERAL_MODES, GeneralLogBuilder
from tests.util import check_general_fold, spark_df_via_parquet


def check(spark, b: GeneralLogBuilder, tmp_path):
    return check_general_fold(spark, b.build(), GENERAL_MODES, tmpdir=tmp_path)


# ---------------------------------------------------------------------------
# A8 — non-frozen list as timeuuid-keyed map (replicator_consumer.rs:472-528)
# ---------------------------------------------------------------------------


def test_list_update(spark, tmp_path):
    # INSERT [0,1,1,2]; v = v + [3,5,8,13]; v = v - [1,5]
    b = GeneralLogBuilder().insert("a", vals=[0, 1, 1, 2])
    b.list_append("a", [3, 5, 8, 13])
    b.list_remove_values("a", [1, 5])
    st = check(spark, b, tmp_path)
    assert st["a"]["vals"] == [0, 2, 3, 8, 13]


def test_list_replace(spark, tmp_path):
    # INSERT [1,3,5,7]; v = [2,4,6,8] (overwrite preserves fresh keys)
    b = GeneralLogBuilder().insert("a", vals=[1, 3, 5, 7])
    b.list_replace("a", [2, 4, 6, 8])
    st = check(spark, b, tmp_path)
    assert st["a"]["vals"] == [2, 4, 6, 8]


def test_list_delete_then_append_same_change_ordering(spark, tmp_path):
    b = GeneralLogBuilder().insert("a", vals=[1, 2])
    # overwrite + append in one change: delete-flag resets, this change's
    # keys survive (update_list runs delete then element sets)
    b.list_replace("a", [9])
    b.list_append("a", [10, 11])
    st = check(spark, b, tmp_path)
    assert st["a"]["vals"] == [9, 10, 11]


def test_list_remove_all_then_row_survives_via_marker(spark, tmp_path):
    b = GeneralLogBuilder().insert("a", vals=[1])
    keys = list(b.current_keys_of("a"))
    b.list_remove_keys("a", keys)
    st = check(spark, b, tmp_path)
    assert st["a"]["vals"] is None  # empty list ⇒ null, row kept by marker


def test_list_duplicate_values_distinct_keys(spark, tmp_path):
    b = GeneralLogBuilder().insert("a", vals=[7, 7, 7])
    b.list_remove_values("a", [7])
    b.list_append("a", [7])
    st = check(spark, b, tmp_path)
    assert st["a"]["vals"] == [7]


# ---------------------------------------------------------------------------
# A7 (general) — non-frozen map<k,v> per-key value LWW
# (replicator_consumer.rs:415-469)
# ---------------------------------------------------------------------------


def test_map_put_and_remove(spark, tmp_path):
    b = GeneralLogBuilder().insert("a", attrs={"x": 1, "y": 2})
    b.map_put("a", {"y": 20, "z": 3})
    b.map_remove("a", ["x"])
    st = check(spark, b, tmp_path)
    assert st["a"]["attrs"] == {"y": 20, "z": 3}


def test_map_overwrite(spark, tmp_path):
    b = GeneralLogBuilder().insert("a", attrs={"x": 1})
    b.map_overwrite("a", {"q": 9})
    st = check(spark, b, tmp_path)
    assert st["a"]["attrs"] == {"q": 9}


def test_map_overwrite_null(spark, tmp_path):
    b = GeneralLogBuilder().insert("a", attrs={"x": 1})
    b.map_overwrite("a", None)
    st = check(spark, b, tmp_path)
    assert st["a"]["attrs"] is None


def test_map_same_change_put_and_remove_key(spark, tmp_path):
    # removal beats addition at equal timestamp
    b = GeneralLogBuilder().insert("a", attrs={"x": 1})
    b.update("a", attrs={"x": 5, "w": 2}, del_attr_keys=["x"])
    st = check(spark, b, tmp_path)
    assert st["a"]["attrs"] == {"w": 2}


def test_insert_empty_collections(spark, tmp_path):
    # INSERT ... VALUES (.., {}, {}) — CDC encodes an overwrite with no
    # elements: the column ends NULL, the row lives via its marker
    # (replication_tests.rs test_map_insert first op :536-552)
    b = GeneralLogBuilder().insert("a", vals=[], attrs={})
    b.insert("b", attrs={"k": 1})
    b.map_overwrite("b", {})  # UPDATE SET v = {} — also empties it
    st = check(spark, b, tmp_path)
    assert st["a"]["vals"] is None and st["a"]["attrs"] is None
    assert st["b"]["attrs"] is None


def test_map_after_row_delete(spark, tmp_path):
    b = GeneralLogBuilder().insert("a", attrs={"x": 1})
    b.delete_row("a")
    b.update("a", attrs={"y": 2})
    st = check(spark, b, tmp_path)
    assert st["a"]["attrs"] == {"y": 2}


# ---------------------------------------------------------------------------
# A9 — non-frozen UDT per-field LWW (replicator_consumer.rs:531-585)
# ---------------------------------------------------------------------------


def test_udt_insert(spark, tmp_path):
    b = (
        GeneralLogBuilder()
        .insert("0", meta={"int_val": 1, "bool_val": True})
        .insert("1", meta={"int_val": 2, "bool_val": False})
        .insert("3", meta={"int_val": 3, "bool_val": True})
    )
    st = check(spark, b, tmp_path)
    assert st["0"]["meta"] == {"int_val": 1, "bool_val": True}
    assert st["1"]["meta"] == {"int_val": 2, "bool_val": False}


def test_udt_update(spark, tmp_path):
    b = GeneralLogBuilder().insert("a", meta={"int_val": 1, "bool_val": True})
    b.udt_overwrite("a", int_val=3, bool_val=False)
    b.udt_overwrite("a", null=True)
    st = check(spark, b, tmp_path)
    assert st["a"]["meta"] is None  # row survives via insert marker


def test_udt_fields_update(spark, tmp_path):
    # the reference's 7-op field-level sequence (replication_tests.rs:925-958)
    b = GeneralLogBuilder().insert("a", meta={"int_val": 1, "bool_val": None})
    b.udt_set_fields("a", int_val=2)
    b.udt_set_fields("a", bool_val=True)
    b.udt_set_fields("a", int_val=5, del_fields=["bool_val"])
    b.udt_set_fields("a", bool_val=False, del_fields=["int_val"])
    b.udt_set_fields("a", int_val=5)
    b.udt_set_fields("a", del_fields=["int_val"])
    st = check(spark, b, tmp_path)
    assert st["a"]["meta"] == {"int_val": None, "bool_val": False}


def test_udt_field_update_on_absent_row(spark, tmp_path):
    # pure field update without insert: row exists via the live cell
    b = GeneralLogBuilder().udt_set_fields("a", int_val=42)
    st = check(spark, b, tmp_path)
    assert st["a"]["meta"] == {"int_val": 42, "bool_val": None}


def test_udt_row_delete_and_reinsert(spark, tmp_path):
    b = GeneralLogBuilder().insert("a", meta={"int_val": 1, "bool_val": True})
    b.delete_row("a")
    b.udt_set_fields("a", bool_val=False)
    st = check(spark, b, tmp_path)
    assert st["a"]["meta"] == {"int_val": None, "bool_val": False}


def test_udt_value_wins_over_delete_id_same_change(spark, tmp_path):
    # replicator_consumer.rs:546 runs the update with the value even when
    # the field index is also listed as deleted
    b = GeneralLogBuilder().insert("a", meta={"int_val": 1, "bool_val": True})
    b.udt_set_fields("a", int_val=7, del_fields=["int_val"])
    st = check(spark, b, tmp_path)
    assert st["a"]["meta"] == {"int_val": 7, "bool_val": True}


# ---------------------------------------------------------------------------
# Consumer-trait cross-check: the sequential per-stream ReplayConsumer
# must agree with the declarative fold on every collection mode
# ---------------------------------------------------------------------------


def test_consumer_agrees_with_fold_on_general_modes(spark, tmp_path):
    from scylla_cdc_rust_spark.operators.consumer_api import replay_consumer_fold
    from scylla_cdc_rust_spark.operators.fold import fold, present

    b = GeneralLogBuilder()
    b.insert("a", vals=[1, 2], attrs={"x": 1}, meta={"int_val": 1, "bool_val": None})
    b.list_append("a", [3])
    b.list_remove_values("a", [2])
    b.map_put("a", {"y": 2})
    b.update("a", attrs={"z": 5, "x": 9}, del_attr_keys=["x"])  # removal wins tie
    b.udt_set_fields("a", bool_val=True)
    b.udt_set_fields("a", int_val=7, del_fields=["int_val"])  # value wins tie
    b.insert("b", vals=[9])
    b.delete_row("b")
    b.insert("c", meta={"int_val": 3, "bool_val": False})
    b.udt_overwrite("c", null=True)

    df = decode(spark_df_via_parquet(spark, b.build(), tmp_path))
    schema = (
        "doc_id string, vals array<int>, attrs map<string,int>, "
        "meta struct<int_val:int,bool_val:boolean>, ttl long, last_ord long"
    )
    seq = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in replay_consumer_fold(df, GENERAL_MODES, schema).collect()
    }
    dec = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in present(fold(df, collection_modes=GENERAL_MODES), GENERAL_MODES).collect()
    }
    assert set(seq) == set(dec)
    for k in dec:
        for c in ("vals", "attrs", "meta", "ttl", "last_ord"):
            assert seq[k][c] == dec[k][c], (k, c, seq[k][c], dec[k][c])


# ---------------------------------------------------------------------------
# Randomized interleavings vs the sequential oracle
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [11, 23])
def test_general_modes_fuzz(spark, tmp_path, seed):
    import random

    rng = random.Random(seed)
    b = GeneralLogBuilder()
    docs = [f"d{i}" for i in range(25)]
    attr_keys = ["a", "b", "c", "d", "e"]
    for _ in range(600):
        doc = rng.choice(docs)
        roll = rng.random()
        if roll < 0.10:
            b.insert(
                doc,
                vals=[rng.randint(0, 9) for _ in range(rng.randint(0, 3))],
                attrs={k: rng.randint(0, 99) for k in rng.sample(attr_keys, 2)},
                meta={"int_val": rng.randint(0, 9), "bool_val": rng.random() < 0.5},
            )
        elif roll < 0.25:
            b.list_append(doc, [rng.randint(0, 9) for _ in range(rng.randint(1, 3))])
        elif roll < 0.35:
            cur = list(b.current_keys_of(doc))
            if cur:
                b.list_remove_keys(doc, rng.sample(cur, min(len(cur), rng.randint(1, 2))))
        elif roll < 0.42:
            b.list_replace(doc, [rng.randint(0, 9) for _ in range(rng.randint(0, 2))])
        elif roll < 0.55:
            b.map_put(doc, {k: rng.randint(0, 99) for k in rng.sample(attr_keys, rng.randint(1, 3))})
        elif roll < 0.63:
            b.map_remove(doc, rng.sample(attr_keys, rng.randint(1, 2)))
        elif roll < 0.68:
            b.map_overwrite(doc, {k: rng.randint(0, 99) for k in rng.sample(attr_keys, 1)} if rng.random() < 0.7 else None)
        elif roll < 0.74:
            # same-change put + remove: removal wins the tie
            k = rng.choice(attr_keys)
            b.update(doc, attrs={k: rng.randint(0, 99)}, del_attr_keys=[k])
        elif roll < 0.84:
            kw = {}
            if rng.random() < 0.6:
                kw["int_val"] = rng.randint(0, 9)
            if rng.random() < 0.5:
                kw["bool_val"] = rng.random() < 0.5
            df = [f for f in ("int_val", "bool_val") if rng.random() < 0.25]
            b.udt_set_fields(doc, del_fields=df, **kw)
        elif roll < 0.90:
            b.udt_overwrite(
                doc,
                int_val=rng.randint(0, 9) if rng.random() < 0.7 else None,
                bool_val=rng.random() < 0.5 if rng.random() < 0.7 else None,
                null=rng.random() < 0.2,
            )
        else:
            b.delete_row(doc)
    check(spark, b, tmp_path)


# ---------------------------------------------------------------------------
# Micro-batch composition: fold(ops₁∪ops₂) == apply_delta(fold(ops₁), Δ(ops₂))
# ---------------------------------------------------------------------------


def test_schema_evolution_adds_map_and_udt_columns(spark, tmp_path):
    """M6/A13: a target built before the log grew map/udt columns must
    accept a delta that carries them (the reference re-derives the
    schema from every page, stream_reader.rs:389-390)."""
    b1 = GeneralLogBuilder().insert("a", vals=[1]).insert("b", vals=[2])
    t1 = b1.build().drop_columns(
        ["attrs", "cdc$deleted_attrs", "cdc$deleted_elements_attrs",
         "meta", "cdc$deleted_meta", "cdc$deleted_elements_meta"]
    )
    df1 = decode(spark_df_via_parquet(spark, t1, tmp_path / "b1"))
    d1 = fold_delta(df1, collection_modes={"vals": "list_delta"})
    state1 = finalize(d1, collection_modes={"vals": "list_delta"}, bookkeeping=True)
    assert "attrs" not in state1.columns and "meta" not in state1.columns

    b2 = GeneralLogBuilder()
    b2._t = 100  # strictly later ords
    b2.update("a", attrs={"x": 1}, meta={"int_val": 5, "bool_val": None})
    b2.delete_row("b")
    df2 = decode(spark_df_via_parquet(spark, b2.build(), tmp_path / "b2"))
    d2 = fold_delta(df2, collection_modes=GENERAL_MODES)
    merged = apply_delta(
        state1, d2, collection_modes=GENERAL_MODES, keep_tombstones=False
    )
    got = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in present(merged, GENERAL_MODES).collect()
    }
    assert set(got) == {"a"}
    assert got["a"]["attrs"] == {"x": 1}
    assert got["a"]["meta"] == {"int_val": 5, "bool_val": None}
    assert got["a"]["vals"] == [1]  # pre-evolution column carried through


def test_compose_general_modes(spark, tmp_path):
    b = GeneralLogBuilder()
    b.insert("a", vals=[1, 2], attrs={"x": 1}, meta={"int_val": 1, "bool_val": None})
    b.list_append("a", [3])
    b.map_put("a", {"y": 2})
    b.insert("b", vals=[9], attrs={"k": 0})
    cut = len(b.rows)  # batch boundary
    b.list_remove_values("a", [2])
    b.udt_set_fields("a", bool_val=True)
    b.map_remove("a", ["x"])
    b.delete_row("b")
    b.insert("c", meta={"int_val": 5, "bool_val": False})

    import pyarrow as pa

    full = b.build()
    t1, t2 = full.slice(0, cut), full.slice(cut)

    df1 = decode(spark_df_via_parquet(spark, t1, tmp_path / "b1"))
    df2 = decode(spark_df_via_parquet(spark, t2, tmp_path / "b2"))
    d1 = fold_delta(df1, collection_modes=GENERAL_MODES)
    d2 = fold_delta(df2, collection_modes=GENERAL_MODES)
    state1 = finalize(d1, collection_modes=GENERAL_MODES, bookkeeping=True)
    merged = apply_delta(
        state1, d2, collection_modes=GENERAL_MODES, keep_tombstones=False
    )

    fulldf = decode(spark_df_via_parquet(spark, full, tmp_path / "full"))
    want = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in present(
            finalize(fold_delta(fulldf, collection_modes=GENERAL_MODES),
                     collection_modes=GENERAL_MODES),
            GENERAL_MODES,
        ).collect()
    }
    got = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in present(merged, GENERAL_MODES).collect()
    }
    assert set(got) == set(want)
    for k in want:
        for c in ("vals", "attrs", "meta", "ttl", "last_ord"):
            assert got[k][c] == want[k][c], (k, c, got[k][c], want[k][c])


def test_pipeline_replay_general_modes(spark, tmp_path):
    """The full windowed replay + COW merge table handles map/udt/keyed
    list columns end-to-end (parquet round-trip of complex types,
    watermarks, merge projections), matching the sequential oracle."""
    import os

    import pyarrow.parquet as pq

    from scylla_cdc_rust_spark.config import CDCPipelineConfig
    from scylla_cdc_rust_spark.datagen.oracle import oracle_replay
    from scylla_cdc_rust_spark.operators.merge import ParquetMergeTable
    from scylla_cdc_rust_spark.plans.pipeline import replay
    from tests.util import present_oracle

    b = GeneralLogBuilder()
    b.insert("a", vals=[1, 2], attrs={"x": 1}, meta={"int_val": 1, "bool_val": None})
    b.list_append("a", [3])
    b.map_put("a", {"y": 2})
    b.udt_set_fields("a", bool_val=True)
    b.insert("b", vals=[9])
    b.delete_row("b")
    b.insert("c", attrs={"k": 5})
    tbl = b.build()

    logdir = os.path.join(str(tmp_path), "log", "epoch=0")
    os.makedirs(logdir)
    pq.write_table(tbl.drop_columns(["epoch"]), os.path.join(logdir, "part-0.parquet"))
    cfg = CDCPipelineConfig(
        log_path=os.path.join(str(tmp_path), "log"),
        target_path=os.path.join(str(tmp_path), "t"),
        watermark_path=os.path.join(str(tmp_path), "wm"),
        window_size_ms=1 << 60,
        target_num_buckets=4,
    )
    st = replay(spark, cfg, collection_modes=GENERAL_MODES)
    assert st.n_events == tbl.num_rows

    t = ParquetMergeTable(spark, cfg.target_path, num_buckets=4)
    got = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in present(t.read_visible(), GENERAL_MODES).collect()
    }
    want = present_oracle(
        oracle_replay(tbl, collection_modes=GENERAL_MODES), GENERAL_MODES
    )
    assert set(got) == set(want)
    for k in want:
        for c in ("vals", "attrs", "meta"):
            assert got[k][c] == want[k][c], (k, c)

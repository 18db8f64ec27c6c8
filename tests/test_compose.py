"""Micro-batch composition: applying a log window-by-window via
fold_delta + apply_delta must equal the one-shot global fold (and hence
the sequential oracle).  This is the correctness core of the MERGE sink
— the analog of the reference replaying its log incrementally
(stream_reader.rs:330-345 windowed loop)."""

import numpy as np
import pyarrow as pa
import pytest

from scylla_cdc_rust_spark.datagen.gen_log import LogSpec, generate_log
from scylla_cdc_rust_spark.datagen.oracle import oracle_replay
from scylla_cdc_rust_spark.functions.decode import decode
from scylla_cdc_rust_spark.model import TIME_MS
from scylla_cdc_rust_spark.operators.fold import apply_delta, finalize, fold_delta
from tests.util import assert_state_equal, normalize_engine, spark_df_from_arrow

MODES = {"tokens": "set"}
PAYLOAD = ["tokens", "n_tok", "source"]


def windowed_apply(spark, tbl: pa.Table, n_windows: int, modes=MODES):
    """Split by time into n_windows, apply sequentially, return final rows."""
    times = tbl.column(TIME_MS).to_numpy()
    bounds = np.quantile(times, np.linspace(0, 1, n_windows + 1))
    bounds[-1] += 1
    target = None
    for i in range(n_windows):
        mask = (times >= bounds[i]) & (times < bounds[i + 1])
        idx = np.flatnonzero(mask)
        if len(idx) == 0:
            continue
        batch = spark_df_from_arrow(spark, tbl.take(pa.array(idx)))
        delta = fold_delta(decode(batch), collection_modes=modes)
        if target is None:
            target = finalize(
                delta, payload=PAYLOAD, collection_modes=modes, bookkeeping=True
            )
        else:
            target = apply_delta(
                target, delta, payload=PAYLOAD, collection_modes=modes
            )
        # materialize each step (like a real per-batch commit)
        target = target.localCheckpoint(eager=True)
    visible = target.where(~target.is_deleted).drop("__has_marker", "is_deleted")
    return visible.collect()


@pytest.mark.parametrize("n_windows", [2, 5, 13])
def test_windowed_apply_equals_oracle(spark, n_windows):
    tbl = generate_log(LogSpec(n_events=8_000, n_docs=300, seed=21, n_epochs=2))
    oracle = oracle_replay(tbl, collection_modes=MODES)
    engine = normalize_engine(windowed_apply(spark, tbl, n_windows))
    assert_state_equal(engine, oracle)


def test_windowed_apply_list_mode(spark):
    modes = {"tokens": "list"}
    tbl = generate_log(LogSpec(n_events=5_000, n_docs=200, seed=3))
    oracle = oracle_replay(tbl, collection_modes=modes)
    engine = normalize_engine(windowed_apply(spark, tbl, 7, modes=modes))
    assert_state_equal(engine, oracle)


def test_reapply_same_window_is_idempotent_under_lww(spark):
    """Replaying an already-applied window must not change state: every
    mention/tombstone ord in the replay is ≤ the target's, so cell-wise
    LWW rejects it.  (Defense-in-depth behind the watermark filter —
    exactly-once per north rule; reference dedups on (time, batch_seq),
    replication_tests.rs:93-98.)

    Note: idempotent replay of the LAST window holds under LWW because
    re-applied mentions carry identical ords and identical values.
    """
    tbl = generate_log(LogSpec(n_events=4_000, n_docs=150, seed=9))
    oracle = oracle_replay(tbl, collection_modes=MODES)

    df = spark_df_from_arrow(spark, tbl)
    delta = fold_delta(decode(df), collection_modes=MODES)
    target = finalize(
        delta, payload=PAYLOAD, collection_modes=MODES, bookkeeping=True
    ).localCheckpoint(eager=True)

    # replay the whole log again on top of the final state
    replay_delta = fold_delta(decode(df), collection_modes=MODES)
    target2 = apply_delta(target, replay_delta, payload=PAYLOAD, collection_modes=MODES)
    visible = target2.where(~target2.is_deleted).drop("__has_marker", "is_deleted")
    engine = normalize_engine(visible.collect())
    assert_state_equal(engine, oracle)


def test_windowed_apply_arrays_impl(spark):
    """Cross-batch composition with the 'arrays' set strategy."""
    import numpy as np
    import pyarrow as pa

    from scylla_cdc_rust_spark.model import TIME_MS
    from scylla_cdc_rust_spark.operators.fold import (
        apply_delta,
        finalize,
        fold_delta,
    )

    tbl = generate_log(LogSpec(n_events=6_000, n_docs=250, seed=61))
    oracle = oracle_replay(tbl, collection_modes=MODES)
    times = tbl.column(TIME_MS).to_numpy()
    bounds = np.quantile(times, np.linspace(0, 1, 6))
    bounds[-1] += 1
    target = None
    for i in range(5):
        idx = np.flatnonzero((times >= bounds[i]) & (times < bounds[i + 1]))
        if not len(idx):
            continue
        batch = spark_df_from_arrow(spark, tbl.take(pa.array(idx)))
        delta = fold_delta(decode(batch), collection_modes=MODES, set_impl="arrays")
        if target is None:
            target = finalize(
                delta, payload=PAYLOAD, collection_modes=MODES, bookkeeping=True
            )
        else:
            target = apply_delta(target, delta, payload=PAYLOAD, collection_modes=MODES)
        target = target.localCheckpoint(eager=True)
    visible = target.where(~target.is_deleted).drop("__has_marker", "is_deleted")
    assert_state_equal(normalize_engine(visible.collect()), oracle)

"""Continuous generation-sequenced driver: processes known epochs, then
picks up a generation that appears mid-run (S7 watcher analog)."""

import os
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

from scylla_cdc_rust_spark.config import CDCPipelineConfig
from scylla_cdc_rust_spark.datagen.gen_log import LogSpec, generate_log
from scylla_cdc_rust_spark.datagen.oracle import oracle_replay
from scylla_cdc_rust_spark.model import EPOCH, TIME_MS
from scylla_cdc_rust_spark.operators.merge import ParquetMergeTable
from scylla_cdc_rust_spark.plans.epochs import ContinuousDriver
from scylla_cdc_rust_spark.sources.generations import (
    Generation,
    write_generation_metadata,
)
from tests.util import assert_state_equal, normalize_engine

MODES = {"tokens": "set"}


def test_continuous_driver_picks_up_new_generation(spark, tmp_path):
    tmp = str(tmp_path)
    tbl = generate_log(LogSpec(n_events=4_000, n_docs=150, seed=37, n_epochs=2))
    epochs = tbl.column(EPOCH).to_numpy()
    times = tbl.column(TIME_MS).to_numpy()

    cfg = CDCPipelineConfig(
        log_path=os.path.join(tmp, "log"),
        target_path=os.path.join(tmp, "t"),
        watermark_path=os.path.join(tmp, "wm"),
        checkpoint_location=os.path.join(tmp, "ck"),
        window_size_ms=1 << 60,
        target_num_buckets=4,
    )
    meta = os.path.join(tmp, "meta")

    def write_epoch(ep: int):
        import numpy as np

        idx = np.flatnonzero(epochs == ep)
        idx = idx[np.argsort(times[idx], kind="stable")]
        d = os.path.join(cfg.log_path, f"{EPOCH}={ep}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            tbl.take(pa.array(idx)).drop_columns([EPOCH]),
            os.path.join(d, "part-0.parquet"),
        )
        return int(times[idx].min())

    s0 = write_epoch(0)
    gens = [Generation(0, s0)]
    write_generation_metadata(meta, gens, [])

    driver = ContinuousDriver(spark, cfg, meta, MODES)

    # generation 1 appears while the driver is processing generation 0
    def add_gen1():
        time.sleep(1.0)
        s1 = write_epoch(1)
        write_generation_metadata(meta, gens + [Generation(1, s1)], [])

    t = threading.Thread(target=add_gen1)
    t.start()
    n = driver.run(idle_timeout_s=6.0, poll_s=0.2)
    t.join()

    assert driver.generations_done == [0, 1]
    assert n == tbl.num_rows
    table = ParquetMergeTable(spark, cfg.target_path, num_buckets=4)
    assert_state_equal(
        normalize_engine(table.read_visible().collect()),
        oracle_replay(tbl, collection_modes=MODES),
    )


def test_continuous_driver_honours_load_progress(spark, tmp_path):
    """should_load_progress(false) reaches the driver: a second run
    ignores the saved progress and replays every generation from
    scratch, rather than skipping to the saved last generation."""
    from scylla_cdc_rust_spark.datagen.gen_log import write_log

    tmp = str(tmp_path)
    tbl = generate_log(LogSpec(n_events=2_000, n_docs=100, seed=41, n_epochs=2))
    cfg = CDCPipelineConfig(
        log_path=os.path.join(tmp, "log"),
        target_path=os.path.join(tmp, "t"),
        watermark_path=os.path.join(tmp, "wm"),
        checkpoint_location=os.path.join(tmp, "ck"),
        window_size_ms=1 << 60,
        target_num_buckets=4,
    )
    write_log(tbl, cfg.log_path)
    epochs = tbl.column(EPOCH).to_numpy()
    times = tbl.column(TIME_MS).to_numpy()
    meta = os.path.join(tmp, "meta")
    write_generation_metadata(
        meta, [Generation(e, int(times[epochs == e].min())) for e in (0, 1)], []
    )
    first = ContinuousDriver(spark, cfg, meta, MODES)
    assert first.run(idle_timeout_s=0.2, poll_s=0.1) == tbl.num_rows

    cfg.load_progress = False
    cfg.checkpoint_location = os.path.join(tmp, "ck2")
    again = ContinuousDriver(spark, cfg, meta, MODES)
    assert again.run(idle_timeout_s=0.2, poll_s=0.1) == tbl.num_rows
    assert again.generations_done == [0, 1]
    table = ParquetMergeTable(spark, cfg.target_path, num_buckets=4)
    assert_state_equal(
        normalize_engine(table.read_visible().collect()),
        oracle_replay(tbl, collection_modes=MODES),
    )

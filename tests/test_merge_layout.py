"""Merge-path invariants: bucket file layout, marker bookkeeping of rows
created in an empty bucket, and a no-op re-run that commits nothing."""

import glob
import os

from scylla_cdc_rust_spark.config import CDCPipelineConfig
from scylla_cdc_rust_spark.datagen.gen_log import LogSpec, generate_log, write_log
from scylla_cdc_rust_spark.datagen.oracle import oracle_replay
from scylla_cdc_rust_spark.operators.merge import ParquetMergeTable
from scylla_cdc_rust_spark.plans.pipeline import replay
from tests.scenarios import LogBuilder
from tests.util import assert_state_equal, normalize_engine

MODES = {"tokens": "set"}


def _cfg(tmp, window_ms, buckets):
    return CDCPipelineConfig(
        log_path=os.path.join(tmp, "log"),
        target_path=os.path.join(tmp, "target"),
        watermark_path=os.path.join(tmp, "wm"),
        window_size_ms=window_ms,
        target_num_buckets=buckets,
    )


def _visible(spark, cfg):
    table = ParquetMergeTable(
        spark, cfg.target_path, num_buckets=cfg.target_num_buckets
    )
    df = table.read_visible()
    return normalize_engine([] if df is None else df.collect())


def test_update_only_row_deleted_in_later_window(spark, tmp_path):
    """A row created by an UPDATE alone has no row marker: deleting its
    only live cell in a later window removes it, exactly as when both
    events fold in one window."""
    b = LogBuilder().update("n", n_tok=3)
    b._t += 9  # the delete lands 10 s after the update
    b.delete_col("n", "n_tok")
    tbl = b.build()
    assert oracle_replay(tbl, collection_modes=MODES) == {}
    for name, window_ms in (("windowed", 5_000), ("single", 1 << 40)):
        cfg = _cfg(str(tmp_path / name), window_ms, 4)
        write_log(tbl, cfg.log_path, files_per_epoch=1)
        stats = replay(spark, cfg, MODES)
        assert stats.n_events == 2
        assert _visible(spark, cfg) == {}, name


def test_rerun_of_applied_log_commits_no_version(spark, tmp_path):
    tbl = generate_log(LogSpec(n_events=3_000, n_docs=200, seed=5, n_epochs=2))
    cfg = _cfg(str(tmp_path), 1 << 60, 8)  # one window per generation
    write_log(tbl, cfg.log_path)
    replay(spark, cfg, MODES)
    table = ParquetMergeTable(spark, cfg.target_path, num_buckets=8)
    v = table.version()
    state = _visible(spark, cfg)

    stats = replay(spark, cfg, MODES)
    assert stats.n_events == 0
    assert table.version() == v
    assert_state_equal(_visible(spark, cfg), state)


def test_multi_window_replay_writes_one_file_per_bucket(spark, tmp_path):
    """The bucket write runs fewer tasks than buckets; each bucket still
    lands in exactly one task and one file."""
    tbl = generate_log(LogSpec(n_events=6_000, n_docs=400, seed=13))
    cfg = _cfg(str(tmp_path), 120_000, 32)
    write_log(tbl, cfg.log_path)
    stats = replay(spark, cfg, MODES)
    assert stats.n_batches >= 3
    table = ParquetMergeTable(spark, cfg.target_path, num_buckets=32)
    dirs = table._manifest()["buckets"].values()
    assert len(dirs) == 32
    for d in dirs:
        files = glob.glob(os.path.join(cfg.target_path, d, "*.parquet"))
        assert len(files) == 1, (d, files)
    assert_state_equal(
        _visible(spark, cfg), oracle_replay(tbl, collection_modes=MODES)
    )


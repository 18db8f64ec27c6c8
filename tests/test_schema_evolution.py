"""Schema evolution (M6, north rule): mid-log column add + int→long
widening propagated through the merge sink."""

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from scylla_cdc_rust_spark.config import CDCPipelineConfig
from scylla_cdc_rust_spark.operators.merge import ParquetMergeTable
from scylla_cdc_rust_spark.operators.schema_evolution import diff_schemas, widen_type
from scylla_cdc_rust_spark.plans.pipeline import replay
from tests.scenarios import LogBuilder

MODES = {"tokens": "set"}


def write_epoch(rows_tbl: pa.Table, log_dir: str, epoch: int):
    d = os.path.join(log_dir, f"epoch={epoch}")
    os.makedirs(d, exist_ok=True)
    pq.write_table(rows_tbl.drop_columns(["epoch"]), os.path.join(d, "part-0.parquet"))


def evolve_epoch1(tbl: pa.Table) -> pa.Table:
    """Add `lang` + its tombstone companion; widen n_tok to int64."""
    n = tbl.num_rows
    i = tbl.schema.get_field_index("n_tok")
    tbl = tbl.set_column(i, "n_tok", tbl.column("n_tok").cast(pa.int64()))
    langs = pa.array(["en" if k % 2 == 0 else "de" for k in range(n)], pa.string())
    tbl = tbl.append_column("lang", langs)
    tbl = tbl.append_column("cdc$deleted_lang", pa.array([False] * n))
    return tbl


def test_widen_type_rules():
    assert widen_type(T.IntegerType(), T.LongType()) == T.LongType()
    assert widen_type(T.LongType(), T.IntegerType()) == T.LongType()
    assert widen_type(
        T.ArrayType(T.IntegerType()), T.ArrayType(T.LongType())
    ) == T.ArrayType(T.LongType(), True)
    with pytest.raises(TypeError):
        widen_type(T.StringType(), T.LongType())


def test_diff_schemas():
    stored = T.StructType(
        [T.StructField("tokens", T.ArrayType(T.IntegerType())),
         T.StructField("n_tok", T.IntegerType())]
    )
    evolved, added, rewrite = diff_schemas(
        stored, {"n_tok": T.LongType(), "lang": T.StringType()}
    )
    assert evolved["n_tok"] == T.LongType() and "lang" in evolved
    assert added == ["lang"] and rewrite is True


def test_mid_log_add_and_widen_end_to_end(spark, tmp_path):
    tmp = str(tmp_path)
    # epoch 0: base schema
    b0 = (
        LogBuilder()
        .insert("a", [1, 2], source="web")
        .insert("b", [3], source="book")
        .insert("c", [4, 5], source="web")
        .delete_row("c")
    )
    # epoch 1: adds `lang`, widens n_tok, updates a and re-creates c
    b1 = (
        LogBuilder()
        .update("a", n_tok=5_000_000_000 % (1 << 31))  # value itself small;
        .insert("c", [9], source="wiki")
    )
    for r in b1.rows:
        r["cdc_time_ms"] += 10_000_000  # strictly after epoch 0
        r["epoch"] = 1
    t0, t1 = b0.build(), evolve_epoch1(b1.build())

    cfg = CDCPipelineConfig(
        log_path=os.path.join(tmp, "log"),
        target_path=os.path.join(tmp, "t"),
        watermark_path=os.path.join(tmp, "wm"),
        window_size_ms=1 << 60,
        target_num_buckets=4,
    )
    os.makedirs(cfg.log_path)
    write_epoch(t0, cfg.log_path, 0)
    write_epoch(t1, cfg.log_path, 1)

    replay(spark, cfg, MODES)
    table = ParquetMergeTable(spark, cfg.target_path, num_buckets=4)
    vis = {r["doc_id"]: r.asDict(recursive=True) for r in table.read_visible().collect()}

    # column add: epoch-0-only rows surface null lang; epoch-1 writes carry it
    assert vis["b"]["lang"] is None
    assert vis["c"]["lang"] == "de" or vis["c"]["lang"] == "en"
    # pass-through: 'a' kept its tokens/source from epoch 0, lang from epoch 1
    assert vis["a"]["tokens"] == [1, 2]
    assert vis["a"]["source"] == "web"
    assert vis["a"]["lang"] is not None
    # widening: n_tok is now long in the stored schema
    assert dict(table.read_visible().dtypes)["n_tok"] == "bigint"
    # delete-then-reinsert across the evolution boundary
    assert vis["c"]["tokens"] == [9]


def test_batch_missing_column_passes_target_through(spark, tmp_path):
    """Epoch 1 does NOT carry `source` — target values must survive,
    also when a later window of it only fills a bucket that was empty
    (the table schema then still covers `source`)."""
    from pyspark.sql import functions as F

    from scylla_cdc_rust_spark.operators.merge import bucket_of

    tmp = str(tmp_path)
    bk = {
        r["d"]: r["b"]
        for r in spark.createDataFrame([(d,) for d in "abcdefgh"], "d string")
        .select("d", bucket_of(F.col("d"), 4).alias("b"))
        .collect()
    }
    z = next(d for d in "bcdefgh" if bk[d] != bk["a"])
    b0 = LogBuilder().insert("a", [1], source="web")
    b1 = LogBuilder().update("a", n_tok=42)
    b1._t += 10  # next window
    b1.insert(z, [2])
    for r in b1.rows:
        r["cdc_time_ms"] += 10_000_000
        r["epoch"] = 1
    t0 = b0.build()
    t1 = b1.build()
    # drop source + its companion from epoch 1 entirely
    t1 = t1.drop_columns(["source", "cdc$deleted_source"])

    cfg = CDCPipelineConfig(
        log_path=os.path.join(tmp, "log"),
        target_path=os.path.join(tmp, "t"),
        watermark_path=os.path.join(tmp, "wm"),
        window_size_ms=5_000,
        target_num_buckets=4,
    )
    os.makedirs(cfg.log_path)
    write_epoch(t0, cfg.log_path, 0)
    write_epoch(t1, cfg.log_path, 1)
    replay(spark, cfg, MODES)
    table = ParquetMergeTable(spark, cfg.target_path, num_buckets=4)
    vis = {r["doc_id"]: r.asDict(recursive=True) for r in table.read_visible().collect()}
    assert vis["a"]["source"] == "web" and vis["a"]["n_tok"] == 42
    assert vis[z]["source"] is None and vis[z]["tokens"] == [2]


def test_reads_use_each_versions_manifest_schema(spark, tmp_path):
    """A column add: time travel before it returns the old schema; at the
    current version, buckets whose files predate it read the column as
    null."""
    docs = [f"d{i}" for i in range(12)]
    b0 = LogBuilder()
    for i, d in enumerate(docs):
        b0.insert(d, [i], source="web")
    b1 = LogBuilder().update("d0", n_tok=6)
    b1._t += 20  # a second window: the add is not a whole-table rewrite
    b1.update("d0", n_tok=7)
    for r in b1.rows:
        r["cdc_time_ms"] += 10_000_000
        r["epoch"] = 1
    t1 = b1.build()
    t1 = t1.append_column("lang", pa.array(["en", None], pa.string()))
    t1 = t1.append_column("cdc$deleted_lang", pa.array([False, False]))

    cfg = CDCPipelineConfig(
        log_path=os.path.join(str(tmp_path), "log"),
        target_path=os.path.join(str(tmp_path), "t"),
        watermark_path=os.path.join(str(tmp_path), "wm"),
        window_size_ms=5_000,
        target_num_buckets=4,
    )
    write_epoch(b0.build(), cfg.log_path, 0)
    replay(spark, cfg, MODES)
    table = ParquetMergeTable(spark, cfg.target_path, num_buckets=4)
    v_before = table.version()
    before = table.read(at_version=v_before).schema

    write_epoch(t1, cfg.log_path, 1)
    replay(spark, cfg, MODES)
    assert table.version() > v_before
    assert table.read(at_version=v_before).schema == before
    assert "lang" not in before.names

    # some buckets were not rewritten by the add and their files lack it
    m = table._manifest()
    old = [
        p for p in m["buckets"].values()
        if "lang" not in pq.read_schema(
            glob.glob(os.path.join(cfg.target_path, p, "*.parquet"))[0]
        ).names
    ]
    assert old
    vis = {r["doc_id"]: r for r in table.read_visible().collect()}
    assert set(vis) == set(docs)
    assert vis["d0"]["lang"] == "en" and vis["d0"]["n_tok"] == 7
    untouched = [
        r["doc_id"] for r in table.read(
            buckets=[int(b) for b, p in m["buckets"].items() if p in old]
        ).collect()
    ]
    assert untouched
    assert all(vis[d]["lang"] is None for d in untouched)

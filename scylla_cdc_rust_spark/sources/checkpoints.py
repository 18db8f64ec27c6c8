"""Per-stream watermark / checkpoint store with lineage counters.

Reference parity (/root/reference/scylla-cdc/src/checkpoints.rs):
- one row per stream: last fully-applied window end + generation
  (Checkpoint struct, checkpoints.rs:19-25; upsert write
  checkpoints.rs:89-96,162-173)
- a sentinel row (stream_id = 0x00) records the last generation
  (checkpoints.rs:146-148,175-187)
- resume rule: window_begin = max(lower, min over streams of saved ts)
  (stream_reader.rs:226-244), applied to ``stream_floors`` by
  ``plans.pipeline.plan_windows``; generation resume
  log_reader.rs:513-528.

Differences by design: the reference saves on a timer
(pause_between_saves, checkpoints.rs:32-60); we commit at every
micro-batch boundary — strictly stronger.  Lineage counters
(batch_id, n_applied per stream) ride along per the north rule.

The store is tiny (one row per stream), so each commit writes a fresh
snapshot version dir + atomic `_VERSION` flip — same pattern as
ParquetMergeTable.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

GENERATION_SENTINEL = bytes([0])  # checkpoints.rs:146-148

WM_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.BinaryType(), False),
        T.StructField("generation", T.LongType(), True),  # epoch number
        T.StructField("time_ms", T.LongType(), True),  # window end (exclusive)
        T.StructField("batch_id", T.LongType(), True),  # lineage
        T.StructField("n_applied", T.LongType(), True),  # lineage
    ]
)


class WatermarkStore:
    """The state is tiny (one row per stream), so it is mirrored in a
    driver-side dict (write-through) — Spark jobs are only used to
    persist snapshots and to broadcast the filter, never to re-read the
    authoritative state within a run."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        save: bool = True,
        load: bool = True,
    ):
        """``save``/``load`` mirror the reference builder's independent
        should_save_progress / should_load_progress flags
        (log_reader.rs:438-459): load=False ignores checkpoints on disk
        (fresh start), save=False keeps watermarks in memory for the
        run's own resume math but never persists them."""
        self.spark = spark
        self.path = path
        self.save_enabled = save
        self.load_enabled = load
        self._state: dict[bytes, tuple] | None = None  # sid → (gen, t, batch, n)
        os.makedirs(path, exist_ok=True)

    @classmethod
    def from_config(cls, spark: SparkSession, cfg) -> "WatermarkStore":
        """The store at ``cfg.watermark_path`` with ``cfg``'s save/load
        progress flags — the one place every apply path builds it."""
        return cls(
            spark, cfg.watermark_path,
            save=cfg.save_progress, load=cfg.load_progress,
        )

    def _load_state(self) -> dict[bytes, tuple]:
        if self._state is None:
            self._state = {}
            df = self.load() if self.load_enabled else None
            if df is not None:
                for r in df.collect():
                    self._state[bytes(r["stream_id"])] = (
                        r["generation"],
                        r["time_ms"],
                        r["batch_id"],
                        r["n_applied"],
                    )
        return self._state

    def version(self) -> int | None:
        vf = os.path.join(self.path, "_VERSION")
        if not os.path.exists(vf):
            return None
        with open(vf) as f:
            return int(f.read().strip())

    def load(self) -> DataFrame | None:
        v = self.version()
        if v is None:
            return None
        return self.spark.read.parquet(os.path.join(self.path, f"v{v}"))

    # ---------- resume math ----------

    def last_generation(self) -> int | None:
        """log_reader.rs:513-528: resume from the saved generation."""
        g = self._load_state().get(GENERATION_SENTINEL)
        return int(g[0]) if g else None

    def stream_floors(self) -> dict[bytes, int]:
        """Per-stream saved floors (window ends).  Lets a resume coalesce
        the skewed catch-up span [min floor, max floor) into one window
        instead of replaying every intermediate window against streams
        that are already ahead (whose rows filter_new drops anyway)."""
        return {
            k: int(v[1])
            for k, v in self._load_state().items()
            if k != GENERATION_SENTINEL and v[1] is not None
        }

    # ---------- exactly-once filter ----------

    def filter_new(
        self, decoded: DataFrame, min_time_ms: int | None = None
    ) -> DataFrame:
        """Drop events already covered by a stream's watermark (the
        event-level exactly-once guard; reference analog: dedup vs
        already-applied, replication_tests.rs:93-98).

        ``min_time_ms``: a lower bound the caller can prove for every
        row (a window's begin).  When it is at/above every saved stream
        floor, no row can be dropped, so the broadcast build + join are
        skipped outright — which is every forward-marching window after
        the first (the join only earns its cost on resume/catch-up
        windows that straddle per-stream floors)."""
        state = self._load_state()
        rows = [
            (k, v[1])
            for k, v in state.items()
            if k != GENERATION_SENTINEL and v[1] is not None
        ]
        if not rows:
            return decoded
        if min_time_ms is not None and min_time_ms >= max(r[1] for r in rows):
            return decoded
        from scylla_cdc_rust_spark.model import STREAM_ID, TIME_MS

        wm = self.spark.createDataFrame(
            rows, "__wm_sid binary, __wm_t long"
        )
        out = decoded.join(
            F.broadcast(wm), decoded[STREAM_ID] == wm["__wm_sid"], "left"
        )
        return out.where(
            F.col("__wm_t").isNull() | (F.col(TIME_MS) >= F.col("__wm_t"))
        ).drop("__wm_sid", "__wm_t")

    # ---------- commit ----------

    def commit(
        self,
        per_stream: list[tuple[bytes, int]] | DataFrame,
        window_end_ms: int,
        generation: int,
        batch_id: int,
    ) -> int:
        """Advance watermarks to window_end for the given streams.

        ``per_stream``: [(stream_id, n_events_applied)] for this batch
        (or a DataFrame with stream_id / n columns, collected here — it
        is ≤ #streams rows).
        """
        if isinstance(per_stream, DataFrame):
            per_stream = [(r[0], r[1]) for r in per_stream.collect()]
        prev = dict(self._load_state())
        for sid, n in per_stream:
            sid = bytes(sid)
            p = prev.get(sid)
            prev[sid] = (
                generation,
                max(window_end_ms, p[1] if p else 0),
                batch_id,
                (p[3] if p else 0) + int(n),
            )
        # generation sentinel (checkpoints.rs:175-187)
        g = prev.get(GENERATION_SENTINEL)
        prev[GENERATION_SENTINEL] = (
            generation,
            None,
            batch_id,
            (g[3] if g else 0),
        )
        if not self.save_enabled:
            # in-memory advance only (should_save_progress(false)):
            # intra-run resume math still works, nothing persisted
            self._state = prev
            return self.version() or 0
        rows = [
            (sid, int(v[0]), None if v[1] is None else int(v[1]), int(v[2]), int(v[3]))
            for sid, v in prev.items()
        ]
        new_v = (self.version() or 0) + 1
        # snapshot persisted driver-side (tiny table; no Spark job needed)
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.table(
            {
                "stream_id": pa.array([r[0] for r in rows], pa.binary()),
                "generation": pa.array([r[1] for r in rows], pa.int64()),
                "time_ms": pa.array([r[2] for r in rows], pa.int64()),
                "batch_id": pa.array([r[3] for r in rows], pa.int64()),
                "n_applied": pa.array([r[4] for r in rows], pa.int64()),
            }
        )
        from scylla_cdc_rust_spark.operators.faults import retry_with_backoff

        def _persist() -> None:
            vdir = os.path.join(self.path, f"v{new_v}")
            os.makedirs(vdir, exist_ok=True)
            pq.write_table(tbl, os.path.join(vdir, "part-0000.parquet"))
            fd, tmp = tempfile.mkstemp(dir=self.path, prefix="_VERSION.")
            with os.fdopen(fd, "w") as f:
                f.write(str(new_v))
            os.replace(tmp, os.path.join(self.path, "_VERSION"))

        # transient store IO retries, fatal propagates (R1/R2); idempotent
        retry_with_backoff(_persist)
        self._state = prev
        self._prune_snapshots(new_v)
        return new_v

    #: trailing snapshot versions kept on disk — resume only ever reads
    #: the _VERSION-pointed snapshot, so older dirs are pure history;
    #: without pruning a 10^10-event replay (one commit per window)
    #: accumulates unbounded metadata dirs
    keep_versions: int = 3

    def _prune_snapshots(self, current: int) -> None:
        cutoff = current - max(1, self.keep_versions)
        try:
            names = os.listdir(self.path)
        except OSError:
            return
        for name in names:
            if not (name.startswith("v") and name[1:].isdigit()):
                continue
            if int(name[1:]) <= cutoff:
                import shutil

                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)

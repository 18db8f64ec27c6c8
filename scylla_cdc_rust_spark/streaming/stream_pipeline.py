"""Structured Streaming micro-batch pipeline over the change log.

Maps the reference's continuous reader onto Spark Structured Streaming:

- the parquet file source (``readStream`` + ``maxFilesPerTrigger``)
  plays the role of the generation poller discovering new log segments
  (fetch_generations_continuously, stream_generations.rs:67-110);
- each ``foreachBatch`` callback advances a driver-side *frontier* =
  max event time seen so far, then applies every complete half-open
  window [floor, frontier − safety_interval) — the exact windowing +
  safety-interval semantics of StreamReader::fetch_cdc
  (stream_reader.rs:256-345: ``window_end = min(begin + window,
  now − safety)``); late files within the safety interval are absorbed,
  same contract as the reference's clock-drift guard;
- windows read from the log with predicate pushdown rather than
  buffering batch rows — the streaming source is pure discovery, so
  nothing is double-written;
- each window commits: decode → watermark filter → fold_delta →
  bucket-pruned MERGE → watermark write (C1 is per-commit, strictly
  stronger than the reference's timer-based saver, checkpoints.rs:32-60);
- Spark's ``checkpointLocation`` makes file discovery resumable; the
  engine's own watermark table makes the *apply* resumable even if the
  streaming checkpoint is lost (C4 resume math + idempotent merge).

``Trigger.AvailableNow`` gives the bounded-replay mode used by tests
(the reference's stop_at, log_reader.rs:60-69).
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from scylla_cdc_rust_spark.config import CDCPipelineConfig
from scylla_cdc_rust_spark.model import STREAM_ID, TIME_MS
from scylla_cdc_rust_spark.operators.merge import ParquetMergeTable
from scylla_cdc_rust_spark.plans.pipeline import (
    LogGeneration,
    generation_rows,
    log_generations,
    plan_windows,
    run_windows,
)
from scylla_cdc_rust_spark.sources.checkpoints import WatermarkStore


class StreamingReplay:
    def __init__(
        self,
        spark: SparkSession,
        cfg: CDCPipelineConfig,
        collection_modes: dict[str, str] | None = None,
        key: str = "doc_id",
        generation: int = 0,
    ):
        from scylla_cdc_rust_spark.plans.pipeline import (
            _require_no_pending_repair,
        )

        _require_no_pending_repair(cfg)
        self.spark = spark
        self.cfg = cfg
        self.modes = collection_modes or dict(cfg.collection_modes)
        self.key = key
        self.generation = generation
        self.table = ParquetMergeTable(
            spark, cfg.target_path, num_buckets=cfg.target_num_buckets, key=key
        )
        self.wm = WatermarkStore.from_config(spark, cfg)
        self.frontier_ms: int | None = None  # max event time seen
        self.floor_ms: int | None = None  # next window begin
        #: per-stream floors saved before this run, for the window
        #: planner and the absorb count (this run's commits move only
        #: the live floors).  Loading them is a small Spark job, paid
        #: here so the first resume batch already counts absorbed rows
        self.floors0 = self.wm.stream_floors()
        #: checkpoint-derived lower bound (None when starting fresh)
        self.resume_floor_ms = min(self.floors0.values(), default=None)
        #: highest window end actually APPLIED in this run — the only
        #: boundary whose violation is a genuine contract break
        self.applied_end_ms: int | None = None
        #: end of the skewed-resume catch-up span (the max saved floor):
        #: the planner coalesces [resume_floor_ms, catchup_end_ms) into
        #: one window
        self.catchup_end_ms: int | None = max(self.floors0.values(), default=None)
        self._impl: str | None = None  # resolved set_impl ('auto' → concrete)
        self.batch_id = 0
        self.n_applied = 0
        #: case-(3) visibility counters (ADVICE r5): events absorbed as
        #: presumed-already-applied because they sat below their own
        #: stream's saved floor on a resume, and the smallest such time —
        #: the candidate repair_span lower bound if the operator decides
        #: the producer violated the safety contract
        self.n_absorbed_below_floor = 0
        self.min_absorbed_ms: int | None = None

    # ---------- window application ----------

    def _apply_upto(self, safe_end_ms: int) -> None:
        """Apply all complete windows in [floor, safe_end)."""
        if self.floor_ms is None:
            return
        cfg = self.cfg
        windows = plan_windows(
            self.floor_ms, safe_end_ms, self.floors0.values(),
            cfg.window_size_ms, cfg.start_timestamp_ms, cfg.end_timestamp_ms,
            tailing=True,
        )
        if not windows:
            return
        # re-read every call: a frame kept across micro-batches would
        # not see log files that arrived since
        log = generation_rows(self.spark.read.parquet(cfg.log_path), self.generation)
        if self._impl is None:  # resolve 'auto' once per run
            from scylla_cdc_rust_spark.operators.fold import resolve_set_impl

            self._impl = resolve_set_impl(log, self.modes, self.key, cfg.set_impl)
        n, self.batch_id = run_windows(
            log, windows, self.table, self.wm, generation=self.generation,
            batch_id=self.batch_id, vacuum_every=cfg.vacuum_every_batches,
            collection_modes=self.modes, key=self.key, set_impl=self._impl,
        )
        self.n_applied += n
        self.floor_ms = self.applied_end_ms = windows[-1][1]

    def _on_batch(self, batch_df, _sid: int) -> None:
        # only this generation's rows at or after start_timestamp: the
        # rest never moves the frontier, the floor or the guards
        batch_df = generation_rows(batch_df, self.generation)
        if self.cfg.start_timestamp_ms:
            batch_df = batch_df.where(
                F.col(TIME_MS) >= self.cfg.start_timestamp_ms
            )
        aggs = [F.max(TIME_MS).alias("mx"), F.min(TIME_MS).alias("mn")]
        src = batch_df
        track_late = self.applied_end_ms is not None
        # case (3) visibility (ADVICE r5): rows below their own stream's
        # saved floor are absorbed as presumed-already-applied — correct
        # for redelivery, silent data loss for a producer that violated
        # the safety contract across run boundaries.  The two are
        # indistinguishable here without consulting the target, so the
        # absorbed rows are COUNTED (and the span surfaced) instead of
        # guessed at: the operator can decide whether to run
        # plans.pipeline.repair_span over [min_absorbed_ms,
        # resume_floor_ms).  Only resume runs pay the extra column.
        track_absorb = self.resume_floor_ms is not None
        if track_late or track_absorb:
            # genuinely-late rows: below a window end APPLIED THIS RUN
            # but not below THEIR OWN STREAM's saved floor (those are
            # presumed already applied — filter_new would drop them; see
            # case (3) below).  Counted per batch rather than inferred
            # from the batch min, so one old redelivered row cannot
            # shield late rows from detection.  The floor is per stream,
            # not the single min over streams: after a lost checkpoint
            # with skewed streams, a rediscovered segment legitimately
            # redelivers an advanced stream's rows that sit above the
            # MIN floor but below that stream's own floor — flagging
            # those was a spurious hard failure on a valid resume
            # (ADVICE r5; observed as a flaky late-guard trip in the
            # continuous-tailing test's drain run).
            lo_bound = self.resume_floor_ms
            if lo_bound is None:
                lo_bound = -(1 << 62)
            own_floor = saved_floor = F.lit(lo_bound)
            floors = self.wm.stream_floors()
            # narrow frames without the stream column (diagnostic use)
            # keep the coarser single-bound check
            if floors and STREAM_ID in batch_df.columns:
                fdf = self.spark.createDataFrame(
                    [
                        (sid, int(t), self.floors0.get(sid))
                        for sid, t in floors.items()
                    ],
                    "__sid binary, __floor long, __floor0 long",
                )
                src = batch_df.join(
                    F.broadcast(fdf),
                    batch_df[STREAM_ID] == fdf["__sid"],
                    "left",
                )
                # a stream with no saved floor was never applied: its
                # rows below the applied end are genuinely late (bounded
                # below by the global resume floor, as before)
                own_floor = F.coalesce(F.col("__floor"), F.lit(lo_bound))
                saved_floor = F.coalesce(F.col("__floor0"), F.lit(lo_bound))
            if track_late:
                aggs.append(
                    F.sum(
                        F.when(
                            (F.col(TIME_MS) < F.lit(self.applied_end_ms))
                            & (F.col(TIME_MS) >= own_floor),
                            1,
                        ).otherwise(0)
                    ).alias("n_late")
                )
            if track_absorb:
                # rows presumed applied BEFORE this run: below their own
                # stream's floor saved then (filter_new drops them) or
                # below the resume floor (windows never rescan there).
                # Not the live floors: rows this run applied itself and
                # a later-discovered file redelivers are not absorbed
                below = F.col(TIME_MS) < saved_floor
                aggs.append(
                    F.sum(F.when(below, 1).otherwise(0)).alias("n_absorbed")
                )
                aggs.append(
                    F.min(F.when(below, F.col(TIME_MS))).alias("mn_absorbed")
                )
        r = src.agg(*aggs).collect()[0]
        if track_absorb and (r["n_absorbed"] or 0) > 0:
            self.n_absorbed_below_floor += int(r["n_absorbed"])
            mn_abs = int(r["mn_absorbed"])
            if self.min_absorbed_ms is None or mn_abs < self.min_absorbed_ms:
                self.min_absorbed_ms = mn_abs
            import logging

            logging.getLogger(__name__).warning(
                "streaming replay absorbed %d event(s) below the saved "
                "per-stream floors (min time %d, resume floor %d) as "
                "presumed already applied; if the producer violated the "
                "safety contract instead of redelivering, run "
                "plans.pipeline.repair_span over the suspect span",
                int(r["n_absorbed"]), mn_abs, self.resume_floor_ms,
            )
        if r["mx"] is None:
            return
        if self.frontier_ms is None or r["mx"] > self.frontier_ms:
            self.frontier_ms = int(r["mx"])
        if self.floor_ms is None:
            # resume: the saved per-stream minimum — C4
            # (stream_reader.rs:226-244; the planner raises it to the
            # user's start).  The batch's min is only the floor when no
            # checkpoint exists; otherwise the saved watermark wins —
            # unapplied rows may sit below this batch.
            self.floor_ms = self.resume_floor_ms
            if self.floor_ms is None:
                self.floor_ms = int(r["mn"])
        else:
            if self.applied_end_ms is not None and (r["n_late"] or 0) > 0:
                # (1) rows below a window end APPLIED IN THIS RUN (and
                # not below the checkpoint floor): the fold committed
                # without them — the contract violation the reference's
                # clock-drift guard protects against
                # (stream_reader.rs:256-345); fail loudly
                raise RuntimeError(
                    f"{r['n_late']} late event(s) below applied window "
                    f"end {self.applied_end_ms}; increase "
                    "safety_interval_ms or repair via plans.pipeline."
                    "repair_span over the late interval"
                )
            if r["mn"] < self.floor_ms:
                if self.applied_end_ms is None and self.resume_floor_ms is None:
                    # (2) micro-batch DISCOVERY order is not time order
                    # and nothing has been applied yet — lower the
                    # provisional floor (it was only the first batch's
                    # min)
                    self.floor_ms = int(r["mn"])
                # (3) else: rows below the checkpoint floor — presumed
                # already applied (a rediscovered segment after a lost
                # streaming checkpoint); windows never rescan below the
                # resume floor, the same assumption the reference makes
                # when resuming from its saved progress row.  A producer
                # that violates the safety contract below the SAVED
                # watermark is indistinguishable from redelivery without
                # consulting the target table — the repair path for that
                # is plans.pipeline.repair_span over the suspect span
                # (the idempotent merge makes it safe to over-apply).
        self._apply_upto(self.frontier_ms - self.cfg.safety_interval_ms)

    # ---------- runs ----------

    def _start(self, **trigger):
        """The log dir as a file source, one ``_on_batch`` per trigger."""
        schema = self.spark.read.parquet(self.cfg.log_path).schema
        return (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", self.cfg.max_files_per_trigger)
            .parquet(self.cfg.log_path)
            .writeStream.foreachBatch(self._on_batch)
            .option("checkpointLocation", self.cfg.checkpoint_location)
            .trigger(**trigger)
            .start()
        )

    def run_continuous(self, poll_interval_s: float | None = None):
        """Unbounded tailing mode — the reference's primary loop
        (CDCLogReader polling every sleep_interval for new windows,
        log_reader.rs:116-236; default interval log_reader.rs:40-44).
        New log files are discovered each trigger; complete windows
        behind the safety interval are applied as they close.  Returns
        the StreamingQuery — call ``.stop()`` (graceful stop, R4) or
        rely on ``cfg.end_timestamp_ms`` (stop_at) which freezes applies
        past the bound while the query keeps polling."""
        if poll_interval_s is None:
            # builder's sleep_interval (log_reader.rs:40-44 default)
            poll_interval_s = self.cfg.sleep_interval_ms / 1000.0
        return self._start(processingTime=f"{poll_interval_s} seconds")

    def run_available_now(self, drain: bool = True) -> int:
        """Bounded replay of everything currently in the log dir."""
        self._start(availableNow=True).awaitTermination()
        if drain and self.frontier_ms is not None:
            # end of bounded run: no more data can arrive — flush the
            # safety tail (stop_at semantics, stream_reader.rs:336-340)
            self._apply_upto(self.frontier_ms + 1)
        return self.n_applied


def stream_generation(
    spark: SparkSession,
    cfg: CDCPipelineConfig,
    gen: LogGeneration,
    collection_modes: dict[str, str] | None = None,
    key: str = "doc_id",
) -> int:
    """One generation as a bounded streaming run, drained to its end:
    the barrier — it is fully applied before the next opens
    (log_reader.rs:171-188).  The source and the frontier read the
    generation's own partition dir (or the flat log cut to its epoch);
    each generation keeps its own streaming checkpoint."""
    ecfg = dataclasses.replace(
        cfg,
        log_path=gen.path,
        checkpoint_location=f"{cfg.checkpoint_location}/epoch={gen.epoch}",
    )
    sr = StreamingReplay(
        spark, ecfg, collection_modes=collection_modes, key=key,
        generation=gen.epoch,
    )
    return sr.run_available_now(drain=True)


def run_streaming_epochs(
    spark: SparkSession,
    cfg: CDCPipelineConfig,
    collection_modes: dict[str, str] | None = None,
    key: str = "doc_id",
) -> int:
    """Generation barrier over streaming runs: one bounded streaming
    replay per epoch, strictly sequential (O3, log_reader.rs:171-236)."""
    wm = WatermarkStore.from_config(spark, cfg)
    return sum(
        stream_generation(spark, cfg, gen, collection_modes, key)
        for gen in log_generations(spark, cfg, wm)
    )

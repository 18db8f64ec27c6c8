"""Batch replay pipeline: epoch-sequenced, windowed, exactly-once.

The driver-side control flow mirrors the reference's
CDCReaderWorker::run (/root/reference/scylla-cdc/src/log_reader.rs:116-236):

- generations (epochs) are processed strictly sequentially — epoch k is
  fully applied before k+1 opens (the generation barrier,
  log_reader.rs:171-188) — here a plain Python loop over sorted epochs;
- within an epoch, the log is consumed in half-open time windows
  [begin, begin+window) (StreamReader::fetch_cdc windowed loop,
  stream_reader.rs:330-345), each window = one decode → watermark-filter
  → fold_delta → MERGE → watermark-commit cycle;
- resume: generation from the sentinel checkpoint (log_reader.rs:513-528),
  window begin = max(lower, saved watermark) (stream_reader.rs:226-244);
  re-read of a partially-applied window is safe because the merge is
  idempotent (LWW staleness gate) and the watermark filter drops
  already-applied events.

Everything inside a window is one declarative Spark plan — scan with
predicate pushdown on (epoch, cdc_time_ms), fold aggregations, bucket-
pruned merge join.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scylla_cdc_rust_spark.config import CDCPipelineConfig
from scylla_cdc_rust_spark.functions.decode import decode
from scylla_cdc_rust_spark.model import EPOCH, STREAM_ID, TIME_MS, CDCSchema
from scylla_cdc_rust_spark.operators.fold import fold_delta
from scylla_cdc_rust_spark.operators.merge import ParquetMergeTable
from scylla_cdc_rust_spark.sources.checkpoints import WatermarkStore


@dataclass
class ReplayStats:
    n_events: int = 0
    n_batches: int = 0
    epochs: list[int] = field(default_factory=list)
    seconds: float = 0.0
    merge_stats: list[dict] = field(default_factory=list)

    @property
    def events_per_sec(self) -> float:
        return self.n_events / self.seconds if self.seconds else 0.0


def apply_window(
    batch: DataFrame,
    table: ParquetMergeTable,
    wm: WatermarkStore | None,
    *,
    window_end_ms: int,
    window_begin_ms: int | None = None,
    generation: int,
    batch_id: int,
    collection_modes: dict[str, str],
    key: str = "doc_id",
    count_events: bool = True,
    bulk: bool = False,
    set_impl: str = "auto",
) -> int:
    """One micro-batch cycle: decode → filter → fold → merge → checkpoint.

    Spark-job budget per window (guide §2.4 — remove passes outright):
    exactly TWO actions.  Job 1 yields BOTH the per-stream lineage
    counts and the delta's affected-bucket set (`collect_set` of the
    merge bucket — bounded at ``table.num_buckets`` values per group,
    map-side combinable); job 2 is the COW merge write.  The former
    shape paid three actions — a bucket-pruning scan (which bore the
    whole decode+filter materialization), the merge, and a separate
    per-stream count — ~1.5 s of duplicated fixed cost per window at
    bench sf1.0.

    When the watermark filter is provably a no-op (``window_begin_ms``
    at/above every stream floor — every forward window after the first;
    ``filter_new`` returns its input unchanged), the stats job reads
    only (stream, key) COLUMN-PRUNED from the batch — decode adds
    columns, never drops rows, so the counts and bucket set are
    identical — and the fold runs fused into the merge write with no
    persist at all: nothing is materialized twice.  Only catch-up /
    resume windows that straddle per-stream floors pay the
    decode+filter cache."""
    from scylla_cdc_rust_spark.operators.merge import bucket_of

    decoded = decode(batch)
    filtered = decoded
    if wm is not None:
        # window_begin_ms lets the store prove the filter is a no-op
        # (every forward window after the first) and skip its join
        filtered = wm.filter_new(decoded, min_time_ms=window_begin_ms)
    needs_stats = wm is not None or count_events
    filter_active = filtered is not decoded
    # an active filter may drop every row (a re-run over applied
    # windows): take the stats-first path, whose bucket set is then
    # empty and skips the merge, instead of rewriting every bucket
    bulk = bulk and not filter_active
    cache = needs_stats and filter_active
    if cache:
        # the filtered window feeds two actions (stats + merge): cache
        # it so the decode+filter run once, not twice (spills to disk
        # if the window outgrows memory)
        filtered = filtered.persist()
    try:
        schema = CDCSchema.from_df_schema(filtered.schema)
        payload = [c for c in schema.payload if c != key]
        delta = fold_delta(
            filtered, key=key, collection_modes=collection_modes, schema=schema,
            set_impl=set_impl,
        )
        n = 0
        affected: list[int] | None = None
        per_stream: list[tuple[bytes, int]] = []
        stats_fut = None
        pool = None
        try:
            if needs_stats:
                stats_src = filtered if filter_active else batch.select(STREAM_ID, key)
                aggs = [F.count(F.lit(1)).alias("n")]
                if not bulk:
                    aggs.append(
                        F.collect_set(
                            bucket_of(F.col(key), table.num_buckets)
                        ).alias("bks")
                    )
                agg_df = stats_src.groupBy(STREAM_ID).agg(*aggs)
                if bulk:
                    # bulk merge needs no stats output (assume_all_buckets):
                    # run the count job CONCURRENTLY with the merge write so
                    # the window pays max(stats, merge), not the sum (guide
                    # §2.6 — overlap independent jobs).  Non-bulk windows
                    # cannot overlap: the merge's bucket pruning consumes
                    # the same aggregate's collect_set.
                    from concurrent.futures import ThreadPoolExecutor

                    pool = ThreadPoolExecutor(max_workers=1)
                    stats_fut = pool.submit(agg_df.collect)
                else:
                    rows = agg_df.collect()
                    n = sum(int(r["n"]) for r in rows)
                    per_stream = [(bytes(r[STREAM_ID]), int(r["n"])) for r in rows]
                    affected = sorted({int(b) for r in rows for b in r["bks"]})
            table.merge(
                delta,
                payload=payload,
                collection_modes=collection_modes,
                keys_hint=None if needs_stats else filtered.select(key),
                assume_all_buckets=bulk,
                affected_buckets=affected,
            )
            if stats_fut is not None:
                # a stats failure after the merge committed leaves the
                # watermark un-advanced — the same crash point as dying
                # between merge and commit, which the idempotent re-apply
                # already covers (fault-injection suite)
                rows = stats_fut.result()
                n = sum(int(r["n"]) for r in rows)
                per_stream = [(bytes(r[STREAM_ID]), int(r["n"])) for r in rows]
            if wm is not None:
                wm.commit(
                    per_stream,
                    window_end_ms=window_end_ms,
                    generation=generation,
                    batch_id=batch_id,
                )
            return n
        finally:
            if pool is not None:
                pool.shutdown(wait=True)
    finally:
        if cache:
            filtered.unpersist()


def replay(
    spark: SparkSession,
    cfg: CDCPipelineConfig,
    collection_modes: dict[str, str] | None = None,
    key: str = "doc_id",
    track_watermarks: bool = True,
) -> ReplayStats:
    """Replay the whole change log at cfg.log_path into the target table."""
    _require_no_pending_repair(cfg)
    collection_modes = collection_modes or dict(cfg.collection_modes)
    t0 = time.time()
    table = ParquetMergeTable(
        spark, cfg.target_path, num_buckets=cfg.target_num_buckets, key=key
    )
    wm = (
        WatermarkStore(
            spark, cfg.watermark_path,
            save=cfg.save_progress, load=cfg.load_progress,
        )
        if cfg.watermark_path
        and track_watermarks
        and (cfg.save_progress or cfg.load_progress)
        else None
    )

    # generation discovery: epochs present in the log (partition listing —
    # the analog of scanning cdc_generation_timestamps, stream_generations.rs:136-144)
    from scylla_cdc_rust_spark.sources.log_source import epochs_present, time_bounds

    epoch_dirs = epochs_present(cfg.log_path)
    if epoch_dirs is not None:
        epochs, has_epoch, scoped = epoch_dirs, True, True
    else:
        log = spark.read.parquet(cfg.log_path)
        has_epoch = EPOCH in log.columns
        scoped = False
        epochs = (
            sorted(r[0] for r in log.select(EPOCH).distinct().collect())
            if has_epoch
            else [0]
        )

    # resume (C4): skip fully-applied generations
    start_gen = wm.last_generation() if wm else None
    stats = ReplayStats()
    batch_id = 0
    for ep in epochs:  # generation barrier: strictly sequential (O3)
        if start_gen is not None and ep < start_gen:
            continue
        if scoped:
            # per-generation scoped read: each epoch may carry an evolved
            # schema (column adds / widenings) — M6
            edf = spark.read.parquet(f"{cfg.log_path}/{EPOCH}={ep}")
        else:
            edf = log.where(F.col(EPOCH) == ep) if has_epoch else log
        # window bounds from parquet footer stats (driver-side metadata
        # read); Spark aggregate only as fallback
        bounds = time_bounds(cfg.log_path, ep if has_epoch else None)
        if bounds is None:
            lo_hi = edf.agg(
                F.min(TIME_MS).alias("lo"), F.max(TIME_MS).alias("hi")
            ).collect()[0]
            if lo_hi["lo"] is None:
                continue
            bounds = (int(lo_hi["lo"]), int(lo_hi["hi"]))
        lo = wm.resume_begin_ms(bounds[0]) if wm else bounds[0]
        hi = bounds[1] + 1
        if cfg.end_timestamp_ms is not None:
            hi = min(hi, cfg.end_timestamp_ms)  # stop_at (log_reader.rs:60-69)
        # skewed-resume catch-up: coalesce [min floor, max floor) into one
        # window — filter_new drops advanced streams' rows per their own
        # floors, so only lagging tails are folded and the per-window
        # fixed cost is paid once (see streaming/stream_pipeline.py)
        catchup_hi = None
        if wm:
            floors = wm.stream_floors()
            if floors and max(floors.values()) > lo:
                catchup_hi = min(max(floors.values()), hi)
        # resolve 'auto' set strategy once per epoch, not per window
        from scylla_cdc_rust_spark.operators.fold import resolve_set_impl

        impl = resolve_set_impl(edf, collection_modes, key, cfg.set_impl)
        w = cfg.window_size_ms
        begin = lo
        while begin < hi:
            if catchup_hi is not None and begin < catchup_hi:
                end = catchup_hi
            else:
                end = min(begin + w, hi)
            batch = edf.where((F.col(TIME_MS) >= begin) & (F.col(TIME_MS) < end))
            n = apply_window(
                batch,
                table,
                wm,
                window_end_ms=end,
                window_begin_ms=begin,
                generation=ep,
                batch_id=batch_id,
                collection_modes=collection_modes,
                key=key,
                # a single window spanning the whole epoch touches ~every
                # bucket: skip the pruning scan (bulk-load mode)
                bulk=(begin == lo and end == hi),
                set_impl=impl,
            )
            stats.n_events += n
            stats.n_batches += 1
            batch_id += 1
            begin = end
            if cfg.vacuum_every_batches and batch_id % cfg.vacuum_every_batches == 0:
                table.vacuum()  # drop superseded bucket dirs (no rewrite)
        stats.epochs.append(ep)
    stats.seconds = time.time() - t0
    return stats


def repair_span(
    spark: SparkSession,
    cfg: CDCPipelineConfig,
    begin_ms: int,
    end_ms: int,
    collection_modes: dict[str, str] | None = None,
    key: str = "doc_id",
) -> int:
    """Repair for log rows in [begin_ms, end_ms) that surfaced BELOW the
    applied floor / saved watermark (the streaming late-data guard's
    documented remedy, streaming/stream_pipeline.py case (1)/(3)).

    Correctness model — why this is a per-key RE-FOLD, not a merge of
    the slice: the target materializes only the FOLDED state (no
    per-cell ords survive a merge), so LWW-merging a mid-history slice
    is unsound in general — a key whose newest write of some cell sits
    inside the late span while its row-level ``last_ord`` is already
    beyond it would be dropped wholesale by the staleness gate, and a
    late set-element add below an element's later removal could not be
    adjudicated without the discarded element ord.  Instead the repair:

    1. collects the affected keys from the late span (the merge table
       is keyed by the partition key, so pk-prefix deletes are covered
       at this granularity by construction);
    2. physically RESETS those keys' target rows
       (``ParquetMergeTable.delete_keys``, bucket-pruned COW rewrite —
       erasing ``last_ord`` bookkeeping so nothing is "stale");
    3. re-folds their COMPLETE history from the log — clamped to
       ``cfg.end_timestamp_ms`` like every other apply path (stop_at
       must not resurrect post-stop history) — through the same
       epoch-sequential apply path as ``replay``: final state per key
       is the fold of ALL its events, the fold≡replay equivalence the
       test suite pins.

    Cost is bounded by the affected keys' history plus one scan per
    generation, never the table size.  Watermarks are neither advanced
    nor regressed (the re-folded events' windows were already
    committed).  Idempotent: repeating the repair re-derives the same
    per-key state.

    Crash safety: the reset and the per-generation re-folds are
    separate commits, so a crash mid-repair leaves the affected keys
    missing or partially folded.  A ``_REPAIR_INPROGRESS`` journal in
    the target dir brackets the operation: ``replay`` and the streaming
    pipeline refuse to start while it exists (``pending_repair``), and
    the recovery is simply re-running ``repair_span`` with the recorded
    span — the reset+refold is idempotent.  Readers needing a
    consistent pre-repair view can time-travel to the version before
    the reset (every commit keeps its manifest until vacuum).

    Reference analog: the replication tests re-running overlapping
    windows through the same consumer and asserting convergence
    (replication_tests.rs:166-208).

    Returns the number of events re-folded (the affected keys' complete
    histories; 0 when the span holds no events).
    """
    import json
    import os

    if cfg.end_timestamp_ms is not None:
        end_ms = min(end_ms, cfg.end_timestamp_ms)
    # a crashed repair's journal may only be cleared by re-running the
    # RECORDED span (or a superset): repairing a disjoint/narrower span
    # would overwrite the journal and, on completion, remove it while
    # the earlier span's keys are still deleted or partially folded —
    # silent data loss defeating the crash-safety bracket (ADVICE r5)
    prev = pending_repair(cfg)
    if prev is not None and not (
        begin_ms <= prev["begin_ms"] and end_ms >= prev["end_ms"]
    ):
        hint = (
            f" (with collection_modes={prev['collection_modes']})"
            if prev.get("collection_modes") is not None
            else ""
        )
        raise RuntimeError(
            "a crashed repair_span left the target inconsistent for span "
            f"[{prev['begin_ms']}, {prev['end_ms']}); this call covers only "
            f"[{begin_ms}, {end_ms}) — re-run with the recorded span (or a "
            f"superset){hint} so its reset keys are re-folded.  Note that "
            "cfg.end_timestamp_ms clamps the span BEFORE this check: if it "
            "was lowered since the crash, restore it (or pass a wider end) "
            "so the clamped span still covers the recorded one"
        )
    if end_ms <= begin_ms:
        _refuse_empty_recovery(prev, begin_ms, end_ms)
        return 0
    collection_modes = collection_modes or dict(cfg.collection_modes)
    table = ParquetMergeTable(
        spark, cfg.target_path, num_buckets=cfg.target_num_buckets, key=key
    )
    from scylla_cdc_rust_spark.operators.fold import resolve_set_impl
    from scylla_cdc_rust_spark.sources.log_source import (
        epochs_present,
        time_bounds,
    )

    epoch_dirs = epochs_present(cfg.log_path)
    if epoch_dirs is not None:
        # per-generation scoped reads: epochs may carry evolved schemas
        frames = [
            (ep, True, spark.read.parquet(f"{cfg.log_path}/{EPOCH}={ep}"))
            for ep in epoch_dirs
        ]
    else:
        log0 = spark.read.parquet(cfg.log_path)
        if EPOCH in log0.columns:
            eps = sorted(
                r[0] for r in log0.select(EPOCH).distinct().collect()
            )
            frames = [
                (ep, False, log0.where(F.col(EPOCH) == ep)) for ep in eps
            ]
        else:
            frames = [(0, False, log0)]

    # affected keys: only generations whose footer time bounds intersect
    # the span are scanned for the key set (one whole-log bounds read
    # when the log is not epoch-partitioned — per-epoch pruning needs
    # the directory layout)
    flat_bounds = time_bounds(cfg.log_path, None) if epoch_dirs is None else None
    span_parts = []
    for ep, scoped, edf in frames:
        b = time_bounds(cfg.log_path, ep) if scoped else flat_bounds
        if b is not None and (b[1] < begin_ms or b[0] >= end_ms):
            continue
        span_parts.append(
            edf.where(
                (F.col(TIME_MS) >= begin_ms) & (F.col(TIME_MS) < end_ms)
            ).select(key)
        )
    if not span_parts:
        _refuse_empty_recovery(prev, begin_ms, end_ms)
        return 0
    span_keys = span_parts[0]
    for part in span_parts[1:]:
        span_keys = span_keys.unionByName(part)
    span_keys = span_keys.distinct().persist()
    journal = os.path.join(cfg.target_path, REPAIR_JOURNAL)
    try:
        if span_keys.isEmpty():
            _refuse_empty_recovery(prev, begin_ms, end_ms)
            return 0
        with open(journal, "w") as f:
            json.dump(
                {
                    "begin_ms": begin_ms,
                    "end_ms": end_ms,
                    "started_at_ms": int(time.time() * 1000),
                    # recorded so a recovery re-run can reproduce the
                    # exact fold semantics of the crashed attempt
                    "collection_modes": collection_modes,
                },
                f,
            )
        table.delete_keys(span_keys)
        total = 0
        for ep, _scoped, edf in frames:  # generation barrier, as in replay
            hist = edf.join(span_keys, key, "left_semi")
            if cfg.end_timestamp_ms is not None:
                hist = hist.where(F.col(TIME_MS) < cfg.end_timestamp_ms)
            if hist.isEmpty():  # generations without affected-key events
                continue
            impl = resolve_set_impl(hist, collection_modes, key, cfg.set_impl)
            total += apply_window(
                hist,
                table,
                None,  # no watermark commit: floors must not move
                window_end_ms=end_ms,
                generation=ep,
                batch_id=-1,
                collection_modes=collection_modes,
                key=key,
                set_impl=impl,
            )
        os.remove(journal)  # repair complete
        return total
    finally:
        span_keys.unpersist()


#: journal file bracketing a reset+refold repair; its presence means the
#: target may be missing (or partially hold) the affected keys
REPAIR_JOURNAL = "_REPAIR_INPROGRESS"


def _refuse_empty_recovery(
    prev: dict | None, begin_ms: int, end_ms: int
) -> None:
    """A recovery re-run (a journal exists) that finds NO span events
    cannot verify the crashed repair's reset keys were re-folded, so a
    silent ``return 0`` would leave the journal in place and the next
    attempt would prescribe the same no-op forever (ADVICE r5).  Fail
    with the actual ways out instead."""
    if prev is None:
        return
    raise RuntimeError(
        "recovery re-run found no events in the clamped span "
        f"[{begin_ms}, {end_ms}) while the crash journal records "
        f"[{prev['begin_ms']}, {prev['end_ms']}); the journal was left in "
        "place because the reset keys may still be missing from the "
        "target.  Either restore the log segments holding the span's "
        "events (then re-run repair_span), raise cfg.end_timestamp_ms if "
        "it was lowered since the crash, or — only if losing the affected "
        "keys is intended — delete the journal file manually"
    )


def pending_repair(cfg: CDCPipelineConfig) -> dict | None:
    """The crashed repair's journal ({begin_ms, end_ms, started_at_ms,
    collection_modes}), or None.  Recovery: re-run ``repair_span`` with
    the recorded span (and modes, when recorded)."""
    import json
    import os

    p = os.path.join(cfg.target_path, REPAIR_JOURNAL)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _require_no_pending_repair(cfg: CDCPipelineConfig) -> None:
    j = pending_repair(cfg)
    if j is not None:
        modes = (
            f", collection_modes={j['collection_modes']}"
            if j.get("collection_modes") is not None
            else ""
        )
        raise RuntimeError(
            "a crashed repair_span left the target inconsistent "
            f"(journal: {j}); re-run repair_span(spark, cfg, "
            f"{j['begin_ms']}, {j['end_ms']}{modes}) before replaying"
        )

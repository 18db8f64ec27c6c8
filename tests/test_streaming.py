"""Structured Streaming micro-batch replay: windowing + safety interval,
source-checkpoint resume, growing-log incremental runs."""

import os
import shutil

from scylla_cdc_rust_spark.config import CDCPipelineConfig
from scylla_cdc_rust_spark.datagen.gen_log import LogSpec, generate_log, write_log
from scylla_cdc_rust_spark.datagen.oracle import oracle_replay
from scylla_cdc_rust_spark.operators.merge import ParquetMergeTable
from scylla_cdc_rust_spark.streaming.stream_pipeline import (
    StreamingReplay,
    run_streaming_epochs,
)
from tests.util import assert_state_equal, normalize_engine

MODES = {"tokens": "set"}


def make_cfg(tmp, tbl, **kw):
    cfg = CDCPipelineConfig(
        log_path=os.path.join(tmp, "log"),
        target_path=os.path.join(tmp, "target"),
        watermark_path=os.path.join(tmp, "wm"),
        checkpoint_location=os.path.join(tmp, "ckpt"),
        window_size_ms=kw.pop("window_size_ms", 300_000),
        safety_interval_ms=kw.pop("safety_interval_ms", 200_000),
        max_files_per_trigger=kw.pop("max_files_per_trigger", 2),
        target_num_buckets=8,
    )
    write_log(tbl, cfg.log_path, files_per_epoch=kw.pop("files_per_epoch", 8))
    return cfg


def visible(spark, cfg):
    t = ParquetMergeTable(spark, cfg.target_path, num_buckets=8)
    df = t.read_visible()
    return normalize_engine(df.collect()) if df is not None else {}


def test_streaming_available_now_matches_oracle(spark, tmp_path):
    tbl = generate_log(LogSpec(n_events=6_000, n_docs=250, seed=19))
    cfg = make_cfg(str(tmp_path), tbl)
    n = run_streaming_epochs(spark, cfg, MODES)
    assert n == tbl.num_rows
    assert_state_equal(visible(spark, cfg), oracle_replay(tbl, collection_modes=MODES))


def test_streaming_multi_epoch_barrier(spark, tmp_path):
    tbl = generate_log(LogSpec(n_events=8_000, n_docs=300, seed=23, n_epochs=3))
    cfg = make_cfg(str(tmp_path), tbl)
    n = run_streaming_epochs(spark, cfg, MODES)
    assert n == tbl.num_rows
    assert_state_equal(visible(spark, cfg), oracle_replay(tbl, collection_modes=MODES))


def test_streaming_resume_from_source_checkpoint(spark, tmp_path):
    """Two bounded runs over a growing log dir with one checkpointLocation:
    run 2 must only process the new files and converge to the oracle
    (kill/restart analog of e2e_test_saving_progress_complex)."""
    tbl = generate_log(LogSpec(n_events=6_000, n_docs=200, seed=29))
    tmp = str(tmp_path)
    cfg = make_cfg(tmp, tbl, files_per_epoch=8)
    # hold back half the files
    ep_dir = os.path.join(cfg.log_path, "epoch=0")
    files = sorted(os.listdir(ep_dir))
    held = files[len(files) // 2 :]
    stash = os.path.join(tmp, "stash")
    os.makedirs(stash)
    for f in held:
        shutil.move(os.path.join(ep_dir, f), os.path.join(stash, f))

    # drain=False: the log is still growing — the safety interval keeps
    # the tail (incl. boundary time ticks) unapplied, exactly like the
    # reference's continuous mode between windows
    r1 = StreamingReplay(spark, cfg, MODES)
    n1 = r1.run_available_now(drain=False)
    assert 0 < n1 < tbl.num_rows

    for f in held:  # the log grows; a new bounded run resumes
        shutil.move(os.path.join(stash, f), os.path.join(ep_dir, f))
    r2 = StreamingReplay(spark, cfg, MODES)
    n2 = r2.run_available_now(drain=True)
    # late files may re-cover already-applied windows; the watermark
    # filter + idempotent merge keep effects exactly-once
    assert n1 + n2 >= tbl.num_rows
    assert_state_equal(visible(spark, cfg), oracle_replay(tbl, collection_modes=MODES))


def test_continuous_tailing_applies_growing_log(spark, tmp_path):
    """run_continuous: a live query discovers files appended after start
    and applies closed windows — the reference's polling loop
    (log_reader.rs:116-236)."""
    import time

    tbl = generate_log(LogSpec(n_events=6_000, n_docs=200, seed=37))
    tmp = str(tmp_path)
    # safety 30s < early half's ~190s span, so windows close from the
    # initial files; the floor still can't reach the held tail (floor ≤
    # early_frontier − safety < cut ≤ every held timestamp, always)
    cfg = make_cfg(
        tmp, tbl, files_per_epoch=8, window_size_ms=50_000,
        safety_interval_ms=30_000,
    )
    ep_dir = os.path.join(cfg.log_path, "epoch=0")
    # Hold back the TIME-TAIL of the log (a CDC log grows forward in
    # time, log_reader.rs polling): split the epoch at the median
    # timestamp so the release can never land below the applied floor
    # regardless of host speed — the flaky alternative (holding back
    # time-interleaved files) races the floor against the wall clock.
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from scylla_cdc_rust_spark.model import TIME_MS

    full = pq.read_table(ep_dir)
    times = full.column(TIME_MS)
    cut = pc.quantile(times, q=0.5).to_pylist()[0]
    early = full.filter(pc.less(times, int(cut))).sort_by(TIME_MS)
    late = full.filter(pc.greater_equal(times, int(cut)))
    shutil.rmtree(ep_dir)
    os.makedirs(ep_dir)
    quarter = max(1, early.num_rows // 4)
    for i in range(4):  # several files → several triggers before growth
        pq.write_table(
            early.slice(i * quarter, quarter if i < 3 else None),
            os.path.join(ep_dir, f"part-e{i}.parquet"),
        )
    stash = os.path.join(tmp, "stash")
    os.makedirs(stash)
    pq.write_table(late, os.path.join(stash, "part-late.parquet"))
    held = ["part-late.parquet"]

    r = StreamingReplay(spark, cfg, MODES)
    q = r.run_continuous(poll_interval_s=1.0)
    try:
        deadline = time.time() + 120
        while r.n_applied == 0 and time.time() < deadline:
            time.sleep(0.5)
        first = r.n_applied
        assert first > 0, "no windows applied from the initial files"
        for f in held:  # the log grows while the query runs
            shutil.move(os.path.join(stash, f), os.path.join(ep_dir, f))
        while r.n_applied == first and time.time() < deadline:
            time.sleep(0.5)
        assert r.n_applied > first, "grown log never picked up"
    finally:
        q.stop()  # graceful stop (R4)

    # drain the safety tail with a bounded run (fresh source checkpoint:
    # re-discovery is safe — watermark filter + idempotent merge)
    cfg2 = CDCPipelineConfig(**{**cfg.__dict__})
    cfg2.checkpoint_location = os.path.join(tmp, "ckpt2")
    r2 = StreamingReplay(spark, cfg2, MODES)
    r2.run_available_now(drain=True)
    assert_state_equal(visible(spark, cfg), oracle_replay(tbl, collection_modes=MODES))


def test_skewed_resume_coalesces_catchup(spark, tmp_path):
    """C4 at scale: after skewed per-stream progress, a restart coalesces
    [min floor, max floor) into ONE window — it does not replay every
    intermediate window against streams that are already ahead (whose
    rows the per-stream watermark filter drops)."""
    from scylla_cdc_rust_spark.model import TIME_MS
    from scylla_cdc_rust_spark.plans.pipeline import replay
    from scylla_cdc_rust_spark.sources.checkpoints import WatermarkStore

    tbl = generate_log(LogSpec(n_events=6_000, n_docs=200, seed=31))
    w = 60_000
    cfg = make_cfg(str(tmp_path), tbl, window_size_ms=w)
    cfg.window_size_ms = w
    times = tbl.column(TIME_MS).to_pylist()
    lo, hi = min(times), max(times) + 1
    mid, skew_to = lo + 2 * w, lo + 7 * w

    # run 1: apply everything up to `skew_to` — the target genuinely
    # holds that prefix, every stream's floor = skew_to
    cfg1 = CDCPipelineConfig(**{**cfg.__dict__})
    cfg1.end_timestamp_ms = skew_to
    replay(spark, cfg1, MODES)
    floors = WatermarkStore(spark, cfg.watermark_path).stream_floors()
    assert floors and max(floors.values()) == skew_to

    # crash analog: rebuild the store as if the laggard's commits past
    # `mid` were lost — its floor says [mid, skew_to) is unapplied (the
    # re-read is safe: the merge staleness gate makes re-apply a no-op)
    sids = sorted(floors)
    laggard, advanced = sids[0], sids[1:]
    assert advanced
    skew_wm_path = os.path.join(str(tmp_path), "wm_skewed")
    wm2 = WatermarkStore(spark, skew_wm_path)
    wm2.commit([(laggard, 0)], window_end_ms=mid, generation=0, batch_id=1)
    wm2.commit([(s, 0) for s in advanced], window_end_ms=skew_to,
               generation=0, batch_id=2)
    cfg.watermark_path = skew_wm_path

    # run 2 (restart): the catch-up span [mid, skew_to) must be ONE
    # batch — not (skew_to-mid)/w batches replayed against streams that
    # are already ahead
    stats = replay(spark, cfg, MODES)
    n_catchup_windows = (skew_to - mid) // w  # 5 without coalescing
    remaining = -(-(hi - skew_to) // w)
    assert stats.n_batches <= 1 + remaining < n_catchup_windows + remaining
    assert_state_equal(visible(spark, cfg), oracle_replay(tbl, collection_modes=MODES))


def test_streaming_safety_interval_holds_back_tail(spark, tmp_path):
    """Without drain, events newer than frontier − safety stay unapplied
    (F3 clamp, stream_reader.rs:304-331)."""
    tbl = generate_log(LogSpec(n_events=4_000, n_docs=150, seed=31))
    cfg = make_cfg(str(tmp_path), tbl, safety_interval_ms=10**12)
    r = StreamingReplay(spark, cfg, MODES)
    n = r.run_available_now(drain=False)
    assert n == 0  # everything within the (huge) safety interval
    # drain flushes the tail (stop_at); fresh source checkpoint so the
    # bounded run re-discovers the files
    cfg.checkpoint_location = cfg.checkpoint_location + "_2"
    r2 = StreamingReplay(spark, cfg, MODES)
    r2.run_available_now(drain=True)
    assert_state_equal(visible(spark, cfg), oracle_replay(tbl, collection_modes=MODES))


def test_late_data_guard_three_cases(spark, tmp_path):
    """The late-data guard distinguishes (stream_pipeline._on_batch):
    (1) rows below a window end APPLIED THIS RUN → fail-fast (the fold
    committed without them); (2) micro-batch discovery disorder before
    any apply → the provisional floor lowers; (3) segments below the
    checkpoint floor rediscovered after a lost streaming checkpoint →
    ignored (already applied; windows never rescan below the resume
    floor)."""
    import pytest
    from pyspark.sql import functions as F

    from scylla_cdc_rust_spark.model import TIME_MS

    tbl = generate_log(LogSpec(n_events=2_000, n_docs=100, seed=7))

    def batch_between(cfg, lo_incl, hi_excl):
        return (
            spark.read.parquet(cfg.log_path)
            .where((F.col(TIME_MS) >= lo_incl) & (F.col(TIME_MS) < hi_excl))
            .select(TIME_MS)
        )

    def bounds(cfg):
        r = (
            spark.read.parquet(cfg.log_path)
            .agg(F.min(TIME_MS).alias("lo"), F.max(TIME_MS).alias("hi"))
            .first()
        )
        return int(r["lo"]), int(r["hi"])

    # (2) disorder before any apply: floor lowers, nothing raises
    cfg2 = make_cfg(os.path.join(str(tmp_path), "c2"), tbl,
                    safety_interval_ms=10**15)
    lo, hi = bounds(cfg2)
    mid = (lo + hi) // 2
    sr = StreamingReplay(spark, cfg2, MODES)
    sr._on_batch(batch_between(cfg2, mid, hi + 1), 0)
    assert sr.floor_ms >= mid and sr.applied_end_ms is None
    sr._on_batch(batch_between(cfg2, lo, mid), 1)
    assert sr.floor_ms == lo  # provisional floor lowered, no error

    # (1) below an applied window end: fail-fast
    cfg1 = make_cfg(os.path.join(str(tmp_path), "c1"), tbl,
                    safety_interval_ms=0, window_size_ms=10**15)
    sr = StreamingReplay(spark, cfg1, MODES)
    sr._on_batch(batch_between(cfg1, mid, hi + 1), 0)
    assert sr.applied_end_ms is not None  # [mid, hi) applied
    with pytest.raises(RuntimeError, match="late event"):
        sr._on_batch(batch_between(cfg1, lo, mid), 1)

    # (3) below the checkpoint floor after a full replay: absorbed
    cfg3 = make_cfg(os.path.join(str(tmp_path), "c3"), tbl,
                    safety_interval_ms=0, window_size_ms=10**15)
    StreamingReplay(spark, cfg3, MODES).run_available_now(drain=True)
    cfg3.checkpoint_location = cfg3.checkpoint_location + "_2"
    sr = StreamingReplay(spark, cfg3, MODES)
    sr._on_batch(batch_between(cfg3, mid, hi + 1), 0)   # resume floor loads
    assert sr.resume_floor_ms is not None
    sr._on_batch(batch_between(cfg3, lo, mid), 1)  # old segment: no raise
    assert sr.floor_ms >= sr.resume_floor_ms


def test_late_data_guard_mixed_batch_not_shielded(spark, tmp_path):
    """A batch mixing one pre-resume-floor row (benign redelivery) with
    rows below a window end applied THIS RUN must still fail-fast: late
    detection counts rows in the late interval, it does not infer from
    the batch min (which the old row would shield)."""
    import pytest
    from pyspark.sql import functions as F

    from scylla_cdc_rust_spark.model import TIME_MS

    tbl = generate_log(LogSpec(n_events=2_000, n_docs=100, seed=7))
    cfg = make_cfg(str(tmp_path), tbl, safety_interval_ms=0,
                   window_size_ms=10**15)
    r = (
        spark.read.parquet(cfg.log_path)
        .agg(F.min(TIME_MS).alias("lo"), F.max(TIME_MS).alias("hi"))
        .first()
    )
    lo, hi = int(r["lo"]), int(r["hi"])
    mid, q3 = lo + (hi - lo) // 2, lo + 3 * (hi - lo) // 4

    def batch_between(lo_incl, hi_excl):
        return (
            spark.read.parquet(cfg.log_path)
            .where((F.col(TIME_MS) >= lo_incl) & (F.col(TIME_MS) < hi_excl))
            .select(TIME_MS)
        )

    # first run applies [lo, mid) and checkpoints (stop_at = mid)
    cfg.end_timestamp_ms = mid
    StreamingReplay(spark, cfg, MODES).run_available_now(drain=True)
    # resumed run applies [mid, hi) above the saved floor
    cfg.end_timestamp_ms = None
    cfg.checkpoint_location = cfg.checkpoint_location + "_2"
    sr = StreamingReplay(spark, cfg, MODES)
    sr._on_batch(batch_between(q3, hi + 1), 0)
    assert sr.resume_floor_ms is not None and sr.applied_end_ms is not None
    # mixed batch: rows below the resume floor (benign) AND rows in
    # [resume_floor, applied_end) (genuinely late) — must raise
    with pytest.raises(RuntimeError, match="late event"):
        sr._on_batch(batch_between(lo, q3), 1)
    # purely-old batch (all below the resume floor): absorbed
    sr2 = StreamingReplay(spark, cfg, MODES)
    sr2._on_batch(batch_between(q3, hi + 1), 0)
    sr2._on_batch(batch_between(lo, sr2.resume_floor_ms), 1)  # no raise


def test_late_guard_uses_per_stream_floors(spark, tmp_path):
    """Redelivered rows of an ADVANCED stream — above the min resume
    floor but below that stream's own saved floor — must NOT trip the
    late-event guard on a resume (they are already applied; filter_new
    drops them), while rows above their own stream's floor and below
    the applied end still MUST (ADVICE r5 / the continuous-tailing
    drain flake)."""
    import pytest

    from scylla_cdc_rust_spark.sources.checkpoints import WatermarkStore

    tbl = generate_log(LogSpec(n_events=500, n_docs=50, seed=3))
    cfg = make_cfg(str(tmp_path), tbl)
    wm = WatermarkStore(spark, cfg.watermark_path)
    lag, adv = b"\x01" * 32, b"\x02" * 32
    wm.commit([(lag, 1)], window_end_ms=100, generation=0, batch_id=0)
    wm.commit([(adv, 1)], window_end_ms=1000, generation=0, batch_id=1)

    def batch(sid, t):
        from scylla_cdc_rust_spark.model import STREAM_ID, TIME_MS

        return spark.createDataFrame(
            [(sid, t)], f"`{STREAM_ID}` binary, {TIME_MS} long"
        )

    def resumed_replay():
        sr = StreamingReplay(spark, cfg, MODES)
        sr.frontier_ms = 2000
        sr.floor_ms = 1000
        sr.resume_floor_ms = 100
        sr.applied_end_ms = 1000
        sr.catchup_end_ms = 1000
        # neutralize the apply tail: only the guard is under test
        sr._apply_upto = lambda _end: None
        return sr

    # benign: advanced stream's redelivered row below ITS OWN floor
    resumed_replay()._on_batch(batch(adv, 500), 0)
    # genuinely late: laggard's row above its floor, below applied end
    with pytest.raises(RuntimeError, match="late event"):
        resumed_replay()._on_batch(batch(lag, 500), 0)
    # unknown stream below the applied end is late too
    with pytest.raises(RuntimeError, match="late event"):
        resumed_replay()._on_batch(batch(b"\x03" * 32, 500), 0)


def test_repair_journal_refuses_disjoint_span(spark, tmp_path):
    """A crashed repair's journal may only be cleared by re-running the
    recorded span or a superset: a narrower/disjoint repair_span call
    must refuse instead of overwriting the journal (ADVICE r5 — the
    overwrite would silently unblock replay while the first span's keys
    stay deleted)."""
    import json

    import pytest

    from scylla_cdc_rust_spark.plans.pipeline import (
        REPAIR_JOURNAL,
        pending_repair,
        repair_span,
    )

    tbl = generate_log(LogSpec(n_events=2_000, n_docs=100, seed=5))
    cfg = make_cfg(str(tmp_path), tbl)
    from scylla_cdc_rust_spark.plans.pipeline import replay

    replay(spark, cfg, MODES)
    from scylla_cdc_rust_spark.model import TIME_MS

    times = tbl.column(TIME_MS).to_pylist()
    lo, hi = min(times), max(times) + 1
    # simulate a crash mid-repair of [lo, hi)
    with open(os.path.join(cfg.target_path, REPAIR_JOURNAL), "w") as f:
        json.dump({"begin_ms": lo, "end_ms": hi, "started_at_ms": 0,
                   "collection_modes": MODES}, f)
    mid = (lo + hi) // 2
    with pytest.raises(RuntimeError, match="recorded span"):
        repair_span(spark, cfg, lo, mid)  # narrower: refused
    assert pending_repair(cfg) is not None  # journal untouched
    # the recorded span with other collection modes: refused too, the
    # reset keys must be re-folded as they were reset
    with pytest.raises(RuntimeError, match="collection_modes="):
        repair_span(spark, cfg, lo, hi, {"tokens": "list"})
    assert pending_repair(cfg) is not None  # journal untouched
    repair_span(spark, cfg, lo, hi)  # the recorded span: allowed
    assert pending_repair(cfg) is None  # completed and cleared
    assert_state_equal(visible(spark, cfg), oracle_replay(tbl, collection_modes=MODES))


def test_absorbed_below_floor_counter(spark, tmp_path):
    """Case (3) is not silent (ADVICE r5): rows absorbed as
    presumed-already-applied — below their own stream's saved floor on a
    resume — increment ``n_absorbed_below_floor`` and record
    ``min_absorbed_ms`` (the candidate repair_span lower bound), while a
    fresh run with no checkpoint counts nothing."""
    from pyspark.sql import functions as F

    from scylla_cdc_rust_spark.model import TIME_MS

    tbl = generate_log(LogSpec(n_events=2_000, n_docs=100, seed=7))
    cfg = make_cfg(str(tmp_path), tbl, safety_interval_ms=0,
                   window_size_ms=10**15)
    # fresh run: no saved floors, nothing to absorb-count
    fresh = StreamingReplay(spark, cfg, MODES)
    assert fresh.resume_floor_ms is None
    fresh.run_available_now(drain=True)
    assert fresh.n_absorbed_below_floor == 0
    assert fresh.min_absorbed_ms is None

    log = spark.read.parquet(cfg.log_path)
    r = log.agg(F.min(TIME_MS).alias("lo"), F.max(TIME_MS).alias("hi")).first()
    lo, hi = int(r["lo"]), int(r["hi"])
    mid = (lo + hi) // 2
    upper = log.where(F.col(TIME_MS) >= mid)
    lower = log.where(F.col(TIME_MS) < mid)
    n_upper, n_lower = upper.count(), lower.count()

    # resumed run (everything already applied): redelivered segments are
    # absorbed AND counted, min_absorbed_ms tracks the suspect span's
    # lower bound, and nothing raises
    cfg.checkpoint_location = cfg.checkpoint_location + "_2"
    sr = StreamingReplay(spark, cfg, MODES)
    assert sr.resume_floor_ms is not None  # preloaded from saved floors
    min_upper = int(upper.agg(F.min(TIME_MS)).first()[0])
    sr._on_batch(upper, 0)
    assert sr.n_absorbed_below_floor == n_upper
    assert sr.min_absorbed_ms == min_upper
    sr._on_batch(lower, 1)
    assert sr.n_absorbed_below_floor == n_upper + n_lower
    assert sr.min_absorbed_ms == lo


def test_repair_recovery_refuses_empty_span(spark, tmp_path):
    """A recovery re-run that finds NO span events must raise and leave
    the journal in place (ADVICE r5): silently returning 0 would
    prescribe the same no-op forever while the crashed repair's reset
    keys stay missing.  The journal also records collection_modes and
    the pending-repair hints surface them."""
    import json

    import pytest

    from scylla_cdc_rust_spark.model import TIME_MS
    from scylla_cdc_rust_spark.plans.pipeline import (
        REPAIR_JOURNAL,
        pending_repair,
        repair_span,
        replay,
    )

    tbl = generate_log(LogSpec(n_events=2_000, n_docs=100, seed=5))
    cfg = make_cfg(str(tmp_path), tbl)
    replay(spark, cfg, MODES)
    times = tbl.column(TIME_MS).to_pylist()
    hi = max(times) + 1
    # crashed repair whose span's late segments are GONE from the log:
    # the recorded span holds no events any more
    with open(os.path.join(cfg.target_path, REPAIR_JOURNAL), "w") as f:
        json.dump({"begin_ms": hi + 10, "end_ms": hi + 20,
                   "started_at_ms": 0, "collection_modes": MODES}, f)
    with pytest.raises(RuntimeError, match="journal was left in place"):
        repair_span(spark, cfg, hi + 10, hi + 20)
    assert pending_repair(cfg) is not None  # journal untouched
    # the replay guard's recovery hint surfaces the recorded modes
    with pytest.raises(RuntimeError, match="collection_modes"):
        replay(spark, cfg, MODES)
    # a first-time no-op span (no journal) still returns 0 silently
    os.remove(os.path.join(cfg.target_path, REPAIR_JOURNAL))
    assert repair_span(spark, cfg, hi + 10, hi + 20) == 0


def write_flat_log(tbl, tmp):
    """The whole log, epoch column included, as ONE parquet file."""
    import pyarrow.parquet as pq

    d = os.path.join(tmp, "flat")
    os.makedirs(d)
    pq.write_table(tbl, os.path.join(d, "part-0.parquet"))
    return CDCPipelineConfig(
        log_path=d,
        target_path=os.path.join(tmp, "target"),
        watermark_path=os.path.join(tmp, "wm"),
        checkpoint_location=os.path.join(tmp, "ckpt"),
        window_size_ms=300_000,
        safety_interval_ms=200_000,
        target_num_buckets=8,
    )


def test_streaming_flat_log_applies_every_generation(spark, tmp_path):
    """A non-partitioned log holding two generations: the streaming
    epoch runner finds both from the log's epoch column, as batch replay
    does, instead of streaming generation 0 only."""
    tbl = generate_log(LogSpec(n_events=2_000, n_docs=100, seed=5, n_epochs=2))
    cfg = write_flat_log(tbl, str(tmp_path))
    n = run_streaming_epochs(spark, cfg, MODES)
    assert n == tbl.num_rows
    assert_state_equal(visible(spark, cfg), oracle_replay(tbl, collection_modes=MODES))


def test_start_timestamp_skips_earlier_events(spark, tmp_path):
    """``start_timestamp``: batch replay and streaming each apply exactly
    the events at or after it, and the target is the fold of those."""
    import numpy as np
    import pyarrow as pa

    from scylla_cdc_rust_spark.model import TIME_MS
    from scylla_cdc_rust_spark.plans.pipeline import replay

    tbl = generate_log(LogSpec(n_events=2_000, n_docs=100, seed=5, n_epochs=2))
    times = tbl.column(TIME_MS).to_numpy()
    start = int(np.median(times))
    kept = tbl.filter(pa.array(times >= start))
    expected = oracle_replay(kept, collection_modes=MODES)
    assert 0 < kept.num_rows < tbl.num_rows

    cfg = write_flat_log(tbl, str(tmp_path / "batch"))
    cfg.start_timestamp_ms = start
    assert replay(spark, cfg, MODES).n_events == kept.num_rows
    assert_state_equal(visible(spark, cfg), expected)

    cfg = write_flat_log(tbl, str(tmp_path / "stream"))
    cfg.start_timestamp_ms = start
    assert run_streaming_epochs(spark, cfg, MODES) == kept.num_rows
    assert_state_equal(visible(spark, cfg), expected)


def test_resume_absorb_count_uses_floors_saved_before_run(spark, tmp_path, caplog):
    """A resumed run whose files are discovered out of time order: the
    first batch's windows apply (from the whole log dir) rows that a
    later-discovered file then redelivers.  Those rows sit below their
    stream's LIVE floor, but above the floor saved before the run, so
    they are neither absorbed nor late: no repair warning, and
    ``min_absorbed_ms`` never exceeds ``resume_floor_ms``."""
    import logging

    import numpy as np
    from pyspark.sql import functions as F

    from scylla_cdc_rust_spark.model import TIME_MS
    from scylla_cdc_rust_spark.plans.pipeline import replay

    tbl = generate_log(LogSpec(n_events=2_000, n_docs=100, seed=7))
    cfg = make_cfg(str(tmp_path), tbl, safety_interval_ms=0)
    times = tbl.column(TIME_MS).to_numpy()
    q1, q2 = (int(q) for q in np.quantile(times, [0.25, 0.5]))
    # the earlier run applied everything before q1
    first = CDCPipelineConfig(**{**cfg.__dict__, "end_timestamp_ms": q1})
    replay(spark, first, MODES)

    log = spark.read.parquet(cfg.log_path)
    sr = StreamingReplay(spark, cfg, MODES)
    assert sr.resume_floor_ms is not None
    with caplog.at_level(logging.WARNING):
        sr._on_batch(log.where(F.col(TIME_MS) >= q2), 0)  # applies [floor, end]
        sr._on_batch(log.where((F.col(TIME_MS) >= q1) & (F.col(TIME_MS) < q2)), 1)
    sr._apply_upto(sr.frontier_ms + 1)  # the drain of a bounded run
    assert sr.n_absorbed_below_floor == 0
    assert sr.min_absorbed_ms is None
    assert "absorbed" not in caplog.text
    assert sr.n_applied == int((times >= q1).sum())
    assert_state_equal(visible(spark, cfg), oracle_replay(tbl, collection_modes=MODES))

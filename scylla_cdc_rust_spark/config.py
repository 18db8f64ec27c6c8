"""Pipeline configuration — the analog of CDCLogReaderBuilder.

Reference: /root/reference/scylla-cdc/src/log_reader.rs:318-561 (builder
with window_size/safety_interval/sleep_interval/start/end/progress
options; defaults at log_reader.rs:40-44).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class CDCPipelineConfig:
    # paths
    log_path: str = ""  # change-log table (parquet dir)
    target_path: str = ""  # destination tokenized-sequences table
    watermark_path: str = ""  # per-stream watermark/checkpoint table
    checkpoint_location: str = ""  # Structured Streaming checkpoint dir

    # windowing (reference defaults: log_reader.rs:40-44; seconds → ms)
    window_size_ms: int = 60_000
    safety_interval_ms: int = 30_000
    sleep_interval_ms: int = 10_000  # poll cadence of the tailing loop
    start_timestamp_ms: int = 0
    end_timestamp_ms: int | None = None  # stop_at (log_reader.rs:60-69)

    # progress persistence (log_reader.rs should_save/load_progress):
    # save = write watermarks as windows apply; load = honor existing
    # watermarks on startup.  Independent flags like the reference.
    save_progress: bool = True
    load_progress: bool = True

    # layout / scale knobs
    target_num_buckets: int = 32  # target-table hash buckets (4096 at 100 TB)

    # payload column collection modes (model.COLLECTION_MODES)
    collection_modes: dict[str, str] = field(
        default_factory=lambda: {"tokens": "set"}
    )
    # physical strategy for 'set'-mode columns (operators.fold.fold_delta):
    # 'elements' | 'arrays' | 'auto' (sample element fan-out, pick arrays
    # for wide deltas — fewer shuffled bytes — else elements)
    set_impl: str = "auto"

    # streaming
    max_files_per_trigger: int = 64

    # maintenance: drop superseded COW bucket dirs every N applied
    # windows (directory-scan only, no data rewrite; 0 = never)
    vacuum_every_batches: int = 16


class CDCLogReaderBuilder:
    """Fluent facade with the reference builder's exact method names
    (log_reader.rs:318-561) over ``CDCPipelineConfig`` — so a user of
    the reference can transliterate their setup line by line.

    Mapping notes:
    - ``session`` / ``keyspace`` / ``table_name`` become the log path
      (the change log is a lake table, not a live cluster);
    - ``consumer_factory`` is only needed for the custom-consumer path
      (operators.consumer_api.consume_streams) — the replicator
      semantics are the default pipeline;
    - ``should_save_progress`` / ``should_load_progress`` are carried
      as independent flags (cfg.save_progress / cfg.load_progress),
      exactly the reference semantics: load=False ignores existing
      checkpoints, save=False never persists new ones.  The engine
      saves per micro-batch (strictly stronger than
      ``pause_between_saves``, checkpoints.rs:32-60), so that knob and
      ``checkpoint_saver`` are accepted for signature parity and
      realized by the watermark store itself.
    - ``sleep_interval`` is carried as cfg.sleep_interval_ms and feeds
      ``run_continuous``'s trigger cadence.
    """

    def __init__(self) -> None:
        self._cfg = CDCPipelineConfig()

    # --- source identity (session/keyspace/table → log path) ---
    def log_path(self, path: str) -> "CDCLogReaderBuilder":
        self._cfg.log_path = path
        return self

    def keyspace(self, _ks: str) -> "CDCLogReaderBuilder":
        """Ignores its argument: the log is addressed by ``log_path``."""
        return self

    def table_name(self, _t: str) -> "CDCLogReaderBuilder":
        """Ignores its argument: the log is addressed by ``log_path``."""
        return self

    # --- reference knobs (log_reader.rs:91-476) ---
    def start_timestamp(self, ms: int) -> "CDCLogReaderBuilder":
        self._cfg.start_timestamp_ms = ms
        return self

    def end_timestamp(self, ms: int) -> "CDCLogReaderBuilder":
        self._cfg.end_timestamp_ms = ms
        return self

    def window_size(self, ms: int) -> "CDCLogReaderBuilder":
        self._cfg.window_size_ms = ms
        return self

    def safety_interval(self, ms: int) -> "CDCLogReaderBuilder":
        self._cfg.safety_interval_ms = ms
        return self

    def sleep_interval(self, ms: int) -> "CDCLogReaderBuilder":
        self._cfg.sleep_interval_ms = ms  # run_continuous poll cadence
        return self

    def should_save_progress(self, value: bool) -> "CDCLogReaderBuilder":
        self._cfg.save_progress = value
        return self

    def should_load_progress(self, value: bool) -> "CDCLogReaderBuilder":
        self._cfg.load_progress = value
        return self

    def pause_between_saves(self, _ms: int) -> "CDCLogReaderBuilder":
        """Ignores its argument: progress is saved at every window
        commit, which is strictly stronger than a timed save."""
        return self

    # --- engine-side outputs ---
    def target_path(self, path: str) -> "CDCLogReaderBuilder":
        self._cfg.target_path = path
        return self

    def watermark_path(self, path: str) -> "CDCLogReaderBuilder":
        self._cfg.watermark_path = path
        return self

    def checkpoint_location(self, path: str) -> "CDCLogReaderBuilder":
        self._cfg.checkpoint_location = path
        return self

    def collection_modes(self, modes: dict) -> "CDCLogReaderBuilder":
        self._cfg.collection_modes = dict(modes)
        return self

    def build(self) -> CDCPipelineConfig:
        if not self._cfg.log_path:
            raise ValueError("log_path is required (the reference errors the "
                             "same way on a missing table, log_reader.rs:486-510)")
        return self._cfg

"""Continuous generation-sequenced driver (S7 + O3, SURVEY §2.1/§2.3).

The reference's CDCReaderWorker main loop (log_reader.rs:138-236)
multiplexes reader completions with a generation watcher
(fetch_generations_continuously, stream_generations.rs:67-110): when a
new generation appears, current readers are closed, drained fully (the
generation barrier, log_reader.rs:171-188), the generation checkpoint
is saved (log_reader.rs:195-202), and readers respawn on the new
stream set.

Spark mapping: one bounded streaming run (Trigger.AvailableNow) per
generation IS the closed-and-drained reader set — the barrier is the
driver's sequential loop; the generation checkpoint is the watermark
store's sentinel row.  Between generations the driver polls the
generation metadata table (sources/generations.py), the analog of the
watcher's sleep-poll loop.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from scylla_cdc_rust_spark.config import CDCPipelineConfig
from scylla_cdc_rust_spark.plans.pipeline import log_generations
from scylla_cdc_rust_spark.sources.checkpoints import WatermarkStore
from scylla_cdc_rust_spark.sources.generations import GenerationFetcher
from scylla_cdc_rust_spark.streaming.stream_pipeline import stream_generation


class ContinuousDriver:
    def __init__(
        self,
        spark: SparkSession,
        cfg: CDCPipelineConfig,
        meta_dir: str,
        collection_modes: dict[str, str] | None = None,
        key: str = "doc_id",
    ):
        self.spark = spark
        self.cfg = cfg
        self.fetcher = GenerationFetcher(meta_dir)
        self.modes = collection_modes
        self.key = key
        self.wm = WatermarkStore.from_config(spark, cfg)
        self.n_applied = 0
        self.generations_done: list[int] = []

    def _run_generations(self, epochs: list[int]) -> None:
        for gen in log_generations(self.spark, self.cfg, self.wm, epochs):
            self.n_applied += stream_generation(
                self.spark, self.cfg, gen, self.modes, self.key
            )
            self.generations_done.append(gen.epoch)

    def run(self, idle_timeout_s: float = 2.0, poll_s: float = 0.2) -> int:
        """Process all known generations in order, then keep polling for
        new ones until none appears for idle_timeout_s (stop analog of
        log_reader.rs:60-69)."""
        gens = self.fetcher.fetch_all_generations()
        self._run_generations([g.epoch for g in gens])
        last_start_ms = max((g.start_ms for g in gens), default=-1)
        while True:
            nxt = self.fetcher.wait_for_next_generation(
                last_start_ms, sleep_s=poll_s, timeout_s=idle_timeout_s
            )
            if nxt is None:
                return self.n_applied
            self._run_generations([nxt.epoch])
            last_start_ms = nxt.start_ms

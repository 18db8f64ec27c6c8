"""Traced run: per-layer metrics of the engine, measured from outside.

Nothing in the engine is edited.  The tracer

* wraps ``apply_window``, ``ParquetMergeTable.merge`` / ``vacuum``,
  ``WatermarkStore.commit`` / ``filter_new``, ``resolve_set_impl`` and
  ``StreamingReplay._on_batch`` with spans (name, start, end), and sets a
  Spark job description inside each so event-log jobs carry their layer;
* writes Spark's event log to a local directory (UI stays off) and reads
  job, stage and task metrics from it after Spark stopped; jobs are
  assigned to windows by their submission time, which also covers jobs
  the engine submits from its own threads;
* splits scan, decode and fold, which Spark fuses into one stage, with
  cut-point runs: pipeline prefixes over one round's input that each end
  in a ``noop`` sink.

Per-layer values are per round unless their name says otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import time

from scylla_cdc_rust_spark.functions.decode import decode
from scylla_cdc_rust_spark.operators import fold
from scylla_cdc_rust_spark.operators.merge import ParquetMergeTable
from scylla_cdc_rust_spark.plans import pipeline
from scylla_cdc_rust_spark.sources.checkpoints import WatermarkStore
from scylla_cdc_rust_spark.streaming import stream_pipeline

#: name → unit of every per-layer metric, in report order
UNITS = {
    "scan.s": "s",
    "scan.bytes_read": "bytes",
    "decode.s": "s",
    "fold.s": "s",
    "fold.shuffle_write_bytes": "bytes",
    "fold.keys_per_event": "keys/event",
    "fold.resolve_set_impl_s": "s",
    "merge.s_per_window": "s",
    "merge.buckets_rewritten_per_window": "buckets",
    "merge.rows_rewritten_per_event": "rows/event",
    "merge.bytes_written_per_event": "bytes/event",
    "merge.vacuum_s": "s",
    "checkpoints.commit_s": "s",
    "checkpoints.filter_join_windows": "count",
    "pipeline.window_s": "s",
    "pipeline.jobs_per_window": "jobs",
    "pipeline.idle_gap_s": "s",
    "pipeline.unexplained_s": "s",
    "stream.microbatches": "count",
    "stream.guard_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
}

DESC = "spark.job.description"


class Tracer:
    def __init__(self, eventlog_dir: str):
        self.eventlog_dir = eventlog_dir
        os.makedirs(eventlog_dir)
        self.active = False  # spans are kept only while a timed round runs
        self.spans: list[tuple[str, float, float, object]] = []
        self.cuts: dict[str, float] = {}
        self.scan_bytes = 0
        self.set_impl = "auto"  # the strategy the engine resolved, reused by the fold cut

    def spark_conf(self) -> dict:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(self.eventlog_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    # ---------- spans ----------

    def _wrap(self, owner, attr: str, name: str, note=None) -> None:
        inner = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            sc = tracer.sc
            prev = sc.getLocalProperty(DESC)
            sc.setJobDescription(name)
            t0 = time.time()
            try:
                out = inner(*args, **kwargs)
            finally:
                t1 = time.time()
                sc.setJobDescription(prev)
            if tracer.active:
                tracer.spans.append((name, t0, t1, note(args, out) if note else None))
            return out

        setattr(owner, attr, traced)

    def install(self, spark) -> None:
        self.sc = spark.sparkContext
        self._wrap(pipeline, "apply_window", "window")
        stream_pipeline.apply_window = pipeline.apply_window
        self._wrap(ParquetMergeTable, "merge", "merge",
                   lambda a, out: out.get("buckets_rewritten", 0))
        self._wrap(ParquetMergeTable, "vacuum", "vacuum")
        self._wrap(WatermarkStore, "commit", "commit")
        # a join ran when filter_new returned a new frame, not its input
        self._wrap(WatermarkStore, "filter_new", "filter_new",
                   lambda a, out: out is not a[1])
        self._wrap(fold, "resolve_set_impl", "resolve_set_impl", self._note_impl)
        self._wrap(stream_pipeline.StreamingReplay, "_on_batch", "microbatch")

    def _note_impl(self, _args, out):
        self.set_impl = out
        return out

    # ---------- cut points ----------

    def cut_points(self, spark, wl) -> None:
        """Wall of scan, scan+decode and scan+decode+fold over one
        round's input, each ending in a noop sink."""
        frames = [spark.read.parquet(p) for p in wl.round_inputs]
        # Spark's own input-bytes task metric counts only a few KB per
        # local parquet file (footer reads), so report the bytes on disk
        # of the files the scan covers
        self.scan_bytes = sum(os.path.getsize(f.removeprefix("file:"))
                              for df in frames for f in df.inputFiles())
        stages = {
            "scan": lambda df: df,
            "decode": decode,
            "fold": lambda df: fold.fold_delta(
                decode(df), collection_modes=wl.modes, set_impl=self.set_impl),
        }
        for name, plan in stages.items():
            self.sc.setJobDescription(f"cut:{name}")
            t0 = time.time()
            for df in frames:
                plan(df).write.format("noop").mode("overwrite").save()
            self.cuts[name] = time.time() - t0
        self.sc.setJobDescription(None)

    # ---------- event log ----------

    def _jobs(self) -> list[dict]:
        """Jobs with submit/end times, description and summed task metrics."""
        jobs, stage_job = {}, {}
        tasks = []
        for path in glob.glob(os.path.join(self.eventlog_dir, "*")):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        j = jobs[ev["Job ID"]] = {
                            "submit": ev["Submission Time"] / 1e3, "end": None,
                            "desc": (ev.get("Properties") or {}).get(DESC) or "",
                            "cpu": 0.0, "gc": 0.0, "spill": 0, "shuffle_read": 0,
                            "shuffle_write": 0, "out_bytes": 0, "out_rows": 0}
                        for s in ev["Stage IDs"]:
                            stage_job.setdefault(s, j)
                    elif kind == "SparkListenerJobEnd":
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                    elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                        tasks.append((ev["Stage ID"], ev["Task Metrics"]))
        for stage, m in tasks:
            j = stage_job.get(stage)
            if j is None:
                continue
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            j["cpu"] += m.get("Executor CPU Time", 0) / 1e9
            j["gc"] += m.get("JVM GC Time", 0) / 1e3
            j["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            j["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            j["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            j["out_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            j["out_rows"] += m.get("Output Metrics", {}).get("Records Written", 0)
        return [j for j in jobs.values() if j["end"] is not None]

    # ---------- metrics ----------

    def metrics(self, rounds: list[dict], wl) -> dict[str, tuple[float, str]]:
        jobs = self._jobs()
        n = len(rounds)
        events = sum(r["events"] for r in rounds)
        wall = sum(r["t1"] - r["t0"] for r in rounds)

        def spans(name):
            return [s for s in self.spans if s[0] == name]

        def total(name):
            return sum(t1 - t0 for _n, t0, t1, _x in spans(name))

        def within(intervals, t):
            return any(a <= t <= b for a, b in intervals)

        timed = [j for j in jobs if within([(r["t0"], r["t1"]) for r in rounds], j["submit"])]
        merge_jobs = [j for j in timed if j["desc"] == "merge"]
        windows = [(t0, t1) for _n, t0, t1, _x in spans("window")]
        n_win = max(1, len(windows))
        idle = 0.0
        for a, b in windows:
            busy = sorted((max(a, j["submit"]), min(b, j["end"]))
                          for j in jobs if j["submit"] < b and j["end"] > a)
            covered, reach = 0.0, a
            for s, e in busy:
                s = max(s, reach)
                if e > s:
                    covered += e - s
                    reach = e
            idle += (b - a) - covered
        cut_jobs = {k: [j for j in jobs if j["desc"] == f"cut:{k}"] for k in self.cuts}
        named = sum(total(k) for k in ("merge", "commit", "resolve_set_impl", "filter_new"))
        merges = spans("merge")
        values = {
            "scan.s": self.cuts["scan"],
            "scan.bytes_read": self.scan_bytes,
            "decode.s": self.cuts["decode"] - self.cuts["scan"],
            "fold.s": self.cuts["fold"] - self.cuts["decode"],
            "fold.shuffle_write_bytes": sum(j["shuffle_write"] for j in cut_jobs["fold"]),
            "fold.keys_per_event": wl.keys_per_event,
            "fold.resolve_set_impl_s": total("resolve_set_impl") / n,
            "merge.s_per_window": total("merge") / max(1, len(merges)),
            "merge.buckets_rewritten_per_window":
                sum(x for *_s, x in merges) / max(1, len(merges)),
            "merge.rows_rewritten_per_event": sum(j["out_rows"] for j in merge_jobs) / events,
            "merge.bytes_written_per_event": sum(j["out_bytes"] for j in merge_jobs) / events,
            "merge.vacuum_s": total("vacuum") / n,
            "checkpoints.commit_s": total("commit") / max(1, len(spans("commit"))),
            "checkpoints.filter_join_windows": sum(1 for *_s, x in spans("filter_new") if x) / n,
            "pipeline.window_s": total("window") / n_win,
            "pipeline.jobs_per_window":
                sum(1 for j in timed if within(windows, j["submit"])) / n_win,
            "pipeline.idle_gap_s": idle / n_win,
            "pipeline.unexplained_s": (wall - named) / n,
            "stream.microbatches": len(spans("microbatch")) / n,
            "stream.guard_s": (wall - total("window")) / n,
            "spark.task_cpu_s": sum(j["cpu"] for j in timed) / n,
            "spark.gc_s": sum(j["gc"] for j in timed) / n,
            "spark.spill_bytes": sum(j["spill"] for j in timed) / n,
            "spark.shuffle_read_bytes": sum(j["shuffle_read"] for j in timed) / n,
        }
        return {k: (values[k], u) for k, u in UNITS.items()}

    def write(self, path: str, wl, seed: int, rounds: list[dict],
              e2e: dict, per_layer: dict) -> None:
        """The per-layer JSON of one workload, with the traced run's own
        end-to-end numbers (their difference to an untraced run with the
        same seed is the tracing overhead)."""
        doc = {
            "workload": wl.name,
            "seed": seed,
            "rounds": len(rounds),
            "windows": sum(len(r["windows"]) for r in rounds),
            "events_per_round": sum(r["events"] for r in rounds) / len(rounds),
            "round_wall_s": sum(r["t1"] - r["t0"] for r in rounds) / len(rounds),
            "end_to_end": {k: v for k, (v, _u) in e2e.items()},
            "per_layer": {k: v for k, (v, _u) in per_layer.items()},
        }
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)

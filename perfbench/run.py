"""Oracle-checked benchmark of the CDC engine.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 5 --trace 0

Runs one workload from a seed, checks the engine's final target against
the benchmark's own sequential reference, and prints, as the last line
of standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones of
``layers.py``, which also writes ``perfbench/out/layers_<workload>.json``.
The line before it is a diagnostics object (CPU steal over the timed
phase, a host-speed probe, window walls, the re-run record); it is not a
metric.

Workloads (closed loop: each window starts when the previous committed):

* ``backfill``: batch ``replay`` of a 2-generation log in set mode into
  an empty target, one window per generation.  Each round starts from an
  empty target; the run ends with a re-run that must apply nothing.
* ``stream``: a target preloaded with the first 90% of a 1-generation
  log; the rest arrives as log segments that
  ``StreamingReplay.run_available_now`` consumes one file per trigger,
  behind a safety interval, draining at the end.  Each round starts from
  a copy of the preloaded target and a fresh streaming checkpoint.
* ``tail`` (by hand only): the same preloaded shape in list mode; a
  resumed batch ``replay`` applies the rest in 20 windows.

One operation is one key whose final state a round checks; F1 phantom
keys are failed operations, any other difference makes the run incorrect.
Set-up (``setup_s``) runs from process start to the first timed round:
Spark start, the preload and a warm-up (a fresh JVM is 2-3x slower for
its first replays; see ``Workload.setup``).  Generating the log and the
reference is excluded from it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402

import check  # noqa: E402
import loggen  # noqa: E402
import procstat  # noqa: E402
import reference  # noqa: E402
from scylla_cdc_rust_spark.config import CDCPipelineConfig  # noqa: E402
from scylla_cdc_rust_spark.operators.merge import ParquetMergeTable  # noqa: E402
from scylla_cdc_rust_spark.plans import pipeline  # noqa: E402
from scylla_cdc_rust_spark.session import get_spark  # noqa: E402
from scylla_cdc_rust_spark.streaming import stream_pipeline  # noqa: E402

OUT = os.path.join(HERE, "out")
#: one window per generation in backfill: wider than any generation
WHOLE_GENERATION_MS = 10**12

WORKLOADS = {
    "backfill": {"shape": loggen.Shape(n_events=200_000, n_docs=20_000, n_epochs=2),
                 "mode": "set"},
    "stream": {"shape": loggen.Shape(n_events=100_000, n_docs=10_000),
               "mode": "set", "head_share": 0.9, "head_segments": 2, "segments": 3},
    # kept out of BENCHMARK.json to hold the benchmark's total run time
    # down (a run takes about 80 s); run it by hand (README.md)
    "tail": {"shape": loggen.Shape(n_events=100_000, n_docs=10_000),
             "mode": "list", "head_share": 0.9, "head_segments": 4, "segments": 4,
             "windows": 20},
}


class WindowClock:
    """Wall time of every ``apply_window`` call (a window's start to its
    watermark commit).  Installed in both loops' module namespaces."""

    def __init__(self):
        self.walls: list[tuple[float, float]] = []
        inner = pipeline.apply_window

        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                return inner(*args, **kwargs)
            finally:
                self.walls.append((t0, time.time()))

        pipeline.apply_window = timed
        stream_pipeline.apply_window = timed


class Workload:
    """Inputs, reference and rounds of one workload in ``work``."""

    def __init__(self, name: str, seed: int, work: str):
        self.name, self.seed, self.work = name, seed, work
        spec = WORKLOADS[name]
        self.shape, self.mode = spec["shape"], spec["mode"]
        self.modes = {"tokens": self.mode}
        self.spec = spec
        self.applied_before = 0  # events applied by the preload

    # ---------- inputs ----------

    def prepare(self) -> None:
        tbl = loggen.generate(self.shape, self.seed)
        times = tbl.column(loggen.TIME_MS).to_numpy()
        first = int(times[0])
        if self.name == "backfill":
            ep = tbl.column(loggen.EPOCH).to_numpy()
            second = int(times[np.argmax(ep == 1)])
            tbl = pa.concat_tables([tbl, loggen.probes(self.shape, (first, 0), (second, 1))])
            self.log = os.path.join(self.work, "log")
            loggen.write_epochs(tbl, self.log, 4, self.seed)
            self.round_inputs = [os.path.join(self.log, f"{loggen.EPOCH}={e}") for e in (0, 1)]
            self.log_dirs = [self.log]
        else:
            ticks = np.unique(times)
            cut = int(ticks[int(len(ticks) * self.spec["head_share"])])
            tbl = pa.concat_tables([tbl, loggen.probes(self.shape, (first, 0), (cut, 0))])
            is_head = pc.less(tbl.column(loggen.TIME_MS), cut)
            self.head = os.path.join(self.work, "head")
            self.tail = os.path.join(self.work, "tail")
            head = tbl.filter(is_head)
            loggen.write_segments(head, self.head, self.spec["head_segments"], self.seed)
            tail = tbl.filter(pc.invert(is_head))
            loggen.write_segments(tail, self.tail, self.spec["segments"], self.seed + 1)
            span = int(pc.max(tail.column(loggen.TIME_MS)).as_py()) - cut + 1
            if self.name == "tail":
                self.window_ms = -(-span // self.spec["windows"])
            else:
                # a window wider than one segment's span gives one window
                # per trigger; the safety interval holds back a quarter of it
                k, h = self.spec["segments"], self.spec["head_segments"]
                self.window_ms, self.safety_ms = 2 * span // k, span // (4 * k)
                head_span = cut - first
                self.head_window_ms, self.head_safety_ms = 2 * head_span // h, head_span // (4 * h)
            self.round_inputs = [self.tail]
            self.log_dirs = [self.head, self.tail]
        self.n_rows = sum(check.parquet_rows(d) for d in self.log_dirs)
        self.stream_ids = [bytes(s) for s in tbl.column(loggen.STREAM_ID).to_pylist()]
        self.times = tbl.column(loggen.TIME_MS).to_pylist()
        self.universe = {f"doc_{i:08d}" for i in range(self.shape.n_docs)} | set(loggen.PROBE_KEYS)
        inputs = tbl if self.name == "backfill" else tail
        self.keys_per_event = len(set(inputs.column(loggen.KEY).to_pylist())) / inputs.num_rows
        self.expected = reference.cached_replay(
            tbl, self.mode, self.name, self.seed, os.path.join(OUT, "cache"))

    # ---------- rounds ----------

    def cfg(self, tag: str, **kw) -> CDCPipelineConfig:
        d = os.path.join(self.work, tag)
        return CDCPipelineConfig(
            target_path=os.path.join(d, "target"),
            watermark_path=os.path.join(d, "wm"),
            checkpoint_location=os.path.join(d, "ckpt"),
            collection_modes=dict(self.modes), **kw)

    def setup(self, spark) -> None:
        """Warm the JVM before timing.  Backfill and tail run one whole
        round first (tail after a one-window preload); stream preloads
        through ``StreamingReplay`` itself, one head segment per trigger,
        which runs every code path of a stream round."""
        if self.name == "stream":
            cfg = self.cfg("preload", log_path=self.head, window_size_ms=self.head_window_ms,
                           safety_interval_ms=self.head_safety_ms, max_files_per_trigger=1)
            self.applied_before = stream_pipeline.StreamingReplay(spark, cfg).run_available_now()
            self.preload = cfg
            return
        if self.name == "tail":
            cfg = self.cfg("preload", log_path=self.head, window_size_ms=WHOLE_GENERATION_MS)
            self.applied_before = pipeline.replay(spark, cfg).n_events
            self.preload = cfg
        self.round(spark, "warmup")
        shutil.rmtree(os.path.join(self.work, "warmup"))

    def round(self, spark, tag: str) -> tuple[CDCPipelineConfig, int, float, float]:
        """One round into fresh directories ``tag``: (cfg, events applied,
        start, end).  The vacuum after it is maintenance, outside the wall."""
        if self.name == "backfill":
            cfg = self.cfg(tag, log_path=self.log, window_size_ms=WHOLE_GENERATION_MS)
            t0 = time.time()
            n = pipeline.replay(spark, cfg).n_events
        else:
            cfg = self.cfg(tag, log_path=self.tail, window_size_ms=self.window_ms)
            shutil.copytree(self.preload.target_path, cfg.target_path)
            shutil.copytree(self.preload.watermark_path, cfg.watermark_path)
            if self.name == "tail":
                t0 = time.time()
                n = pipeline.replay(spark, cfg).n_events
            else:
                cfg.safety_interval_ms = self.safety_ms
                cfg.max_files_per_trigger = 1
                t0 = time.time()
                n = stream_pipeline.StreamingReplay(spark, cfg).run_available_now(drain=True)
        t1 = time.time()
        ParquetMergeTable(spark, cfg.target_path, num_buckets=cfg.target_num_buckets).vacuum()
        return cfg, n, t0, t1

    # ---------- checks ----------

    def visible(self, spark, cfg) -> dict[str, tuple]:
        df = ParquetMergeTable(spark, cfg.target_path,
                               num_buckets=cfg.target_num_buckets).read_visible()
        if df is None:
            return {}
        t = df.select(loggen.KEY, *loggen.PAYLOAD, "ttl").toArrow().to_pydict()
        return {k: (tok, n, s, ttl) for k, tok, n, s, ttl in zip(
            t[loggen.KEY], t["tokens"], t["n_tok"], t["source"], t["ttl"])}

    def check(self, spark, cfg, applied: int) -> tuple[int, int, list[str], dict]:
        state = self.visible(spark, cfg)
        attempted, failed, errors = check.compare_state(
            state, self.expected, self.universe, self.mode == "set")
        errors += check.conservation(self.applied_before + applied, self.n_rows)
        errors += check.watermarks(check.read_watermarks(cfg.watermark_path),
                                   self.stream_ids, self.times)
        return attempted, failed, errors, state

    def rerun(self, spark, cfg, state) -> tuple[list[str], dict]:
        """Replaying a fully applied log applies nothing and leaves the
        visible state unchanged."""
        table = ParquetMergeTable(spark, cfg.target_path, num_buckets=cfg.target_num_buckets)
        v0 = table.version()
        n = pipeline.replay(spark, cfg).n_events
        errors = [] if n == 0 else [f"re-run applied {n} events"]
        if self.visible(spark, cfg) != state:
            errors.append("re-run changed the visible state")
        v1 = table.version()
        return errors, {"applied": n, "versions_added": v1 - v0,
                        "buckets_rewritten": len(table.changed_buckets(v0, v1))}


def target_mb(spark, cfg) -> float:
    """Bytes on disk of the files the current manifest references."""
    df = ParquetMergeTable(spark, cfg.target_path, num_buckets=cfg.target_num_buckets).read()
    return sum(os.path.getsize(f.removeprefix("file:")) for f in df.inputFiles()) / 1e6


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers ended."""
    from pyspark import SparkContext

    pids = [p for p in procstat.tree() if p != os.getpid()]
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(OUT, "work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)  # left by a killed run with this pid
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    try:
        return run(args, work, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, tmp: str) -> int:
    wl = Workload(args.workload, args.seed, work)
    t = time.time()
    wl.prepare()
    prepare_s = time.time() - t

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    tracer = None
    if args.trace:
        import layers

        tracer = layers.Tracer(os.path.join(work, "eventlog"))
        conf.update(tracer.spark_conf())
    t = time.time()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      cores=len(os.sched_getaffinity(0)), extra_conf=conf)
    spark_s = time.time() - t
    clock = WindowClock()
    if tracer:
        tracer.install(spark)
    wl.setup(spark)
    setup_s = procstat.process_age_s() - prepare_s

    rounds, errors = [], []
    attempted = failed = 0
    steal0 = procstat.host_cpu()
    timed = 0.0
    while timed < args.seconds or not rounds:
        n_win = len(clock.walls)
        cpu0 = procstat.tree_cpu_s()
        if tracer:
            tracer.active = True
        cfg, n, t0, t1 = wl.round(spark, f"r{len(rounds)}")
        if tracer:
            tracer.active = False
        rounds.append({"t0": t0, "t1": t1, "events": n,
                       "cpu": procstat.tree_cpu_s() - cpu0, "windows": clock.walls[n_win:]})
        timed += t1 - t0
        a, f, e, state = wl.check(spark, cfg, n)
        attempted, failed, errors = attempted + a, failed + f, errors + e
        if len(rounds) > 1:
            shutil.rmtree(os.path.join(work, f"r{len(rounds) - 2}"), ignore_errors=True)
    steal1 = procstat.host_cpu()
    probe_s = procstat.host_probe_s()

    events = sum(r["events"] for r in rounds)
    e2e = {
        "setup_s": (setup_s, "s"),
        "events_per_s": (events / timed, "events/s"),
        "window_p50_s": (statistics.median(b - a for r in rounds for a, b in r["windows"]), "s"),
        "cpu_s_per_mevent": (sum(r["cpu"] for r in rounds) / events * 1e6, "s/Mevent"),
        "target_mb": (target_mb(spark, cfg), "MB"),
    }
    diag = {"rounds": len(rounds),
            "window_s": [round(b - a, 3) for r in rounds for a, b in r["windows"]],
            "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "prepare_s": prepare_s, "spark_start_s": spark_s, "host_probe_s": probe_s}
    if wl.name == "backfill":
        e, diag["rerun"] = wl.rerun(spark, cfg, state)
        errors += e
    if tracer:
        tracer.cut_points(spark, wl)
    stop_spark(spark)
    metrics = e2e
    if tracer:
        metrics = tracer.metrics(rounds, wl)
        tracer.write(os.path.join(OUT, f"layers_{wl.name}.json"), wl, args.seed,
                     rounds, e2e, metrics)
    diag["errors"] = errors[:10]
    print(json.dumps({"diagnostics": diag}))
    for e in errors[:10]:
        print("check failed:", e, file=sys.stderr)
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

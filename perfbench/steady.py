"""Steadiness check: run one workload k times, one seed each, and print
every end-to-end metric's median, quartiles and spread against its bound,
plus the share of host CPU stolen during each run's timed phase.

    python3 perfbench/steady.py --workload stream --runs 10 [--first-seed 1]

The spread is (q3 - q1) / median with the quartiles of
``statistics.quantiles(values, n=4)``; a metric is steady when its spread
stays below a third of the bound in ``BENCHMARK.json`` (``setup_s`` is
judged by its median only).  Each run's result line is appended to
``perfbench/out/steady_<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log = os.path.join(HERE, "out", f"steady_{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)

    values: dict[str, list[float]] = {k: [] for k in bounds}
    shares = []
    for i in range(args.runs):
        seed = args.first_seed + i
        t0 = time.time()
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return 1
        diag, res = json.loads(lines[-2])["diagnostics"], json.loads(lines[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "diagnostics": diag, **res}) + "\n")
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        shares.append(res["failed"] / res["attempted"])
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} steal={diag['steal_share']:.1%} "
              f"wall={time.time() - t0:.1f}s "
              + " ".join(f"{k}={res['metrics'][k]['value']:.4g}" for k in values),
              flush=True)

    print(f"\n{'metric':<18}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}  verdict")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        ok = k == "setup_s" or spread < bounds[k] / 3
        print(f"{k:<18}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>9.3f}{bounds[k]:>8}"
              f"  {'steady' if ok else 'NOT steady'}")
    print(f"failed share: {sorted(set(shares))}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Self-test of the benchmark's checker on a tiny log (about a second,
no Spark):

    python3 perfbench/selftest.py

It feeds ``check`` a target equal to the reference state of a tiny
generated log, then plants one fault at a time and shows four outcomes:

1. a wrong cell fails the run as incorrect;
2. a phantom row (a key with every payload column null that the
   reference does not hold) is one failed operation, and the run passes;
3. a dropped event fails the conservation check (rows counted from the
   parquet footers of the written log);
4. a set column returned in another element order passes.

Exits with 1 if any outcome differs.
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import loggen  # noqa: E402
import reference  # noqa: E402


def main() -> int:
    shape = loggen.Shape(n_events=600, n_docs=40, n_streams=4, n_epochs=2)
    tbl = loggen.generate(shape, seed=7)
    times = tbl.column(loggen.TIME_MS).to_pylist()
    epochs = tbl.column(loggen.EPOCH).to_pylist()
    tbl = pa.concat_tables([tbl, loggen.probes(
        shape, (times[0], 0), (times[epochs.index(1)], 1))])
    expected = reference.replay(tbl, "set")
    universe = {f"doc_{i:08d}" for i in range(shape.n_docs)} | set(loggen.PROBE_KEYS)
    work = os.path.join(HERE, "out", f"selftest-{os.getpid()}")
    try:
        loggen.write_epochs(tbl, work, 2, seed=7)
        log_rows = check.parquet_rows(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    def compare(target):
        return check.compare_state(target, expected, universe, set_mode=True)

    wide = next(k for k, v in expected.items() if v[0] and len(v[0]) > 1 and v[1] is not None)
    tok, n_tok, src, ttl = expected[wide]
    outcomes = []

    _, failed, errors = compare(expected)
    outcomes.append(("unchanged target passes", not errors and failed == 0))

    _, failed, errors = compare({**expected, wide: (tok, n_tok + 1, src, ttl)})
    outcomes.append(("wrong cell is incorrect", len(errors) == 1 and failed == 0))

    absent = next(k for k in sorted(universe) if k not in expected)
    attempted, failed, errors = compare({**expected, absent: (None, None, None, ttl)})
    outcomes.append(("phantom row is one failed operation and passes",
                     not errors and failed == 1 and attempted == len(universe)))

    errors = check.conservation(log_rows - 1, log_rows)
    outcomes.append(("dropped event fails conservation",
                     log_rows == tbl.num_rows and len(errors) == 1))

    _, failed, errors = compare({**expected, wide: (tuple(reversed(tok)), n_tok, src, ttl)})
    outcomes.append(("set in another element order passes", not errors and failed == 0))

    for name, ok in outcomes:
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    return 0 if all(ok for _n, ok in outcomes) else 1


if __name__ == "__main__":
    sys.exit(main())

"""Checks of the engine's outputs against the benchmark's own reference.

Each function returns a list of error strings; an empty list means the
check holds.  ``compare_state`` also counts fault-F1 phantom keys, which
are failed operations rather than errors.
"""

from __future__ import annotations

import os
from collections import Counter

import pyarrow.parquet as pq

#: sentinel row of the watermark snapshot (last generation), not a stream
_SENTINEL = bytes([0])


def _norm_tokens(tok, set_mode: bool):
    if tok is None:
        return None
    return tuple(sorted(set(tok))) if set_mode else tuple(tok)


def compare_state(target: dict[str, tuple], expected: dict[str, tuple],
                  universe: set[str], set_mode: bool) -> tuple[int, int, list[str]]:
    """Compare visible rows ``{key: (tokens, n_tok, source, ttl)}``.

    One operation is one key of ``universe`` (every key the log can
    touch).  Returns (attempted, failed, errors): a key the engine shows
    with every payload column null while the reference has no row is an
    F1 phantom and counts as failed; any other difference is an error.
    Set-mode tokens are compared as sets."""
    errors = []
    failed = 0
    for k in target.keys() | expected.keys():
        t, e = target.get(k), expected.get(k)
        if k not in universe:
            errors.append(f"{k}: key not in the log")
        elif t is None:
            errors.append(f"{k}: missing, expected {e}")
        elif e is None:
            if t[0] is None and t[1] is None and t[2] is None:
                failed += 1
            else:
                errors.append(f"{k}: extra row {t}")
        elif (_norm_tokens(t[0], set_mode), *t[1:]) != (_norm_tokens(e[0], set_mode), *e[1:]):
            errors.append(f"{k}: got {t}, expected {e}")
    return len(universe), failed, errors


def conservation(applied: int, log_rows: int) -> list[str]:
    """Events the engine reports applied must equal the log's rows."""
    if applied != log_rows:
        return [f"applied {applied} events, the log holds {log_rows}"]
    return []


def parquet_rows(directory: str) -> int:
    """Row count of every parquet file under ``directory``, from footers."""
    n = 0
    for root, _dirs, files in os.walk(directory):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return n


def read_watermarks(path: str) -> dict[bytes, tuple[int, int]]:
    """{stream_id: (floor_ms, n_applied)} from the watermark store's
    current snapshot, read with pyarrow."""
    with open(os.path.join(path, "_VERSION")) as f:
        v = int(f.read().strip())
    t = pq.read_table(os.path.join(path, f"v{v}")).to_pydict()
    return {
        bytes(s): (tm, n)
        for s, tm, n in zip(t["stream_id"], t["time_ms"], t["n_applied"])
        if bytes(s) != _SENTINEL
    }


def watermarks(snapshot: dict[bytes, tuple[int, int]], stream_ids: list[bytes],
               times: list[int]) -> list[str]:
    """Each stream of the log: ``n_applied`` equals its row count and its
    floor lies above its last event time; no other stream is recorded."""
    counts = Counter(stream_ids)
    last: dict[bytes, int] = {}
    for s, t in zip(stream_ids, times):
        if t > last.get(s, t - 1):
            last[s] = t
    errors = []
    for s in snapshot.keys() | counts.keys():
        if s not in snapshot:
            errors.append(f"stream {s.hex()}: no watermark")
        elif s not in counts:
            errors.append(f"stream {s.hex()}: watermark for a stream not in the log")
        else:
            floor, n = snapshot[s]
            if n != counts[s]:
                errors.append(f"stream {s.hex()}: n_applied {n}, log rows {counts[s]}")
            if floor is None or floor <= last[s]:
                errors.append(f"stream {s.hex()}: floor {floor} not above last event {last[s]}")
    return errors

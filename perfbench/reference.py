"""Sequential reference replay of a generated log, and its on-disk cache.

The reference applies every event one at a time in (time_ms, seq,
batch_seq) order with the replicator's semantics:

* INSERT sets the row marker, UPDATE does not; both overwrite the cells
  they mention.  A row exists while its marker is live or it has at
  least one non-null cell.
* ROW_DELETE / PARTITION_DELETE (and their negative TTL-expiration
  codes) drop the row.
* ``tokens`` in ``set`` mode is an element set: a change with the
  deleted flag resets it to the change's elements, otherwise elements
  are added and ``cdc$deleted_elements_tokens`` removed; an empty set is
  null.  In ``list`` mode it is one cell overwritten whole.
* ``ttl`` is the last applied write's TTL.

It shares no code with the engine or the engine's own oracle.  Results
are cached under ``perfbench/out/cache``, keyed by workload, seed and a
hash of this file and of the generator, and rebuilt when missing.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa

from loggen import (BATCH_SEQ, DEL, DEL_ELEMS, KEY, OPERATION, PARTITION_DELETE,
                    ROW_DELETE, ROW_INSERT, ROW_UPDATE, TIME_MS, TIME_SEQ, TTL)

HERE = os.path.dirname(os.path.abspath(__file__))


def replay(tbl: pa.Table, mode: str) -> dict[str, tuple]:
    """{key: (tokens, n_tok, source, ttl)} of every visible row; set-mode
    tokens are a sorted tuple, list-mode tokens a tuple in stored order."""
    order = np.lexsort((
        tbl.column(BATCH_SEQ).to_numpy(),
        tbl.column(TIME_SEQ).to_numpy(),
        tbl.column(TIME_MS).to_numpy(),
    ))
    cols = {c: tbl.column(c).to_pylist() for c in (
        OPERATION, KEY, TTL, "tokens", "n_tok", "source",
        DEL + "tokens", DEL_ELEMS + "tokens", DEL + "n_tok", DEL + "source")}
    ops, keys, ttls = cols[OPERATION], cols[KEY], cols[TTL]
    toks, dtok, dels = cols["tokens"], cols[DEL + "tokens"], cols[DEL_ELEMS + "tokens"]
    scalars = [(2, cols["n_tok"], cols[DEL + "n_tok"]),
               (3, cols["source"], cols[DEL + "source"])]
    # row = [marker, tokens (set / tuple / None), n_tok, source, ttl]
    state: dict[str, list] = {}
    for i in order.tolist():
        op = abs(ops[i])
        k = keys[i]
        if op in (ROW_DELETE, PARTITION_DELETE):
            state.pop(k, None)
            continue
        if op not in (ROW_UPDATE, ROW_INSERT):
            continue
        row = state.get(k)
        if row is None:
            row = state[k] = [False, None, None, None, None]
        if op == ROW_INSERT:
            row[0] = True
        val, rm = toks[i], dels[i]
        if mode == "set":
            if dtok[i]:
                cur = set(val or ()) - set(rm or ())
                row[1] = cur or None
            elif val or rm:
                cur = (row[1] or set()) | set(val or ())
                cur -= set(rm or ())
                row[1] = cur or None
        elif val is not None:
            row[1] = tuple(val)
        elif dtok[i]:
            row[1] = None
        for j, v, d in scalars:
            if v[i] is not None:
                row[j] = v[i]
            elif d[i]:
                row[j] = None
        row[4] = ttls[i]
    out = {}
    for k, (marker, tok, n_tok, src, ttl) in state.items():
        if marker or tok is not None or n_tok is not None or src is not None:
            if tok is not None and mode == "set":
                tok = tuple(sorted(tok))
            out[k] = (tok, n_tok, src, ttl)
    return out


def _source_hash() -> str:
    h = hashlib.sha256()
    for name in ("reference.py", "loggen.py"):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def cached_replay(tbl: pa.Table, mode: str, workload: str, seed: int,
                  cache_dir: str) -> dict[str, tuple]:
    """``replay`` through a JSON cache keyed by workload, seed and the
    source of the reference and the generator."""
    path = os.path.join(cache_dir, f"{workload}-{seed}-{_source_hash()}.json")
    if os.path.exists(path):
        with open(path) as f:
            return {k: (None if v[0] is None else tuple(v[0]), *v[1:])
                    for k, v in json.load(f).items()}
    out = replay(tbl, mode)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out

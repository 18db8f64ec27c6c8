"""Seeded CDC log generator owned by the benchmark.

It writes logs in the engine's input format (a ScyllaDB CDC log with the
timeuuid replaced by its (ms, seq) surrogate) but imports nothing from
the engine, so an edit to the engine's own data generator cannot change
what the benchmark feeds in.

Two properties are fixed here on purpose:

* Every live row of a key starts with an INSERT: the first write of a
  key, and the first write after each row or partition delete, is a
  ``ROW_INSERT``.  A row created by UPDATEs alone is exactly what fault
  F1 (phantom rows after the first merge into an empty table) turns
  visible; letting the seeded data create such rows would make the
  number of failed keys depend on the seed.
* F1 is still exercised on every run by ``PROBE_KEYS`` fixed probe keys
  that do not depend on the seed: each gets one UPDATE of ``n_tok`` in
  the first window that loads the empty target and one delete of
  ``n_tok`` in a later window.  The reference drops them; the engine
  keeps them visible with every payload column null.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# column names of the engine's log format
STREAM_ID = "cdc$stream_id"
TIME_MS = "cdc_time_ms"
TIME_SEQ = "cdc_time_seq"
BATCH_SEQ = "cdc$batch_seq_no"
END_OF_BATCH = "cdc$end_of_batch"
OPERATION = "cdc$operation"
TTL = "cdc$ttl"
EPOCH = "epoch"
DEL = "cdc$deleted_"
DEL_ELEMS = "cdc$deleted_elements_"
KEY = "doc_id"
PAYLOAD = ("tokens", "n_tok", "source")

ROW_UPDATE, ROW_INSERT, ROW_DELETE, PARTITION_DELETE = 1, 2, 3, 4

T0_MS = 1_700_000_000_000
TICK_MS = 1_000  # four write batches share one ms tick, told apart by seq

KINDS = np.array(["ins", "ovw", "upd", "cdel", "dadd", "drem", "rdel", "pdel", "xdel"])
WEIGHTS = np.array([0.38, 0.14, 0.16, 0.05, 0.10, 0.07, 0.05, 0.02, 0.03])
SOURCES = np.array(["web", "book", "code", "wiki"])
VOCAB = 30_000
MAX_TOKENS = 12
TTL_FRAC = 0.1

#: fixed probe keys for fault F1 (see module docstring)
PROBE_KEYS = tuple(f"probe_{i:04d}" for i in range(8))


@dataclass(frozen=True)
class Shape:
    n_events: int
    n_docs: int
    n_streams: int = 256
    n_epochs: int = 1
    hot_frac: float = 0.02  # share of events on doc 0


def _sid(epoch: np.ndarray, bucket: np.ndarray) -> pa.Array:
    """16-byte stream ids: 4 bytes epoch | 4 bytes bucket | 8 zero bytes."""
    n = len(epoch)
    raw = np.zeros((n, 16), dtype=np.uint8)
    raw[:, 0:4] = epoch.astype(">u4").view(np.uint8).reshape(n, 4)
    raw[:, 4:8] = bucket.astype(">u4").view(np.uint8).reshape(n, 4)
    return pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(16), n, [None, pa.py_buffer(raw.tobytes())]
    ).cast(pa.binary())


def _lists(mask: np.ndarray, lengths: np.ndarray, values: np.ndarray) -> pa.Array:
    """Nullable list<int32>: rows where ``mask`` is False are null."""
    eff = np.where(mask, lengths, 0)
    offsets = np.zeros(len(mask) + 1, dtype=np.int32)
    np.cumsum(eff, out=offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(values.astype(np.int32), type=pa.int32()),
        mask=pa.array(~mask),
    )


def _sorted_segments(n: int, lengths: np.ndarray, mask: np.ndarray,
                     rng: np.random.Generator) -> np.ndarray:
    """Random vocabulary values, sorted within each row's segment."""
    eff = np.where(mask, lengths, 0)
    vals = rng.integers(0, VOCAB, size=int(eff.sum()))
    seg = np.repeat(np.arange(n), eff)
    return vals[np.lexsort((vals, seg))]


def _insert_first(kind: np.ndarray, doc: np.ndarray) -> np.ndarray:
    """Mask of events that open a live row: the first write of each key
    and the first write after each of its deletes.  Event order is index
    order (it matches (time, seq, batch_seq) by construction)."""
    is_del = np.isin(kind, ("rdel", "pdel", "xdel"))
    order = np.argsort(doc, kind="stable")
    d, dl = doc[order], is_del[order]
    start = np.ones(len(d), dtype=bool)
    start[1:] = (d[1:] != d[:-1]) | dl[:-1]
    seg = np.cumsum(start) - 1
    writes = np.flatnonzero(~dl)
    _, first = np.unique(seg[writes], return_index=True)
    out = np.zeros(len(d), dtype=bool)
    out[order[writes[first]]] = True
    return out


def generate(shape: Shape, seed: int) -> pa.Table:
    """The random part of the log (no probes), with an ``epoch`` column."""
    rng = np.random.default_rng(seed)
    n = shape.n_events
    blens = rng.choice(np.array([1, 1, 1, 1, 2, 3]), size=n + 8)
    cum = np.cumsum(blens)
    n_batches = int(np.searchsorted(cum, n) + 1)
    blens = blens[:n_batches]
    blens[-1] -= int(cum[n_batches - 1] - n)
    blens = blens[blens > 0]
    batch = np.repeat(np.arange(len(blens)), blens)
    tick = batch // 4
    time_ms = T0_MS + tick * TICK_MS
    time_seq = (batch % 4).astype(np.int64)
    epoch = (tick * shape.n_epochs // (int(tick[-1]) + 1)).astype(np.int32)

    doc = rng.integers(0, shape.n_docs, size=n)
    if shape.hot_frac > 0:
        doc[rng.random(n) < shape.hot_frac] = 0
    bucket = (doc % shape.n_streams).astype(np.int64)

    # batch_seq / end_of_batch per (batch, stream), in event order
    g = batch.astype(np.int64) * shape.n_streams + bucket
    order = np.argsort(g, kind="stable")
    gs = g[order]
    starts = np.r_[0, np.flatnonzero(np.diff(gs)) + 1]
    glens = np.diff(np.r_[starts, n])
    batch_seq = np.empty(n, dtype=np.int32)
    batch_seq[order] = (np.arange(n) - np.repeat(starts, glens)).astype(np.int32)
    end_of_batch = np.zeros(n, dtype=bool)
    end_of_batch[order[np.r_[starts[1:] - 1, n - 1]]] = True

    kind = KINDS[rng.choice(len(KINDS), size=n, p=WEIGHTS)]
    op = np.full(n, ROW_UPDATE, dtype=np.int8)
    op[kind == "ins"] = ROW_INSERT
    op[kind == "rdel"] = ROW_DELETE
    op[kind == "pdel"] = PARTITION_DELETE
    op[kind == "xdel"] = -ROW_DELETE  # TTL expiration
    op[_insert_first(kind, doc)] = ROW_INSERT

    tok_len = rng.integers(2, MAX_TOKENS + 1, size=n)
    has_tokens = np.isin(kind, ("ins", "ovw", "dadd"))
    tok_len[kind == "dadd"] = rng.integers(1, 4, size=int((kind == "dadd").sum()))
    tokens = _lists(has_tokens, tok_len, _sorted_segments(n, tok_len, has_tokens, rng))
    drem = kind == "drem"
    del_len = rng.integers(1, 4, size=n)
    del_elems = _lists(drem, del_len, _sorted_segments(n, del_len, drem, rng))

    pick = rng.integers(0, 3, size=n)  # 0: n_tok, 1: source, 2: both
    upd = kind == "upd"
    has_n_tok = np.isin(kind, ("ins", "ovw")) | (upd & (pick != 1))
    has_source = (kind == "ins") | (upd & (pick != 0))
    n_tok = tok_len.astype(np.int32)
    n_tok[~has_tokens] = rng.integers(0, 64, size=int((~has_tokens).sum()))
    source = SOURCES[rng.integers(0, len(SOURCES), size=n)]
    cpick = rng.integers(0, 3, size=n)  # column a 'cdel' tombstones
    cdel = kind == "cdel"
    is_write = np.isin(kind, ("ins", "ovw", "upd"))
    ttl_mask = is_write & (rng.random(n) < TTL_FRAC)
    ttl = rng.integers(3600, 86_400, size=n).astype(np.int64)
    keys = np.char.add("doc_", np.char.zfill(doc.astype(str), 8))

    return pa.table({
        STREAM_ID: _sid(epoch, bucket),
        TIME_MS: pa.array(time_ms, pa.int64()),
        TIME_SEQ: pa.array(time_seq, pa.int64()),
        BATCH_SEQ: pa.array(batch_seq, pa.int32()),
        END_OF_BATCH: pa.array(end_of_batch),
        OPERATION: pa.array(op, pa.int8()),
        TTL: pa.array(ttl, pa.int64(), mask=~ttl_mask),
        KEY: pa.array(keys, pa.string()),
        "tokens": tokens,
        "n_tok": pa.array(n_tok, pa.int32(), mask=~has_n_tok),
        "source": pa.array(source, pa.string(), mask=~has_source),
        DEL + "tokens": pa.array(np.isin(kind, ("ins", "ovw")) | (cdel & (cpick == 0))),
        DEL_ELEMS + "tokens": del_elems,
        DEL + "n_tok": pa.array(cdel & (cpick == 1)),
        DEL + "source": pa.array(cdel & (cpick == 2)),
        EPOCH: pa.array(epoch, pa.int32()),
    })


def probes(shape: Shape, first: tuple[int, int], second: tuple[int, int]) -> pa.Table:
    """Two events per probe key on a stream of their own: an UPDATE of
    ``n_tok`` at ``first`` = (time_ms, epoch) and a delete of ``n_tok``
    at ``second``, one batch of all probe keys at each instant.  No other
    event touches a probe key, so each key's order is unambiguous."""
    p = len(PROBE_KEYS)
    rows = []
    for (t, ep), upd in ((first, True), (second, False)):
        for i, k in enumerate(PROBE_KEYS):
            rows.append((t, ep, i, i == p - 1, k, upd))
    epoch = np.array([r[1] for r in rows], dtype=np.int32)
    m = len(rows)
    return pa.table({
        STREAM_ID: _sid(epoch, np.full(m, shape.n_streams)),
        TIME_MS: pa.array([r[0] for r in rows], pa.int64()),
        TIME_SEQ: pa.array(np.zeros(m, dtype=np.int64), pa.int64()),
        BATCH_SEQ: pa.array([r[2] for r in rows], pa.int32()),
        END_OF_BATCH: pa.array([r[3] for r in rows]),
        OPERATION: pa.array(np.full(m, ROW_UPDATE), pa.int8()),
        TTL: pa.nulls(m, pa.int64()),
        KEY: pa.array([r[4] for r in rows], pa.string()),
        "tokens": pa.nulls(m, pa.list_(pa.int32())),
        "n_tok": pa.array([7 if r[5] else None for r in rows], pa.int32()),
        "source": pa.nulls(m, pa.string()),
        DEL + "tokens": pa.array(np.zeros(m, dtype=bool)),
        DEL_ELEMS + "tokens": pa.nulls(m, pa.list_(pa.int32())),
        DEL + "n_tok": pa.array([not r[5] for r in rows]),
        DEL + "source": pa.array(np.zeros(m, dtype=bool)),
        EPOCH: pa.array(epoch, pa.int32()),
    })


def write_segments(tbl: pa.Table, directory: str, n_files: int, seed: int) -> None:
    """Write ``tbl`` without its epoch column as ``n_files`` parquet files
    that each cover one contiguous time range, rows shuffled inside a file
    (the engine may rely on the (ms, seq, batch_seq) columns, never on row
    order).  Modification times increase with the time range, so a
    file-stream source discovers the segments in time order."""
    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)
    idx = np.argsort(tbl.column(TIME_MS).to_numpy(), kind="stable")
    tbl = tbl.drop_columns([EPOCH])
    mtime = 1_600_000_000
    for i, ch in enumerate(np.array_split(idx, n_files)):
        if len(ch):
            path = os.path.join(directory, f"part-{i:04d}.parquet")
            pq.write_table(tbl.take(pa.array(rng.permutation(ch))), path)
            os.utime(path, (mtime + i, mtime + i))


def write_epochs(tbl: pa.Table, directory: str, files_per_epoch: int, seed: int) -> None:
    """Epoch-partitioned layout: ``directory/epoch=<n>/part-*.parquet``."""
    epochs = tbl.column(EPOCH).to_numpy()
    for ep in np.unique(epochs):
        sub = tbl.filter(pa.array(epochs == ep))
        write_segments(sub, os.path.join(directory, f"{EPOCH}={ep}"),
                       files_per_epoch, seed + int(ep))

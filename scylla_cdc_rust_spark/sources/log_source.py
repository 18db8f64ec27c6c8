"""Change-log source helpers.

The reference's windowed scan (S8, stream_reader.rs:200-213) needs the
window bounds before issuing the read.  ``time_bounds`` answers the
"what range does this generation cover" question from parquet row-group
footer statistics — a driver-side metadata read, no Spark job — the
analog of the clustering-index min/max the reference gets for free from
Scylla.  ``replay`` falls back to a Spark aggregate when stats are
unavailable.
"""

from __future__ import annotations

import os

import pyarrow.dataset as pads
import pyarrow.parquet as pq

from scylla_cdc_rust_spark.model import EPOCH, TIME_MS


def time_bounds(path: str) -> tuple[int, int] | None:
    """(min, max) of cdc_time_ms from the parquet footers under ``path``,
    or None."""
    lo = hi = None
    try:
        ds = pads.dataset(path, format="parquet")
        for frag in ds.get_fragments():
            md = pq.ParquetFile(frag.path).metadata
            # index among parquet LEAF columns (nested cols expand to leaves)
            idx = next(
                (
                    i
                    for i in range(md.schema.num_columns)
                    if md.schema.column(i).path == TIME_MS
                ),
                None,
            )
            if idx is None:
                return None
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(idx)
                st = col.statistics
                if st is None or not st.has_min_max:
                    return None
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
    except Exception:  # noqa: BLE001 — any surprise falls back to a Spark agg
        return None
    if lo is None:
        return None
    return int(lo), int(hi)


def epochs_present(log_path: str) -> list[int] | None:
    """Generation list from partition directories (S2 analog —
    stream_generations.rs:136-144); None if the log isn't epoch-partitioned."""
    if not os.path.isdir(log_path):
        return None
    eps = []
    for d in os.listdir(log_path):
        if d.startswith(f"{EPOCH}="):
            try:
                eps.append(int(d.split("=", 1)[1]))
            except ValueError:
                return None
    return sorted(eps) or None

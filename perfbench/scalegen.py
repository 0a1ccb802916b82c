"""The k-fold replica of an input directory's events, for token_etl_scaled.

Follows the replica rules `graft.tools.ScaleGen` documents for `events`:
replica r (r = 0..k-1, r = 0 is the original) gets event_id += r * |E| and
user_id += r * (max(user_id) + 1); every other column is copied. The
transfer view caps receivers at 1000 hubs, so the transfer graph grows
denser, not wider. Unlike ScaleGen, the timestamp keeps its on-disk
encoding, and the rows are written in an order permuted by the seed, which
changes no result.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def make_events(src_dir, dst_dir, k, seed):
    """Writes <dst_dir>/events.parquet; returns its row count."""
    src = pq.read_table(os.path.join(src_dir, "events.parquet"))
    n = src.num_rows
    u_max = pc.max(src["user_id"]).as_py() + 1
    parts = []
    for r in range(k):
        t = src
        for name, step in (("event_id", n), ("user_id", u_max)):
            i = t.schema.get_field_index(name)
            t = t.set_column(i, name, pc.add(t[name], pa.scalar(r * step, pa.int64())))
        parts.append(t)
    table = pa.concat_tables(parts)
    table = table.take(np.random.default_rng(seed).permutation(table.num_rows))
    os.makedirs(dst_dir, exist_ok=True)
    tmp = os.path.join(dst_dir, "events.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(dst_dir, "events.parquet"))
    return table.num_rows

"""Seeded input generator for the benchmark.

history_events: the events table grown along the history axis the way
graft.ScaleFixture documents it. Copy k keeps user ids, offsets
event_id by k * posStride(max_id + 1) (the smallest stride >= n that is
coprime to 36000, so each copy lands on fresh lat/lon phases) and
shifts ts by shift_k * 31 days, where shift is a permutation of
0..factor-1 drawn from the seed.

write_stream_fixture: the same rows, sorted by time and cut into
arrival slices. The
cut points are drawn from the seed and moved forward to the next change
of ts, so no timestamp straddles two slices.

The same (source, factor, seed) gives byte-identical files.
"""
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DAY_US = 86_400_000_000


def pos_stride(n):
    m = n
    while math.gcd(m, 36000) != 1:
        m += 1
    return m


def history_events(src_events, factor, seed):
    src = pq.read_table(src_events)
    ids = src.column("event_id").to_numpy().astype(np.int64)
    stride = pos_stride(int(ids.max()) + 1 if len(ids) else 1)
    shifts = np.random.default_rng(seed).permutation(factor)
    ts_type = src.schema.field("ts").type
    ts_us = pc.cast(src.column("ts"), pa.timestamp("us", ts_type.tz))
    ts_us = ts_us.cast(pa.int64()).to_numpy()
    copies = []
    for k in range(factor):
        cols = {}
        for name in src.column_names:
            if name == "event_id":
                cols[name] = pa.array(ids + k * stride, src.schema.field(name).type)
            elif name == "ts":
                shifted = ts_us + int(shifts[k]) * 31 * DAY_US
                cols[name] = pa.array(shifted, pa.int64()).cast(
                    pa.timestamp("us", ts_type.tz))
            else:
                cols[name] = src.column(name)
        copies.append(pa.table(cols))
    return pa.concat_tables(copies)


def sort_by_time(table):
    return table.sort_by([("ts", "ascending"), ("event_id", "ascending")])


def slice_bounds(ts_sorted, n_slices, seed):
    """Start offsets of n_slices non-empty, time-ordered slices."""
    n = len(ts_sorted)
    rng = np.random.default_rng(seed + 1)
    # Change points: rows where ts differs from the previous row; a cut
    # is only ever placed on one.
    change = np.flatnonzero(np.diff(ts_sorted)) + 1
    if len(change) < n_slices - 1:
        raise ValueError("too few distinct timestamps for the slice count")
    # Seeded cut points around even spacing (+-10% of a slice), each
    # moved forward to the next ts change.
    even = np.arange(1, n_slices) * n / n_slices
    jitter = rng.uniform(-0.1, 0.1, n_slices - 1) * n / n_slices
    cuts = []
    for target in np.sort(even + jitter):
        i = np.searchsorted(change, target)
        while i < len(change) and cuts and change[i] <= cuts[-1]:
            i += 1
        cuts.append(int(change[min(i, len(change) - 1)]))
    if len(set(cuts)) != len(cuts):
        raise ValueError("slice cut points collided")
    return [0] + cuts


def write_table(table, path, mtime=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def write_stream_fixture(src_events, factor, n_slices, seed, out_dir):
    """Writes out_dir/fixture/events.parquet (all rows, one file, for the
    batch twins and the DuckDB oracle) and out_dir/slices/part-NNNNN.parquet
    (the arrival slices, mtimes increasing in slice order). Returns the
    row count of each slice."""
    events = sort_by_time(history_events(src_events, factor, seed))
    write_table(events, os.path.join(out_dir, "fixture", "events.parquet"))
    ts = pc.cast(events.column("ts"), pa.int64()).to_numpy()
    starts = slice_bounds(ts, n_slices, seed)
    ends = starts[1:] + [len(events)]
    base = 1_600_000_000
    for i, (s, e) in enumerate(zip(starts, ends)):
        write_table(events.slice(s, e - s),
                    os.path.join(out_dir, "slices", f"part-{i:05d}.parquet"),
                    mtime=base + i)
    return [e - s for s, e in zip(starts, ends)]

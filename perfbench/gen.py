"""Seeded input generator and stager for the benchmark.

Everything here is a pure function of the seed: the same seed gives
byte-identical rows. Staging writes files in event-time (timestamp)
order and stamps them with strictly increasing modification times, the
order in which Spark's file source admits them.
"""
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS_PER_FILE = 4096
# Share of each file's events that is a redelivery of an event from the
# previous file (same event, same timestamp, so the same msg-id). One
# file spans about 41 s of event time, well inside the relay's 2-minute
# dedup window, so every redelivery must be suppressed by the dedup
# state, none by the watermark. 1% is a visible but minor share, as
# after a publisher retry storm.
REDELIVERED_SHARE = 0.01
# Ledger skew: this share of events goes to one hot ledger, the rest is
# uniform over the other ledgers. A hot ledger is the common shape of a
# production TigerBeetle cluster (one settlement ledger) and gives one
# routing subject most of the traffic.
HOT_LEDGER_SHARE = 0.10
HOT_LEDGER = 7
LEDGERS = 1500
EVENT_TYPES = ["single_phase", "two_phase_pending", "two_phase_posted",
               "two_phase_voided", "two_phase_expired"]
# mean event-time gap between consecutive events
MEAN_GAP_US = 10_000
TS0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def rng_for(seed, stream):
    """Independent generator per (seed, stream) pair."""
    return np.random.default_rng([int(seed), int(stream)])


def event_files(seed, stream, n_files, per_file=EVENTS_PER_FILE,
                redelivered_share=REDELIVERED_SHARE):
    """`n_files` event files as pyarrow tables, in timestamp order.

    File j holds `per_file` new events with strictly increasing
    timestamps, followed (for j >= 1) by redeliveries of events drawn
    from file j-1. Returns (tables, number of redelivered rows).
    """
    rng = rng_for(seed, stream)
    n = n_files * per_file
    ts = TS0_US + np.cumsum(rng.integers(1, 2 * MEAN_GAP_US, n))
    event_id = np.arange(n, dtype=np.int64) + stream * 10_000_000_000
    hot = rng.random(n) < HOT_LEDGER_SHARE
    user_id = np.where(hot, HOT_LEDGER, rng.integers(0, LEDGERS, n))
    types = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.exponential(50.0, n), 2)
    k = rng.integers(0, 100, n)
    per_dup = int(round(per_file * redelivered_share))
    tables, redelivered = [], 0
    for j in range(n_files):
        idx = np.arange(j * per_file, (j + 1) * per_file)
        if j > 0 and per_dup > 0:
            prev = rng.choice(per_file, per_dup, replace=False) + (j - 1) * per_file
            idx = np.concatenate([idx, np.sort(prev)])
            redelivered += per_dup
        tables.append(pa.Table.from_arrays([
            pa.array(event_id[idx]),
            pa.array(ts[idx], type=pa.timestamp("us", tz="UTC")),
            pa.array(user_id[idx].astype(np.int64)),
            pa.array([EVENT_TYPES[t] for t in types[idx]]),
            pa.array(value[idx]),
            pa.array([f'{{"k": {v}}}' for v in k[idx]]),
        ], schema=EVENT_SCHEMA))
    return tables, redelivered


def stage(tables, directory):
    """Write tables as `fNNNNNN.parquet` in order, with strictly increasing
    mtimes 10 ms apart, ending now. Returns the manifest entries
    [{name, rows}]."""
    os.makedirs(directory, exist_ok=True)
    step_ns = 10_000_000
    mtime0_ns = time.time_ns() - len(tables) * step_ns
    entries = []
    for j, t in enumerate(tables):
        name = f"f{j:06d}.parquet"
        path = os.path.join(directory, name)
        pq.write_table(t, path)
        m = mtime0_ns + j * step_ns
        os.utime(path, ns=(m, m))
        entries.append({"name": name, "rows": t.num_rows})
    return entries

#!/usr/bin/env python3
"""Seeded input generator for the incremental-landing workload.

    python3 perfbench/gen.py <out_dir> --seed N

It writes the standing tables, the per-batch delta files, the streamed
event files and the feed specs that `PipelineRunner.runFile` and
`StreamingRunner` execute. The same seed gives the same inputs. Its shape
parameters are the constants below (recorded in README.md).
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- incremental-landing shape (README.md "Inputs") -----------------------
UPSERT_STANDING = 250_000     # standing upsert table rows
CDC_STANDING = 50_000        # standing cdc table rows (tombstone form)
ROLLUP_KEYS = 10_000           # standing rollup state keys
K = 1                         # batches per landing mode per round
UPSERT_DELTA = 25_000         # rows per upsert batch
UPSERT_HOT = 10_000           # hot key set the updates hit
UPSERT_ZIPF = 1.2             # Zipf exponent over the hot set
UPSERT_INSERT_SHARE = 0.2     # share of an upsert batch that is new keys
CDC_DELTA = 25_000            # rows per cdc batch
CDC_DELETE_SHARE = 0.1        # share of a cdc batch that deletes
CDC_STRAGGLER_SHARE = 0.05    # share of a cdc batch that is out-of-order
CDC_INSERT_SHARE = 0.1        # share of a cdc batch that is new keys
ROLLUP_DELTA = 25_000         # raw rows per rollup delta
STREAM_FILES = 2              # event files, one micro-batch each
STREAM_ROWS_PER_FILE = 15_000
STREAM_WINDOW = "10 minutes"
STREAM_DELAY = "0 seconds"

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

US_PER_DAY = 86_400_000_000
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _ts(us, tz=None):
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us", tz=tz))


def _payload(rng, n):
    return np.array([f"p{x:06d}" for x in rng.integers(0, 1_000_000, n)])


def landing(out, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(f"{out}/standing", exist_ok=True)
    os.makedirs(f"{out}/delta", exist_ok=True)
    os.makedirs(f"{out}/stream", exist_ok=True)

    # upsert: standing (k, v, ver, amount); batch b updates a Zipf-skewed
    # hot set and inserts fresh keys; versions rise with batch order
    n0 = UPSERT_STANDING
    _write(f"{out}/standing/upsert.parquet", {
        "k": pa.array(np.arange(n0), pa.int64()), "v": _payload(rng, n0),
        "ver": pa.array(np.zeros(n0, np.int64)),
        "amount": pa.array(rng.integers(0, 10_000, n0), pa.int64())})
    hot = rng.permutation(n0)[:UPSERT_HOT]
    n_ins = int(UPSERT_DELTA * UPSERT_INSERT_SHARE)
    for b in range(1, K + 1):
        n_upd = UPSERT_DELTA - n_ins
        ranks = np.minimum(rng.zipf(UPSERT_ZIPF, n_upd), UPSERT_HOT) - 1
        keys = np.concatenate([hot[ranks], n0 + (b - 1) * n_ins + np.arange(n_ins)])
        _write(f"{out}/delta/upsert_{b}.parquet", {
            "k": pa.array(keys, pa.int64()), "v": _payload(rng, UPSERT_DELTA),
            "ver": pa.array(b * 10_000_000 + np.arange(UPSERT_DELTA), pa.int64()),
            "amount": pa.array(rng.integers(0, 10_000, UPSERT_DELTA), pa.int64())})

    # cdc: standing rows in tombstone form (op kept); every seq is unique.
    # Stragglers carry a seq below every standing seq, so they must lose,
    # including against a tombstone (no resurrection of a deleted key).
    c0 = CDC_STANDING
    _write(f"{out}/standing/cdc.parquet", {
        "k": pa.array(np.arange(c0), pa.int64()), "v": _payload(rng, c0),
        "seq": pa.array(1_000_000_000 + np.arange(c0), pa.int64()),
        "op": np.full(c0, "I")})
    n_del = int(CDC_DELTA * CDC_DELETE_SHARE)
    n_str = int(CDC_DELTA * CDC_STRAGGLER_SHARE)
    n_cins = int(CDC_DELTA * CDC_INSERT_SHARE)
    n_cupd = CDC_DELTA - n_del - n_str - n_cins
    for b in range(1, K + 1):
        keys = np.concatenate([
            rng.integers(0, c0, n_cupd + n_del + n_str),
            c0 + (b - 1) * n_cins + np.arange(n_cins)])
        ops = np.array(["U"] * n_cupd + ["D"] * n_del + ["U"] * n_str + ["I"] * n_cins)
        seq = (b + 1) * 1_000_000_000 + np.arange(CDC_DELTA)
        seq[n_cupd + n_del:n_cupd + n_del + n_str] = (
            500_000_000 + b * 10_000_000 + np.arange(n_str))
        perm = rng.permutation(CDC_DELTA)
        _write(f"{out}/delta/cdc_{b}.parquet", {
            "k": pa.array(keys[perm], pa.int64()),
            "v": _payload(rng, CDC_DELTA),
            "seq": pa.array(seq[perm], pa.int64()), "op": ops[perm]})

    # rollup: standing per-key state (count, sum, min, max) and raw deltas
    g0 = ROLLUP_KEYS
    lo = rng.integers(0, 1000, g0)
    _write(f"{out}/standing/rollup.parquet", {
        "g": pa.array(np.arange(g0), pa.int64()),
        "n": pa.array(rng.integers(1, 50, g0), pa.int64()),
        "total": pa.array(rng.integers(0, 1_000_000, g0), pa.int64()),
        "lo": pa.array(lo, pa.int64()),
        "hi": pa.array(lo + rng.integers(0, 1000, g0), pa.int64())})
    for b in range(1, K + 1):
        _write(f"{out}/delta/rollup_{b}.parquet", {
            "g": pa.array(rng.integers(0, int(g0 * 1.05), ROLLUP_DELTA), pa.int64()),
            "amount": pa.array(rng.integers(0, 2000, ROLLUP_DELTA), pa.int64())})

    # stream: time-ordered event files over disjoint consecutive ranges,
    # mtimes increasing so the file source reads them in time order
    n_ev = STREAM_FILES * STREAM_ROWS_PER_FILE
    ts = np.sort(EPOCH_2024 + rng.integers(0, 2 * US_PER_DAY, n_ev))
    for f in range(STREAM_FILES):
        s = slice(f * STREAM_ROWS_PER_FILE, (f + 1) * STREAM_ROWS_PER_FILE)
        p = f"{out}/stream/events_{f:03d}.parquet"
        _write(p, {
            "event_id": pa.array(np.arange(n_ev)[s], pa.int64()),
            "ts": _ts(ts[s], "UTC"),
            "user_id": pa.array(rng.integers(0, 5000, STREAM_ROWS_PER_FILE), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, STREAM_ROWS_PER_FILE)],
            "amount": pa.array(rng.integers(0, 10_000, STREAM_ROWS_PER_FILE), pa.int64())})
        os.utime(p, (1_700_000_000 + f, 1_700_000_000 + f))

    feeds = {
        "upsert": {"key": "k", "versionCol": "ver"},
        "cdc": {"key": "k", "seqCols": ["seq"]},
        "rollup": {"rollupKeys": ["g"], "measures": [
            "n=count", "total=sum(amount)", "lo=min(amount)", "hi=max(amount)"]},
    }
    for mode, opts in feeds.items():
        spec = {"name": f"{mode}-${{batch}}",
                "extracts": [{"view": "delta", "format": "parquet", "path": "${delta}"}],
                "loads": [dict({"format": "parquet", "path": "${target}", "mode": mode}, **opts)]}
        with open(f"{out}/{mode}_feed.json", "w") as fh:
            json.dump(spec, fh, indent=1)
    stream = {
        "name": "windowed-events",
        "source": {"view": "ev", "format": "parquet", "path": "${events}",
                   "schema": "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
                             "event_type STRING, amount BIGINT",
                   "watermark": {"column": "ts", "delay": STREAM_DELAY},
                   "options": {"maxFilesPerTrigger": "1"}},
        "transforms": [{"view": "windowed", "sql":
            f"SELECT window(ts, '{STREAM_WINDOW}').start AS ws, event_type, "
            "COUNT(*) AS n, SUM(amount) AS total, MAX(amount) AS top "
            f"FROM ev GROUP BY window(ts, '{STREAM_WINDOW}'), event_type"}],
        "sink": {"format": "parquet", "path": "${sink}", "outputMode": "append"},
        "trigger": "availableNow"}
    with open(f"{out}/stream_feed.json", "w") as fh:
        json.dump(stream, fh, indent=1)
    with open(f"{out}/shape.json", "w") as fh:
        json.dump({"k": K}, fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    landing(a.out, a.seed)


if __name__ == "__main__":
    main()

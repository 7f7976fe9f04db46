"""Seeded input generator for the benchmark workloads.

The events table has the schema and the shape of the program's sf0.1 test
data (FIXTURES.md, section B; seed 42), so the program and
its DuckDB oracles read the generated directory exactly as they read that
data. Each shape constant below names the sf0.1 figure it follows. The same
seed gives byte-identical files; `properties()` describes what was generated
(rows, distinct keys, key skew, duplicate share).

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# taxi_batch: the events table at the size of the sf0.1 test data
TAXI_EVENTS = 100_000
# stream_cascade: rides land in chunks of CHUNK_EVENTS events, in event-id
# order. Pickups fall in a bounded set of grid cells (as a city's do), so
# the cascade's state stops growing after the first chunks.
CHUNK_EVENTS = 20_000
STREAM_CHUNKS = 12
STREAM_LAT_ROWS = 40  # event_id % 540 picks the pickup latitude row

# The sf0.1 events, measured: 100,000 rows, event_id 0..99,999; user_id
# uniform over 0..1,499 (most active user 1.48x the mean, every user has
# all five types); event_type uniform (each 0.198-0.203); ts a Poisson
# arrival process, non-decreasing in event_id, from 2024-01-01 over 30 days
# (gaps with mean 25.9 s, coefficient of variation 1.0; 3,205-3,471 per
# day), microsecond resolution; value exponential with mean 49.9 and median
# 34.8, two decimals; props '{"k": <0..99>}', uniform.
USERS = 1500  # sf0.1: 1,500 distinct user_id
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]  # sf0.1: uniform
T0_S = 1_704_067_200  # sf0.1: first event on 2024-01-01 (00:00:00 UTC)
SPAN_S = 30 * 86_400  # sf0.1: last event on 2024-01-30
VALUE_MEAN = 50.0  # sf0.1: mean 49.9, median 34.8 (= 50 ln 2)
PROPS_KEYS = 100  # sf0.1: 100 distinct props


def _rng(seed, stream):
    # one independent generator per table, so sizes can change per table
    # without shifting the others
    return np.random.default_rng([seed, stream])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def events(seed, n, stream=False):
    """Events shaped like sf0.1: ids 0..n-1 and ts sorted uniform within 30
    days (Poisson arrivals in id order), users and types uniform. For the
    stream, ts is in whole seconds (the ride CSV format's resolution) and
    ids are increasing but confined to STREAM_LAT_ROWS residues mod 540,
    low rows more likely."""
    r = _rng(seed, 1)
    ts_us = T0_S * 1_000_000 + np.sort(r.integers(0, SPAN_S * 1_000_000, n))
    ids = np.arange(n, dtype=np.int64)
    if stream:
        ts_us -= ts_us % 1_000_000
        rows = np.minimum(r.geometric(4.0 / STREAM_LAT_ROWS, n) - 1, STREAM_LAT_ROWS - 1)
        ids = ids * 540 + rows
    return pa.table({
        "event_id": pa.array(ids),
        "ts": pa.array(ts_us.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, USERS, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n)]),
        "value": pa.array(np.round(r.exponential(VALUE_MEAN, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, PROPS_KEYS, n)]),
    })


def _float_texts(values):
    """Shortest text that parses back to the same float32."""
    return np.array([np.format_float_positional(v, unique=True, trim="-")
                     for v in values.astype(np.float32)])


# Ride columns derived from an event exactly as the program's
# Rides.fromEvents does (double arithmetic, one final cast to float).
_LON = _float_texts(-74.05 + np.arange(520) * 0.0007)
_LAT = _float_texts(40.5 + np.arange(540) * 0.001)


def ride_csv_lines(ev):
    """The reference CSV wire format of the rides derived from `ev`:
    rideId,START|END,eventTime,otherTime,startLon,startLat,endLon,endLat,cnt
    """
    eid = ev.column("event_id").to_numpy()
    uid = ev.column("user_id").to_numpy()
    ts = ev.column("ts").to_numpy().astype("datetime64[s]")
    start = eid % 2 == 0
    dur = (1 + uid % 1800).astype("timedelta64[s]")
    other = np.where(start, ts + dur, ts - dur)

    def fmt(t):
        return [x.replace("T", " ") for x in np.datetime_as_string(t, unit="s").tolist()]

    cols = [eid.tolist(), np.where(start, "START", "END").tolist(), fmt(ts), fmt(other),
            _LON[uid % 520].tolist(), _LAT[eid % 540].tolist(),
            _LON[(uid + 131) % 520].tolist(), _LAT[(eid + 77) % 540].tolist(),
            (1 + eid % 4).tolist()]
    return [",".join(map(str, row)) for row in zip(*cols)]


def _key_stats(keys):
    _, counts = np.unique(keys, return_counts=True)
    return {"distinct_keys": int(len(counts)),
            "key_skew": round(float(counts.max() / counts.mean()), 4)}


def properties(out):
    """Rows, distinct keys, key skew and duplicate share of a generated dir."""
    props = {}
    if os.path.exists(f"{out}/events.parquet"):
        ev = pq.read_table(f"{out}/events.parquet")
        rest = ev.drop_columns(["event_id"]).to_pandas()
        props["events"] = {"rows": ev.num_rows,
                           **_key_stats(ev.column("user_id").to_numpy()),
                           # rows equal to an earlier one in all but event_id
                           "dup_share": round(float(rest.duplicated().mean()), 6)}
    if os.path.isdir(f"{out}/chunks"):
        props["chunks"] = {"count": len(os.listdir(f"{out}/chunks")),
                           "events_per_chunk": CHUNK_EVENTS}
    return props


def landed_events(inp, chunks, out):
    """The events of the first `chunks` stream chunks, for the oracle."""
    ev = pq.read_table(f"{inp}/events.parquet").slice(0, chunks * CHUNK_EVENTS)
    _write(ev, f"{out}/events.parquet")


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    if workload == "taxi_batch":
        _write(events(seed, TAXI_EVENTS), f"{out}/events.parquet")
    elif workload == "stream_cascade":
        ev = events(seed, CHUNK_EVENTS * STREAM_CHUNKS, stream=True)
        _write(ev, f"{out}/events.parquet")
        os.makedirs(f"{out}/chunks", exist_ok=True)
        lines = ride_csv_lines(ev)
        for k in range(STREAM_CHUNKS):
            part = lines[k * CHUNK_EVENTS:(k + 1) * CHUNK_EVENTS]
            with open(f"{out}/chunks/chunk_{k:05d}.csv", "w") as f:
                f.write("\n".join(part) + "\n")
    else:
        raise ValueError(f"unknown workload {workload}")
    return properties(out)


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))

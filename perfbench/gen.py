"""Seeded input generator for the pipeline benchmark.

Writes reference-shaped gas day files: a `Time (s)` column plus 19 sensor
channels (20 columns), named `YYYYMMDD_HHMMSS.csv`. A dense day covers
about 25 h of samples, so the pipeline's `Time (s) <= 86400` filter drops
the tail; a thin day is the same shape with few rows (the calendar axis).
Every value carries at most 4 decimal places, so exact decimal sums of the
raw files and of the store agree to the last digit.

The content of one file depends only on (seed, date, rows), never on which
other files are written in the same call, so a tick file is the same bytes
whether it is generated alone or with its history. `workloads.py` calls
`write_days`.
"""
import datetime
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

HEADER = ("Time (s),CO (ppm),Humidity (%r.h.),Temperature (C),"
          "Flow rate (mL/min),Heater voltage (V)," +
          ",".join(f"R{i} (MOhm)" for i in range(1, 15)))
FIELDS = HEADER.split(",")[1:]
# Per-channel value envelopes of the reference dataset (tools/make_gas.py).
RANGES = [(0, 20), (10, 80), (15, 35), (180, 260), (0.2, 0.9)] + [(0.1, 60)] * 14
DAY_SECONDS = 86400.0
# hours of samples in one file: one more than a day, so the filter fires
HOURS = 25.0


def day_rows(hz):
    return int(round(hz * 3600 * HOURS))


def write_day(out, seed, date, hz):
    """Write one day file; returns its name and the number of rows the 24 h
    filter keeps."""
    n = day_rows(hz)
    rng = np.random.default_rng([seed, date.toordinal(), n])
    # the clock part of the name varies by day but not by seed, so every
    # seed lays the same files out over the same writer partitions
    clock = (date.toordinal() * 7919) % 86400
    name = (f"{date.strftime('%Y%m%d')}_{clock // 3600:02d}"
            f"{clock // 60 % 60:02d}{clock % 60:02d}.csv")
    # seconds-of-day in units of 1e-4 s, so the written value has at most
    # 4 decimals and the boundary sample 86400.0000 is exact when it occurs
    t = np.round(np.arange(n) * (10000.0 / hz)).astype(np.int64)
    cols = [t / 10000.0]
    for lo, hi in RANGES:
        cols.append(rng.integers(int(lo * 10000), int(hi * 10000) + 1, n) / 10000.0)
    table = pa.table([pa.array(c, pa.float64()) for c in cols],
                     names=[f"c{i}" for i in range(len(cols))])
    path = Path(out) / name
    with open(path, "wb") as f:
        f.write((HEADER + "\n").encode())
        pacsv.write_csv(table, f, pacsv.WriteOptions(include_header=False))
    kept = int(np.count_nonzero(cols[0] <= DAY_SECONDS))
    return name, kept


def write_days(out, seed, start, days, hz):
    """Write `days` consecutive day files from `start`; returns
    [(name, kept_rows)] in date order."""
    Path(out).mkdir(parents=True, exist_ok=True)
    return [write_day(out, seed, start + datetime.timedelta(days=d), hz)
            for d in range(days)]


def digest(paths):
    """CRC32 over the bytes of `paths` in order (the generator self-check)."""
    c = 0
    for p in paths:
        c = zlib.crc32(Path(p).read_bytes(), c)
    return c


"""The benchmark's workloads: input shapes and the seeded panel rounds.

Every workload runs the same cycle of rounds (a cold backfill through the
batch pipeline followed by the streaming twin over the same files; one
scheduler tick on a new day file followed by the first panel over that
day; a no-op tick and one dashboard panel of each kind). The
snapshot-layout store is built once per run, in the set-up. What differs
is the input shape, which moves the work between layers:

- `dense`: four full-shape days (25 h each, so the 24 h filter fires) at a
  reduced sample rate. Row volume dominates: the write path with every core
  busy, the one-writer funnel of a one-file tick, and panels reading few
  large partitions.
- `calendar`: 24 thin days plus two dense ones. Partition count dominates:
  discovery re-reading every historical CSV on each tick, manifest
  resolution over many partitions, streaming in several micro-batches, and
  panels whose windows span days to weeks.
"""
import datetime

import numpy as np

import gen

START = datetime.date(2016, 10, 7)
PANEL_KINDS = ["field_range", "day_mean", "window_agg", "wide_table",
               "snapshot_range"]

# hz of a dense day (~25 h at this rate: 9,000 raw rows, ~164 k points)
DENSE_HZ = 0.1
# a thin day: 96 raw rows spread over 25 h
THIN_HZ = 96 / (25 * 3600)

SHAPES = {
    "dense": {
        "base": [(4, DENSE_HZ)],
        "ticks": (3, DENSE_HZ),
        # panel windows: (first day, counted from START; start hour; hours)
        "windows": {"field_range": (1, 6, 3), "day_mean": (2, 0, 24),
                    "window_agg": (1, 12, 24), "wide_table": (2, 10, 0.5),
                    "snapshot_range": (1, 6, 3)},
    },
    "calendar": {
        "base": [(24, THIN_HZ), (2, DENSE_HZ)],
        "ticks": (3, THIN_HZ),
        # a 3-day range over thin days, the mean of a dense day, two weeks
        # of hourly aggregates that take in both dense days, a wide day
        "windows": {"field_range": (10, 0, 72), "day_mean": (25, 0, 24),
                    "window_agg": (12, 0, 24 * 14), "wide_table": (20, 0, 24),
                    "snapshot_range": (10, 0, 72)},
    },
}
# warm-up inputs: one small day, then one small tick day
WARM_HZ = 0.02
# operations per measured cycle, in rounds: round i makes write round i (a
# cold backfill and the streaming twin over the same files) while
# i < BACKFILLS, tick i while there are tick files, and a dashboard round
# (a no-op tick and one panel of each kind); rounds go on until the
# measured time is over, at least MIN_ROUNDS of them. A traced cycle makes
# one write round and exactly MIN_ROUNDS rounds
BACKFILLS = 2
MIN_ROUNDS = 3
# panel rounds in the run description (the harness cycles through them)
ROUNDS = 24


def make_days(out, seed, start, parts):
    """Writes consecutive day files for `parts` = [(days, hz)]; returns
    [(name, date, raw_rows, kept_rows)] and the next free date."""
    files = []
    day = start
    for days, hz in parts:
        for name, kept in gen.write_days(out, seed, day, days, hz):
            files.append((name, day, gen.day_rows(hz), kept))
            day += datetime.timedelta(days=1)
    return files, day


def panel(kind, field, start, hours):
    stop = start + datetime.timedelta(hours=hours)
    return (kind, field, start.strftime("%Y-%m-%d %H:%M:%S"),
            stop.strftime("%Y-%m-%d %H:%M:%S"),
            (start.date() - datetime.timedelta(days=1)).isoformat(),
            stop.date().isoformat())


def panel_rounds(rng, windows):
    """ROUNDS rounds of one panel of each kind. Every round reads the same
    window per kind, so the seed changes the fields and values a panel
    reads but not the partitions or rows it scans."""
    out = []
    for _ in range(ROUNDS):
        for kind in PANEL_KINDS:
            day, hour, hours = windows[kind]
            start = datetime.datetime.combine(
                START + datetime.timedelta(days=day), datetime.time()) + \
                datetime.timedelta(hours=hour)
            field = gen.FIELDS[int(rng.integers(len(gen.FIELDS)))]
            out.append(panel(kind, field, start, hours))
    return out


def build(name, seed, root):
    """Generates the inputs of workload `name` under `root` and returns the
    run description the harness reads (a list of tab-separated lines)."""
    shape = SHAPES[name]
    base_dir, tick_dir = root / "base", root / "ticks"
    warm_dir, warm_tick_dir = root / "warm", root / "warm_ticks"
    base, nxt = make_days(base_dir, seed, START, shape["base"])
    n_ticks, tick_hz = shape["ticks"]
    ticks, _ = make_days(tick_dir, seed, nxt, [(n_ticks, tick_hz)])
    warm, nxt = make_days(warm_dir, seed + 1_000_003, START, [(1, WARM_HZ)])
    warm_ticks, _ = make_days(warm_tick_dir, seed + 1_000_003, nxt, [(1, WARM_HZ)])
    panels = panel_rounds(np.random.default_rng([seed, 17]), shape["windows"])
    # the snapshot store holds the base days up to the last day its panels
    # read
    snap_last = datetime.date.fromisoformat(
        next(p for p in panels if p[0] == "snapshot_range")[5])
    snap = [f for f in base if f[1] <= snap_last]
    warm_start = datetime.datetime.combine(warm[0][1], datetime.time())
    warm_panels = [panel(k, gen.FIELDS[0], warm_start +
                         datetime.timedelta(hours=1), 2) for k in PANEL_KINDS]
    n_fields = len(gen.FIELDS)
    lines = [
        ("base", base_dir), ("ticks", tick_dir), ("warm", warm_dir),
        ("warm_ticks", warm_tick_dir),
        ("warm_points", sum(f[3] for f in warm) * n_fields),
        ("base_points", sum(f[3] for f in base) * n_fields),
        ("snap_points", sum(f[3] for f in snap) * n_fields),
        ("backfills", BACKFILLS), ("min_rounds", MIN_ROUNDS),
    ]
    lines += [("snap_file", f[0]) for f in snap]
    lines += [("tick", f[0], f[1].isoformat(), f[2]) for f in ticks]
    lines += [("warm_tick", f[0], f[1].isoformat(), f[2]) for f in warm_ticks]
    lines += [("panel",) + p for p in panels]
    lines += [("warm_panel",) + p for p in warm_panels]
    files = {"base": [base_dir / f[0] for f in base],
             "ticks": [tick_dir / f[0] for f in ticks],
             "snapshot": [base_dir / f[0] for f in snap]}
    return ["\t".join(str(x) for x in line) for line in lines], files

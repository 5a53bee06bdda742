"""Independent correctness checks: DuckDB recomputes, from the raw day CSVs,
what the program's stores and panels must hold.

The point model is rebuilt from the reference semantics: rows with
`Time (s) <= 86400` are kept, `_time` is the file name's day plus the
seconds truncated to microseconds, each of the 19 channels is one point.
Sums are exact decimals of the values as written.
"""
import math
from decimal import Decimal

import duckdb

import gen

def points(con, table, files):
    """Creates `table`: one row per point of `files`."""
    paths = ", ".join(f"'{p}'" for p in files)
    types = ", ".join(["'Time (s)': 'DOUBLE'"] +
                      [f"'{f}': 'DECIMAL(18, 4)'" for f in gen.FIELDS])
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE wide AS
        SELECT * FROM read_csv([{paths}], header = true, columns = {{{types}}},
                               filename = true)
        WHERE "Time (s)" <= 86400""")
    con.execute("""
        CREATE OR REPLACE TEMP TABLE files AS
        SELECT filename, regexp_extract(filename, '([^/]+)$', 1) AS src,
               strptime(regexp_extract(filename, '([0-9]{8})_[0-9]{6}[.]csv$', 1),
                        '%Y%m%d') AS midnight
        FROM (SELECT DISTINCT filename FROM wide)""")
    long = " UNION ALL ".join(
        f"""SELECT filename, "Time (s)" AS s, '{f}' AS field, "{f}" AS vd FROM wide"""
        for f in gen.FIELDS)
    # a DECIMAL(18,4) value converts to the double nearest to it, which is
    # the double the program parses from the same text
    con.execute(f"""
        CREATE OR REPLACE TABLE {table} AS
        SELECT src, CAST(midnight AS DATE) AS day,
               epoch_us(midnight) + CAST(trunc(s * 1000000.0) AS BIGINT) AS t,
               field, CAST(vd AS DOUBLE) AS v, vd
        FROM ({long}) JOIN files USING (filename)""")


def store_expected(con, table):
    rows = con.execute(f"""
        SELECT field, count(*), CAST(sum(vd) AS VARCHAR), min(t), max(t)
        FROM {table} GROUP BY field""").fetchall()
    return {r[0]: (r[1], Decimal(r[2]), r[3], r[4]) for r in rows}


def store_got(con, path, layout):
    """The same aggregates read straight from a store's parquet files:
    `_date=/_src=` leaf directories, plus `g=` generations for the snapshot
    layout (one generation per partition here, as the run writes each day
    once)."""
    glob = f"{path}/_date=*/_src=*/" + ("g=*/" if layout == "snapshot" else "") + "*.parquet"
    rows = con.execute(f"""
        SELECT _field, count(*), CAST(sum(CAST(_value AS DECIMAL(18, 4))) AS VARCHAR),
               min(epoch_us(_time)), max(epoch_us(_time))
        FROM read_parquet('{glob}', hive_partitioning = true)
        GROUP BY _field""").fetchall()
    return {r[0]: (r[1], Decimal(r[2]), r[3], r[4]) for r in rows}


def us(ts):
    return f"epoch_us(TIMESTAMP '{ts}')"


def panel_expected(con, table, p):
    kind, field = p["kind"], p["field"].replace("'", "''")
    lo, hi = us(p["start"]), us(p["stop"])
    mean = ("CAST(sum(CAST(v AS DECIMAL(18, 6))) AS DOUBLE) / count(*), "
            "min(v), max(v), count(*)")
    if kind in ("field_range", "snapshot_range"):
        sql = f"""SELECT t, v FROM {table}
                  WHERE field = '{field}' AND t >= {lo} AND t < {hi}"""
    elif kind == "day_mean":
        sql = f"""SELECT t // 60000000 * 60000000 AS b, field, {mean}
                  FROM {table} WHERE field = '{field}' AND t >= {lo} AND t < {hi}
                  GROUP BY b, field"""
    elif kind == "window_agg":
        sql = f"""SELECT t // 3600000000 * 3600000000 AS b, field, {mean}
                  FROM {table} WHERE t >= {lo} AND t < {hi} GROUP BY b, field"""
    elif kind == "wide_table":
        cols = ", ".join(
            f"max(CASE WHEN field = '{f}' THEN v END)" for f in gen.FIELDS)
        sql = f"""SELECT t, CAST(day AS VARCHAR), src, {cols} FROM {table}
                  WHERE t >= {lo} AND t < {hi} GROUP BY t, day, src"""
    else:
        raise ValueError(kind)
    return [tuple(r) for r in con.execute(sql).fetchall()]


def panel_got(p):
    """Spark rows reordered to the column order of `panel_expected`."""
    cols = p["columns"]
    if p["kind"] in ("field_range", "snapshot_range"):
        order = ["_time", "_value"]
    elif p["kind"] in ("day_mean", "window_agg"):
        order = ["_bucket", "_field", "mean_value", "min_value", "max_value",
                 "n_points"]
    else:
        order = ["_time", "_date", "_src"] + gen.FIELDS
    idx = [cols.index(c) for c in order]
    return [tuple(r[i] for i in idx) for r in p["rows"]]


def same(a, b):
    """The rule of tools/check.py: exact for non-floats, 1e-9 relative
    tolerance for floats."""
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=0.0) or a == b
    return a == b


def rows_equal(got, expected):
    key = lambda r: tuple((x is None, x) for x in r)
    g, e = sorted(got, key=key), sorted(expected, key=key)
    return len(g) == len(e) and all(
        all(same(x, y) for x, y in zip(rg, re)) for rg, re in zip(g, e))


def check(result, files):
    """Runs every check on a harness result; returns (attempted, failed,
    messages)."""
    con = duckdb.connect()
    points(con, "pts_all", files["base"] + files["ticks"])
    ticks = ", ".join(f"'{p.name}'" for p in files["ticks"]) or "''"
    con.execute(f"CREATE VIEW pts_base AS SELECT * FROM pts_all WHERE src NOT IN ({ticks})")
    snap = ", ".join(f"'{p.name}'" for p in files["snapshot"])
    con.execute(f"CREATE VIEW pts_snap AS SELECT * FROM pts_all WHERE src IN ({snap})")
    attempted, failed, notes = 0, 0, []

    def verdict(ok, what):
        nonlocal attempted, failed
        attempted += 1
        if not ok:
            failed += 1
            notes.append(f"mismatch: {what}")

    stores = result["stores"]
    exp_all = store_expected(con, "pts_all")
    exp_base = store_expected(con, "pts_base")
    for name, exp in (("batch", exp_all), ("stream", exp_base),
                      ("snapshot", store_expected(con, "pts_snap"))):
        try:
            ok = store_got(con, stores[name], name) == exp
        except duckdb.Error as e:
            ok = False
            notes.append(f"{name} store unreadable: {e}")
        verdict(ok, f"{name} store aggregates")
    for want, got in result["tick_names"]:
        verdict(sorted(want) == sorted(got),
                f"processed {got}, expected {want}")
    kinds = set()
    for p in result["panels"]:
        table = "pts_snap" if p["kind"] == "snapshot_range" else "pts_all"
        kinds.add(p["kind"])
        verdict(rows_equal(panel_got(p), panel_expected(con, table, p)),
                f"panel {p['kind']} {p['field']} {p['start']}..{p['stop']}")
    for k in {"field_range", "day_mean", "window_agg", "wide_table",
              "snapshot_range"} - kinds:
        verdict(False, f"panel type {k} was not checked")
    con.close()
    return attempted, failed, notes

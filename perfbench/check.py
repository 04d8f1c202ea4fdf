"""Output checks: each distinct op's result against DuckDB over the
parquet twin of the generated collection.

The engine's result rows come from the untimed warm-up pass; every timed
execution of the same op must reproduce their fingerprint (checked in
the JVM). Comparison rules follow tools/check.py: floats within a
relative 1e-6, timestamps as UTC text, row order ignored unless the op
orders its output.
"""

import datetime
import math

import duckdb


_PLAIN = (str, int, bool, float, type(None))


def _norm(v):
    if type(v) in _PLAIN:
        return v
    if isinstance(v, (int, float)):
        return float(v) if isinstance(v, float) else int(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _eq(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-6, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    return a == b


def _cell_key(v):
    if isinstance(v, float):
        return ("f", round(v, 4))
    if isinstance(v, tuple):
        return ("t", tuple(_cell_key(x) for x in v))
    return (type(v).__name__, v)


def _key(row):
    return tuple(map(_cell_key, row))


def _rows_eq(a, b):
    return a == b or (len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b)))


def connect(plan):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    twin = plan["inputs"]["twin"]
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{twin}')")
    return con


def check_refs(plan, refs):
    """Return {op id: reason} for every op whose engine result differs
    from DuckDB's (ops without `duck_sql` are checked in the JVM)."""
    bad = {}
    con = None
    for op in plan["ops"]:
        sql = op.get("duck_sql")
        if not sql:
            continue
        got = refs.get(op["id"])
        if got is None:
            bad[op["id"]] = "no engine result"
            continue
        con = con or connect(plan)
        want = [tuple(_norm(v) for v in r) for r in con.execute(sql).fetchall()]
        rows = [tuple(_norm(v) for v in r) for r in got["rows"]]
        if op.get("membership"):
            index = {r[0]: r for r in want}
            ok = (len(rows) == op["params"]["n"] and
                  all(r[0] in index and _rows_eq(r, index[r[0]]) for r in rows))
        elif op.get("ordered"):
            ok = len(rows) == len(want) and all(_rows_eq(a, b) for a, b in zip(rows, want))
        else:
            ok = len(rows) == len(want) and all(
                _rows_eq(a, b) for a, b in zip(sorted(rows, key=_key), sorted(want, key=_key)))
        if not ok:
            bad[op["id"]] = (f"differs from DuckDB: engine {len(rows)} rows "
                             f"{rows[:2]!r}, DuckDB {len(want)} rows {want[:2]!r}")[:600]
    return bad

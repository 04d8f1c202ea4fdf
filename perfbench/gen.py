"""Seeded inputs and op plans for the perfbench workloads.

Everything a run feeds the engine comes from here: the document
collections, the parquet twins DuckDB checks against, the write batches
and the op order. The same seed gives byte-identical files and plans;
nothing depends on the wall clock, the host or the engine.

Each plan is a JSON object:
  ops       distinct operations, each {id, kind, params, write, ...}
  sequence  op ids in the order the closed loop sends them, walked
            until the timed window ends; "reset:<v>" entries are untimed
            round boundaries in docstore_ingest
A read op of docstore_sql carries `duck_sql`, the DuckDB query over
the parquet twin whose result its output must equal;
a read op of docstore_ingest carries `expect`, the count and sum the
generator knows the collection holds at that point.
"""

import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["s0", "s1", "s2", "s3", "s4"]
TAGS = ["t0", "t1", "t2", "t3"]
# sequence length: far more ops than any window sends at these sizes
SEQUENCE_LEN = 4000
TS0 = 1704067200  # 2024-01-01T00:00:00Z


# ---------------------------------------------------------------- shared

def _oid(i):
    return "65a0%020x" % i


def _iso(us):
    s, frac = divmod(us, 1_000_000)
    d = datetime.datetime.fromtimestamp(s, datetime.timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%S") + ".%06dZ" % frac


def _event_rows(rng, ids):
    """Events-shaped rows for the given event ids."""
    rows = []
    for i in ids:
        us = (TS0 + int(i) * 37) * 1_000_000 + int(rng.integers(0, 1_000_000))
        row = {
            "_id": _oid(int(i)),
            "event_id": int(i),
            "ts_us": us,
            "user_id": int(rng.integers(0, 1500)),
            "user_segment": SEGMENTS[int(rng.integers(0, len(SEGMENTS)))],
            "event_type": EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))],
            "value": round(float(rng.integers(1, 50000)) / 100.0, 2),
            "props_k": int(rng.integers(0, 100)),
            "tags": [TAGS[int(t)] for t in
                     rng.integers(0, len(TAGS), size=1 + int(i) % 3)],
            "maybe": int(i) if int(i) % 10 == 0 else None,
        }
        rows.append(row)
    return rows


def _doc_json(r, nested):
    """Extended-JSON line for one event row (ObjectId `_id`, `$date` ts);
    `nested` puts user and props in sub-documents."""
    d = {"_id": {"$oid": r["_id"]}, "event_id": r["event_id"],
         "ts": {"$date": _iso(r["ts_us"])}}
    if nested:
        d["user"] = {"id": r["user_id"], "segment": r["user_segment"]}
    else:
        d["user_id"] = r["user_id"]
        d["user_segment"] = r["user_segment"]
    d["event_type"] = r["event_type"]
    d["value"] = r["value"]
    if nested:
        d["props"] = {"k": r["props_k"]}
    else:
        d["props_k"] = r["props_k"]
    d["tags"] = r["tags"]
    if r["maybe"] is not None:
        d["maybe"] = r["maybe"]
    return json.dumps(d, separators=(",", ":"))


def _write_jsonl(path, rows, nested):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write(_doc_json(r, nested) + "\n")


def _events_table(rows):
    return pa.table({
        "_id": pa.array([r["_id"] for r in rows], pa.string()),
        "event_id": pa.array([r["event_id"] for r in rows], pa.int64()),
        "ts": pa.array([r["ts_us"] for r in rows], pa.timestamp("us", tz="UTC")),
        "user_id": pa.array([r["user_id"] for r in rows], pa.int64()),
        "user_segment": pa.array([r["user_segment"] for r in rows], pa.string()),
        "event_type": pa.array([r["event_type"] for r in rows], pa.string()),
        "value": pa.array([r["value"] for r in rows], pa.float64()),
        "props_k": pa.array([r["props_k"] for r in rows], pa.int64()),
        "tags": pa.array([r["tags"] for r in rows], pa.list_(pa.string())),
        "maybe": pa.array([r["maybe"] for r in rows], pa.int64()),
    })


def _write_parquet(path, table):
    pq.write_table(table, path, compression="snappy")


def _seeded_sequence(rng, ids, n):
    """Rounds of seeded permutations of `ids` until `n` entries."""
    out = []
    while len(out) < n:
        out.extend(ids[int(j)] for j in rng.permutation(len(ids)))
    return out[:n]


# ---------------------------------------------------------- docstore_sql

SQL_DOCS = 32000
SQL_CHUNKS = 8


def gen_docstore_sql(seed, out):
    rng = np.random.default_rng([seed, 1])
    root = os.path.join(out, "root")
    coll = os.path.join(root, "bench", "events.jsonl")
    os.makedirs(coll, exist_ok=True)
    rows = _event_rows(rng, range(SQL_DOCS))
    per = SQL_DOCS // SQL_CHUNKS
    for c in range(SQL_CHUNKS):
        _write_jsonl(os.path.join(coll, "part-%05d.jsonl" % c),
                     rows[c * per:(c + 1) * per], nested=True)
    twin = os.path.join(out, "events.parquet")
    _write_parquet(twin, _events_table(rows))

    def pick(xs):
        return xs[int(rng.integers(0, len(xs)))]

    cols2 = pick([("event_id", "value"), ("user_id", "event_type"),
                  ("props_k", "value"), ("event_id", "user_segment")])
    et = pick(EVENT_TYPES)
    lo = float(rng.integers(0, 300))
    hi = lo + float(rng.integers(50, 200))
    segs = sorted(rng.choice(SEGMENTS, size=2, replace=False).tolist())
    prefix = pick(EVENT_TYPES)[:2]
    point = _oid(int(rng.integers(0, SQL_DOCS)))
    top_n = int(rng.integers(10, 50))
    lim_n = int(rng.integers(10, 50))
    vmin = float(rng.integers(100, 400))
    k = int(rng.integers(2, 5))
    props_max = int(rng.integers(20, 80))
    all_cols = ("_id, event_id, ts, user_id, user_segment, event_type, "
                "value, props_k, tags, maybe")
    ops = [
        dict(kind="full_scan", params={}, duck_sql=f"SELECT {all_cols} FROM events"),
        dict(kind="projection", params={"cols": list(cols2)},
             duck_sql=f"SELECT {cols2[0]}, {cols2[1]} FROM events"),
        dict(kind="eq_range",
             params={"filter": json.dumps({"event_type": et,
                                           "value": {"$gte": lo, "$lt": hi}})},
             duck_sql=f"SELECT {all_cols} FROM events WHERE event_type = '{et}' "
                      f"AND value >= {lo} AND value < {hi}"),
        dict(kind="in_exists",
             params={"filter": json.dumps({"user_segment": {"$in": segs},
                                           "maybe": {"$exists": True}})},
             duck_sql=f"SELECT {all_cols} FROM events WHERE user_segment IN "
                      f"('{segs[0]}', '{segs[1]}') AND maybe IS NOT NULL"),
        dict(kind="prefix",
             params={"filter": json.dumps({"event_type": {"$regex": "^" + prefix}})},
             duck_sql=f"SELECT {all_cols} FROM events "
                      f"WHERE starts_with(event_type, '{prefix}')"),
        dict(kind="oid_point",
             params={"filter": json.dumps({"_id": {"$oid": point}})},
             duck_sql=f"SELECT {all_cols} FROM events WHERE _id = '{point}'"),
        dict(kind="group_agg",
             params={"pipeline": json.dumps([{"$group": {
                 "_id": "$event_type", "n": {"$sum": 1},
                 "s": {"$sum": "$value"}, "mn": {"$min": "$value"},
                 "mx": {"$max": "$value"}, "av": {"$avg": "$value"}}}])},
             duck_sql="SELECT event_type, count(*), sum(value), min(value), "
                      "max(value), avg(value) FROM events GROUP BY event_type"),
        dict(kind="orderby_limit", params={"n": top_n}, ordered=True,
             duck_sql=f"SELECT {all_cols} FROM events ORDER BY _id LIMIT {top_n}"),
        # LIMIT without ORDER BY returns any n rows: checked by count and
        # membership (see check.py), not by content
        dict(kind="limit", params={"n": lim_n}, membership=True,
             duck_sql=f"SELECT {all_cols} FROM events"),
        dict(kind="pipeline",
             params={"pipeline": json.dumps([
                 {"$match": {"value": {"$gt": vmin}}},
                 {"$group": {"_id": "$user_segment", "n": {"$sum": 1},
                             "s": {"$sum": "$value"}}},
                 {"$sort": {"n": -1, "_id": 1}}, {"$limit": k}])},
             ordered=True,
             duck_sql=f"SELECT user_segment, count(*) AS n, sum(value) FROM events "
                      f"WHERE value > {vmin} GROUP BY user_segment "
                      f"ORDER BY n DESC, user_segment LIMIT {k}"),
        dict(kind="unwind_group",
             params={"pipeline": json.dumps([
                 {"$unwind": "$tags"},
                 {"$group": {"_id": "$tags", "n": {"$sum": 1}}}])},
             duck_sql="SELECT t, count(*) FROM "
                      "(SELECT unnest(tags) AS t FROM events) GROUP BY t"),
        dict(kind="catalog_sql",
             params={"sql": "SELECT event_type, count(*) AS n, sum(value) AS s "
                            "FROM bench.bench.events WHERE props_k < %d "
                            "GROUP BY event_type" % props_max},
             duck_sql=f"SELECT event_type, count(*), sum(value) FROM events "
                      f"WHERE props_k < {props_max} GROUP BY event_type"),
    ]
    for o in ops:
        o["id"] = o["kind"]
        o["write"] = False
    seq = _seeded_sequence(rng, [o["id"] for o in ops], SEQUENCE_LEN)
    return {"workload": "docstore_sql", "seed": seed,
            "inputs": {"dir": out, "root": root, "collection": coll, "twin": twin},
            "ops": ops, "sequence": seq}


# ------------------------------------------------------- docstore_ingest

INGEST_BASE = 2000
INGEST_APPEND = 400
INGEST_MERGE = 400
INGEST_STREAM = 300
INGEST_VARIANTS = 4
INGEST_READS = 4


def _agg(rows, et=None):
    sel = [r for r in rows if et is None or r["event_type"] == et]
    return {"count": len(sel), "sum": round(sum(r["value"] for r in sel), 6)}


def gen_docstore_ingest(seed, out):
    rng = np.random.default_rng([seed, 2])
    base = _event_rows(rng, range(INGEST_BASE))
    base_path = os.path.join(out, "base.parquet")
    _write_parquet(base_path, _events_table(base))
    ops, seq_rounds = [], []
    inputs = {"dir": out, "base": base_path, "variants": []}
    for v in range(INGEST_VARIANTS):
        nxt = INGEST_BASE + v * 10_000
        app = _event_rows(rng, range(nxt, nxt + INGEST_APPEND))
        # $merge on event_id: half the batch replaces existing base docs
        # (new values), half inserts new ids
        half = INGEST_MERGE // 2
        hit_ids = sorted(int(x) for x in
                         rng.choice(INGEST_BASE, size=half, replace=False))
        new_ids = list(range(nxt + 5000, nxt + 5000 + half))
        mrg = _event_rows(rng, hit_ids + new_ids)
        stm = _event_rows(rng, range(nxt + 8000, nxt + 8000 + INGEST_STREAM))
        vdir = os.path.join(out, "v%d" % v)
        os.makedirs(os.path.join(vdir, "landing"), exist_ok=True)
        _write_parquet(os.path.join(vdir, "append.parquet"), _events_table(app))
        _write_parquet(os.path.join(vdir, "merge.parquet"), _events_table(mrg))
        _write_jsonl(os.path.join(vdir, "landing", "part-00000.jsonl"), stm, nested=False)
        inputs["variants"].append(vdir)

        after_append = base + app
        by_id = {r["event_id"]: r for r in after_append}
        for r in mrg:
            by_id[r["event_id"]] = r
        after_merge = list(by_id.values())
        after_stream = after_merge + stm
        et = EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))]
        rnd = ["reset:%d" % v]
        for stage, rows, n in (("append", after_append, len(app)),
                               ("merge", after_merge, len(mrg)),
                               ("stream", after_stream, len(stm))):
            wid = "v%d.%s" % (v, stage)
            ops.append({"id": wid, "kind": stage, "write": True,
                        "params": {"variant": v, "rows": n}})
            rnd.append(wid)
            reads = []
            for kind in ("scan_count", "scan_filter", "catalog_count",
                         "catalog_filter"):
                rid = "v%d.%s.%s" % (v, stage, kind)
                filt = kind.endswith("filter")
                ops.append({"id": rid, "kind": kind, "write": False,
                            "params": {"event_type": et},
                            "expect": _agg(rows, et if filt else None)})
                reads.append(rid)
            # each read kind INGEST_READS times per stage, in seeded order
            reads = reads * INGEST_READS
            rnd.extend(reads[int(j)] for j in rng.permutation(len(reads)))
        seq_rounds.append(rnd)
    seq = []
    while len(seq) < SEQUENCE_LEN:
        for v in rng.permutation(INGEST_VARIANTS):
            seq.extend(seq_rounds[int(v)])
    return {"workload": "docstore_ingest", "seed": seed,
            "inputs": inputs, "ops": ops, "sequence": seq}


GENERATORS = {
    "docstore_sql": gen_docstore_sql,
    "docstore_ingest": gen_docstore_ingest,
}


def generate(workload, seed, out):
    """Generate `workload`'s inputs for `seed` under `out`; write and
    return the plan (plan.json beside the inputs)."""
    os.makedirs(out, exist_ok=True)
    plan = GENERATORS[workload](seed, out)
    with open(os.path.join(out, "plan.json"), "w", encoding="utf-8") as f:
        json.dump(plan, f, indent=1, sort_keys=True)
    return plan

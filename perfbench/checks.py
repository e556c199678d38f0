"""Correctness checks, computed apart from the program under test.

Batch queries are compared with the DuckDB result of their oracle SQL
on the same parquet files; the streaming operators with a
single-threaded replay of their semantics written here, plus two
conservation checks on the progress Spark reported. Every check
returns None when it passes and a one-line reason when it fails.

DuckDB takes about a minute over the graph queries' fixed inputs, so
their oracle results are cached in oracle/graph_memo.json as a row
count and a digest of the canonical rows, keyed by a digest of the
inputs and of each query's oracle SQL. A key that does not match, or
rows whose digest differs, are checked against DuckDB run live. To
rebuild the cache from a kept run (its result.json holds the SQL):
  python3 perfbench/checks.py --rebuild perfbench/.out/graph_memo-seed1-trace0
"""
import argparse
import datetime as dt
import decimal
import glob
import hashlib
import json
import math
import sys
import tempfile
from collections import defaultdict
from pathlib import Path

import pyarrow.parquet as pq

BATCHES = 10                      # micro-batches per lap of the tape
LAP_US = 31 * 86_400 * 1_000_000  # each lap is shifted by 31 days
CANDLE_US = 60_000_000
LAG_N = 4
EWMA_ALPHA_MILLI = 300
TABLES = ("documents", "events")
ORACLE_CACHE = Path(__file__).resolve().parent / "oracle" / "graph_memo.json"


# ---------------------------------------------------------------- rows

def _cell(v):
    """Canonical form of one cell: DECIMAL as float (as DuckDB's frame
    export does), timestamps as naive UTC, containers as tuples."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _cell(x)) for k, x in sorted(v.items()))
    return v


def _key(row):
    return tuple((c is None, 0 if c is None else c) for c in row)


def canonical(cols, rows):
    """Columns in name order, cells canonical, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(out, key=_key)


def compare(got_cols, got_rows, exp_cols, exp_rows):
    """None when both row sets are equal after a canonical sort."""
    gc, g = canonical(got_cols, got_rows)
    ec, e = canonical(exp_cols, exp_rows)
    if gc != ec:
        return f"columns differ: got {gc}, expected {ec}"
    if len(g) != len(e):
        return f"row count differs: got {len(g)}, expected {len(e)}"
    for i, (a, b) in enumerate(zip(g, e)):
        if a != b:
            return f"row {i} differs: got {a!r}, expected {b!r}"
    return None


def read_rows(path):
    """(columns, rows) of a Spark output directory."""
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        return None, []
    t = pq.ParquetDataset(files).read()
    return t.column_names, [tuple(r.values()) for r in t.to_pylist()]


# --------------------------------------------------------------- batch

def digest(cols, rows):
    """Row count and sha256 of the canonical (sorted) rows."""
    c, r = canonical(cols, rows)
    return len(r), hashlib.sha256(repr((c, r)).encode()).hexdigest()


def _sha(text):
    return hashlib.sha256(text.encode()).hexdigest()


def inputs_digest(data_dir):
    """sha256 of the values of every input table present."""
    h = hashlib.sha256()
    for t in TABLES:
        for f in glob.glob(f"{data_dir}/{t}.parquet"):
            h.update(t.encode() + repr(pq.read_table(f).to_pydict()).encode())
    return h.hexdigest()


def _oracle(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        p = f"{data_dir}/{t}.parquet"
        if glob.glob(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_batch(data_dir, rows_dir, oracle_sql, cache_path=ORACLE_CACHE):
    """{query: reason or None} against DuckDB's oracle result, taken
    from the cache when its key matches and the rows agree with it."""
    cache = json.loads(cache_path.read_text()) if cache_path.exists() else {}
    fresh = cache.get("inputs") == inputs_digest(data_dir)
    con, out = None, {}
    for name, sql in oracle_sql.items():
        if not sql:
            out[name] = "no oracle SQL"
            continue
        got_cols, got = read_rows(f"{rows_dir}/{name}")
        hit = cache.get("queries", {}).get(name) if fresh else None
        if hit and hit["sql"] == _sha(sql) and got_cols is not None and \
                list(digest(got_cols, got)) == [hit["rows"], hit["digest"]]:
            out[name] = None
            continue
        con = con or _oracle(data_dir)
        rel = con.sql(sql)
        exp_cols, exp = rel.columns, rel.fetchall()
        out[name] = compare(got_cols if got_cols is not None else exp_cols, got, exp_cols, exp)
    if con:
        con.close()
    return out


def check_fingerprints(ops, warm):
    """{query: reason} for every timed run of a query whose output
    fingerprint (row count and hash sum, taken by the runner after the
    pass) differs from that of its checked warm-up rows."""
    out = {}
    for o in ops:
        if o["error"] is None and o["fingerprint"] != warm.get(o["name"]) and o["name"] not in out:
            out[o["name"]] = (f"pass {o['pass']} output {o['fingerprint']} differs from "
                              f"the checked warm-up output {warm.get(o['name'])}")
    return out


def rebuild(kept):
    """Recompute oracle/graph_memo.json with DuckDB over freshly
    generated inputs and the oracle SQL of a kept graph_memo run."""
    import gen
    sql = {k: v for k, v in json.loads((Path(kept) / "result.json").read_text())["oracle_sql"].items() if v}
    scratch = ORACLE_CACHE.parent.parent / ".work"
    scratch.mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as data:
        gen.generate("graph_memo", data)
        con = _oracle(data)
        queries = {}
        for name, q in sorted(sql.items()):
            rel = con.sql(q)
            n, d = digest(rel.columns, rel.fetchall())
            queries[name] = {"sql": _sha(q), "rows": n, "digest": d}
            print(f"{name}: {n} rows", file=sys.stderr)
        cache = {"inputs": inputs_digest(data), "queries": queries}
    ORACLE_CACHE.parent.mkdir(exist_ok=True)
    ORACLE_CACHE.write_text(json.dumps(cache, indent=1, sort_keys=True) + "\n")


# -------------------------------------------------------------- stream

def tape(events_path):
    """The event tape as (key, ts_us, value), in feed order."""
    t = pq.read_table(events_path, columns=["user_id", "ts", "value"])
    keys = t.column("user_id").to_pylist()
    ts = t.column("ts").cast("int64").to_pylist()
    vals = t.column("value").to_pylist()
    return sorted(zip(keys, ts, vals), key=lambda e: (e[1], e[0], e[2]))


def feed(events, steps):
    """The micro-batches fed over `steps` steps (laps time-shifted)."""
    per = len(events) // BATCHES
    for s in range(steps):
        lap, b = divmod(s, BATCHES)
        yield [(k, t + lap * LAP_US, v) for k, t, v in events[b * per:(b + 1) * per]]


def _by_key(batch):
    groups = defaultdict(list)
    for e in batch:
        groups[e[0]].append(e)
    for k, es in groups.items():
        yield k, sorted(es, key=lambda e: (e[1], e[2]))


def _cents(v):
    return int(decimal.Decimal(v).quantize(decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP) * 100)


def replay(batches):
    """Expected output rows of every streaming operator."""
    out = {op: [] for op in ("lag_window", "table_latest", "candle_strat", "ewma")}
    lag, latest, candle, ewma = {}, {}, {}, {}
    for batch in batches:
        for k, es in _by_key(batch):
            buf = lag.get(k, [])                      # newest first
            for _, t, v in es:
                buf = ([v] + buf)[:LAG_N]
                if len(buf) == LAG_N:
                    out["lag_window"].append((k, t, tuple(reversed(buf))))
            lag[k] = buf

            _, t, v = max(es, key=lambda e: (e[1], e[2]))
            cur = latest.get(k)
            if cur is None or not (cur[0] > t or (cur[0] == t and cur[1] >= v)):
                cur = (t, v)
            latest[k] = cur
            out["table_latest"].append((k, cur[0], cur[1]))

            current, prev = candle.get(k, (None, None))   # candle = [ws, open, high, low, close]
            for _, t, v in es:
                ws = t // CANDLE_US * CANDLE_US
                if current is not None and current[0] == ws:
                    current = [ws, current[1], max(current[2], v), min(current[3], v), v]
                elif current is not None and ws > current[0]:
                    if prev is not None:
                        out["candle_strat"].append((k, current[0], _strat(current, prev)))
                    current, prev = [ws, v, v, v, v], current
                elif current is None:
                    current = [ws, v, v, v, v]
            candle[k] = (current, prev)

            seeded, st = ewma.get(k, (False, 0))
            for _, t, v in es:
                c = _cents(v)
                st = c if not seeded else (EWMA_ALPHA_MILLI * c + (1000 - EWMA_ALPHA_MILLI) * st) // 1000
                seeded = True
                out["ewma"].append((k, t, v, st))
            ewma[k] = (seeded, st)
    return out


def _strat(c, p):
    top, bottom = max(c[1], c[4]), min(c[1], c[4])
    ptop, pbottom = max(p[1], p[4]), min(p[1], p[4])
    above, below = top > ptop, bottom < pbottom
    return 4 if above and below else 2 if above else 3 if below else 1


STREAM_COLS = {
    "lag_window": ["key", "tsUs", "values"],
    "table_latest": ["key", "tsUs", "value"],
    "candle_strat": ["key", "wsUs", "stratClass"],
    "ewma": ["key", "tsUs", "value", "ewmaCents"],
}


def conservation(progress, fed_rows, distinct_keys):
    """Input rows summed over an operator's progress events equal the
    rows fed; its final state holds one row per distinct key fed."""
    if not progress:
        return "no progress events"
    rows = sum(p["numInputRows"] for p in progress)
    if rows != fed_rows:
        return f"numInputRows summed to {rows}, fed {fed_rows}"
    last = [p for p in progress if p["stateOperators"]][-1]   # idle triggers carry none
    state = sum(o["numRowsTotal"] for o in last["stateOperators"])
    if state != distinct_keys:
        return f"final state holds {state} rows, {distinct_keys} distinct keys fed"
    return None


def check_stream(events_path, rows_dir, steps, progress_by_op):
    """{operator: reason or None} for the replay and conservation checks."""
    batches = list(feed(tape(events_path), steps))
    expected = replay(batches)
    fed = sum(len(b) for b in batches)
    keys = len({e[0] for b in batches for e in b})
    out = {}
    for op, exp in expected.items():
        cols, got = read_rows(f"{rows_dir}/{op}")
        reason = compare(cols or STREAM_COLS[op], got, STREAM_COLS[op], exp)
        out[op] = reason or conservation(progress_by_op.get(op, []), fed, keys)
    return out


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    ap = argparse.ArgumentParser(description="Rebuild the cached graph_memo oracle results.")
    ap.add_argument("--rebuild", required=True, metavar="KEPT_RUN",
                    help="a kept graph_memo run directory under perfbench/.out/")
    rebuild(ap.parse_args().rebuild)

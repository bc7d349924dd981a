"""Correctness checks for the benchmark's outputs.

Batch: each query's warm-pass result (parquet written by the engine) is
compared with DuckDB running the query's oracle SQL on the same input
directory: column names, column kinds, row count and a rounded,
order-independent digest of the rows.

Stream: the windows committed by the sink are compared with a DuckDB
batch computation over exactly the events the generator sent.
"""
import decimal
import glob
import hashlib
import json
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

SIG_DIGITS = 9


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if f == int(f) and abs(f) < 2 ** 53 and isinstance(v, decimal.Decimal):
            return int(f)
        return float(f"{f:.{SIG_DIGITS}g}") + 0.0
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v


def _kind(t):
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "int" if t.scale == 0 else "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        return "time"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list"
    return str(t)


def summarize(tbl: pa.Table) -> dict:
    """Schema, row count and digest of a result table."""
    names = sorted(tbl.column_names)
    cols = [[_canon(v) for v in tbl.column(n).to_pylist()] for n in names]
    rows = sorted(repr(r) for r in zip(*cols)) if cols else []
    return {"columns": names,
            "kinds": [_kind(tbl.schema.field(n).type) for n in names],
            "rows": tbl.num_rows,
            "digest": hashlib.sha1("\n".join(rows).encode()).hexdigest()}


def diff(expected: dict, got: dict):
    """None when the two summaries agree, else the first difference."""
    for k in ("columns", "kinds", "rows", "digest"):
        if expected[k] != got[k]:
            return f"{k}: expected {expected[k]} got {got[k]}"
    return None


EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected")


def oracle_summaries(data_dir: str, sqls: dict, cache_dir: str) -> dict:
    """DuckDB summaries per query, keyed by (input directory name, SQL
    text): read from the committed `expected/` files when the key matches,
    else computed once and cached.
    """
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    out = {}
    for q, sql in sqls.items():
        key = hashlib.sha1((os.path.basename(data_dir) + "\0" + sql).encode()).hexdigest()
        name = f"{q}-{key[:16]}.json"
        path = os.path.join(EXPECTED, name)
        if not os.path.exists(path):
            path = os.path.join(cache_dir, name)
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                con.execute(f"SET threads TO {os.cpu_count() or 1}")
                con.execute(f"SET temp_directory = '{cache_dir}/duckdb.tmp'")
                for table in glob.glob(os.path.join(data_dir, "*.parquet")):
                    t = os.path.basename(table).removesuffix(".parquet")
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table}')")
            try:
                res = summarize(con.execute(sql).arrow())
            except Exception as e:  # noqa: BLE001 -- an oracle error is a failed check
                res = {"error": f"{type(e).__name__}: {e}"[:300]}
            with open(path + ".tmp", "w") as f:
                json.dump(res, f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            out[q] = json.load(f)
    return out


def check_batch(raw: dict, data_dir: str, results_dir: str, cache_dir: str) -> dict:
    """query -> None (correct) or the reason it is not."""
    oracles = oracle_summaries(data_dir, raw["oracle_sql"], cache_dir)
    verdict = {}
    for w in raw["warm"]:
        q = w["q"]
        if w["error"]:
            verdict[q] = "engine error: " + w["error"]
        elif q not in oracles:
            verdict[q] = "no oracle SQL"
        elif "error" in oracles[q]:
            verdict[q] = "oracle error: " + oracles[q]["error"]
        else:
            files = glob.glob(os.path.join(results_dir, q, "*.parquet"))
            verdict[q] = (diff(oracles[q], summarize(pq.read_table(files))) if files
                          else "no result files")
    return verdict


def check_stream(events_path: str, sink_dir: str) -> dict:
    """Events lost or duplicated and window results that differ from the
    batch reference over the generated events.
    """
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.dirname(events_path)}/duckdb.tmp'")
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{events_path}')")
    sink_files = glob.glob(os.path.join(sink_dir, "*.parquet"))
    if not sink_files:
        n = con.execute("SELECT count(*) FROM ev").fetchone()[0]
        return {"events": n, "windows": 0, "events_wrong": n, "windows_wrong": 0}
    con.execute(f"CREATE VIEW sink AS SELECT user, w, n, cents, max_created FROM "
                f"read_parquet('{sink_dir}/*.parquet') WHERE user >= 0")
    # on-time events fold into their (user, second) window; late events
    # each fire a singleton result of their own
    con.execute("""
        CREATE VIEW ref AS
        SELECT user, ts AS w, count(*) AS n, sum(cents) AS cents,
               max(created) AS max_created
        FROM ev WHERE NOT late GROUP BY user, ts
        UNION ALL
        SELECT user, ts AS w, 1, cents, created FROM ev WHERE late""")
    events, windows = con.execute("SELECT sum(n), count(*) FROM ref").fetchone()
    events_wrong, windows_wrong = con.execute("""
        WITH r AS (SELECT user, w, n, cents, max_created,
                          row_number() OVER (PARTITION BY user, w ORDER BY max_created, cents) AS k
                   FROM ref),
             s AS (SELECT user, w, n, cents, max_created,
                          row_number() OVER (PARTITION BY user, w ORDER BY max_created, cents) AS k
                   FROM sink)
        SELECT coalesce(sum(abs(coalesce(r.n, 0) - coalesce(s.n, 0))), 0),
               count(*) FILTER (WHERE r.n IS DISTINCT FROM s.n
                                   OR r.cents IS DISTINCT FROM s.cents
                                   OR r.max_created IS DISTINCT FROM s.max_created)
        FROM r FULL OUTER JOIN s USING (user, w, k)""").fetchone()
    return {"events": int(events), "windows": int(windows),
            "events_wrong": int(events_wrong), "windows_wrong": int(windows_wrong)}

"""Result digests for the oracle check: a query's Spark result and the
DuckDB answer to its oracle SQL are compared the way the engine's own
oracle gate compares them (columns sorted by name, rows in order, exact
values), via a canonical digest of each side."""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import time

import duckdb


def canon(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "null"
        if v.is_integer() and abs(v) < 2 ** 53:
            return str(int(v))
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def digest(rel):
    """Canonical digest of a DuckDB relation and its row count."""
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha1(",".join(cols[i] for i in order).encode())
    rows = rel.fetchall()
    for r in rows:
        h.update(("\x1f".join(canon(r[i]) for i in order) + "\n").encode())
    return h.hexdigest()[:16], len(rows)


def connect(data_dir, temp_dir):
    con = duckdb.connect(config={"temp_directory": temp_dir})
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def expected(con, sql, cache_dir, data_key):
    """DuckDB's digest of `sql`, cached by SQL text and input identity."""
    key = hashlib.sha1(f"{data_key}\n{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    t0 = time.time()
    d, n = digest(con.sql(sql))
    out = {"digest": d, "rows": n, "seconds": time.time() - t0}
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def verdicts(record, data_dir, cache_dir, data_key):
    """Map (query, result digest) to None when the dumped Spark result
    equals the oracle's answer, else to the reason it does not."""
    con = connect(data_dir, os.path.join(cache_dir, "tmp"))
    out = {}
    for d in record.get("dumps", []):
        q = d["query"]
        sql = record["oracle_sql"].get(q)
        if sql is None:
            out[(q, d["digest"])] = "no oracle SQL"
            continue
        want = expected(con, sql, cache_dir, data_key)
        got_digest, got_rows = digest(
            con.sql(f"SELECT * FROM read_parquet('{d['path']}/*.parquet')"))
        out[(q, d["digest"])] = None if got_digest == want["digest"] else (
            f"{got_rows} rows vs oracle {want['rows']}, digest {got_digest} "
            f"vs {want['digest']}")
    con.close()
    return out

"""Output check: each op's warm-up output against its DuckDB twin.

Both sides are reduced to an order-insensitive digest: columns sorted by
name, every value put in one canonical text form, rows sorted, then
SHA-256. The DuckDB digest depends only on the staged inputs, the
fixtures and the oracle SQL, so it is cached per (workload, content hash
of the staged inputs and of the fixture tree, SQL).
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import threading

import duckdb
import pyarrow.parquet as pq

# ops whose DuckDB twin is declared rows-only by the program, plus the
# ops whose twin runs out of memory on duplicate-heavy inputs
ROWS_ONLY = {"m22", "q30", "x40", "x48", "x72", "x78"}
ORACLE_TIMEOUT_S = 60


def _canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b%d" % v
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, decimal.Decimal):
        return _canon(int(v)) if v == v.to_integral_value() else _canon(float(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v.is_integer() and abs(v) < 2 ** 53:
            return "i%d" % int(v)
        return "f" + v.hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t" + v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return "t" + v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return "s" + str(v)


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(("\x1f".join(cols[i] for i in order) + "\n").encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest(), len(lines)


def spark_digest(out_dir):
    if not glob.glob(os.path.join(out_dir, "*.parquet")):
        return None
    t = pq.read_table(out_dir)
    cols = t.column_names
    rows = [tuple(d[c] for c in cols) for d in t.to_pylist()]
    return digest(cols, rows)


def _duck(con, sql):
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return digest(cols, cur.fetchall())
    finally:
        timer.cancel()


def check(workload, inputs_key, ops, out_dir, data_dir, tables, sql, cache_dir,
          media_fixture, work_dir):
    """Returns {op: verdict}, where verdict has `status` in pass / mismatch
    / rows_only / missing and the row counts seen. `inputs_key` names the
    content of everything the SQL reads (staged data and fixtures)."""
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    verdicts = {}
    for op in ops:
        got = spark_digest(os.path.join(out_dir, "outputs", op))
        if got is None:
            verdicts[op] = {"status": "missing"}
            continue
        q = sql.get(op)
        if q is None or op.split("_")[0] in ROWS_ONLY:
            verdicts[op] = {"status": "rows_only", "rows": got[1]}
            continue
        if workload == "media_curation":
            q = q.replace(media_fixture, os.path.join(data_dir, "media.parquet"))
        key = hashlib.sha256(f"{workload}|{inputs_key}|{q}".encode()).hexdigest()[:24]
        path = os.path.join(cache_dir, f"{op}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                want = json.load(f)
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads=4")
                con.execute("SET memory_limit='3GB'")
                con.execute(f"SET temp_directory='{work_dir}/duck'")
                for t in tables:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
            try:
                want = list(_duck(con, q))
            except (duckdb.Error, RuntimeError) as e:
                verdicts[op] = {"status": "rows_only", "rows": got[1],
                                "oracle_error": str(e)[:200]}
                continue
            with open(path, "w") as f:
                json.dump(want, f)
        ok = want[0] == got[0]
        verdicts[op] = {"status": "pass" if ok else "mismatch",
                        "rows": got[1], "oracle_rows": want[1]}
    if con is not None:
        con.close()
    return verdicts

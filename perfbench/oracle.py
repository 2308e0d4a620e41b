"""DuckDB side of the benchmark's output check.

`canon_hash` computes the same order-insensitive hash as
`graftbench.Canon` (see Canon.scala for the rules) over a DuckDB result.

`record` derives the expected outputs once (`python3 perfbench/run.py
--record`): it runs each op's oracle SQL (`graft.SparkEntry.oracleSql`,
dumped by the harness main `graftbench.OracleSql`) in DuckDB over the
project's sf0.001 test data (perfbench/testdata) and returns the row count and hash of every op, plus the
pipeline's expected output row counts, for perfbench/expected.json.
Spark's own results are never stored there.
"""
import datetime
import decimal
import glob
import hashlib
import math
import os
import struct

NULL = "∅"


def cell(v):
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return NULL
        if not math.isinf(v) and v == math.floor(v) and abs(v) < 9.007199254740992e15:
            return str(int(v))
        return "f" + format(struct.unpack("<q", struct.pack("<d", v))[0] & (2**64 - 1), "x")
    if isinstance(v, decimal.Decimal):
        n = v.normalize()
        return str(int(n)) if n == n.to_integral_value() else format(n, "f")
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return str((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(cell(x) for x in v.values()) + ")"
    return str(v)


def canon_hash(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        line = "\x1f".join(cell(r[i]) for i in order)
        total += struct.unpack(">q", hashlib.md5(line.encode()).digest()[:8])[0]
    total %= 2**64
    return hashlib.md5((",".join(sorted(columns)) + ":" + str(total)).encode()).hexdigest()


def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def run_sql(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def record(data_dir, sql_by_op, workloads, pipeline_outputs):
    """Expected outputs for one input scale. `workloads` maps a workload to
    its [op, module] list; `pipeline_outputs` maps an output dir of the
    pipeline to the op whose oracle SQL gives its rows (or to literal SQL)."""
    con = duck(data_dir)
    ops = {}
    for wl, entries in workloads.items():
        for name, module in entries:
            cols, rows = run_sql(con, sql_by_op[name])
            ops[name] = {"workload": wl, "module": module, "rows": len(rows),
                         "hash": canon_hash(cols, rows)}
            if not rows:
                ops[name]["empty"] = True
    pipe = {}
    for out, src in pipeline_outputs.items():
        sql = sql_by_op[src] if src in sql_by_op else src
        pipe[out] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    return {"ops": ops, "pipeline_rows": pipe}


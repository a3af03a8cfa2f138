"""Output checks: every timed result against DuckDB.

Query results are checked the way `tools/compare.py` checks them, type-strict:
DuckDB runs the query's `SparkEntry.oracleSql` over the same parquet, each
result column's DuckDB type must map exactly to the Spark type, and cells
must match exactly (doubles by their bits).  The JVM runner reports a
digest of each result in a canonical spelling (`Digest` in the runner);
this module spells the DuckDB result the same way and compares digests.
Expected digests are cached per (seed, scale, SQL text).

ETL load ticks are checked against DuckDB checksums over the staged
snapshot, and every tick against the pipeline's own contract: a no-op tick
returns None and the state file names the newest loaded artifact.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import re
import struct

import duckdb

import gen

EPOCH = datetime.datetime(1970, 1, 1)


def canon_duck_type(t):
    """DuckDB type name -> the runner's type tag ('!...' matches nothing)."""
    t = t.upper()
    simple = {"BIGINT": "int64", "INTEGER": "int32", "SMALLINT": "int16", "TINYINT": "int8",
              "DOUBLE": "float64", "FLOAT": "float32", "VARCHAR": "string",
              "BOOLEAN": "bool", "DATE": "date"}
    if t in simple:
        return simple[t]
    if t.endswith("[]"):
        return "list<" + canon_duck_type(t[:-2]) + ">"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    m = re.fullmatch(r"DECIMAL\((\d+),(\d+)\)", t)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    if t.startswith("STRUCT"):
        return "struct"
    return "!" + t


def cell(v):
    """One value in the runner's canonical spelling."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "B1" if v else "B0"
    if isinstance(v, int):
        return f"I{v}"
    if isinstance(v, float):
        bits = 0x7FF8000000000000 if math.isnan(v) else struct.unpack(">q", struct.pack(">d", v))[0]
        return "D" + format(bits & 0xFFFFFFFFFFFFFFFF, "x")
    if isinstance(v, str):
        return f"S{len(v.encode())}:{v}"
    if isinstance(v, decimal.Decimal):
        return "M" + format(v.normalize(), "f")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return f"U{(d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds}"
    if isinstance(v, datetime.date):
        return f"T{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "L[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "R[" + ",".join(cell(x) for x in v.values()) + "]"
    if isinstance(v, (bytes, bytearray)):
        return "X" + v.hex()
    return "?" + str(v)


def expected(con, sql):
    """(columns with tags in name order, row count, digest) of a DuckDB query."""
    rel = con.sql(sql)
    cols = list(rel.columns)
    tags = [canon_duck_type(str(t)) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    n = 0
    for r in rel.fetchall():
        if n:
            h.update(b"\n")
        h.update("\x1f".join(cell(r[i]) for i in order).encode())
        n += 1
    return {"cols": [[cols[i], tags[i]] for i in order], "rows": n, "digest": h.hexdigest()}


def connect(data):
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute("SET memory_limit = '3GB'")
    for t in gen.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def cached(cache, key_parts, compute):
    key = hashlib.sha256("\x00".join(map(str, key_parts)).encode()).hexdigest()
    path = os.path.join(cache, "oracle", key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(value, f)
    os.replace(path + ".tmp", path)
    return value


def check_op(op, exp):
    """None when the operation's result matches, else the reason."""
    if not op.get("ok"):
        return f"threw {op.get('err_class')} in {op.get('phase')}: {op.get('err', '')[:200]}"
    if exp is None:
        return "no oracle SQL"
    if "error" in exp:
        return f"oracle SQL error: {exp['error']}"
    if op["cols"] != exp["cols"]:
        return f"columns/types {op['cols']} != oracle {exp['cols']}"
    if op["rows"] != exp["rows"]:
        return f"rows {op['rows']} != oracle {exp['rows']}"
    if op["digest"] != exp["digest"]:
        return "cell values differ from oracle"
    return None


READ_BACK_SQL = """SELECT count(*), sum(l_orderkey), sum(l_partkey), sum(l_suppkey),
  sum(l_linenumber), sum(CAST(round(l_quantity * 100) AS BIGINT)),
  sum(CAST(round(l_extendedprice * 100) AS BIGINT)),
  sum(CAST(round(l_discount * 100) AS BIGINT)), sum(CAST(round(l_tax * 100) AS BIGINT)),
  sum(ascii(l_returnflag)), sum(ascii(l_linestatus)),
  sum(date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)))
FROM read_parquet(?)"""


def check_ticks(ticks, data, cache):
    """Reason per failed tick (None for a passing one), in tick order."""
    stage = os.path.join(data, "stage")
    marker = open(os.path.join(stage, "_gen_params")).read()
    con = duckdb.connect()

    def sums(name):
        return cached(cache, ["etl", marker, name], lambda: [
            int(x) for x in con.execute(READ_BACK_SQL, [os.path.join(stage, name)]).fetchone()])

    def reason(t):
        nonlocal loaded
        if not t.get("ok"):
            return f"threw {t.get('err_class')}: {t.get('err', '')[:200]}"
        if t["kind"] == "load":
            if t["returned"] != t["artifact"]:
                return f"load returned {t['returned']!r}, landed {t['artifact']!r}"
            loaded = t["artifact"]
        elif t["returned"] is not None:
            return f"no-op tick loaded {t['returned']!r}"
        if t["state"] != [loaded]:
            return f"state names {t['state']}, newest loaded is {loaded!r}"
        if t["kind"] == "load" and t["read_back"] != sums(loaded):
            return f"read-back {t['read_back']} != snapshot {sums(loaded)}"
        return None

    loaded = None
    return [reason(t) for t in ticks]


def judge(result, data, seed, cache):
    """Mark each operation correct or failed; return counts and problems."""
    problems = []
    ops = result["ops"]
    if ops:
        con = connect(data)
        marker = open(os.path.join(data, "_gen_params")).read()

        def exp_for(op):
            sql = op.get("oracle")
            if sql is None:
                return None

            def compute():
                try:
                    return expected(con, sql)
                except duckdb.Error as e:
                    return {"error": str(e)[:300]}
            return cached(cache, [marker, seed, op["name"], sql], compute)

        for op in ops:
            reason = check_op(op, exp_for(op) if op.get("ok") else None)
            op["correct"] = reason is None
            if reason:
                problems.append(f"{op['id']}: {reason}")
    ticks = result["ticks"]
    if ticks:
        for t, reason in zip(ticks, check_ticks(ticks, data, cache)):
            t["correct"] = reason is None
            if reason:
                problems.append(f"{t['kind']} tick {t.get('artifact')}: {reason}")
    for name, k in result.get("functions", {}).items():
        if k.get("err_class"):
            problems.append(f"kernel {name} threw {k['err_class']}")
        elif not k["agree"]:
            problems.append(f"kernel {name} disagrees with its built-in spelling")
    attempted = len(ops) + len(ticks) + len(result.get("functions", {}))
    return {"attempted": max(attempted, 1), "failed": len(problems), "problems": problems}

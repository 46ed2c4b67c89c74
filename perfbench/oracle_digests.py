#!/usr/bin/env python3
"""Write perfbench/digests.json: DuckDB's answers for the checked queries.

    python3 perfbench/oracle_digests.py

Run from the root of a checkout. For each query the benchmark checks
(sql_mix's mix, q244 and q157), the declared oracle statement is read from
`SparkEntry.oracleSql` through the benchmark's JVM, replayed by DuckDB over
the fixed fixture, and reduced to a canonical digest: schema, row count and
a SHA-256 of the exact values after a canonical sort, the rule of
tools/oracle_check.py (Digest.scala renders Spark's rows the same way).
DuckDB needs minutes for q244, so digests are made by this command, once,
and committed; the benchmark never runs DuckDB.
"""
import datetime
import decimal
import hashlib
import json
import os
import struct
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (build, fixture and JVM launch are shared)

QUERIES = [
    "q01_groupby_agg", "q03_join_agg", "q05_star_join", "q06_cond_agg", "q13_dates",
    "q16_topk_per_group", "q17_kpis", "q146_tpch_q1", "q147_tpch_q6", "q148_tpch_q18",
    "q168_tpch_q14", "q198_tpch_q5", "q212_tpch_q7", "q214_tpch_q13", "q216_tpch_q19",
    "q226_tpch_q3", "q227_tpch_q15", "q157_admit_rolling", "q244_web_pipeline"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def quote(s):
    out = ['"']
    for c in s:
        if c == '"':
            out.append('\\"')
        elif c == "\\":
            out.append("\\\\")
        elif c < " ":
            out.append("\\u%04x" % ord(c))
        else:
            out.append(c)
    out.append('"')
    return "".join(out)


def type_name(t):
    import pyarrow as pa
    for name, test in (("int8", pa.types.is_int8), ("int16", pa.types.is_int16),
                       ("int32", pa.types.is_int32), ("int64", pa.types.is_int64),
                       ("float32", pa.types.is_float32), ("float64", pa.types.is_float64),
                       ("bool", pa.types.is_boolean), ("timestamp", pa.types.is_timestamp),
                       ("date", pa.types.is_date32), ("decimal", pa.types.is_decimal),
                       ("binary", pa.types.is_binary)):
        if test(t):
            return name
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{type_name(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(f"{f.name}:{type_name(f.type)}" for f in t) + ">"
    return str(t)


def dbl(d):
    if d != d:
        return "f:nan"
    return "f:%016x" % struct.unpack(">Q", struct.pack(">d", 0.0 if d == 0.0 else d))[0]


def cell(v, t):
    import pyarrow as pa
    if v is None:
        return "null"
    if pa.types.is_integer(t):
        return f"i:{v}"
    if pa.types.is_floating(t):
        return dbl(float(v))
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "s:" + quote(v)
    if pa.types.is_boolean(t):
        return "b:" + ("true" if v else "false")
    if pa.types.is_timestamp(t):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return f"t:{(d.days * 86400 + d.seconds) * 1000000 + d.microseconds}"
    if pa.types.is_date32(t):
        return f"d:{(v - EPOCH.date()).days}"
    if pa.types.is_decimal(t):
        return "m:" + ("0" if v == 0 else format(v.normalize(), "f"))
    if pa.types.is_binary(t):
        return "x:" + v.hex()
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "l:[" + ",".join(cell(x, t.value_type) for x in v) + "]"
    if pa.types.is_struct(t):
        return "r:{" + ",".join(cell(v[f.name], f.type) for f in t) + "}"
    return "?:" + quote(str(v))


def digest(table):
    fields = sorted(table.schema, key=lambda f: f.name)
    cols = [table.column(f.name).to_pylist() for f in fields]
    rows = []
    for i in range(table.num_rows):
        rows.append(("[" + ",".join(quote(cell(c[i], f.type)) for c, f in zip(cols, fields))
                     + "]").encode("utf-8"))
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(r + b"\n")
    return {"columns": [[f.name, type_name(f.type)] for f in fields],
            "rows": table.num_rows, "sha256": h.hexdigest()}


def main():
    import duckdb
    cp = run.build()
    fx, fx_sha = run.fixture()
    code, lines = run.run_jvm(run.java_cmd(cp, ["--dump-oracles", ",".join(QUERIES)],
                                           os.path.abspath(run.WORK)), 300)
    if code != 0:
        raise SystemExit("perfbench: could not read the oracle statements")
    oracles = json.loads(lines[-1])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fx}/{t}.parquet')")
    out = {"fixture": fx_sha, "duckdb": duckdb.__version__, "queries": {}}
    for name in QUERIES:
        t = time.time()
        out["queries"][name] = digest(con.execute(oracles[name]).arrow())
        run.log(f"{name}: {out['queries'][name]['rows']} rows, {time.time() - t:.1f} s")
    with open(f"{run.BENCH}/digests.json", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

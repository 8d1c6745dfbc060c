#!/usr/bin/env python3
"""Record the DuckDB oracle for the query_mix workload.

Run once, from the root of a checkout, after a benchmark run has built the
harness (the classpath comes from that build):

    python3 perfbench/record_oracle.py

It asks the harness for the oracle SQL of every query in the mix
(`SparkEntry.oracleSql`), runs each in DuckDB over perfbench/data/sf0.01,
and writes each result's row count and row-multiset hash to
perfbench/oracle/query_mix.json. The hash renders every value exactly as
`QueryMix.canon` does on the Spark side: md5 of the row's values in
column-name order, first 8 bytes summed modulo 2^64. Needs the `duckdb`
Python package; the benchmark itself does not.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct
import subprocess
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
OUT = os.path.join(HERE, "oracle", "query_mix.json")
EPOCH = datetime.datetime(1970, 1, 1)


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "B1" if v else "B0"
    if isinstance(v, int):
        return "I" + str(v)
    if isinstance(v, decimal.Decimal):
        d = v.normalize()
        return "D" + format(d, "f")
    if isinstance(v, float):
        if math.isnan(v):
            return "FNaN"
        if v == 0.0:
            return "F0"
        return "F%016x" % struct.unpack(">Q", struct.pack(">d", v))[0]
    if isinstance(v, str):
        return "S" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "T" + str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "d" + v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v)}")


def result_hash(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        text = "|".join(canon(r[i]) for i in order)
        total += struct.unpack(">q", hashlib.md5(text.encode("utf-8")).digest()[:8])[0]
    return "%016x" % (total % (1 << 64))


def main():
    cp = open(os.path.join(HERE, "target", "perfbench.classpath")).read().strip()
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        sql_file = os.path.join(tmp, "oracle_sql.json")
        subprocess.run(["java", "-cp", cp, "perfbench.Main", "--mode", "oracle-sql",
                        "--out", sql_file], check=True)
        sqls = json.load(open(sql_file))
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(DATA, f)}')")
    out = {}
    for name in sorted(sqls):
        cur = con.execute(sqls[name])
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[name] = {"rows": len(rows), "hash": result_hash(cols, rows)}
        print(f"{name}: {len(rows)} rows", file=sys.stderr)
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        f.write("{\n" + ",\n".join(f'  "{k}": {json.dumps(v)}' for k, v in out.items()) + "\n}\n")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""One-off cross-check of the pinned pipeline fingerprints against DuckDB.

Runs the oracle SQL that SparkEntry.oracleSql exports for the pipeline
queries over the benchmark's generated fixture, fingerprints each result the
way perfbench/src/main/scala/perfbench/Fingerprint.scala does, and compares
it with the Spark fingerprint and with perfbench/fingerprints.json.

    java -cp "$(cat .bench_build/classpath.txt)" perfbench.OracleExport <dir>
    python3 perfbench/oracle_crosscheck.py <dir>

Exit status 0 when every query agrees on all three.
"""
import datetime as dt
import decimal
import glob
import hashlib
import json
import math
import os
import sys

import duckdb


def num(v):
    if math.isnan(v):
        return "nan"
    if math.isinf(v):
        return "inf" if v > 0 else "-inf"
    if v == 0.0:
        return "0"
    return "%.6e" % v


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        return num(v)
    if isinstance(v, decimal.Decimal):
        return num(float(v))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        delta = v - dt.datetime(1970, 1, 1)
        return str((delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds)
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    return str(v)


def lines(cur):
    """Canonical row strings, columns in name order."""
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    return ["|".join(canon(row[i]) for i in order) for row in cur.fetchall()]


def fingerprint(rows):
    total = sum(int.from_bytes(hashlib.sha256(x.encode()).digest()[:8], "big", signed=True)
                for x in rows)
    return f"{len(rows)}:{total % 2**64:016x}"


def main():
    out = sys.argv[1]
    here = os.path.dirname(os.path.abspath(__file__))
    con = duckdb.connect()
    for p in glob.glob(os.path.join(out, "fixture", "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    spark = json.load(open(os.path.join(out, "spark_fingerprints.json")))
    pinned = json.load(open(os.path.join(here, "fingerprints.json")))
    bad = 0
    for q in sorted(oracle):
        duck_rows = lines(con.execute(oracle[q]))
        duck = fingerprint(duck_rows)
        ok = duck == spark.get(q) == pinned.get(q)
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {q:28s} duckdb {duck}  spark {spark.get(q)}  pinned {pinned.get(q)}")
        if not ok:
            spark_rows = lines(con.execute(
                f"SELECT * FROM read_parquet('{os.path.join(out, 'spark', q)}/*.parquet')"))
            only_duck = sorted(set(duck_rows) - set(spark_rows))[:3]
            only_spark = sorted(set(spark_rows) - set(duck_rows))[:3]
            print("     duckdb only:", only_duck)
            print("     spark only: ", only_spark)
    print(f"{len(oracle) - bad}/{len(oracle)} agree")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Expected fingerprints from the DuckDB oracle SQL.

    python3 perfbench/run.py --oracles oracles.json
    python3 perfbench/tools/expected.py oracles.json SF_DIR > fingerprints.duckdb.tsv

Runs each query's oracle SQL in DuckDB over the sf0.1 parquet tables and
prints `name<TAB>fingerprint`, with the canonical row form of
perfbench.Fingerprint (Fingerprint.scala); the two must stay identical.
A query whose oracle errors or runs past the time limit prints
`ERROR` instead.
"""
import datetime
import decimal
import hashlib
import json
import math
import sys
import threading

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
CTX = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)
LIMIT_S = 120


def number(d):
    if d == 0:
        return "0"
    if d == d.to_integral_value():
        return str(int(d))
    return format(CTX.plus(d).normalize(), "f")


def value(v, is_map=False):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return number(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return number(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t:" + v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return value(datetime.datetime(v.year, v.month, v.day))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        if is_map:
            pairs = sorted(value(k) + ":" + value(x) for k, x in zip(v["key"], v["value"]))
            return "m{" + ",".join(pairs) + "}"
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    return str(v)


def hash64(s):
    return int.from_bytes(hashlib.sha256(s.encode("utf-8")).digest()[:8], "big")


def fingerprint(cols, types, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = hash64("|".join(cols[i] for i in order))
    maps = [str(types[i]).upper().startswith("MAP") for i in range(len(cols))]
    for r in rows:
        total += hash64("|".join(value(r[i], maps[i]) for i in order))
    return f"{len(rows)}:{total % 2**64:016x}"


def main():
    oracles = json.load(open(sys.argv[1]))
    sf = sys.argv[2]
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='3GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    for name, sql in sorted(oracles.items()):
        timer = threading.Timer(LIMIT_S, con.interrupt)
        timer.start()
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            types = [d[1] for d in cur.description]
            fp = fingerprint(cols, types, cur.fetchall())
        except Exception as e:  # noqa: BLE001 - reported per query
            fp = "ERROR"
            print(f"{name}: {type(e).__name__}: {str(e)[:200]}", file=sys.stderr)
        finally:
            timer.cancel()
        print(f"{name}\t{fp}", flush=True)


if __name__ == "__main__":
    main()

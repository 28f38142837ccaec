#!/usr/bin/env python3
"""Regenerate perfbench/fingerprints.json, the expected batch_mix results.

    python3 perfbench/fingerprints.py

Run from the root of a checkout. Builds the benchmark (as run.py does), dumps
the DuckDB oracle SQL of the 24 batch_mix queries from the engine's registry,
runs it with DuckDB over perfbench/data/sf0.01 and writes each query's row
count and order-insensitive hash. The canonical row form matches
perfbench.Fingerprint (Scala) exactly.
"""
import datetime
import decimal
import hashlib
import json
import os
import struct
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def canon(v, is_map=False):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        z = 0.0 if v == 0.0 else v
        bits = struct.unpack(">q", struct.pack(">d", z))[0] & 0xFFFFFFFFFFFFFFFF
        return f"f{bits:x}"
    if isinstance(v, decimal.Decimal):
        return "d0" if v == 0 else "d" + format(v.normalize(), "f")
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        t = v if v.tzinfo else v.replace(tzinfo=datetime.timezone.utc)
        d = t - EPOCH
        return f"t{(d.days * 86400 + d.seconds) * 1000000 + d.microseconds}"
    if isinstance(v, datetime.date):
        return f"D{(v - datetime.date(1970, 1, 1)).days}"
    if isinstance(v, (bytes, bytearray)):
        return "x" + v.hex()
    if isinstance(v, dict):
        if is_map:
            return "{" + ",".join(sorted(f"{canon(k)}:{canon(w)}" for k, w in v.items())) + "}"
        return "(" + ",".join(canon(w) for w in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(w) for w in v) + "]"
    return "?" + str(v)


def fingerprint(rel):
    cols = rel.columns
    maps = [str(t).upper().startswith("MAP") for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    acc, n = 0, 0
    for row in rel.fetchall():
        s = "|".join(f"{cols[i]}={canon(row[i], maps[i])}" for i in order)
        acc = (acc + int.from_bytes(hashlib.sha256(s.encode()).digest()[:8], "big")) % (1 << 64)
        n += 1
    return {"rows": n, "hash": f"{acc:016x}"}


def main():
    cp = run.build()
    here = run.HERE
    sql_path = os.path.join(run.BUILD, "oracle_sql.json")
    subprocess.run(["java", "-cp", cp, "perfbench.DumpOracle", sql_path], check=True)
    with open(sql_path) as fh:
        oracle = json.load(fh)
    data = os.path.join(here, "data", "sf0.01")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out = {name: fingerprint(con.sql(sql)) for name, sql in oracle.items()}
    with open(os.path.join(here, "fingerprints.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(out)} fingerprints")


if __name__ == "__main__":
    main()

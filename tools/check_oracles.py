"""Local replica of the driver's correctness gate: run every queries()
entry at sf0.01 in Spark AND its oracle_sql() in DuckDB; compare row count,
column names, and an order-insensitive value hash (columns sorted by name,
rows sorted, values stringified with float rounding)."""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, bool):
        return "T" if v else "F"
    return str(v)


def frame_hash(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = sorted(
        "|".join(norm_cell(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    h = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return len(df), cols, h


def main(only: list[str] | None = None) -> int:
    import __spark_entry__ as entrymod
    from xmlschemavalidator_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name in sorted(set(only or ()) - set(qs)):
        print(f"FAIL {name}: no such query")  # a typo must not pass as "checked"
        failures += 1
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows={len(sdf)} (rows-only, no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        sn, sc, sh = frame_hash(sdf)
        dn, dc, dh = frame_hash(ddf)
        status = "ok  " if (sn, sc, sh) == (dn, dc, dh) else "FAIL"
        if status == "FAIL":
            failures += 1
            print(f"{status} {name}: spark=({sn},{sc}) duck=({dn},{dc}) hash {'=' if sh==dh else '!='}")
            if sn == dn and sc == dc:
                merged = sdf[sorted(sdf.columns)].copy()
                merged2 = ddf[sorted(ddf.columns)].copy()
                srows = sorted("|".join(norm_cell(v) for v in r) for r in merged.itertuples(index=False, name=None))
                drows = sorted("|".join(norm_cell(v) for v in r) for r in merged2.itertuples(index=False, name=None))
                diff = [(a, b) for a, b in zip(srows, drows) if a != b][:3]
                for a, b in diff:
                    print(f"      spark: {a}\n      duck : {b}")
        else:
            print(f"{status} {name}: rows={sn} hash={sh[:8]} [{time.time()-t0:.1f}s]")
    spark.stop()
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))

"""Local mimic of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf=0.01 (override with
argv[1]) and compares row count + sorted stringified values against the
matching ``oracle_sql()`` in DuckDB over the same parquet tables. The
Spark master is ``get_spark``'s default, ``local[SPARK_GRAFT_CPUS]``
(default: the cores this process may run on).
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from loongcollector_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, dict):
        return str(sorted(v.items()))
    return str(v)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    ran = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            spark_rows = [tuple(norm(x) for x in r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(spark_rows)} rows "
                  f"({time.time()-t0:.1f}s)")
            continue
        try:
            duck_rows = [
                tuple(norm(x) for x in r)
                for r in con.execute(oracles[name]).fetchall()
            ]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        s, d = sorted(spark_rows), sorted(duck_rows)
        if s == d:
            print(f"MATCH {name}: {len(s)} rows ({time.time()-t0:.1f}s)")
        else:
            failures.append(name)
            print(f"FAIL  {name}: spark={len(s)} duck={len(d)}")
            ss, dd = set(s), set(d)
            for r in list(ss - dd)[:2]:
                print(f"   only spark: {r}")
            for r in list(dd - ss)[:2]:
                print(f"   only duck : {r}")
    print(f"\n{ran - len(failures)}/{ran} ok"
          + (f" (of {len(queries)} registered)" if ran != len(queries) else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

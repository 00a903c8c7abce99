#!/usr/bin/env python
"""Round-6 equivalence gate: run declared queries against their DuckDB
oracles at one or more scale factors (the driver's correctness check,
standalone). Usage:

  python tools/check_oracle.py [--sfs 0.001,0.01,0.1] [--queries a,b,...]

Exits non-zero on any mismatch.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.test_entry_oracle import TABLES, _rows  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sfs", default="0.001,0.01,0.1")
    ap.add_argument("--queries", default="")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry_mod
    from osmptparser_spark.session import get_spark

    spark = get_spark(
        "oracle-check", master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    )
    spark.sparkContext.setLogLevel("ERROR")

    names = [q for q in args.queries.split(",") if q] or sorted(
        entry_mod.queries().keys()
    )
    oracles = entry_mod.oracle_sql()
    failures = 0
    for sf in args.sfs.split(","):
        sf_dir = f"/root/testdata/sf{sf}"
        duck = duckdb.connect()
        for t in TABLES:
            duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        for name in names:
            q = entry_mod.queries()[name]
            sql = oracles.get(name)
            sdf = q(spark, sf_dir)
            if sql is None:
                print(f"sf{sf} {name}: rows-only ({sdf.count()} rows)")
                continue
            spark_cols = sorted(sdf.columns)
            got = _rows([tuple(r[c] for c in spark_cols) for r in sdf.collect()])
            res = duck.execute(sql)
            duck_cols = [d[0] for d in res.description]
            if sorted(duck_cols) != spark_cols:
                print(f"sf{sf} {name}: FAIL column names {duck_cols} vs {spark_cols}")
                failures += 1
                continue
            order = [duck_cols.index(c) for c in spark_cols]
            want = _rows([tuple(row[i] for i in order) for row in res.fetchall()])
            if got == want:
                print(f"sf{sf} {name}: OK ({len(got)} rows)")
            else:
                diff = next(((a, b) for a, b in zip(got, want) if a != b), None)
                print(
                    f"sf{sf} {name}: FAIL rows {len(got)} vs {len(want)}, "
                    f"first diff {diff}"
                )
                failures += 1
        duck.close()
    print(f"failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

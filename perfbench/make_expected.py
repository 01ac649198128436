"""Regenerate ``expected.json``: ``(n_rows, sig)`` of every ``sql_mix`` op,
computed by DuckDB from each facet's oracle (``queries.ORACLE``) and
from the extracts' SQL, over the benchmark's copy of the sf0.1 tables.

    python3 perfbench/make_expected.py            # write expected.json
    python3 perfbench/make_expected.py --verify   # also run Spark, compare

Run it from the root of a checkout. It is not part of a benchmark run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from checks import signature  # noqa: E402
from workloads import EXTRACTS, SQL_FACETS  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.1")
OUT = os.path.join(HERE, "expected.json")


def oracle_tables() -> dict:
    import duckdb

    from fugue_warehouses_spark.queries import ORACLE

    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        name = f.removesuffix(".parquet")
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{os.path.join(DATA, f)}')"
        )
    out = {}
    for facet in SQL_FACETS:
        out[facet] = con.sql(ORACLE[facet]).arrow()
    for name, (table, cols, pred) in EXTRACTS.items():
        out[name] = con.sql(
            f"SELECT {', '.join(cols)} FROM {table} WHERE {pred}"
        ).arrow()
    return out


def spark_tables() -> dict:
    import pyspark.sql.functions as F

    from fugue_warehouses_spark.engine import SparkWarehouseEngine
    from fugue_warehouses_spark.queries import QUERIES
    from fugue_warehouses_spark.session import get_spark

    spark = get_spark()
    engine = SparkWarehouseEngine(spark)
    out = {f: QUERIES[f](spark, DATA).toArrow() for f in SQL_FACETS}
    for name, (table, cols, pred) in EXTRACTS.items():
        frame = engine.load_df(os.path.join(DATA, f"{table}.parquet"), columns=cols)
        out[name] = frame.native.filter(F.expr(pred)).toArrow()
    spark.stop()
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--verify", action="store_true")
    args = ap.parse_args()
    expected = {}
    for name, table in oracle_tables().items():
        n, sig = signature(table)
        expected[name] = {
            "n_rows": n,
            "sig": sig,
            "columns": sorted(table.column_names),
            "source": "duckdb",
        }
    with open(OUT, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(expected)} entries to {OUT}")
    if not args.verify:
        return 0
    bad = 0
    for name, table in spark_tables().items():
        want = expected[name]
        got = [*signature(table), sorted(table.column_names)]
        if got != [want["n_rows"], want["sig"], want["columns"]]:
            bad += 1
            print(f"MISMATCH {name}: spark {got[:2]} oracle "
                  f"{[want['n_rows'], want['sig']]}")
    print(f"spark agrees on {len(expected) - bad}/{len(expected)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

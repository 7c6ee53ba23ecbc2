"""Pin the catalog workload's expected results from the DuckDB oracle.

For every query of the ``plans.bench_queries()`` roster, runs its
``plans.oracle_sql()`` text in DuckDB over ``data/sf0.1`` and stores the
row count, the sorted column names and the ``canon()`` hash in
``catalog_expected.json``, with an md5 of each table file so that a
change of data shows.  Run it once, from the root of a checkout, when
the roster, its oracle SQL or the data change:

    python3 perfbench/pin_catalog.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import duckdb  # noqa: E402

from catalog import DATA_DIR, PINS, TABLES, canon  # noqa: E402
from spark_bi5_datasource_spark import plans  # noqa: E402


def main() -> None:
    con = duckdb.connect()
    files = {}
    for t in TABLES:
        path = os.path.join(DATA_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS FROM '{path}'")
        with open(path, "rb") as f:
            files[f"{t}.parquet"] = hashlib.md5(f.read()).hexdigest()
    oracle = plans.oracle_sql()
    pins = {}
    for name in plans.bench_queries():
        df = con.sql(oracle[name]).df()
        pins[name] = {"rows": len(df), "columns": sorted(df.columns), "canon": canon(df)}
        print(f"{name:32s} rows={len(df)}", flush=True)
    with open(PINS, "w") as f:
        json.dump({"duckdb": duckdb.__version__, "data_md5": files, "queries": pins},
                  f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()

"""The ``catalog_sf01`` workload: one pass over the ``plans.bench_queries()``
roster at sf0.1.

No bi5 code runs here; the workload is the control that must not move
when only the datasource changes.  Each query is collected as Arrow, so
one execution is both timed and checked; the check (row count, columns
and the ``canon()`` hash of ``scripts/verify_oracle.py``) runs outside
the timed region against values pinned from the DuckDB oracle by
``pin_catalog.py``.  A mismatch counts as a failed operation; the query
stays in the roster.
"""

from __future__ import annotations

import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.1")
PINS = os.path.join(HERE, "catalog_expected.json")
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()
# the smoke run's roster: two short queries
TINY_ROSTER = ("b5_groupby_count", "q1_pricing_summary")


def canon(df) -> str:
    """Order-insensitive value hash, the same as ``scripts/verify_oracle.py``."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    rows = sorted(df.astype(str).itertuples(index=False, name=None))
    return hashlib.md5(repr(rows).encode()).hexdigest()


def to_pandas(table):
    """Arrow result to the frame ``DataFrame.toPandas()`` gives under a UTC
    session: time-zone-aware timestamps become naive UTC."""
    df = table.to_pandas()
    for c in df.columns:
        if getattr(df[c].dtype, "tz", None) is not None:
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


class Catalog:
    name = "catalog_sf01"
    single_round = True  # one pass over the roster

    def __init__(self, tiny: bool = False) -> None:
        self.tiny = tiny

    def prepare(self, data_dir: str, seed: int) -> None:
        """Load the pinned expectations; the data is fixed, the seed unused."""
        from spark_bi5_datasource_spark import plans

        with open(PINS) as f:
            self.pins = json.load(f)["queries"]
        self.queries = plans.queries()
        roster = list(plans.bench_queries())
        self.roster = [q for q in roster if q in TINY_ROSTER] if self.tiny else roster
        missing = [t for t in TABLES if not os.path.exists(os.path.join(DATA_DIR, f"{t}.parquet"))]
        if missing:
            raise FileNotFoundError(f"sf0.1 tables missing from {DATA_DIR}: {missing}")

    def warmup(self, spark) -> None:
        """Warm what all queries share, with no roster query: parquet scans,
        an aggregate, a join, a window and the pandas Python workers.  Each
        query's own planning and code generation stays in the timed pass."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        def table(name):
            return spark.read.parquet(os.path.join(DATA_DIR, f"{name}.parquet"))

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        noop(table("lineitem").groupBy("l_returnflag").count())
        nation = table("nation").join(table("region"), F.col("n_regionkey") == F.col("r_regionkey"))
        noop(nation.withColumn(
            "k", F.row_number().over(Window.partitionBy("r_name").orderBy("n_name"))))
        region = table("region")
        noop(region.mapInPandas(lambda frames: frames, region.schema))

    def layer_metrics(self, tracer) -> dict[str, float]:
        return {}  # no bi5 layer runs here; catalog.<query>_s come from the ops

    def round(self, spark, r: int, run_op) -> None:
        for name in self.roster:
            run_op(name, self._query(spark, name))

    def _query(self, spark, name: str):
        out = {}

        def op():
            out["t"] = self.queries[name](spark, DATA_DIR).toArrow()

        def check():
            pin = self.pins.get(name)
            if pin is None:
                return False
            df = to_pandas(out.pop("t"))
            return (len(df) == pin["rows"] and sorted(df.columns) == pin["columns"]
                    and canon(df) == pin["canon"])

        return op, check

    def summary(self, ops) -> dict[str, tuple[float, str]]:
        import math

        secs = [o.seconds for o in ops]
        return {
            "catalog_total_s": (sum(secs), "s"),
            "catalog_geomean_s": (math.exp(sum(map(math.log, secs)) / len(secs)), "s"),
        }

"""The catalog registry's invariants, checked without a Spark session:
the key set, the oracle texts, the bench roster and ``DRIVER_WINDOW``
are pinned by hash, and a second registration of a name raises."""

from __future__ import annotations

import hashlib
import json

import pytest

from spark_bi5_datasource_spark import plans
from spark_bi5_datasource_spark.plans.registry import REGISTRY, query


def _h(x) -> str:
    return hashlib.md5(json.dumps(x).encode()).hexdigest()


def test_catalog_keys_pinned():
    assert len(plans.CATALOG) == 264
    assert _h(sorted(plans.CATALOG)) == "95a750897b290b94a5ce825d80c459cc"


def test_oracle_sql_pinned():
    oracles = plans.oracle_sql()
    assert len(oracles) == 255
    assert _h(sorted(oracles.items())) == "90439eb3bfaa84a301f0011c7ddb7449"


def test_bench_roster_pinned():
    bench = plans.bench_queries()
    assert len(bench) == 33
    assert _h(sorted(bench)) == "0509387497fa5377acd1d07916b6dae8"


def test_window_leads_catalog():
    assert list(plans.CATALOG)[:50] == plans.DRIVER_WINDOW
    assert _h(list(plans.CATALOG)[:50]) == "4ec0beb6fa110baf8ed405509747debe"


def test_duplicate_name_raises():
    before = dict(REGISTRY)
    with pytest.raises(ValueError, match="q1_pricing_summary"):
        query("q1_pricing_summary", None)(lambda spark, sf: None)
    assert REGISTRY == before

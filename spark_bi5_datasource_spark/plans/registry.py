"""The one query registry: every catalog module registers its queries
here with ``@query(name, oracle_sql, bench=...)``.

``REGISTRY`` keeps registration order (the domain modules' import
order, then definition order); ``plans.CATALOG`` is the same entries
with ``DRIVER_WINDOW`` moved to the front."""

from __future__ import annotations

# name -> (fn(spark, sf_dir) -> DataFrame, oracle_sql | None, in_bench)
REGISTRY: dict[str, tuple] = {}


def query(name: str, sql: str | None, bench: bool = False):
    """Register ``fn`` as catalog query ``name``, checked against the
    DuckDB ``sql`` when it is not None and part of the bench roster
    when ``bench``.  A second registration of a name raises."""

    def wrap(fn):
        if name in REGISTRY:
            raise ValueError(f"catalog query {name!r} is already registered")
        REGISTRY[name] = (fn, sql, bench)
        return fn

    return wrap

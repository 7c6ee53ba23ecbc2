"""Lakehouse catalog queries: table-maintenance operations (MERGE
upserts, SCD2, CDC apply, incremental materialized views, table diff)
and storage layout (z-ordering, co-bucketed tables).

Scratch artifacts go under the repository's gitignored
``spark-warehouse/`` (``_warehouse``), keyed by scale factor.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fastmoney import HALF_ADJUST_CENTS as _HA
from .registry import query
from .tables import t


# z-value recipe shared between engines: identical bit plan, emitted
# once as a Catalyst column tree and once as DuckDB SQL
_Z_BITS = 16
_Z_SQL_EXPRS = ["(user_id & 65535)", "(CAST(floor(value) AS BIGINT) & 65535)"]


def _zorder_sql() -> str:
    from ..operators.zorder import zvalue_sql

    return f"""
    SELECT event_id, {zvalue_sql(_Z_SQL_EXPRS, _Z_BITS)} AS zval
    FROM events
    """


@query("zorder_values", _zorder_sql(), bench=True)
def zorder_values(spark: SparkSession, sf: str) -> DataFrame:
    """Morton z-values over (user_id, value) — the multi-column
    data-skipping sort key (operators/zorder.py).  The bit-interleave
    is pure integer arithmetic built from one shared recipe, so Spark
    and DuckDB agree bit-for-bit; ``zorder_write`` uses the same
    column to produce the clustered parquet layout."""
    from ..operators.zorder import zvalue

    ev = t(spark, sf, "events")
    z = zvalue(
        [
            F.col("user_id").bitwiseAND(F.lit(65535)),
            F.expr("CAST(floor(value) AS BIGINT)").bitwiseAND(F.lit(65535)),
        ],
        _Z_BITS,
    )
    return ev.select("event_id", z.alias("zval"))


@query(
    "merge_upsert_orders",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
    ), src AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice
      FROM base WHERE o_orderkey % 13 = 0
      UNION ALL
      SELECT o_orderkey + 500000000, o_custkey, 'N', o_totalprice
      FROM base WHERE o_orderkey % 17 = 0
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM src
    UNION ALL
    SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.o_totalprice
    FROM base b ANTI JOIN src s ON b.o_orderkey = s.o_orderkey
    """,
)
def merge_upsert_orders(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO semantics (operators/upsert.py): a derived delta —
    updates (status→'U' for orderkey%13=0) plus inserts (new keys,
    status 'N') — upserted into orders via the broadcast-anti-join
    composition.  The target is never shuffled: the 100-TB merge
    plan."""
    from ..operators.upsert import merge_upsert

    orders = t(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = orders.filter(F.col("o_orderkey") % 13 == 0).withColumn(
        "o_orderstatus", F.lit("U")
    )
    inserts = orders.filter(F.col("o_orderkey") % 17 == 0).select(
        (F.col("o_orderkey") + 500000000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    return merge_upsert(orders, updates.unionByName(inserts), ["o_orderkey"])


@query(
    "scd2_customer_orders",
    """
    SELECT o_custkey, o_orderkey, o_orderstatus,
      o_orderdate AS valid_from,
      lead(o_orderdate) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ) AS valid_to,
      CAST(CASE WHEN lead(o_orderdate) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ) IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
    FROM orders
    """,
)
def scd2_customer_orders(spark: SparkSession, sf: str) -> DataFrame:
    """SCD Type-2 build (operators/scd.py): each customer's order
    history becomes versioned rows with [valid_from, valid_to)
    intervals and a current flag — one window pass, no self-join."""
    from ..operators.scd import scd2_build

    orders = t(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    return scd2_build(
        orders, ["o_custkey"], "o_orderdate", tiebreak=["o_orderkey"]
    ).select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        F.col("valid_from"),
        F.col("valid_to"),
        "is_current",
    )


# ------------------------------------------------- batch CDC apply


@query(
    "cdc_apply_orders",
    # the oracle recomputes the batch's net effect declaratively
    """
    WITH keep AS (
      SELECT * FROM orders WHERE o_orderkey % 10 NOT IN (0, 1, 2)
    ), upd AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             round(o_totalprice * 1.1, 6) AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 10 IN (1, 2)
    ), ins AS (
      SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
             'N' AS o_orderstatus, round(o_totalprice, 6) AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 10 = 3
    )
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(o_totalprice, 6) AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM keep
    UNION ALL SELECT * FROM upd
    UNION ALL SELECT * FROM ins
    """,
)
def cdc_apply_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Batch CDC apply (operators/upsert.py cdc_apply): a synthetic
    change batch — deletes (key%10=0), 10% price updates (%10∈{1,2}),
    shifted-key inserts (%10=3) — applied in one anti-join + union
    pass; target never shuffled.  The batch is derived
    deterministically from the fixture so the oracle can recompute
    the net effect declaratively."""
    from ..operators.upsert import cdc_apply

    o = t(spark, sf, "orders")
    key = F.col("o_orderkey")
    dels = o.filter(key % 10 == 0).select(
        "*", F.lit("D").alias("op"), F.lit(1).alias("seq")
    )
    upds = (
        o.filter((key % 10).isin(1, 2))
        .withColumn("o_totalprice", F.round(F.col("o_totalprice") * 1.1, 6))
        .select("*", F.lit("U").alias("op"), F.lit(1).alias("seq"))
    )
    ins = (
        o.filter(key % 10 == 3)
        .withColumn("o_orderkey", key + 100_000_000)
        .withColumn("o_orderstatus", F.lit("N"))
        .select("*", F.lit("I").alias("op"), F.lit(1).alias("seq"))
    )
    changes = dels.unionByName(upds).unionByName(ins)
    out = cdc_apply(o, changes, ["o_orderkey"], broadcast_changes=False)
    return out.withColumn("o_totalprice", F.round("o_totalprice", 6))


# -------------------------------- incremental view maintenance (IVM)


@query(
    "mv_incremental_orders",
    # oracle = the DECLARATIVE full recompute over the post-delta
    # order set (base minus retractions plus late inserts): a hash
    # match certifies the counting-algorithm maintenance path never
    # touched the base yet landed on the same view
    """
    WITH b AS (
      SELECT *, CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                     AS BIGINT) % 100 AS bucket
      FROM orders
    ), post AS (
      SELECT * FROM b WHERE bucket >= 10
    )
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM post
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def mv_incremental_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental view maintenance, certified: a count/sum view over
    the base orders (md5 buckets 0-89) is maintained under one signed
    delta batch — inserts (buckets 90-99, arriving late) and
    retractions (bucket 0-9 rows, deleted) — via operators/ivm.py's
    counting algorithm.  The base table is scanned once to build the
    view and NEVER again; the oracle recomputes the post-delta state
    declaratively, so the hash gate certifies the merge arithmetic.

    Money stays exact as bigint cents (the house scaled-integer
    idiom)."""
    from ..operators.ivm import delta_agg_apply

    orders = t(spark, sf, "orders").withColumn(
        "bucket",
        F.conv(F.md5(F.col("o_orderkey").cast("string")).substr(1, 8), 16, 10)
        .cast("long")
        % 100,
    ).withColumn(
        "cents", F.expr(_HA.format(x="o_totalprice", m=100))
    )
    base = orders.filter(F.col("bucket") < 90)
    mv = base.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"),
        F.sum("cents").alias("total_cents"),
    )
    inserts = orders.filter(F.col("bucket") >= 90).withColumn(
        "_sign", F.lit(1)
    )
    retracts = orders.filter(F.col("bucket") < 10).withColumn(
        "_sign", F.lit(-1)
    )
    delta = inserts.unionByName(retracts).select(
        "o_orderstatus", "o_orderpriority", "cents", "_sign"
    )
    return delta_agg_apply(
        mv,
        delta,
        keys=["o_orderstatus", "o_orderpriority"],
        sums={"total_cents": "cents"},
    ).select(
        "o_orderstatus",
        "o_orderpriority",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("total_cents").cast("bigint").alias("total_cents"),
    )


# ----------------------------------- table diff / reconciliation


@query(
    "table_diff_orders",
    # the oracle CLASSIFIES the planted delta declaratively; the Spark
    # side must rediscover it through the generic diff operator
    """
    WITH k AS (
      SELECT o_orderkey,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS bucket
      FROM orders
    )
    SELECT o_orderkey, 'removed' AS status FROM k WHERE bucket < 5
    UNION ALL
    SELECT o_orderkey, 'changed' FROM k WHERE bucket BETWEEN 5 AND 9
    UNION ALL
    SELECT o_orderkey + 1000000000, 'added' FROM k
    WHERE bucket BETWEEN 10 AND 14
    """,
)
def table_diff_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot reconciliation (operators/diff.py): a second snapshot
    of orders is derived with a planted delta — md5 buckets 0-4
    deleted, 5-9 repriced, 10-14 duplicated under shifted keys — and
    the generic full-outer null-safe diff must classify exactly that
    delta (unchanged rows never surface).  The oracle states the
    planted classification declaratively, so the hash gate certifies
    the diff machinery end to end."""
    from ..operators.diff import table_diff

    orders = t(spark, sf, "orders").withColumn(
        "bucket",
        F.conv(F.md5(F.col("o_orderkey").cast("string")).substr(1, 8), 16, 10)
        .cast("long")
        % 100,
    )
    changed = orders.filter((F.col("bucket") >= 5) & (F.col("bucket") < 10))
    added = orders.filter(
        (F.col("bucket") >= 10) & (F.col("bucket") < 15)
    ).withColumn("o_orderkey", F.col("o_orderkey") + F.lit(1_000_000_000))
    snapshot_b = (
        orders.filter(F.col("bucket") >= 5)
        .withColumn(
            "o_orderpriority",
            F.when(F.col("bucket") < 10, F.lit("X-DIFF")).otherwise(
                F.col("o_orderpriority")
            ),
        )
        .unionByName(added)
    )
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    return table_diff(
        orders.select(*cols),
        snapshot_b.select(*cols),
        keys=["o_orderkey"],
    )


def _warehouse(sf: str, leaf: str) -> str:
    """Deterministic scratch location inside the repo's gitignored
    spark-warehouse/, anchored on the package path (cwd-independent),
    keyed by the sf dir's basename so scales don't clobber each
    other."""
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    return os.path.join(
        repo,
        "spark-warehouse",
        leaf,
        os.path.basename(os.path.normpath(sf)),
    )


# ---------------------------- co-bucketed doc⋈embedding write path

_COBUCKET_SQL = """
    SELECT d.source,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(count(e.vec_id) AS BIGINT) AS n_vecs,
      CAST(sum(len(e.embedding)) AS BIGINT) AS dim_cells,
      CAST(sum(CASE WHEN e.label IS NOT NULL THEN 1 ELSE 0 END)
        AS BIGINT) AS n_labeled
    FROM documents d LEFT JOIN embeddings e ON e.vec_id = d.doc_id
    WHERE d.source IS NOT NULL
    GROUP BY d.source ORDER BY d.source
"""


def _cobucketed_tables(
    spark: SparkSession, sf: str
) -> tuple[DataFrame, DataFrame]:
    """Materialize (once per fixture, fingerprint-keyed) the
    documents/embeddings pair through the PUBLIC co-bucketed write
    path — ``sources.layout.write_bucketed``, each table hash-
    bucketed and sorted on its id with the same bucket count — and
    return the two registered bucketed frames.  New sessions
    re-attach the existing directories via ``register_bucketed``
    (DDL only)."""
    import hashlib

    from ..sources.layout import (
        enable_sorted_bucketed_scans,
        register_bucketed,
        write_bucketed,
    )

    parts: list[str] = []
    for name in ("documents", "embeddings"):
        src = os.path.join(os.path.normpath(sf), f"{name}.parquet")
        if os.path.exists(src):
            st = os.stat(src)
            parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    fp = hashlib.md5("|".join(parts).encode()).hexdigest()[:12]
    base = os.path.join(_warehouse(sf, "cobucketed_docs_emb"), fp)
    # layout-session flag via the shared setup path (bench.py also
    # sets it at session build, so timed sessions see ONE uniform
    # value rather than a mid-run flip ordered by entry execution)
    enable_sorted_bucketed_scans(spark)
    out = []
    for name, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        tbl = f"bi5_cobucket_{fp}_{name}"
        path = os.path.join(base, name)
        if not spark.catalog.tableExists(tbl):
            if os.path.exists(os.path.join(path, "_SUCCESS")):
                register_bucketed(spark, path, tbl, key, 32)
            else:
                write_bucketed(
                    spark.read.parquet(
                        os.path.join(sf, f"{name}.parquet")
                    ),
                    path,
                    tbl,
                    key,
                    32,
                )
        out.append(spark.table(tbl))
    return out[0], out[1]


@query("layout_cobucketed_docs_emb", _COBUCKET_SQL)
def layout_cobucketed_docs_emb(spark: SparkSession, sf: str) -> DataFrame:
    """The unstructured-pair layout keystone made a first-class op:
    documents and embeddings are WRITTEN through the public
    co-bucketed path (``sources.layout.write_bucketed`` — 32 hash
    buckets, sorted, documents on doc_id / embeddings on vec_id) and
    the audit join runs over the co-located layout: per source, doc
    count, matched-vector count, total embedding cells and labeled
    count — the dq_doc_embedding_coverage join family, executed the
    way a 100-TB corpus stores the pair permanently.

    The plan contract (pinned by tests/test_plan_shapes.py): the
    doc⋈emb id join is a SortMergeJoin over two ``Bucketed: true``
    scans with NO exchange and NO sort between them — the layout,
    not the optimizer, pays the co-location, exactly like the
    lineitem⋈orders bucket contract.  The same layout transparently
    serves every other id-keyed consumer (coverage, referential
    integrity, ANN index probes, retrieval join-backs) via
    tables.BUCKET_SPECS; this entry exercises the WRITE path that
    produces it, fingerprint-cached per fixture like the stored band
    index.

    Scale shape: the write is one hash repartition per table (once
    per corpus snapshot, amortized across every subsequent join);
    the audit join is exchange-free by layout; the rollup is a
    ≤|sources| aggregate.  Oracle = the plain-layout SQL twin — the
    layout must change the PLAN, never the rows."""
    docs, emb = _cobucketed_tables(spark, sf)
    j = docs.where("source IS NOT NULL").join(
        emb, docs.doc_id == emb.vec_id, "left"
    )
    return (
        j.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count("vec_id").cast("bigint").alias("n_vecs"),
            F.sum(F.size("embedding")).cast("bigint").alias("dim_cells"),
            F.sum(
                F.when(F.col("label").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_labeled"),
        )
        .orderBy("source")
    )

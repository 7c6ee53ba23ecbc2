"""Graph and market-basket catalog queries over the part co-purchase
graph and the document graph: association lift, triangle counts,
degree distributions, neighbour Jaccard, BFS depth and PageRank.

Co-purchase pairs come from the basket pattern (``_copurchase_pairs``:
``collect_set`` per order, then an array unfold), so per-order fan-out
is bounded by the order's size; wedge joins are salted against hub
parts (``_salted_wedge_join``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.knn import knn_graph
from ..operators.pagerank import pagerank
from .registry import query
from .similarity import _DOT_D
from .tables import t


# ------------------------------------------------ graph centrality


@query(
    "graph_pagerank_docs",
    # same edge set (the knn SQL), then the recursive fixed point;
    # the correlated subquery is the per-node contribution sum
    f"""
    WITH RECURSIVE
    n AS (
      SELECT vec_id, embedding,
        sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> x * x))) AS nrm
      FROM embeddings
    ),
    knn AS (
      SELECT b.vec_id AS src, a.vec_id AS dst
      FROM n a, n b
      WHERE a.vec_id <> b.vec_id AND a.nrm > 0 AND b.nrm > 0
      QUALIFY row_number() OVER (
        PARTITION BY b.vec_id
        ORDER BY {_DOT_D} / (a.nrm * b.nrm) DESC, a.vec_id ASC) <= 5
    ),
    nodes AS (
      -- explicit outer DISTINCT: inside WITH RECURSIVE, DuckDB treats
      -- a bare UNION as anchor/step structure and does NOT dedup the
      -- two branches against each other
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM knn UNION ALL SELECT dst FROM knn
      )
    ),
    deg AS (SELECT src, count(*) AS deg FROM knn GROUP BY src),
    nn AS (SELECT count(*) AS cnt FROM nodes),
    pr(it, node, val) AS (
      SELECT 0, node, 1.0 / (SELECT cnt FROM nn) FROM nodes
      UNION ALL
      SELECT pr.it + 1, pr.node,
        0.15 / (SELECT cnt FROM nn) + 0.85 * coalesce((
          SELECT sum(p2.val / deg.deg)
          FROM pr p2
          JOIN knn ON knn.src = p2.node
          JOIN deg ON deg.src = p2.node
          WHERE knn.dst = pr.node AND p2.it = pr.it), 0)
      FROM pr WHERE pr.it < 5
    )
    SELECT node, round(val, 6) AS rank FROM pr WHERE it = 5
    """,
)
def graph_pagerank_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Document centrality: damped PageRank (5 iterations) over the
    exact 5-NN cosine similarity graph — 'which documents sit at the
    hubs of the corpus' (operators/pagerank.py over
    operators/knn.py's edge list)."""
    edges = knn_graph(
        t(spark, sf, "embeddings"), "vec_id", "embedding", k=5
    ).select(F.col("query_id").alias("src"), F.col("nbr_id").alias("dst"))
    ranks = pagerank(edges, "src", "dst", iters=5, damping=0.85)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


# ------------------------------------- co-occurrence graph + triangles


def _copurchase_pairs(lineitem) -> DataFrame:
    """Node-ordered co-purchase pairs (u < v), one row per distinct
    (order, u, v) — the basket pattern: ONE collect_set groupBy keys
    the baskets (per-order dedup comes free from the set semantics),
    then pairs unfold JVM-side from the sorted array with
    higher-order functions.  No self-join, no post-join distinct: the
    bounded ~C(items-per-order, 2) fan-out exists only between the
    generator and the next aggregation's map-side partials.  Clean
    head-to-head at x1000 (600M lineitem → 1.2B pairs,
    scripts/exp_pair_strategies.py): basket 234 s vs self-join +
    post-join distinct 250 s, with the smallest shuffle footprint of
    the three strategies tried (the pre-join-distinct variant
    exhausted shuffle disk first under concurrent load) — the pair
    stream itself is the remaining cost, and it partitions linearly
    across executors (SCALE_NOTES.md "graph pair-counting")."""
    baskets = (
        lineitem.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.expr("sort_array(collect_set(l_partkey))").alias("parts"))
        .where(F.expr("size(parts) >= 2"))
    )

    # r13: the pair unfold runs as a vectorized Arrow kernel instead
    # of the interpreted transform/slice/flatten HOF chain (Catalyst
    # HOFs have no codegen; the chain was ~0.3 s of the sf0.1 pair
    # stage vs ~0.14 for the kernel).  Emitted (u, v) multisets are
    # identical (pinned by test_copurchase_kernel_parity).
    from ..operators.pairs import unfold_sorted_pairs

    return unfold_sorted_pairs(baskets, "parts")


def _copurchase_pairs_hof(lineitem) -> DataFrame:
    """Pure-Catalyst twin of ``_copurchase_pairs`` (the pre-r13
    unfold): the parity oracle for the Arrow kernel, and a fallback
    for environments without NumPy on the workers."""
    baskets = (
        lineitem.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.expr("sort_array(collect_set(l_partkey))").alias("parts"))
        .where(F.expr("size(parts) >= 2"))
    )
    return baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) ->"
                " transform(slice(parts, i + 2, size(parts)),"
                " y -> struct(x AS u, y AS v))))"
            )
        ).alias("p")
    ).select("p.u", "p.v")


def _salted_wedge_join(x, y, key: str, salt_on: str, hub_cap: int = 4096,
                       salts: int = 16):
    """Skew guard for wedge generation on power-law degree
    distributions: ``x.join(y, key)`` where ``key`` is the shared middle
    node, except that HUB keys — y-side multiplicity > ``hub_cap`` —
    are salted: each x row takes one deterministic salt
    (``pmod(xxhash64(salt_on), salts)``), each hub y row replicates
    across all ``salts``, so a hub's deg² wedge fan-out spreads over
    ``salts`` shuffle tasks instead of landing on one.  Non-hub keys
    ride salt 0 — on a benign degree distribution (the fixtures) the
    hub set is empty, the broadcast is empty, and the join reduces to
    the plain equi-join with the SAME row set (each matching (x, y)
    pair meets at exactly one salt), so downstream aggregates hash
    identically with or without the guard (pinned in
    tests/test_round4_properties.py).

    Cost: one |y| counting pass for the hub set (broadcast — a graph
    has few nodes above any sane cap) and ×salts replication of hub
    rows only; the deg² work itself is the query's answer and cannot
    shrink, only spread.  Measured on a planted power-law graph in
    SCALE_NOTES.md ("wedge skew guard")."""
    hubs = (
        y.groupBy(key)
        .agg(F.count("*").alias("__kc"))
        .where(F.col("__kc") > hub_cap)
        .select(key, F.lit(True).alias("__hub"))
    )
    xs = (
        x.join(F.broadcast(hubs), key, "left")
        .withColumn(
            "__salt",
            F.when(
                F.col("__hub").isNotNull(),
                F.pmod(F.xxhash64(salt_on), F.lit(salts)),
            ).otherwise(F.lit(0)),
        )
        .drop("__hub")
    )
    ys = (
        y.join(F.broadcast(hubs), key, "left")
        .withColumn(
            "__salt",
            F.explode(
                F.when(
                    F.col("__hub").isNotNull(),
                    F.sequence(F.lit(0), F.lit(salts - 1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        .drop("__hub")
    )
    return xs.join(ys, [key, "__salt"]).drop("__salt")


_TRI_SQL = """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_orderkey, a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e AS (
      SELECT u, v FROM pairs GROUP BY u, v HAVING count(*) >= 2
    ), tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT node, CAST(count(*) AS BIGINT) AS triangles
    FROM (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ) m
    GROUP BY node
    ORDER BY triangles DESC, node
    LIMIT 50
"""


@query("graph_triangle_count", _TRI_SQL)
def graph_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle counting over the part co-purchase graph (parts
    co-occurring in >= 2 orders).  Edges are node-ordered (u < v) so
    each triangle materializes exactly once as (a < b < c) — the
    standard distributed formulation: one self-join extends edges to
    wedges, one more equi-join closes them; no wedge ever leaves the
    shuffle keyed on its endpoints.  Per-order fan-out is bounded
    (<= items-per-order choose 2), so the pair explosion is linear in
    lineitem with a small constant — and it is generated basket-side
    (one collect_set groupBy + array HOF unfold, `_copurchase_pairs`)
    so the fan-out never enters a join or a distinct.  Returns the
    top-50 parts by triangle membership."""
    from ..operators.pairs import maybe_prefilter_min2

    li = t(spark, sf, "lineitem")
    # r14: scale-adaptive singleton pre-filter ahead of the (u, v)
    # exchange (see basket_association_lift; the exact ``c >= 2``
    # filter below keeps it lossless)
    pairs = maybe_prefilter_min2(_copurchase_pairs(li), li)
    e = (
        pairs.groupBy("u", "v")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("u", "v")
    )
    e2 = e.toDF("v", "w")
    e3 = e.toDF("u3", "w3")
    tri = (
        _salted_wedge_join(e, e2, "v", "u")
        .join(
            e3,
            (F.col("u") == F.col("u3")) & (F.col("w") == F.col("w3")),
            "semi",
        )
        .select(F.col("u").alias("a"), F.col("v").alias("b"), F.col("w").alias("c"))
    )
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count("*").cast("bigint").alias("triangles"))
        .orderBy(F.col("triangles").desc(), "node")
        .limit(50)
    )


# ------------------------------------------- multi-source BFS depth


@query(
    "graph_bfs_depth",
    """
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT a.l_orderkey, a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e0 AS (
      SELECT u, v FROM pairs GROUP BY u, v HAVING count(*) >= 2
    ), e AS (
      SELECT u AS s, v AS d FROM e0
      UNION ALL
      SELECT v AS s, u AS d FROM e0
    ), srcs AS (
      SELECT s AS node FROM e GROUP BY s ORDER BY s LIMIT 5
    ), reach(node, depth) AS (
      SELECT node, 0 FROM srcs
      UNION
      SELECT e.d, r.depth + 1 FROM reach r JOIN e ON e.s = r.node
      WHERE r.depth < 6
    )
    SELECT node, CAST(min(depth) AS INT) AS depth
    FROM reach GROUP BY node
    """,
)
def graph_bfs_depth(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-source BFS over the part co-purchase graph (same edge
    set as graph_triangle_count): shortest-hop depth from the 5
    smallest part nodes, capped at 6 hops.  The Spark plan is
    synchronous frontier expansion (operators/bfs.py — one
    expansion join + one anti-join per round, first-reach = min
    depth); the oracle is the textbook recursive CTE with UNION
    dedup, so a hash match certifies the frontier machinery against
    the declarative fixed point."""
    from ..operators.bfs import bfs_depths

    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    b = li.toDF("l_orderkey", "b_partkey")
    pairs = (
        li.join(b, "l_orderkey")
        .filter(F.col("l_partkey") < F.col("b_partkey"))
        .select(
            "l_orderkey",
            F.col("l_partkey").alias("u"),
            F.col("b_partkey").alias("v"),
        )
        .distinct()
    )
    e0 = (
        pairs.groupBy("u", "v")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("u", "v")
    )
    nodes = e0.select(F.col("u").alias("node")).unionByName(
        e0.select(F.col("v").alias("node"))
    )
    sources = nodes.distinct().orderBy("node").limit(5)
    return bfs_depths(e0, sources, src="u", dst="v", max_depth=6)


# --------------------------------------------- neighbor Jaccard sim

_NBR_JACCARD_SQL = """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_orderkey, a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e AS (
      SELECT u, v FROM pairs GROUP BY u, v HAVING count(*) >= 2
    ), adj AS (
      SELECT u AS node, v AS nbr FROM e
      UNION ALL SELECT v, u FROM e
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY node
    ), common AS (
      SELECT x.node AS u, y.node AS v, CAST(count(*) AS BIGINT) AS com
      FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
      GROUP BY u, v
    )
    SELECT c.u, c.v, c.com AS common_nbrs, da.deg AS deg_u, db.deg AS deg_v,
      CAST(c.com * 1000000 // (da.deg + db.deg - c.com) AS BIGINT)
        AS jaccard_ppm
    FROM common c
    JOIN e ON e.u = c.u AND e.v = c.v
    JOIN deg da ON da.node = c.u
    JOIN deg db ON db.node = c.v
    ORDER BY jaccard_ppm DESC, c.u, c.v
    LIMIT 50
"""


@query("graph_neighbor_jaccard", _NBR_JACCARD_SQL)
def graph_neighbor_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Link-prediction similarity over the part co-purchase graph of
    graph_triangle_count: for each connected pair,
    |N(u)∩N(v)| / |N(u)∪N(v)| in exact ppm (union by
    inclusion-exclusion on the degrees), top-50 by similarity — the
    'substitutable parts' readout.

    Scale shape: the common-neighbor count is the same wedge join as
    triangle counting (adjacency self-joined on the shared neighbor,
    grouped by endpoints — every wedge stays keyed on its endpoints
    through the shuffle); the semi-restriction to actual edges and
    the two degree joins are |edges|-sized.  Pair generation is the
    basket pattern (see graph_triangle_count): one
    collect_set groupBy keys the baskets (dedup for free), pairs
    unfold JVM-side from the sorted array — no self-join, no
    post-join distinct; clean x1000 head-to-head (234 s vs 250 s for
    the self-join + distinct shape) and the DuckDB disk-death story
    live in SCALE_NOTES.md "graph pair-counting"."""
    from ..operators.pairs import maybe_prefilter_min2

    li = t(spark, sf, "lineitem")
    # r14: scale-adaptive singleton pre-filter ahead of the (u, v)
    # exchange (see basket_association_lift; the exact ``c >= 2``
    # filter below keeps it lossless)
    pairs = maybe_prefilter_min2(_copurchase_pairs(li), li)
    e = (
        pairs.groupBy("u", "v")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("u", "v")
    )
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count("*").cast("bigint").alias("deg"))
    x = adj.toDF("u", "nbr")
    y = adj.toDF("v", "nbr")
    common = (
        _salted_wedge_join(x, y, "nbr", "u")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").cast("bigint").alias("com"))
    )
    return (
        common.join(e, ["u", "v"], "semi")
        .join(deg.toDF("u", "deg_u"), "u")
        .join(deg.toDF("v", "deg_v"), "v")
        .select(
            "u",
            "v",
            F.col("com").alias("common_nbrs"),
            "deg_u",
            "deg_v",
            F.expr(
                "CAST(com * 1000000 div (deg_u + deg_v - com) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy(F.col("jaccard_ppm").desc(), "u", "v")
        .limit(50)
    )


# --------------------------------------- association-rule lift

_LIFT_SQL = """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM li
    ), deg AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
      FROM li GROUP BY l_partkey
    ), pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
        CAST(count(*) AS BIGINT) AS n_uv
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY u, v HAVING count(*) >= 2
    )
    SELECT u, v, n_uv, du.n_item AS n_u, dv.n_item AS n_v,
      CAST((n_uv * 1000000 // du.n_item) * n.n_orders // dv.n_item
        AS BIGINT) AS lift_ppm
    FROM pairs
    JOIN deg du ON du.l_partkey = u
    JOIN deg dv ON dv.l_partkey = v
    CROSS JOIN n
    ORDER BY lift_ppm DESC, u, v
    LIMIT 500
"""


@query("basket_association_lift", _LIFT_SQL, bench=True)
def basket_association_lift(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket association lift for co-purchased part pairs
    with support >= 2 co-orders: lift = P(u,v) / (P(u)·P(v)) in
    integer ppm, evaluated with a DEFINED two-step floor —
    ``(n_uv · 1e6 div n_u) · N div n_v`` — so the value is exact and
    overflow-free at any scale (each intermediate stays under
    n_uv·1e6 <= 1.5e14; a single-expression cross-multiply would
    overflow BIGINT at x1000 order counts).  Top 500 by (lift, u, v)
    — a deterministic total order.

    Scale shape: pair generation is the basket pattern
    (_copurchase_pairs — one collect_set groupBy, no self-join); the
    per-item support frame keys on part (broadcast at dim scale) and
    the corpus total is a 1-row broadcast."""
    from ..operators.pairs import maybe_prefilter_min2, unfold_sorted_pairs

    li = t(spark, sf, "lineitem")
    # r13 shared exchange: the support frame (distinct pairs) and the
    # basket frame (collect_set per order) each shuffled the full
    # lineitem projection separately — hash(ok, pk) and hash(ok).  One
    # explicit repartition on l_orderkey satisfies BOTH downstream
    # clusterings (HashPartitioning([ok]) ⊆ ClusteredDistribution for
    # the (ok, pk) distinct and the ok groupBy), so ReuseExchange
    # runs the fact shuffle once.  sf0.1: 1.44 → 1.25 s same-window,
    # result-equal; at scale it halves the fact bytes shuffled.
    ex = li.select("l_orderkey", "l_partkey").repartition("l_orderkey")
    dli = ex.distinct()
    n = dli.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    deg = dli.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("n_item")
    )
    baskets = (
        ex.groupBy("l_orderkey")
        .agg(F.expr("sort_array(collect_set(l_partkey))").alias("parts"))
        .where(F.expr("size(parts) >= 2"))
    )
    # r14: the (u, v) exchange is the query's dominant scale cost
    # (3.6 GiB at x100) and 99.7% of distinct pairs are singletons the
    # HAVING discards post-exchange; above the size gate a hash-count
    # + broadcast-semi pre-filter drops them BEFORE the exchange
    # (guide §8 / §2.3; x100 interleaved A/B 58.5/26.5 → 35.7/20.7 s,
    # result-equal — exp_r14_basket_prefilter.py).  The exact
    # ``n_uv >= 2`` below stays: it is what makes the filter lossless.
    pairs = (
        maybe_prefilter_min2(unfold_sorted_pairs(baskets, "parts"), li)
        .groupBy("u", "v")
        .agg(F.count("*").cast("bigint").alias("n_uv"))
        .where("n_uv >= 2")
    )
    du = deg.select(F.col("l_partkey").alias("u"), F.col("n_item").alias("n_u"))
    dv = deg.select(F.col("l_partkey").alias("v"), F.col("n_item").alias("n_v"))
    return (
        pairs.join(du, "u")
        .join(dv, "v")
        .crossJoin(F.broadcast(n))
        .select(
            "u", "v", "n_uv", "n_u", "n_v",
            F.expr(
                "CAST((n_uv * 1000000 div n_u) * n_orders div n_v"
                " AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "u", "v")
        .limit(500)
    )


# ------------------------------------ graph degree distribution

_DEGDIST_SQL = """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY u, v HAVING count(*) >= 2
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
      ) GROUP BY node
    )
    SELECT CAST(length(bin(degree)) - 1 AS BIGINT) AS log2_bucket,
      CAST(count(*) AS BIGINT) AS n_nodes,
      CAST(min(degree) AS BIGINT) AS min_degree,
      CAST(max(degree) AS BIGINT) AS max_degree
    FROM deg GROUP BY log2_bucket ORDER BY log2_bucket
"""


@query("graph_degree_distribution", _DEGDIST_SQL)
def graph_degree_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """Degree histogram of the co-purchase graph in power-of-two
    buckets — the power-law profile that decides whether the wedge
    ops need their hub guard (_salted_wedge_join).  The bucket index
    is floor(log2(degree)) computed EXACTLY as the bit length of the
    degree (``length(bin(x)) - 1``) — no engine float log near a
    power-of-two boundary.

    Scale shape: basket-pattern pair generation, one (u,v) count, one
    per-node count, one |buckets|-row rollup — every aggregate
    map-side-combines."""
    from ..operators.pairs import maybe_prefilter_min2

    li = t(spark, sf, "lineitem")
    # r14: same scale-adaptive singleton pre-filter as
    # basket_association_lift (shared pair pipeline, same exact
    # ``n >= 2`` downstream filter keeps it lossless)
    e = (
        maybe_prefilter_min2(_copurchase_pairs(li), li)
        .groupBy("u", "v")
        .agg(F.count("*").alias("n"))
        .where("n >= 2")
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    return (
        deg.groupBy(
            F.expr("CAST(length(bin(degree)) - 1 AS BIGINT)").alias(
                "log2_bucket"
            )
        )
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.min("degree").cast("bigint").alias("min_degree"),
            F.max("degree").cast("bigint").alias("max_degree"),
        )
        .orderBy("log2_bucket")
    )

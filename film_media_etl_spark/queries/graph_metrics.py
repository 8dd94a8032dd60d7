"""Graph metrics over the co-purchase network: triangle counting and the
global clustering coefficient.

Complements the engine's other graph operators (weighted PageRank over
journey transitions, connected-components dedup clustering) with the
third classic primitive — closed-triad counting — computed on the part
co-purchase graph that ext_market_basket mines. The reference's warehouse
has no graph surface at all (SURVEY §1.1: plain relational tables), but
basket networks are the first graph a media-sales warehouse grows.

Exactness: everything is integer counting plus ONE final IEEE division
for the clustering coefficient — bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .registry import register


@register(
    "ext_triangle_count",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, c.l_partkey AS v
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    ),
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY 1
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM e e1
      JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) FROM deg)
             AS n_wedges,
           (SELECT n_triangles FROM tri) AS n_triangles,
           CAST(3 * (SELECT n_triangles FROM tri) AS DOUBLE)
             / CAST((SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT)
                     FROM deg) AS DOUBLE) AS clustering
    """,
)
def ext_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the co-purchase
    graph (parts co-bought >= 2 times, undirected, stored oriented
    u < v). Triangles close via the canonical two-join enumeration
    e1(u,v) ⋈ e2(v,w) ⋈ e3(u,w) — each triangle counted exactly once
    because edges are key-oriented; clustering = 3·triangles / wedges.

    Scale shape: the basket self-join shuffles once on l_orderkey; edge
    enumeration shuffles on the join vertex. At 100 TB the standard
    refinement is degree-ordering the orientation (point high-degree
    vertices at low-degree ones) so wedge lists stay bounded under skew;
    with the support>=2 pruning the edge set here is vocabulary-sized,
    so the plain orientation already holds. Wedges, degrees and the
    final coefficient are one aggregate each over node-sized frames."""
    b = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, c = b.alias("a"), b.alias("c")
    # The pruned edge list is consumed 5x (degree stats, edge count, and
    # three legs of the triangle join). It is support-pruned down to
    # vocabulary scale, so persisting it trades a bounded cache block for
    # re-running the basket self-join per consumer — the same
    # materialize-the-small-derived-frame call an iterative graph engine
    # makes for its edge RDD.
    e = (
        a.join(
            c,
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("c.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("c.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 2)
        .select("u", "v")
        .persist()
    )
    # one pass over e for degrees (explode covers both endpoints), one
    # aggregate for BOTH node count and wedge sum
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    deg_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("(deg * (deg - 1)) div 2")).cast("long").alias("n_wedges"),
    )
    edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg_stats.crossJoin(F.broadcast(edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            (
                (F.lit(3) * F.col("n_triangles")).cast("double")
                / F.col("n_wedges").cast("double")
            ).alias("clustering"),
        )
    )


@register(
    "ext_degree_distribution",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, c.l_partkey AS v
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    ),
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY 1
    )
    SELECT CAST(deg AS BIGINT) AS degree, COUNT(*) AS n_nodes
    FROM deg GROUP BY 1
    """,
)
def ext_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph (same support>=2
    oriented edge set as ext_triangle_count): how many parts have k
    co-purchase partners — the power-law health check graph pipelines
    run before any traversal, because a heavy-tailed degree histogram
    is the early warning for skewed traversal joins. Both endpoints of
    each edge are covered by ONE explode pass (no second self-join);
    the two stacked aggregations run over edge- then node-sized frames,
    and everything is exact integer counting."""
    b = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, c = b.alias("a"), b.alias("c")
    e = (
        a.join(
            c,
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("c.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("c.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 2)
        .select("u", "v")
    )
    return (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .groupBy(F.col("deg").alias("degree"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


# ---------------------------------------------------------------------------
# Exact fixed-point PageRank (oracle-checked iterative dataflow)
# ---------------------------------------------------------------------------

_PR_ITERS = 8
_PR_SCALE = 10**12  # ranks in integer picorank units


def _pagerank_exact_oracle() -> str:
    """Unrolled fixed-point PageRank as chained CTEs. All arithmetic is
    BIGINT (floor division //), so every iteration is bit-exact in any
    engine — the SQL twin of the Spark loop in ext_pagerank_exact.

    Every r{k} is AS MATERIALIZED: each iteration references its
    predecessor twice (contribution join + dangling-mass scalar), and
    DuckDB's default CTE inlining would re-evaluate the whole chain
    2^iters times; materialized, each iteration is evaluated once — the
    SQL analogue of the Spark loop's localCheckpoint."""
    ctes = [
        """tr AS (
      SELECT user_id, event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    edges_n AS (
      SELECT src, dst, COUNT(*) AS n FROM tr WHERE dst IS NOT NULL
      GROUP BY src, dst
    ),
    edges AS (
      SELECT e.src, e.dst, e.n, o.ow
      FROM edges_n e
      JOIN (SELECT src, SUM(n) AS ow FROM edges_n GROUP BY src) o
        ON e.src = o.src
    ),
    nodes AS (
      SELECT DISTINCT src AS node FROM edges_n
      UNION SELECT DISTINCT dst FROM edges_n
    ),
    nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
    r0 AS (
      SELECT node, CAST({scale} AS BIGINT) // (SELECT n_nodes FROM nn) AS r
      FROM nodes
    )""".format(scale=_PR_SCALE)
    ]
    for k in range(1, _PR_ITERS + 1):
        ctes.append(
            """r{k} AS MATERIALIZED (
      SELECT n.node,
             (15 * CAST({scale} AS BIGINT) // 100) // (SELECT n_nodes FROM nn)
             + 85 * (
                 COALESCE(c.contrib, 0)
                 + (SELECT COALESCE(SUM(p.r), 0) FROM r{prev} p
                    WHERE p.node NOT IN (SELECT src FROM edges)) //
                   (SELECT n_nodes FROM nn)
               ) // 100 AS r
      FROM nodes n
      LEFT JOIN (
        SELECT e.dst AS node, SUM(p.r * e.n // e.ow) AS contrib
        FROM edges e JOIN r{prev} p ON e.src = p.node
        GROUP BY e.dst
      ) c ON n.node = c.node
    )""".format(k=k, prev=k - 1, scale=_PR_SCALE)
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT node, CAST(r AS BIGINT) AS picorank FROM r{_PR_ITERS}"
    )


@register("ext_pagerank_exact", oracle=_pagerank_exact_oracle())
def ext_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges_n = (
        ev.select(
            "user_id",
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out_w = edges_n.groupBy("src").agg(F.sum("n").alias("ow"))
    edges = edges_n.join(out_w, "src").localCheckpoint(eager=True)
    nodes = (
        edges_n.select(F.col("src").alias("node"))
        .unionByName(edges_n.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("picorank", F.lit(None).cast("long"))
    has_out = edges.select(F.col("src").alias("node")).distinct()
    # detect dangling nodes ONCE: when none exist (typical for cleaned
    # transition graphs) the loop needs no per-iteration driver scalar
    # and the checkpoints can stay lazy (same fast path as the float op)
    n_dangling = nodes.join(has_out, "node", "left_anti").count()
    base = (15 * _PR_SCALE // 100) // n_nodes
    ranks = nodes.withColumn("r", F.lit(_PR_SCALE // n_nodes).cast("long"))
    for _ in range(_PR_ITERS):
        dang = (
            ranks.join(has_out, "node", "left_anti").agg(F.sum("r")).first()[0] or 0
        ) if n_dangling else 0
        contribs = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .groupBy(F.col("dst").alias("cnode"))
            # identity: r*n div ow == (r div ow)*n + ((r%ow)*n) div ow for
            # nonnegative BIGINTs — same values as the oracle's r*n//ow but
            # overflow-safe: (r div ow)*n <= r <= scale (~1e12) and
            # (r%ow)*n < ow*n <= ow^2, so no int64 wrap while a node's
            # out-weight stays < ~3e9 transitions (vs r*n wrapping at
            # n ~ 1e7 already; ADVICE r3)
            .agg(
                F.sum(
                    F.expr("(r div ow) * n + ((r % ow) * n) div ow")
                ).alias("contrib")
            )
        )
        extra = dang // n_nodes
        ranks = (
            nodes.join(contribs, nodes["node"] == F.col("cnode"), "left")
            .select(
                "node",
                F.expr(
                    f"CAST({base} AS BIGINT) + "
                    f"85 * (COALESCE(contrib, 0) + {extra}) div 100"
                ).alias("r"),
            )
            .localCheckpoint(eager=bool(n_dangling))
        )
    return ranks.select("node", F.col("r").cast("long").alias("picorank"))


ext_pagerank_exact.__doc__ = """Fixed-point PageRank over the event-transition graph, EXACT:
ranks live in integer picorank units (1e-12) and every operation is
BIGINT multiply/floor-divide, so the fixpoint iteration — normally
the poster child for 'not SQL-expressible, rows-only check' — hash-
matches an unrolled {iters}-iteration SQL oracle bit-for-bit. The
float twin (ext_pagerank_transitions, operators/graph.py) remains
the scale path; this query is the exactness demonstration and the
cross-engine regression pin for the iteration structure. Each
iteration is one shuffle join (ranks onto pre-normalized edges) +
one groupBy(dst) + a scalar dangling-mass aggregate — the same
dataflow shape, just quantized arithmetic (floor-division drops
sub-pico mass, deterministically).""".format(iters=_PR_ITERS)

# ---------------------------------------------------------------------------
# Exact multi-source BFS (second exact-iterative showcase)
# ---------------------------------------------------------------------------

_BFS_ITERS = 6
_BFS_INF = 999  # unreached sentinel (graph diameter << this)
_BFS_BRAND = "Brand#11"  # source set: this brand's parts present in the graph

_BFS_EDGES_CTE = """b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    eo AS (
      SELECT a.l_partkey AS u, c.l_partkey AS v
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    ),
    e AS MATERIALIZED (
      SELECT u, v FROM eo UNION ALL SELECT v, u FROM eo
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM e)"""


def _bfs_oracle() -> str:
    """Unrolled multi-source BFS: d{k}(v) = min(d{k-1}(v), 1 + min over
    in-neighbors d{k-1}(u)). Pure integer mins — exact with no rounding
    convention at all; AS MATERIALIZED for the same CTE-inlining reason
    as the PageRank oracle."""
    ctes = [
        _BFS_EDGES_CTE,
        f"""d0 AS MATERIALIZED (
      SELECT n.node,
             CASE WHEN p.p_partkey IS NOT NULL THEN 0 ELSE {_BFS_INF} END AS dist
      FROM nodes n LEFT JOIN part p
        ON n.node = p.p_partkey AND p.p_brand = '{_BFS_BRAND}'
    )""",
    ]
    for k in range(1, _BFS_ITERS + 1):
        ctes.append(
            f"""d{k} AS MATERIALIZED (
      SELECT p.node,
             LEAST(p.dist, COALESCE(nb.best + 1, {_BFS_INF})) AS dist
      FROM d{k - 1} p
      LEFT JOIN (
        SELECT e.v AS node, MIN(q.dist) AS best
        FROM e JOIN d{k - 1} q ON e.u = q.node
        GROUP BY e.v
      ) nb ON p.node = nb.node
    )"""
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(dist AS BIGINT) AS distance, COUNT(*) AS n_parts
    FROM d{_BFS_ITERS} WHERE dist < {_BFS_INF} GROUP BY dist"""
    )


@register("ext_bfs_distances", oracle=_bfs_oracle())
def ext_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct()
    a, c = b.alias("a"), b.alias("c")
    eo = (
        a.join(
            c,
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("c.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("c.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 2)
        .select("u", "v")
    )
    e = eo.unionByName(
        eo.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    nodes = e.select(F.col("u").alias("node")).distinct()
    srcs = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == _BFS_BRAND)
        .select(F.col("p_partkey").alias("node"))
    )
    d = nodes.join(F.broadcast(srcs), "node", "left_semi").withColumn(
        "dist", F.lit(0)
    ).unionByName(
        nodes.join(F.broadcast(srcs), "node", "left_anti").withColumn(
            "dist", F.lit(_BFS_INF)
        )
    ).localCheckpoint(eager=True)
    for _ in range(_BFS_ITERS):
        nb = (
            e.join(d, e["u"] == d["node"])
            .groupBy(F.col("v").alias("nbnode"))
            .agg(F.min("dist").alias("best"))
        )
        d = (
            d.join(nb, d["node"] == F.col("nbnode"), "left")
            .select(
                "node",
                F.least(
                    F.col("dist"), F.coalesce(F.col("best") + 1, F.lit(_BFS_INF))
                ).alias("dist"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        d.where(F.col("dist") < _BFS_INF)
        .groupBy(F.col("dist").cast("long").alias("distance"))
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
ext_bfs_distances.__doc__ = """Multi-source BFS over the co-purchase graph: hop distance from
every part to the nearest {brand} part, reported as a distance
histogram — 'how far is the catalog from this brand's basket
neighborhood'. Second exact-iterative showcase after
ext_pagerank_exact, and the simpler one: the relaxation is pure
integer MIN (no quantization convention needed), so {iters} unrolled
frontier expansions hash-match the materialized-CTE oracle exactly.

Scale shape: each round is one shuffle join (distances onto the
oriented edge list, both directions) + one groupBy(dst) MIN with
map-side combine + a node-set left join; lineage is cut per round
with localCheckpoint. Fixed-round BFS is the bounded-diameter
pattern (k-hop neighborhoods); unbounded BFS adds the converged?
check of connected_components.""".format(brand=_BFS_BRAND, iters=_BFS_ITERS)


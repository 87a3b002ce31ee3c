"""Graph and iterative operators over the part co-occurrence graph:
connected components, PageRank, label propagation, BFS, k-core
peeling, triangle counts and clustering, degree statistics, neighbor
similarity, and integer k-means (Lloyd iterations).  The rest of this
docstring is about connected components, the shared kernel that the
dedup and geo families also call.

This is the dedup-cluster-resolution shape for a training-data
pipeline: near-dup candidate pairs (from MinHash/SimHash banding)
form edges, and connected components give the duplicate clusters from
which one survivor per cluster is kept.  The fixture graph links parts
that co-occur in the same (sampled) order — sparse, many components.

Spark has no recursive CTE, so components are computed by alternating
star contraction (large-star / small-star — Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14): each round rewires every
node toward the minimum of its neighborhood, contracting every
component to a star centered at its minimum id in O(log n) rounds
regardless of id layout.  (Rounds 1-12 used hop + pointer-jump
min-label propagation; the round-12 A/B showed its round count is
bound by the id layout — 19 rounds on this fixture however many jumps
— which is exactly the weakness star contraction removes.)

Star contraction takes 7 rounds at sf0.1, read off the job count in
docs/MEASURE_sf0.1.json (tools/measure.py): graph_connected_components
runs 68 jobs = 12 fixed + 8 per round.  Under AQE every shuffle and
broadcast stage runs as its own job, so a round is its one eager
localCheckpoint job plus 7 query-stage jobs; the fixed 12 are the
initial checkpoint (1 + 3) and the convergence check, output plan and
write (8).  Rounds = (jobs - 12) / 8; the same op at sf0.01 runs
52 jobs = 5 rounds (per-job breakdown of both in CHANGES.md).

Scale notes (100 TB): each star operation is one min-aggregate keyed
on `src` plus one join of the edge list back onto that per-node min
table — the neighborhood is never collected into a single row, so a
giant star (the component center) stays distributed across tasks
instead of becoming one fat group.  `localCheckpoint()` truncates the
lineage each round so the plan does not grow with iteration count
(driver-side iteration is inherent to the algorithm, not a collect of
data rows: only the 3-value convergence Observation comes back to the
driver per round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from trip_data_pipeline_spark.io import load
from trip_data_pipeline_spark.operators.common import bigint, duck_components
from trip_data_pipeline_spark.registry import op

CAT = "graph / iterative"

MAX_ROUNDS = 50


def _drop_plan_stats(df: DataFrame) -> DataFrame:
    """Rebuild `df` over its own internal row RDD, dropping propagated
    plan statistics and column metadata (round-12 optimization).

    `Dataset.localCheckpoint` carries the optimized plan's statistics
    into the resulting `LogicalRDD` (`originStats`), and the
    size-in-bytes estimate of a join is the PRODUCT of its children's
    — so in an iterative self-join loop the propagated `sizeInBytes`
    SQUARES every round.  The estimate is a `BigInteger`; after ~15
    rounds it holds hundreds of thousands of digits and Catalyst spends
    seconds per round on big-integer arithmetic (measured: round times
    grow geometrically while rows, plan size and lineage stay constant;
    flat after this rebuild).  `internalCreateDataFrame` wraps the SAME
    internal RDD — no data movement, no extra job — in a fresh
    `LogicalRDD` with no origin stats, so each round starts from the
    default size estimate again.  The default estimate is conservative
    (`spark.sql.defaultSizeInBytes`), which also suppresses accidental
    broadcast of the unbounded label table — the safe choice at 100 TB.
    The engine runs on classic PySpark only (``common.spread`` reads
    ``df.rdd``), so the JVM handles are always there."""
    j = df._jdf
    spark = df.sparkSession
    new_j = spark._jsparkSession.internalCreateDataFrame(
        j.queryExecution().toRdd(), j.schema(), False
    )
    return DataFrame(new_j, spark)


def _copart_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected edge list (both directions): parts co-occurring in
    the same sampled order (l_orderkey % 97 == 0 keeps the graph
    sparse enough to have many components)."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 97 == 0)
        .select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    other = li.select("k", F.col("p").alias("p2"))
    return (
        li.join(other, "k")
        .filter(F.col("p") != F.col("p2"))
        .select(F.col("p").alias("src"), F.col("p2").alias("dst"))
        .distinct()
    )


def connected_components(edges: DataFrame, max_rounds: int = MAX_ROUNDS) -> DataFrame:
    """Connected components by ALTERNATING STAR CONTRACTION
    (large-star / small-star, Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) — round 13, replacing the round-12
    hop+pointer-jump min-label loop.

    `edges` must contain both directions of every undirected edge.
    Returns (node, component) where component == min node id reachable
    — the identical fixed point as min-label propagation (a star's
    center is the component minimum), so the three consumers'
    oracle hashes are unchanged.

    Why the switch (VERDICT r12 item 4): the jump-count A/B showed the
    hop+jump loop is id-LAYOUT-bound on this graph — 0/1/2/3 pointer
    jumps per round converge in 38/19/19/19 rounds ("min id within
    distance r of the min id within distance r" does not compound
    toward the component minimum here), so 19 one-job rounds was the
    measured optimum of that family.  Star contraction rewires the
    EDGE LIST itself toward the component minimum and its round count
    is O(log n) independent of id layout (graph_connected_components
    runs 5 cc_round_* jobs at sf0.01 and 7 at sf0.1, the last of each
    being the no-change round; how they were counted is in CHANGES.md).

    One round = large-star then small-star over the evolving edge set:

    - large-star(v): with m = min(N(v) + {v}), connect every neighbor
      u > v to m — emit (u, m).  Output edges always have src > dst.
    - small-star(v) on the oriented list: with m = min of v's
      (all-smaller) neighborhood, connect v and every smaller
      neighbor d != m to m — emit (v, m) and (d, m).

    Both are a min-aggregate keyed on src plus a join of the edge list
    back onto that (tiny) per-node min table — never a collect of the
    neighborhood into one row, so a giant star (the component center
    at 100 TB) stays distributed instead of becoming a single fat
    group.  Fixed points of both operations are exactly the star
    graphs centered at component minima (Kiveris et al. Thm 1-2), and
    every operation preserves connectivity, so the fixed point equals
    min-reachable-label.

    One JOB per round: the whole round's DAG materializes in a single
    eager localCheckpoint carrying Observation riders
    (count, sum(src), sum(dst)).  Convergence: the riders are a cheap
    NECESSARY condition (they move while the set still contracts);
    only when all three match the previous round does an exact
    left_anti join confirm set equality — with equal counts,
    anti-join-empty <=> set-equal, so detection is exact, and the
    extra job runs O(1) times per call instead of per round.
    """
    # Orient the (bidirectional) input once: keep the (max, min) copy
    # of every undirected edge.  Self-edges (none are produced by the
    # callers) are dropped here, which is correct: they carry no
    # connectivity.  A node whose only edge is a self-loop therefore
    # gets no output row.
    oriented = edges.filter(F.col("src") > F.col("dst"))
    obs0 = Observation("cc_round_init")
    cur = _drop_plan_stats(
        oriented.observe(
            obs0,
            F.count(F.lit(1)).alias("n"),
            F.sum("src").alias("ss"),
            F.sum("dst").alias("sd"),
        ).localCheckpoint(eager=True)
    )
    prev_stats = (obs0.get["n"], obs0.get["ss"], obs0.get["sd"])
    for rnd in range(max_rounds):
        sym = cur.union(cur.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        # large-star: per-node neighborhood min (m <= src by
        # construction), then every larger neighbor connects to m.
        ls_min = sym.groupBy("src").agg(F.min("dst").alias("mn"))
        ls = (
            sym.join(ls_min, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(
                F.col("dst").alias("src"),
                F.least(F.col("src"), F.col("mn")).alias("dst"),
            )
        )
        # small-star on the oriented large-star output: every listed
        # neighbor is already smaller than src, so the group min IS
        # the target m; src and every other neighbor connect to it.
        ss_min = ls.groupBy("src").agg(F.min("dst").alias("mn"))
        ss = (
            ls.join(ss_min, "src")
            .filter(F.col("dst") != F.col("mn"))
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
            .union(ss_min.select("src", F.col("mn").alias("dst")))
        )
        obs = Observation(f"cc_round_{rnd}")
        nxt = _drop_plan_stats(
            ss.distinct()
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum("src").alias("ss"),
                F.sum("dst").alias("sd"),
            )
            .localCheckpoint(eager=True)
        )
        stats = (obs.get["n"], obs.get["ss"], obs.get["sd"])
        # superseded edge checkpoints are unpersisted asynchronously by
        # the ContextCleaner once this loop drops its reference — no
        # manual unpersist needed, at most a couple of live snapshots.
        if stats == prev_stats and (
            nxt.join(cur, ["src", "dst"], "left_anti").isEmpty()
        ):
            # Fixed point: `nxt` is a disjoint union of stars, each
            # centered at its component's minimum id.  Leaves read
            # their component off their single out-edge; centers are
            # exactly the remaining dst values and label themselves.
            leaves = nxt.select(F.col("src").alias("node"), F.col("dst").alias("component"))
            centers = (
                nxt.select(F.col("dst").alias("node"))
                .distinct()
                .select("node", F.col("node").alias("component"))
            )
            return leaves.union(centers)
        prev_stats = stats
        cur = nxt
    raise RuntimeError(f"connected_components: no fixed point in {max_rounds} rounds")


@op(
    "graph_connected_components",
    oracle=f"""
WITH RECURSIVE
op_ AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
        FROM lineitem WHERE l_orderkey % 97 = 0),
e0 AS (SELECT a.p AS src, b.p AS dst FROM op_ a JOIN op_ b
       ON a.k = b.k AND a.p <> b.p),
{duck_components('e0')}
SELECT CAST(node AS BIGINT) AS node, CAST(component AS BIGINT) AS component
FROM comp ORDER BY node
""",
    category=CAT,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-part graph by alternating star
    contraction; the DuckDB oracle computes the same labelling by
    min-label propagation with pointer jumping (``common.duck_components``;
    component id == min reachable node id on both sides).  The
    transitive closure it replaced, which materializes every
    (node, reachable-node) pair, stays in tests/test_scaled_oracles.py
    as the reference spec this oracle is locked to."""
    edges = _copart_edges(spark, sf_dir)
    return connected_components(edges).select(
        bigint(F.col("node")).alias("node"),
        bigint(F.col("component")).alias("component"),
    ).orderBy("node")


K = 4

ITERS = 3


def _flat_sql() -> str:
    return """
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS vi
  FROM embeddings
"""


def _iter_sql(i: int) -> str:
    """One unrolled Lloyd step: assign to nearest centroid c{i-1},
    then recompute centroids c{i} as exact integer floor-div means."""
    return f"""
a{i} AS (
  SELECT vec_id, c, d FROM (
    SELECT f.vec_id, c.c, sum((f.vi - c.ci) * (f.vi - c.ci)) AS d,
           row_number() OVER (PARTITION BY f.vec_id
                              ORDER BY sum((f.vi - c.ci) * (f.vi - c.ci)), c.c)
             AS rk
    FROM flat f JOIN c{i - 1} c ON f.pos = c.pos
    GROUP BY f.vec_id, c.c
  ) WHERE rk = 1
),
c{i} AS (
  SELECT a.c, f.pos, sum(f.vi) // count(*) AS ci
  FROM a{i} a JOIN flat f ON a.vec_id = f.vec_id
  GROUP BY a.c, f.pos
)"""


@op(
    "kmeans_lloyd_int",
    oracle=f"""
WITH flat AS ({_flat_sql()}),
c0 AS (SELECT vec_id AS c, pos, vi AS ci FROM flat WHERE vec_id < {K}),
{",".join(_iter_sql(i).lstrip() for i in range(1, ITERS + 1))}
SELECT CAST(c AS BIGINT) AS cluster,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(d) AS BIGINT) AS inertia_sq_micro
FROM a{ITERS} GROUP BY c ORDER BY cluster
""",
    category=CAT,
)
def kmeans_lloyd_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means via Lloyd iterations in exact integer micro-space
    (module docstring): deterministic init, fixed {ITERS} iterations,
    output = per-cluster size + exact integer inertia.  The DuckDB
    oracle unrolls the identical iterations as CTEs, so the hash
    check covers every assignment of every round."""
    emb = load(spark, sf_dir, "embeddings")
    flat = (
        emb.select("vec_id", F.posexplode("embedding"))
        .select(
            "vec_id",
            (F.col("pos") + 1).alias("pos"),
            F.round(F.col("col").cast("double") * 1_000_000)
            .cast("bigint")
            .alias("vi"),
        )
        .localCheckpoint()
    )
    cent = flat.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("c"), "pos", F.col("vi").alias("ci")
    )
    assign = None
    for _ in range(ITERS):
        dist = (
            flat.join(F.broadcast(cent), "pos")
            .groupBy("vec_id", "c")
            .agg(F.sum((F.col("vi") - F.col("ci")) * (F.col("vi") - F.col("ci"))).alias("d"))
        )
        w = Window.partitionBy("vec_id").orderBy("d", "c")
        assign = (
            dist.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("vec_id", "c", "d")
            .localCheckpoint()
        )
        cent = (
            assign.join(flat, "vec_id")
            .groupBy("c", "pos")
            .agg(F.expr("sum(vi) div count(*)").alias("ci"))
        )
    return (
        assign.groupBy(bigint(F.col("c")).alias("cluster"))
        .agg(
            bigint(F.count("*")).alias("n_members"),
            bigint(F.sum("d")).alias("inertia_sq_micro"),
        )
        .orderBy("cluster")
    )


_PR_EDGES_DUCK = """
op_ AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
        FROM lineitem WHERE l_orderkey % 97 = 0),
e AS (SELECT DISTINCT a.p AS src, b.p AS dst
      FROM op_ a JOIN op_ b ON a.k = b.k AND a.p <> b.p),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
n AS (SELECT src AS node FROM deg)
"""


def _pr_iter_duck(prev: str, out: str) -> str:
    """One PageRank iteration as a DuckDB CTE pair (contribution sum +
    damped update) — integer // arithmetic mirrors Spark's div."""
    return f"""
c_{out} AS (
  SELECT e.dst AS node, sum({prev}.r // deg.d) AS s
  FROM e JOIN {prev} ON {prev}.node = e.src JOIN deg ON deg.src = e.src
  GROUP BY 1
),
{out} AS (
  SELECT n.node, 150000 + (850 * COALESCE(c_{out}.s, 0)) // 1000 AS r
  FROM n LEFT JOIN c_{out} ON c_{out}.node = n.node
)"""


_PAGERANK_ORACLE = f"""
WITH {_PR_EDGES_DUCK},
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n),
{_pr_iter_duck('r0', 'r1')},
{_pr_iter_duck('r1', 'r2')},
{_pr_iter_duck('r2', 'r3')}
SELECT node, CAST(r AS BIGINT) AS rank_ppm FROM r3
"""


@op("graph_pagerank_int", oracle=_PAGERANK_ORACLE, category=CAT)
def graph_pagerank_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 3 fixed iterations, damping 0.85 — iterative link
    analysis over the part co-occurrence graph (same edge derivation
    as graph_connected_components).

    Integer-exact: ranks are parts-per-million integers, contributions
    use floor division (Spark ``div`` == DuckDB ``//``), and the damped
    update is ``150000 + 850*sum div 1000`` — no float ever enters, so
    both engines land on identical ranks and the op hash-checks (an
    approximation-free replay a float PageRank could never give).

    Scale: each iteration is one join of the edge list with the
    (node, rank) map on src plus a partial/final sum on dst — the same
    co-partitioned per-superstep cost as connected components; edges
    are localCheckpoint'ed once and reused, and a fixed iteration
    count means a fixed-depth plan (no driver convergence probe
    needed).  At 100 TB the edge list is hash-partitioned on src once
    and every superstep reuses that partitioning."""
    edges = _copart_edges(spark, sf_dir).localCheckpoint()
    deg = edges.groupBy("src").agg(bigint(F.count(F.lit(1))).alias("d"))
    nodes = deg.select(F.col("src").alias("node"))
    rank = nodes.select("node", F.lit(1000000).cast("bigint").alias("r"))
    e_deg = edges.join(deg, "src")
    for _ in range(3):
        contrib = (
            e_deg.join(rank.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), F.expr("r div d").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        rank = nodes.join(contrib, "node", "left").select(
            "node",
            (F.lit(150000) + F.expr("850 * coalesce(s, 0) div 1000")).alias("r"),
        )
    return rank.select("node", bigint(F.col("r")).alias("rank_ppm"))


_TRI_EDGES_DUCK = """
op_ AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
        FROM lineitem WHERE l_orderkey % 97 = 0),
e AS MATERIALIZED (SELECT DISTINCT a.p AS src, b.p AS dst
      FROM op_ a JOIN op_ b ON a.k = b.k AND a.p <> b.p),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
o AS MATERIALIZED (SELECT e.src AS u, e.dst AS v
      FROM e JOIN deg du ON du.node = e.src JOIN deg dv ON dv.node = e.dst
      WHERE du.d < dv.d OR (du.d = dv.d AND e.src < e.dst)),
tri AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM o e1
        JOIN o e2 ON e2.u = e1.v
        JOIN o e3 ON e3.u = e1.u AND e3.v = e2.v)
"""


def _triangle_members(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-ordered triangle enumeration over the symmetric edge list
    ``e`` (src, dst) with per-node degrees ``deg`` (src, d): each
    undirected edge is kept only in the (deg, id)-ascending direction,
    so every triangle is found exactly once and each node's oriented
    out-degree is O(sqrt(m)), which bounds the wedge join.  Returns one
    ``node`` row per (triangle, member node)."""
    du = deg.select(F.col("src").alias("u_"), F.col("d").alias("du"))
    dv = deg.select(F.col("src").alias("v_"), F.col("d").alias("dv"))
    o = (
        e.join(du, e.src == du.u_)
        .join(dv, e.dst == dv.v_)
        .filter(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("src") < F.col("dst")))
        )
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    e1 = o.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = o.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = o.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )


@op(
    "graph_triangle_count",
    oracle=f"""
WITH {_TRI_EDGES_DUCK},
nodes AS (SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
SELECT CAST(node AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS n_tri
FROM nodes GROUP BY node
ORDER BY n_tri DESC, node LIMIT 20
""",
    category=CAT,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (top-20) on the part co-occurrence
    graph, via the classic degree-ordered orientation: each undirected
    edge is kept only in the direction (deg, id)-ascending, so every
    triangle is enumerated exactly once and — the scale point — each
    node's out-degree in the oriented graph is O(sqrt(m)) even on
    power-law graphs, bounding the wedge join that dominates triangle
    counting.  Both wedge-extension and closure checks are plain
    equi-joins (shuffle by node / by edge pair); no cartesian, no
    driver-side adjacency structure.  Ties in degree break by node id,
    so the orientation — and therefore the hash — is deterministic.
    """
    e = _copart_edges(spark, sf_dir)  # both directions of each edge
    deg = e.groupBy("src").agg(bigint(F.count(F.lit(1))).alias("d"))
    nodes = _triangle_members(e, deg)
    return (
        nodes.groupBy("node")
        .agg(bigint(F.count(F.lit(1))).alias("n_tri"))
        .select(bigint(F.col("node")).alias("node"), "n_tri")
        .orderBy(F.desc("n_tri"), "node")
        .limit(20)
    )


_LP_EDGES_DUCK = """
op_ AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
        FROM lineitem WHERE l_orderkey % 97 = 0),
e AS (SELECT DISTINCT a.p AS src, b.p AS dst
      FROM op_ a JOIN op_ b ON a.k = b.k AND a.p <> b.p),
n AS (SELECT DISTINCT src AS node FROM e),
l0 AS (SELECT node, node % 5 AS lab FROM n)
"""


def _lp_step_duck(prev: str, out: str) -> str:
    """One majority-vote superstep as DuckDB CTEs: count neighbor
    labels, argmax by (count desc, label asc) via the exact integer
    encoding max(cnt*8 + 7 - lab) (labels < 8, so the tail decodes
    the label); isolated nodes keep their label (none exist here —
    every node has an edge by construction)."""
    return f"""
c_{out} AS (
  SELECT e.dst AS node, {prev}.lab AS lab, count(*) AS cnt
  FROM e JOIN {prev} ON {prev}.node = e.src
  GROUP BY 1, 2
),
{out} AS (
  SELECT node, 7 - (max(cnt * 8 + 7 - lab) % 8) AS lab
  FROM c_{out} GROUP BY node
)"""


@op(
    "graph_label_propagation",
    oracle=f"""
WITH {_LP_EDGES_DUCK},
{_lp_step_duck('l0', 'l1')},
{_lp_step_duck('l1', 'l2')}
SELECT CAST(lab AS BIGINT) AS lab,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(node) AS BIGINT) AS min_node,
       CAST(sum(node) AS BIGINT) AS node_sum
FROM l2 GROUP BY lab
""",
    category=CAT,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous majority-vote label
    propagation (2 unrolled supersteps over the part co-occurrence
    graph, seeded node%5): each node adopts the most frequent label
    among its neighbors, ties to the smallest label — the exact
    integer argmax encoding max(cnt*8 + 7 - lab) makes the vote
    bit-reproducible in any aggregation order, so DuckDB replays both
    supersteps identically.  Per superstep: one keyed edge join + two
    partial/final aggregations — the same bounded-superstep shape as
    PageRank/CC; no convergence probe, no driver-side graph."""
    e = _copart_edges(spark, sf_dir)
    labels = e.select("src").distinct().select(
        F.col("src").alias("node"), (F.col("src") % 5).alias("lab")
    )
    for _ in range(2):
        votes = (
            e.join(labels, e.src == labels.node)
            .groupBy(F.col("dst"), F.col("lab"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            votes.groupBy("dst")
            .agg((7 - (F.max(F.col("cnt") * 8 + 7 - F.col("lab")) % 8)).alias("lab"))
            .select(F.col("dst").alias("node"), "lab")
        )
    return labels.groupBy(bigint(F.col("lab")).alias("lab")).agg(
        bigint(F.count(F.lit(1))).alias("n_nodes"),
        bigint(F.min("node")).alias("min_node"),
        bigint(F.sum("node")).alias("node_sum"),
    )


_BFS_EDGES_DUCK = """
op_ AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
        FROM lineitem WHERE l_orderkey % 97 = 0),
e AS (SELECT DISTINCT a.p AS src, b.p AS dst
      FROM op_ a JOIN op_ b ON a.k = b.k AND a.p <> b.p),
d0 AS (SELECT DISTINCT src AS node, 0 AS d FROM e WHERE src % 10 = 0)
"""


def _bfs_step_duck(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT node, min(d) AS d FROM (
    SELECT node, d FROM {prev}
    UNION ALL
    SELECT e.dst AS node, {prev}.d + 1 AS d
    FROM e JOIN {prev} ON {prev}.node = e.src
  ) GROUP BY node
)"""


@op(
    "graph_bfs_distance",
    oracle=f"""
WITH {_BFS_EDGES_DUCK},
{_bfs_step_duck('d0', 'd1')},
{_bfs_step_duck('d1', 'd2')},
{_bfs_step_duck('d2', 'd3')}
SELECT CAST(d AS BIGINT) AS dist,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(node) AS BIGINT) AS node_sum
FROM d3 GROUP BY d
""",
    category=CAT,
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from a seed set (nodes ≡ 0 mod 10), 3 unrolled
    min-plus supersteps over the part co-occurrence graph — the
    reachability/radius primitive (and the fixed-depth skeleton of
    shortest-path).  Each superstep is one keyed edge join + a min()
    re-aggregation of (old ∪ relaxed) — min is order-insensitive, so
    any partial-agg schedule produces the identical frontier and the
    hash cannot drift.  Nodes unreached within 3 hops simply don't
    appear (no sentinel infinities to keep exact)."""
    e = _copart_edges(spark, sf_dir)
    d = (
        e.filter(F.col("src") % 10 == 0)
        .select(F.col("src").alias("node"))
        .distinct()
        .withColumn("d", F.lit(0))
    )
    for _ in range(3):
        relaxed = (
            e.join(d, e.src == d.node)
            .select(F.col("dst").alias("node"), (F.col("d") + 1).alias("d"))
        )
        d = d.unionAll(relaxed).groupBy("node").agg(F.min("d").alias("d"))
    return d.groupBy(bigint(F.col("d")).alias("dist")).agg(
        bigint(F.count(F.lit(1))).alias("n_nodes"),
        bigint(F.sum("node")).alias("node_sum"),
    )


_KCORE_EDGES_DUCK = """
op_ AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
        FROM lineitem WHERE l_orderkey % 97 = 0),
e0 AS (SELECT DISTINCT a.p AS src, b.p AS dst
       FROM op_ a JOIN op_ b ON a.k = b.k AND a.p <> b.p)
"""


def _kcore_peel_duck(prev: str, out: str, k: int) -> str:
    """One peel: keep nodes with degree >= k in the surviving
    subgraph, then restrict the edge set to kept endpoints."""
    return f"""
d_{out} AS (SELECT src AS node, count(*) AS d FROM {prev} GROUP BY src),
keep_{out} AS (SELECT node FROM d_{out} WHERE d >= {k}),
{out} AS (
  SELECT e.src, e.dst FROM {prev} e
  JOIN keep_{out} s ON s.node = e.src
  JOIN keep_{out} t ON t.node = e.dst
)"""


@op(
    "graph_kcore_peel",
    oracle=f"""
WITH {_KCORE_EDGES_DUCK},
{_kcore_peel_duck('e0', 'e1', 3)},
{_kcore_peel_duck('e1', 'e2', 3)},
{_kcore_peel_duck('e2', 'e3', 3)},
fin AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        FROM e3 GROUP BY src)
SELECT CAST(count(*) AS BIGINT) AS n_core_nodes,
       CAST(coalesce(sum(deg), 0) AS BIGINT) AS deg_sum,
       CAST(coalesce(min(node), -1) AS BIGINT) AS min_node,
       CAST(coalesce(sum(node), 0) AS BIGINT) AS node_sum
FROM fin
""",
    category=CAT,
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core peeling, 3 unrolled rounds: repeatedly drop nodes whose
    degree in the SURVIVING subgraph is < 3 and restrict the edge set
    to kept endpoints — the dense-subgraph extraction primitive
    (community cores, spam-farm detection; full k-core runs peels to a
    fixed point, this pins the fixed-round prefix).  Each peel is one
    degree aggregation + two semi-join-shaped edge restrictions — all
    keyed, and the edge set only ever SHRINKS, so cost is bounded by
    round 1.  Summary row: surviving node count, degree mass (2x the
    surviving edge count), min node and node checksum."""
    e = _copart_edges(spark, sf_dir)  # both directions
    for _ in range(3):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= 3).select("src")
        e = (
            e.join(keep, "src")
            .join(keep.select(F.col("src").alias("dst")), "dst")
            .select("src", "dst")
        )
    fin = e.groupBy("src").agg(bigint(F.count(F.lit(1))).alias("deg"))
    return fin.agg(
        bigint(F.count(F.lit(1))).alias("n_core_nodes"),
        bigint(F.coalesce(F.sum("deg"), F.lit(0))).alias("deg_sum"),
        bigint(F.coalesce(F.min("src"), F.lit(-1))).alias("min_node"),
        bigint(F.coalesce(F.sum("src"), F.lit(0))).alias("node_sum"),
    )


# Same sampled part-co-occurrence edge derivation as the graph family
# (_copart_edges / the PageRank oracle) so the degree
# numbers are directly comparable across the graph ops.
_DEG_EDGES_DUCK = """
op_ AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
        FROM lineitem WHERE l_orderkey % 97 = 0),
e AS (SELECT DISTINCT a.p AS src, b.p AS dst
      FROM op_ a JOIN op_ b ON a.k = b.k AND a.p <> b.p)
"""


@op(
    "graph_degree_distribution",
    oracle=f"""
WITH {_DEG_EDGES_DUCK},
deg AS (SELECT src, count(*) AS d FROM e GROUP BY src)
SELECT CAST(length(bin(d)) - 1 AS BIGINT) AS log2_bucket,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(d) AS BIGINT) AS min_deg,
       CAST(max(d) AS BIGINT) AS max_deg,
       CAST(sum(d) AS BIGINT) AS sum_deg
FROM deg GROUP BY 1
""",
    category=CAT,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution health check over the shared co-occurrence
    graph: per log2 degree bucket (bucket = len(bin(d)) - 1, an
    integer-exact floor(log2) both engines compute identically), node
    count and min/max/sum degree.  This is the report that validates
    the power-law assumption the triangle-counting orientation
    (graph_triangle_count docstring) and skew-handling strategies rest
    on — run it BEFORE committing a partitioning strategy for a new
    graph.

    Scale: edge build (equi-join on sampled orders) -> one degree agg
    -> one constant-size bucket agg; the distribution itself is <= 64
    rows no matter the graph."""

    deg = (
        _copart_edges(spark, sf_dir)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    bucket = (F.length(F.bin(F.col("d"))) - 1).cast("bigint")
    return deg.groupBy(bucket.alias("log2_bucket")).agg(
        bigint(F.count(F.lit(1))).alias("n_nodes"),
        bigint(F.min("d")).alias("min_deg"),
        bigint(F.max("d")).alias("max_deg"),
        bigint(F.sum("d")).alias("sum_deg"),
    )


@op(
    "graph_jaccard_neighbors",
    oracle=f"""
WITH {_DEG_EDGES_DUCK},
deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
cn AS (
  SELECT l.src AS a, r.src AS b, count(*) AS common
  FROM e l JOIN e r ON l.dst = r.dst AND l.src < r.src
  GROUP BY 1, 2
),
cand AS (
  SELECT cn.a, cn.b, cn.common FROM cn
  WHERE cn.common >= 2
    AND NOT EXISTS (SELECT 1 FROM e WHERE e.src = cn.a AND e.dst = cn.b)
)
SELECT a, b,
       CAST(common AS BIGINT) AS n_common,
       CAST(1000000 * common // (da.d + db.d - common) AS BIGINT)
         AS jaccard_ppm
FROM cand
JOIN deg da ON da.src = a
JOIN deg db ON db.src = b
""",
    category=CAT,
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by common-neighbor Jaccard over the shared
    co-occurrence graph: for NON-adjacent pairs with >= 2 common
    neighbors, jaccard_ppm = 10^6 * |N(a) cap N(b)| div
    |N(a) cup N(b)| — the candidate-edge scores a recommender ranks.

    Scale: the wedge self-join (edges joined on the shared neighbor)
    is the canonical bounded-by-degree-squared step; the degree
    distribution op is the pre-flight check that bounds it, and the
    a < b orientation halves the work exactly as in triangle counting.
    The adjacency exclusion is a left-anti join on the edge key, and
    degree lookups broadcast (node-count-sized)."""

    e = _copart_edges(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    l = e.select(F.col("src").alias("a"), F.col("dst").alias("n"))
    r = e.select(F.col("src").alias("b"), F.col("dst").alias("n"))
    cn = (
        l.join(r, "n")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= 2)
    )
    cand = cn.join(
        e.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("src").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("src").alias("b"), F.col("d").alias("db"))
    return (
        cand.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            "a",
            "b",
            bigint(F.col("common")).alias("n_common"),
            bigint(
                F.expr("1000000 * common div (da + db - common)")
            ).alias("jaccard_ppm"),
        )
    )


@op(
    "graph_resource_allocation_index",
    oracle=f"""
WITH {_DEG_EDGES_DUCK},
deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
wedge AS (
  SELECT l.src AS a, r.src AS b, l.dst AS z
  FROM e l JOIN e r ON l.dst = r.dst AND l.src < r.src
),
scored AS (
  SELECT w.a, w.b,
         count(*) AS common,
         sum(1000000 // dz.d) AS ra_ppm
  FROM wedge w JOIN deg dz ON dz.src = w.z
  GROUP BY w.a, w.b
  HAVING count(*) >= 2
)
SELECT s.a, s.b,
       CAST(s.common AS BIGINT) AS n_common,
       CAST(s.ra_ppm AS BIGINT) AS ra_ppm
FROM scored s
WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = s.a AND e.dst = s.b)
""",
    category=CAT,
)
def graph_resource_allocation_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-Allocation link-prediction index (Zhou, Lu & Zhang
    2009): for non-adjacent pairs with >= 2 common neighbors, sum
    1/deg(z) over the SHARED neighbors z, in exact ppm (integer floor
    per neighbor) — unlike Jaccard, RA down-weights hub-mediated
    evidence (a shared neighbor with degree 1000 says little), and
    the rational form makes it hash-exact where Adamic-Adar's log
    cannot be.

    Scale: the same wedge self-join as the Jaccard op, but the degree
    weight joins on the WEDGE CENTER (broadcast, node-sized) BEFORE
    the pair agg — per-pair state stays one integer sum."""

    e = _copart_edges(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    l = e.select(F.col("src").alias("a"), F.col("dst").alias("z"))
    r = e.select(F.col("src").alias("b"), F.col("dst").alias("z"))
    wedge = l.join(r, "z").filter(F.col("a") < F.col("b"))
    dz = deg.select(F.col("src").alias("z"), F.col("d").alias("dz"))
    scored = (
        wedge.join(F.broadcast(dz), "z")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum(F.expr("1000000 div dz")).alias("ra_ppm"),
        )
        .filter(F.col("common") >= 2)
    )
    cand = scored.join(
        e.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return cand.select(
        "a",
        "b",
        bigint(F.col("common")).alias("n_common"),
        bigint(F.col("ra_ppm")).alias("ra_ppm"),
    )


@op(
    "graph_local_clustering",
    oracle=f"""
WITH op_ AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
        FROM lineitem WHERE l_orderkey % 97 = 0),
e AS (SELECT DISTINCT a.p AS src, b.p AS dst
      FROM op_ a JOIN op_ b ON a.k = b.k AND a.p <> b.p),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
o AS (SELECT e.src AS u, e.dst AS v
      FROM e JOIN deg du ON du.node = e.src JOIN deg dv ON dv.node = e.dst
      WHERE du.d < dv.d OR (du.d = dv.d AND e.src < e.dst)),
tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM o e1
        JOIN o e2 ON e2.u = e1.v
        JOIN o e3 ON e3.u = e1.u AND e3.v = e2.v),
nodes AS (SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri),
ntri AS (SELECT node, count(*) AS n_tri FROM nodes GROUP BY node),
cc AS (
  SELECT deg.node, deg.d,
         1000000 * 2 * coalesce(ntri.n_tri, 0) // (deg.d * (deg.d - 1))
           AS cc_ppm
  FROM deg LEFT JOIN ntri ON ntri.node = deg.node
  WHERE deg.d >= 2
)
SELECT CAST(length(bin(d)) - 1 AS BIGINT) AS log2_degree,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(cc_ppm) // count(*) AS BIGINT) AS mean_cc_ppm,
       CAST(max(cc_ppm) AS BIGINT) AS max_cc_ppm
FROM cc GROUP BY 1
""",
    category=CAT,
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient by degree band: per node,
    cc = 2*triangles / (deg*(deg-1)) in exact ppm, summarized as
    mean/max per log2-degree bucket — the clustering-vs-degree plot
    every graph paper shows (flat = random graph, falling = hierarchy),
    using the SAME degree-ordered triangle orientation as
    graph_triangle_count so each triangle counts once per member node.

    Scale: the oriented wedge join bounds work at O(m^1.5) exactly as
    the triangle op argues; everything after the per-node triangle
    count runs on node-sized rows, and the report is <= 64 bands."""

    e = _copart_edges(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    nodes = _triangle_members(e, deg)
    ntri = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
    cc = (
        deg.filter(F.col("d") >= 2)
        .join(ntri, deg.src == ntri.node, "left")
        .select(
            "d",
            F.expr(
                "1000000 * 2 * coalesce(n_tri, 0) div (d * (d - 1))"
            ).alias("cc_ppm"),
        )
    )
    bucket = (F.length(F.bin(F.col("d"))) - 1).cast("bigint")
    return cc.groupBy(bucket.alias("log2_degree")).agg(
        bigint(F.count(F.lit(1))).alias("n_nodes"),
        bigint(F.expr("sum(cc_ppm) div count(1)")).alias("mean_cc_ppm"),
        bigint(F.max("cc_ppm")).alias("max_cc_ppm"),
    )


@op(
    "graph_degree_assortativity",
    oracle=f"""
WITH {_DEG_EDGES_DUCK},
deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
ed AS (
  SELECT du.d AS dx, dv.d AS dy
  FROM e JOIN deg du ON du.src = e.src JOIN deg dv ON dv.src = e.dst
),
m AS (
  SELECT count(*) AS n,
         sum(dx) AS sx, sum(dy) AS sy,
         sum(dx * dx) AS sxx, sum(dy * dy) AS syy, sum(dx * dy) AS sxy
  FROM ed
)
SELECT CAST(n AS BIGINT) AS n_directed_edges,
       CAST(floor(1000000.0 * (n * sxy - sx * sy)
            / sqrt(CAST((n * sxx - sx * sx) AS DOUBLE)
                   * (n * syy - sy * sy))) AS BIGINT)
         AS assortativity_ppm
FROM m
""",
    category=CAT,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002): Pearson correlation of
    endpoint degrees over all directed edges, floored to ppm — the
    one-number answer to 'do hubs connect to hubs' (positive: social
    networks; negative: hub-and-spoke/technological graphs), which
    picks between the skew strategies the degree-distribution op's
    histogram motivates.  Exact integer moment sums; the single sqrt
    runs on integers below 2^53 so the double is engine-identical
    (same argument as the grayscale correlation op).

    Scale: two broadcast degree lookups onto the edge list, one
    global moment agg — the edge list is scanned once."""

    e = _copart_edges(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("src").alias("u_"), F.col("d").alias("dx"))
    dv = deg.select(F.col("src").alias("v_"), F.col("d").alias("dy"))
    ed = e.join(F.broadcast(du), e.src == du.u_).join(
        F.broadcast(dv), e.dst == dv.v_
    )
    m = ed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.expr("dx * dx")).alias("sxx"),
        F.sum(F.expr("dy * dy")).alias("syy"),
        F.sum(F.expr("dx * dy")).alias("sxy"),
    )
    return m.select(
        bigint(F.col("n")).alias("n_directed_edges"),
        bigint(
            F.expr(
                "floor(1000000.0 * (n * sxy - sx * sy)"
                " / sqrt(CAST((n * sxx - sx * sx) AS DOUBLE)"
                "        * (n * syy - sy * sy)))"
            )
        ).alias("assortativity_ppm"),
    )

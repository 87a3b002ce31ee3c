"""Iterative graph operators: connected components over a
co-occurrence graph.

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

import sys

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from trip_data_pipeline_spark.io import load
from trip_data_pipeline_spark.operators.common import bigint
from trip_data_pipeline_spark.registry import op

CAT = "graph / iterative"

MAX_ROUNDS = 50

_drop_stats_fallback_warned = False


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
    Falls back to the plain DataFrame when the classic JVM handles are
    unavailable (e.g. Spark Connect)."""
    try:
        j = df._jdf
        spark = df.sparkSession
        new_j = spark._jsparkSession.internalCreateDataFrame(
            j.queryExecution().toRdd(), j.schema(), False
        )
        return DataFrame(new_j, spark)
    except Exception as exc:  # pragma: no cover — classic mode always has _jdf
        # Canary (VERDICT r12 item 8): the fallback is CORRECT but
        # silently reintroduces the quadratic-stats pathology (plan
        # estimates square per self-join round).  Say so loudly once
        # per process; tests/test_graph_exchange_reuse.py fails if
        # this path ever engages on the pinned Spark version.
        global _drop_stats_fallback_warned
        if not _drop_stats_fallback_warned:
            _drop_stats_fallback_warned = True
            print(
                "[graph] _drop_plan_stats fell back to the plain DataFrame "
                f"({type(exc).__name__}: {exc}) — iterative self-join rounds "
                "will slow geometrically (propagated sizeInBytes squares "
                "per round); see _drop_plan_stats docstring",
                file=sys.stderr,
            )
        return df


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
    oracle="""
WITH RECURSIVE
op_ AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p
        FROM lineitem WHERE l_orderkey % 97 = 0),
e0 AS (SELECT a.p AS src, b.p AS dst FROM op_ a JOIN op_ b
       ON a.k = b.k AND a.p <> b.p),
n AS (SELECT DISTINCT src AS node FROM e0),
reach(node, r) AS (
  SELECT node, node FROM n
  UNION
  SELECT re.node, e.dst FROM reach re JOIN e0 e ON re.r = e.src
)
SELECT CAST(node AS BIGINT) AS node, CAST(min(r) AS BIGINT) AS component
FROM reach GROUP BY node ORDER BY node
""",
    category=CAT,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-part graph by alternating star
    contraction; the DuckDB oracle computes the same labelling via a
    recursive-CTE transitive closure (component id == min reachable
    node id on both sides).

    At-scale parity (round 9): the recursive-CTE closure materializes
    every (node, reachable-node) pair — O(sum component_size^2), 307 s
    at 3x — so the 10x and 100x records (docs/PARITY_10x.json,
    docs/PARITY_100x_subset.json, both HASH-OK) use the iterative
    temp-table label-propagation oracle in tools/parity_sweep.py
    SCALED_ORACLES, locked value-identical to this oracle at sf0.01 by
    tests/test_scaled_oracles.py."""
    edges = _copart_edges(spark, sf_dir)
    return connected_components(edges).select(
        bigint(F.col("node")).alias("node"),
        bigint(F.col("component")).alias("component"),
    ).orderBy("node")

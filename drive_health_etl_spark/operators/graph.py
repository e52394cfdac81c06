"""Graph analytics over the co-purchase graph (north-star extension;
complements the connected-components collapse in ``operators/dedup.py``):
PageRank with a fixed iteration count — the canonical distributed iterative
computation beyond label propagation.

Graph: parts are nodes; an undirected edge joins two parts that appear in
the same order (the ``basket_part_pairs`` relation). Rank follows the
standard damped formulation, uniform init, degree-normalized contributions.

Scale design: every iteration is one equi-join (edges ⋈ ranks on the source
key) plus one map-side-combinable aggregate on the destination key — the
textbook Pregel-as-MapReduce shape. The iteration count is FIXED (not
convergence-tested), so the plan is a statically unrolled chain and the
oracle is the same chain as unrolled CTEs; per-node contribution sums
decimal-cast each term so accumulation order cannot diverge between
engines. The cast itself is the one genuinely engine-divergent step
(Spark rounds double->decimal HALF_UP, DuckDB half-even), so the final
rank is rounded to 12 dp and sorted on the rounded key, per the repo's
float policy (round exactly where engines genuinely diverge, nowhere else).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drive_health_etl_spark.operators.fitcache import dataset_cached
from drive_health_etl_spark.session import broadcast_if_small, shuffle_partitions
from drive_health_etl_spark.sources.tables import load_table

PR_DAMPING = 0.85
PR_ITERS = 3
PR_TOP_N = 20


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected co-purchase edges as a directed both-ways list."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    op = li.distinct()
    a = op.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = op.select(
        F.col("l_orderkey").alias("ok_b"), F.col("l_partkey").alias("dst")
    )
    pairs = a.join(
        b, (a["l_orderkey"] == b["ok_b"]) & (F.col("src") < F.col("dst"))
    ).select("src", "dst").distinct()
    return pairs.union(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``PR_TOP_N`` parts by PageRank after ``PR_ITERS`` damped
    iterations over the co-purchase graph (rank desc, part asc).

    Partitioning note: iterations run at the session's full parallelism
    and rely on AQE to coalesce when the edge list is tiny — measured best
    at BOTH scales (sf0.1: 2.4s vs 3.5s with a 2.4M-edge join pinned to 8
    partitions; sf0.001: 0.79s vs 1.00s, AQE absorbing the tiny stages).
    The earlier fixed 8-partition pin under-parallelized the per-round
    edge-side shuffle 4x at sf0.1 — the classic static-tuning trap the
    runtime re-planner exists to avoid. Ranks are driven to a
    localCheckpoint inside the scope; results are partitioning-independent
    because the decimal-cast sum makes accumulation order irrelevant."""
    _weighted_edges(spark, sf_dir)  # materialize the edge subtree first
    with shuffle_partitions(spark, spark.sparkContext.defaultParallelism):
        ranks = _pagerank_ranks(spark, sf_dir).localCheckpoint()
    # ROUND is load-bearing here, per the repo float policy: the per-term
    # double->decimal cast rounds HALF_UP in Spark but half-even in DuckDB,
    # and over ~1e5 contributions the deltas accumulate into low-ULP rank
    # differences — genuinely engine-divergent, so round AND sort on the
    # rounded key so both engines order identically.
    return (
        ranks.select(
            F.col("node").alias("part"), F.round(F.col("r"), 12).alias("rank")
        )
        .orderBy(F.col("rank").desc(), F.col("part").asc())
        .limit(PR_TOP_N)
    )


def _weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The degree-weighted edge relation (src, dst, 1/deg(src)) — the
    expensive subtree (self-join + two distincts). A real deployment
    materializes the edge table once and iterates over it, so it is cached
    per (session, sf_dir) like dedup.py's MinHash signature subtree."""

    def build() -> DataFrame:
        edges = _edges(spark, sf_dir)
        deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
        # Fold 1/deg into the edge relation ONCE and localCheckpoint it:
        # each iteration is then a single equi-join + aggregate over a
        # lineage-free input (3 fewer stages per round than joining deg
        # every time).
        return edges.join(deg, "src").select(
            "src", "dst", (F.lit(1.0) / F.col("deg")).alias("w")
        ).localCheckpoint()

    return dataset_cached(spark, sf_dir, "pr_edges", build)


def _pagerank_nodes(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """(node set, node count) of the co-purchase graph — a dataset artifact
    like the weighted edge relation itself, cached per (session, sf_dir).
    Pre-r11 the nodes DISTINCT (a corpus-sized shuffle over the edge list)
    and the count sat INSIDE every call's lazy rank chain; hoisting them
    here removes one full-edge shuffle per call and lets the iteration
    carry the narrow (node, r) pair instead of (node, n_nodes, r) — guide
    §2.3: shuffle fewer bytes, §2.4: don't re-shuffle what is already
    materialized."""

    def build():
        ed = _weighted_edges(spark, sf_dir)
        nodes = ed.select(F.col("src").alias("node")).distinct().localCheckpoint()
        return (nodes, nodes.count())

    return dataset_cached(spark, sf_dir, "pr_nodes", build)


def _pagerank_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ed = _weighted_edges(spark, sf_dir)
    nodes, n = _pagerank_nodes(spark, sf_dir)
    # 1.0 - 0.85 in binary floating point is 0.15000000000000002 — compute the
    # teleport term ONCE in Python and embed the exact double in both engines
    # (a SQL-side `1.0 - 0.85` would go through DuckDB DECIMAL arithmetic and
    # land on a different double). The per-node scalars 1/n and base/n are
    # likewise single IEEE divisions of exact inputs — embedding the Python
    # double is bit-identical to evaluating the division per row (verified
    # against the pre-r11 chain: identical rank bits at sf0.1).
    base = 1.0 - PR_DAMPING
    # n == 0 <=> `nodes` is empty: every per-node scalar below then applies
    # to zero rows, so any finite placeholder is value-invisible — but the
    # driver-side division itself must not raise (empty-input contract).
    # Both scalars stay SINGLE IEEE divisions (the oracle divides once too —
    # `x * (1/n)` would round twice and drift the low bit).
    inv_n = 1.0 / n if n else 0.0
    base_n = base / n if n else 0.0
    ranks = nodes.select("node", F.lit(inv_n).alias("r"))
    # The node-sized iteration relations (ranks in, contributions out) are
    # localCheckpointed, so they scan with UNKNOWN size stats and the
    # planner never broadcasts them: every iteration SMJ-shuffled the FULL
    # edge relation by src (measured: 20 Exchange / 12 SortMergeJoin for
    # the 3-round chain). Sized by the cached node count, each round below
    # the broadcast threshold is one broadcast-hash edge join plus one
    # map-side-combined aggregate; above it the shuffle joins return.
    for _ in range(PR_ITERS):
        rsel = ranks.select(F.col("node").alias("src"), "r")
        contrib = (
            ed.join(broadcast_if_small(rsel, n), "src")
            .groupBy("dst")
            .agg(
                F.sum((F.col("r") * F.col("w")).cast("decimal(28,18)"))
                .cast("double")
                .alias("inflow")
            )
        )
        # contrib is the RIGHT side of the left-outer join, so broadcasting
        # it (node-bounded: <= one row per in-degree-positive node) is the
        # valid BHJ build side; join strategy never changes values, and the
        # decimal-cast per-term sum keeps the aggregate order-independent.
        csel = contrib.select(F.col("dst").alias("node"), "inflow")
        ranks = (
            nodes
            .join(broadcast_if_small(csel, n), "node", "left")
            .select(
                "node",
                (
                    F.lit(base_n)
                    + F.lit(PR_DAMPING) * F.coalesce("inflow", F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks


def _pagerank_sql() -> str:
    prev = "r0"
    base = 1.0 - PR_DAMPING  # exact double, embedded via repr (see graph_pagerank)
    iters = []
    for i in range(1, PR_ITERS + 1):
        iters.append(
            f"""r{i} AS (
  SELECT n.node, n.n_nodes,
         CAST({base!r} AS DOUBLE) / n.n_nodes
           + CAST({PR_DAMPING!r} AS DOUBLE) * COALESCE(c.inflow, CAST(0.0 AS DOUBLE)) AS r
  FROM {prev} n LEFT JOIN (
    SELECT e.dst, CAST(SUM(CAST(p.r * e.w AS DECIMAL(28,18))) AS DOUBLE) AS inflow
    FROM ed e JOIN {prev} p ON e.src = p.node
    GROUP BY e.dst
  ) c ON n.node = c.dst
)"""
        )
        prev = f"r{i}"
    chain = ",\n".join(iters)
    return f"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
ed AS (
  SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / d.deg AS w
  FROM edges e JOIN deg d ON e.src = d.src
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
r0 AS (SELECT node, n_nodes, CAST(1.0 AS DOUBLE) / n_nodes AS r FROM nodes, nn),
{chain}
SELECT node AS part, ROUND(r, 12) AS rank FROM {prev}
ORDER BY rank DESC, part ASC LIMIT {PR_TOP_N}
"""


GRAPH_PAGERANK_SQL = _pagerank_sql()


_TRI_SUPPORT = 2  # co-purchase pairs must recur to count as an edge


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph: undirected edges are part
    pairs bought together in >= _TRI_SUPPORT orders; triangles are counted
    once each via the ID-ordered orientation (a < b < c), the standard trick
    that makes each triangle appear in exactly one join order.

    Scale: the support threshold bounds the edge list (recurring pairs, not
    all C(items,2) per order); the two equi-joins shuffle on single node
    keys. The production upgrade for skewed graphs is DEGREE ordering
    instead of ID ordering (orients each edge toward the higher-degree
    node, bounding per-node join fan-out by arboricity — the node-iterator
    bound); ID ordering keeps the oracle SQL identical and is exact on this
    graph."""
    edges = _support_pairs(spark, sf_dir)  # cached; _TRI_SUPPORT == _BFS_SUPPORT
    e1 = edges.select(F.col("pa").alias("x"), F.col("pb").alias("y"))
    e2 = edges.select(F.col("pa").alias("y"), F.col("pb").alias("z"))
    e3 = edges.select(F.col("pa").alias("x"), F.col("pb").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    return edges.agg(F.count("*").alias("n_edges")).crossJoin(
        F.broadcast(tri.agg(F.count("*").alias("n_triangles")))
    )


GRAPH_TRIANGLES_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_TRI_SUPPORT}
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e1.pb = e2.pa
  JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
)
SELECT (SELECT COUNT(*) FROM edges) AS n_edges, n_triangles FROM tri
"""


_BFS_HOPS = 3
_BFS_SUPPORT = 2  # same recurring-pair threshold as the triangle census


def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop BFS from the minimum part key over the support-filtered
    co-purchase graph: histogram of shortest-path distance -> node count for
    distances 0..``_BFS_HOPS`` (unreached nodes are absent, as in any
    frontier traversal).

    Scale design: each hop is one equi-join (frontier ⋈ edges on the source
    key) + a min-combine on the node key — the Pregel shape, map-side
    combinable, never materializing more than (reached nodes) rows. The hop
    count is FIXED so the plan is a statically unrolled chain and the oracle
    is the identical chain as CTEs; everything is exact integers. The
    production variant for unbounded diameter swaps the unrolled chain for
    an iterate-with-checkpoint loop (see dedup.py's large-star/small-star
    collapse, which is the same traversal with min-label instead of
    min-distance)."""
    # Edge build runs at full parallelism (it shuffles the fact table), then
    # the hop loop — tiny node-sized stages — runs under an 8-partition pin
    # and drives to a localCheckpoint inside the pinned scope, exactly the
    # pagerank recipe (stage setup dominates at test scale; results are
    # partitioning-independent since MIN is order-insensitive).
    edges = _support_edges(spark, sf_dir)  # pairs subtree already checkpointed
    with shuffle_partitions(spark, 8):
        dist = edges.agg(F.min("src").alias("node")).select(
            "node", F.lit(0).alias("dist")
        )
        for _ in range(_BFS_HOPS):
            hop = (
                dist.join(edges, dist["node"] == edges["src"])
                .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
            )
            dist = dist.union(hop).groupBy("node").agg(F.min("dist").alias("dist"))
        out = (
            dist.groupBy("dist")
            .agg(F.count("*").alias("n_nodes"))
            .orderBy("dist")
            .localCheckpoint()
        )
    return out


def _support_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected support-filtered co-purchase pairs (pa < pb). The
    expensive subtree (fact self-join + aggregate) shared by the triangle
    census, BFS, and label propagation, so it is cached per (session,
    sf_dir) like the pagerank edge list."""

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        ).distinct()
        a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
        b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
        return (
            a.join(b, "o")
            .filter(F.col("pa") < F.col("pb"))
            .groupBy("pa", "pb")
            .agg(F.count("*").alias("support"))
            .filter(F.col("support") >= _BFS_SUPPORT)
            .select("pa", "pb")
            .localCheckpoint()
        )

    return dataset_cached(spark, sf_dir, "support_pairs", build)


def _support_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected support-filtered co-purchase edges, both directions."""
    pairs = _support_pairs(spark, sf_dir)
    return pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).union(
        pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )


def _bfs_sql() -> str:
    prev = "d0"
    hops = []
    for i in range(1, _BFS_HOPS + 1):
        hops.append(
            f"""d{i} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM {prev}
    UNION ALL
    SELECT e.dst AS node, d.dist + 1 AS dist
    FROM {prev} d JOIN edges e ON d.node = e.src
  ) GROUP BY node
)"""
        )
        prev = f"d{i}"
    chain = ",\n".join(hops)
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_BFS_SUPPORT}
),
edges AS (SELECT pa AS src, pb AS dst FROM pairs
          UNION ALL SELECT pb AS src, pa AS dst FROM pairs),
d0 AS (SELECT MIN(src) AS node, 0 AS dist FROM edges),
{chain}
SELECT dist, COUNT(*) AS n_nodes FROM {prev} GROUP BY dist ORDER BY dist
"""


GRAPH_BFS_SQL = _bfs_sql()


_LP_ROUNDS = 2


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    support-filtered co-purchase graph: labels start as node ids; each round
    every node adopts its neighbors' most frequent label (ties -> smallest
    label — the determinism pin plain LPA lacks). Emits the community-size
    histogram after ``_LP_ROUNDS`` rounds: (community_size, n_communities).

    Scale design: a round is edges ⋈ labels (equi-join on the node key) ->
    a (node, label) count aggregate -> an argmax via max(struct) — all
    map-side combinable, the Pregel shape again; the round count is fixed,
    so the plan is a statically unrolled chain mirrored by the oracle's
    CTEs. Production LPA adds per-round checkpointing exactly like the
    connected-components collapse in dedup.py."""
    edges = _support_edges(spark, sf_dir)  # pairs subtree already checkpointed
    with shuffle_partitions(spark, 8):
        labels = edges.select(F.col("src").alias("node")).distinct().select(
            "node", F.col("node").alias("label")
        )
        for _ in range(_LP_ROUNDS):
            votes = (
                edges.join(
                    labels.select(F.col("node").alias("dst"), "label"), "dst"
                )
                .groupBy(F.col("src").alias("node"), "label")
                .agg(F.count("*").alias("n"))
            )
            # argmax (n desc, label asc) without a window: max over
            # (n, -label) structs — the documented argmax pattern
            labels = votes.groupBy("node").agg(
                (-F.max(F.struct(F.col("n"), (-F.col("label")).alias("neg")))["neg"]).alias(
                    "label"
                )
            )
        sizes = labels.groupBy("label").agg(F.count("*").alias("community_size"))
        out = (
            sizes.groupBy("community_size")
            .agg(F.count("*").alias("n_communities"))
            .orderBy("community_size")
            .localCheckpoint()
        )
    return out


def _lp_sql() -> str:
    prev = "l0"
    rounds = []
    for i in range(1, _LP_ROUNDS + 1):
        rounds.append(
            f"""l{i} AS (
  SELECT node, label FROM (
    SELECT src AS node, label, COUNT(*) AS n,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY COUNT(*) DESC, label ASC) AS rn
    FROM edges e JOIN {prev} p ON e.dst = p.node
    GROUP BY src, label
  ) WHERE rn = 1
)"""
        )
        prev = f"l{i}"
    chain = ",\n".join(rounds)
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_BFS_SUPPORT}
),
edges AS (SELECT pa AS src, pb AS dst FROM pairs
          UNION ALL SELECT pb AS src, pa AS dst FROM pairs),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
{chain},
sizes AS (SELECT label, COUNT(*) AS community_size FROM {prev} GROUP BY label)
SELECT community_size, COUNT(*) AS n_communities
FROM sizes GROUP BY community_size ORDER BY community_size
"""


GRAPH_LP_SQL = _lp_sql()


_KCORE_K = 3
_KCORE_ROUNDS = 4


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=``_KCORE_K``) of the support-filtered
    co-purchase graph by synchronous peeling: each round drops every node
    whose degree among SURVIVORS is < k, for ``_KCORE_ROUNDS`` rounds —
    the standard "dense subgraph / spam-cluster" primitive. Emits one
    summary row: surviving core size, edges inside the core, total peeled,
    and whether peeling converged within the round budget (last round
    removed nothing). All counts are integers — exact oracle.

    Scale shape: a round is two semi joins (edge endpoints against the
    survivor set, equi-keyed) + one map-side-combinable degree count; the
    survivor relation is localCheckpointed per round so the unrolled chain
    never re-executes earlier rounds (the CC/PageRank discipline). Fixed
    round count -> statically unrolled plan, mirrored by the oracle CTEs;
    production peeling loops until fixpoint with the same per-round cost."""
    edges = _support_edges(spark, sf_dir)  # checkpointed (src, dst) both ways
    surv = edges.select(F.col("src").alias("node")).distinct().localCheckpoint()
    prev_n = surv.count()
    # Survivor sets are node-sized and only SHRINK round over round, but
    # they scan as ExistingRDD with unknown size stats, so the planner
    # sort-merge-shuffled the full edge relation twice per peeling round.
    # Sized by the initial survivor count (it bounds every later round),
    # each semi join broadcasts the survivor side below the threshold.
    def semi(df, col):
        side = surv.select(F.col("node").alias(col))
        return df.join(broadcast_if_small(side, prev_n), col, "left_semi")

    # r11: only three survivor counts feed the readout (initial for
    # n_peeled, last two for converged/n_core_nodes) — the early-round
    # counts were driver jobs whose results nothing read. localCheckpoint
    # is eager, so each round still materializes exactly as before.
    sizes: list[int | None] = [prev_n]
    for i in range(_KCORE_ROUNDS):
        deg = (
            semi(semi(edges, "src"), "dst")
            .groupBy("src")
            .agg(F.count("*").alias("d"))
        )
        surv = (
            deg.filter(F.col("d") >= _KCORE_K)
            .select(F.col("src").alias("node"))
            .localCheckpoint()
        )
        sizes.append(surv.count() if i >= _KCORE_ROUNDS - 2 else None)
    core_edges = semi(semi(edges, "src"), "dst").count() // 2
    return spark.createDataFrame(
        [
            (
                int(_KCORE_K),
                int(sizes[-1]),
                int(core_edges),
                int(sizes[0] - sizes[-1]),
                bool(sizes[-2] == sizes[-1]),
            )
        ],
        "k int, n_core_nodes long, n_core_edges long, n_peeled long, converged boolean",
    )


def _kcore_sql() -> str:
    prev = "s0"
    rounds = []
    for i in range(1, _KCORE_ROUNDS + 1):
        rounds.append(
            # MATERIALIZED: s_i is referenced twice by s_{i+1} and the
            # final selects — DuckDB would otherwise re-inline the whole
            # peeling chain exponentially (measured 8s -> <1s).
            f"""s{i} AS MATERIALIZED (
  SELECT src AS node FROM edges e
  JOIN {prev} a ON e.src = a.node
  JOIN {prev} b ON e.dst = b.node
  GROUP BY src HAVING COUNT(*) >= {_KCORE_K}
)"""
        )
        prev = f"s{i}"
    chain = ",\n".join(rounds)
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_BFS_SUPPORT}
),
edges AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs
          UNION ALL SELECT pb AS src, pa AS dst FROM pairs),
s0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
{chain}
SELECT {_KCORE_K} AS k,
       (SELECT COUNT(*) FROM {prev}) AS n_core_nodes,
       (SELECT COUNT(*) FROM edges e
          JOIN {prev} a ON e.src = a.node JOIN {prev} b ON e.dst = b.node) // 2 AS n_core_edges,
       (SELECT COUNT(*) FROM s0) - (SELECT COUNT(*) FROM {prev}) AS n_peeled,
       (SELECT COUNT(*) FROM s{_KCORE_ROUNDS - 1}) = (SELECT COUNT(*) FROM {prev}) AS converged
"""


GRAPH_KCORE_SQL = _kcore_sql()


_HITS_TOP = 10


def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities on the bipartite customer -> part purchase
    graph (hubs = customers, authorities = parts), run UNNORMALIZED: with
    h0 = 1, each iteration's scores are exact integer path counts
    (a1 = in-degree, h1 = sum of a1 over a customer's parts, a2 = sum of h1
    ...), so the whole computation is BIGINT-exact — no per-round float
    normalization to drift between engines; the relative ranking is
    identical to normalized HITS because normalization is a per-side scalar.
    The final `norm` column divides by the side's max (one exact-int
    division, rounded 9dp).

    Scale shape: per half-iteration ONE equi-join + map-side-combinable sum
    on a lineage-free edge relation — the PageRank recipe (`_pagerank_ranks`)
    on a bipartite graph; top-k per side is TakeOrdered, no global sort."""
    def build_edges() -> DataFrame:
        orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        return (
            orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
            .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
            .distinct()
            .localCheckpoint()
        )

    # r11: the bipartite purchase relation is a dataset artifact like the
    # co-purchase edge list — cache it per (session, sf_dir) instead of
    # re-running the orders ⋈ lineitem distinct per call (guide §2.4).
    edges = dataset_cached(spark, sf_dir, "hits_edges", build_edges)
    # The per-half-iteration score relations are side-sized (one row per
    # part / per cust) but join against a lineage-free edge relation with
    # no size stats, so the planner sort-merge-shuffled the full edge list
    # each half-iteration. Sized by the side counts (dataset artifacts,
    # cached next to the edges), the score side broadcasts below the
    # threshold and edges never re-shuffle.
    n_part, n_cust = dataset_cached(
        spark, sf_dir, "hits_sides",
        lambda: tuple(
            edges.agg(
                F.count_distinct("part"), F.count_distinct("cust")
            ).first()
        ),
    )
    a1 = edges.groupBy("part").agg(F.count("*").alias("a"))  # Σ h0 = in-degree
    h1 = (
        edges.join(broadcast_if_small(a1, n_part), "part")
        .groupBy("cust")
        .agg(F.sum("a").alias("h"))
    )
    # a2 feeds BOTH output branches (the authority top-k and h2) — pin it
    # with localCheckpoint or the whole a1->h1->a2 chain re-executes per
    # branch (measured: 26 shuffles -> ~half with the pin).
    a2 = (
        edges.join(broadcast_if_small(h1, n_cust), "cust")
        .groupBy("part")
        .agg(F.sum("h").alias("a"))
        .localCheckpoint()
    )
    h2 = (
        edges.join(broadcast_if_small(a2, n_part), "part")
        .groupBy("cust")
        .agg(F.sum("a").alias("h"))
    )

    def top_side(df, node_col, score_col, side):
        mx = df.agg(F.max(score_col).alias("mx"))
        return (
            df.crossJoin(F.broadcast(mx))
            .select(
                F.lit(side).alias("side"),
                F.col(node_col).cast("long").alias("node"),
                F.col(score_col).cast("long").alias("score"),
                F.round(F.col(score_col).cast("double") / F.col("mx"), 9).alias("norm"),
            )
            .orderBy(F.col("score").desc(), F.col("node").asc())
            .limit(_HITS_TOP)
        )

    return top_side(a2, "part", "a", "authority").unionAll(
        top_side(h2, "cust", "h", "hub")
    )


GRAPH_HITS_SQL = f"""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
a1 AS (SELECT part, COUNT(*) AS a FROM edges GROUP BY part),
h1 AS (SELECT e.cust, SUM(a1.a) AS h FROM edges e JOIN a1 USING (part) GROUP BY e.cust),
a2 AS (SELECT e.part, SUM(h1.h) AS a FROM edges e JOIN h1 USING (cust) GROUP BY e.part),
h2 AS (SELECT e.cust, SUM(a2.a) AS h FROM edges e JOIN a2 USING (part) GROUP BY e.cust),
auth AS (
  SELECT 'authority' AS side, CAST(part AS BIGINT) AS node, CAST(a AS BIGINT) AS score,
         ROUND(CAST(a AS DOUBLE) / (SELECT MAX(a) FROM a2), 9) AS norm
  FROM a2 ORDER BY score DESC, node ASC LIMIT {_HITS_TOP}
),
hub AS (
  SELECT 'hub' AS side, CAST(cust AS BIGINT) AS node, CAST(h AS BIGINT) AS score,
         ROUND(CAST(h AS DOUBLE) / (SELECT MAX(h) FROM h2), 9) AS norm
  FROM h2 ORDER BY score DESC, node ASC LIMIT {_HITS_TOP}
)
SELECT * FROM auth UNION ALL SELECT * FROM hub
"""


# --- Adamic-Adar link prediction ------------------------------------------

_AA_HUB_MAX = 64  # exclude parts bought by more than this many customers
_AA_TOP_N = 20


def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar, Social Networks 2003)
    over the customer-part bipartite graph: for each customer pair, score
    = sum over commonly-purchased parts of 1/ln(deg(part)) — rare shared
    interests weigh more than popular ones — and report the top-20
    predicted links. The classic common-neighbor predictor behind
    people-you-may-know / co-purchase recommendations.

    Hub guard: parts with more than 64 distinct buyers are excluded
    BEFORE pair expansion — the standard Adamic-Adar scale device (a hub's
    per-pair weight 1/ln(deg) is the smallest in the graph while its pair
    count grows deg^2, so hubs cost quadratically and change rankings
    negligibly; the exclusion is part of the operator's declared
    semantics, applied identically in the oracle). With the cap, the
    self-join on part keys expands at most C(64,2) pairs per part — a
    per-key constant, never all-pairs.

    Float discipline: deg is an exact distinct count; 1/ln(deg) is an
    identical double on both engines, folded to exact integer pico-units
    BEFORE the per-pair sum (order-independent long aggregate); the top-k
    is a TakeOrdered on (score desc, ids) — fully tiebroken."""

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        cp = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
            .distinct()
        )
        deg = cp.groupBy("part").agg(F.count("*").alias("deg"))
        # Weight as exact integer picro-units (1e12): the pair shuffle rows
        # carry a long instead of a decimal(20,12) and the per-pair sum is
        # a long aggregate — max 2,016 common parts x 1e12 stays far under
        # int64. The decimal-free sum is still order-independent (integers).
        wparts = deg.filter(
            (F.col("deg") >= 2) & (F.col("deg") <= _AA_HUB_MAX)
        ).select(
            "part",
            F.expr(
                "CAST(ROUND(1.0e12 / ln(CAST(deg AS DOUBLE)), 0) AS BIGINT)"
            ).alias("w"),
        )
        # cpw feeds BOTH self-join sides (and cp feeds deg + cpw): persist,
        # or the order-join + distinct re-executes per consumer. Materialize
        # eagerly so the readout plan (and its pinned fingerprint) sees the
        # cached relation's real stats regardless of call order.
        cpw = cp.join(wparts, "part").persist()
        cpw.count()
        return cpw

    # cached per (session, sf_dir): repeat calls must reuse the
    # materialization, not stack fresh persists
    cpw = dataset_cached(spark, sf_dir, "aa_weighted", build)
    a = cpw.select("part", F.col("cust").alias("cust_a"), "w")
    b = cpw.select(F.col("part").alias("part_b"), F.col("cust").alias("cust_b"))
    # The pair stream is the dominant volume (sum over parts of deg^2 rows);
    # hash-partition it 4x wider than the session's shuffle default before
    # the aggregate — ClusteredDistribution(keys) accepts any width, so no
    # second exchange, and each reduce task's hash map stays comfortably
    # in memory instead of spilling at 10x data.
    wide = spark.sparkContext.defaultParallelism * 4
    return (
        a.join(b, (a["part"] == b["part_b"]) & (F.col("cust_a") < F.col("cust_b")))
        .repartition(wide, "cust_a", "cust_b")
        .groupBy("cust_a", "cust_b")
        .agg(
            F.count("*").alias("n_common"),
            F.round(F.sum("w").cast("double") / F.lit(1.0e12), 6).alias("aa_score"),
        )
        .orderBy(F.col("aa_score").desc(), "cust_a", "cust_b")
        .limit(_AA_TOP_N)
    )


GRAPH_ADAMIC_ADAR_SQL = f"""
WITH cp AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
deg AS (SELECT part, COUNT(*) AS deg FROM cp GROUP BY part),
wparts AS (
  SELECT part, CAST(ROUND(1.0e12 / ln(CAST(deg AS DOUBLE)), 0) AS BIGINT) AS w
  FROM deg WHERE deg >= 2 AND deg <= {_AA_HUB_MAX}
),
cpw AS MATERIALIZED (SELECT cp.cust, cp.part, w FROM cp JOIN wparts USING (part))
SELECT a.cust AS cust_a, b.cust AS cust_b, COUNT(*) AS n_common,
       ROUND(CAST(SUM(a.w) AS DOUBLE) / 1.0e12, 6) AS aa_score
FROM cpw a JOIN cpw b ON a.part = b.part AND a.cust < b.cust
GROUP BY 1, 2
ORDER BY aa_score DESC, cust_a, cust_b
LIMIT {_AA_TOP_N}
"""


QUERIES: dict[str, tuple] = {
    "graph_adamic_adar": (graph_adamic_adar, GRAPH_ADAMIC_ADAR_SQL),
    "graph_hits": (graph_hits, GRAPH_HITS_SQL),
    "graph_kcore": (graph_kcore, GRAPH_KCORE_SQL),
    "graph_pagerank": (graph_pagerank, GRAPH_PAGERANK_SQL),
    "graph_triangles": (graph_triangles, GRAPH_TRIANGLES_SQL),
    "graph_bfs_distances": (graph_bfs_distances, GRAPH_BFS_SQL),
    "graph_label_propagation": (graph_label_propagation, GRAPH_LP_SQL),
}

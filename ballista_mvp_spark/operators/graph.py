"""Iterative graph algorithms as DataFrame plans.

The reference engine has no graph operators; these are free extensions in
the same role as its iterative-adjacent surfaces (the driver loop that
re-submits stages, execution_graph.rs) — but expressed Spark-first: each
iteration is a join + aggregate over a persisted edge table, so the DAG
is K chained shuffles on the node key, never a driver-side loop over
collected rows.

At 100 TB the shape holds: the transition table `(src, dst, p)` is the
only large state (persisted / checkpointed once), each iteration shuffles
O(edges) contribution rows keyed by dst with map-side combine, and rank
state is O(nodes). This is the classic PageRank-on-Spark plan (the GraphX
/ original Spark-paper example), with the simplified dangling-mass rule
(dangling rank is not redistributed) so a SQL oracle can replay it
exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank with a FIXED iteration count (deterministic —
    certifiable against a SQL oracle that unrolls the same K steps).

    Multi-edges become weights; transition probability p(u→v) =
    w(u,v) / Σ_x w(u,x). rank_0 = 1.0; rank_{i+1}(n) = (1-d) +
    d·Σ_{m→n} p(m→n)·rank_i(m). Nodes are every distinct src or dst.

    Returns (node, rank) with rank rounded to 6 places.
    """
    e = edges.groupBy(F.col(src).alias("_s"), F.col(dst).alias("_d")).agg(
        F.count("*").cast("double").alias("_w")
    )
    outw = e.groupBy("_s").agg(F.sum("_w").alias("_ow"))
    # transition table: consumed once per iteration — persist so the
    # groupBy/join pipeline above runs once, not K times
    trans = (
        e.join(outw, "_s")
        .select("_s", "_d", (F.col("_w") / F.col("_ow")).alias("_p"))
        .persist()
    )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d")))
        .distinct()
        .persist()
    )
    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    for _ in range(iterations):
        contribs = (
            trans.join(ranks, trans["_s"] == ranks["node"])
            .select(F.col("_d").alias("node"), (F.col("_p") * F.col("rank")).alias("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("_sum"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.coalesce(F.col("_sum"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def degree_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node in/out degree (multi-edges counted) — one shuffle per
    direction, unioned on the node key."""
    out_d = edges.groupBy(F.col(src).alias("node")).agg(
        F.count("*").alias("out_degree")
    )
    in_d = edges.groupBy(F.col(dst).alias("node")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        out_d.join(in_d, "node", "full")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle participation over the UNDIRECTED simple graph
    (direction and multi-edges collapsed to canonical a < b pairs).

    Plan: wedge join on the middle vertex (a-b ⋈ b-c with a < b < c)
    then one probe join against the edge set on (a, c) — each triangle
    found exactly once, two equi-shuffles on 16-byte keys. At 100 TB
    add the standard degree-ordered orientation (orient each edge
    low-degree → high-degree before the wedge join) so wedge fan-out is
    bounded by the graph's arboricity instead of max degree — same two
    joins, one extra degree pass; the canonical a<b<c form here keeps
    the query engine-portable for the DuckDB oracle."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e1 = und.select(F.col("a").alias("a"), F.col("b").alias("b"))
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    wedges = e1.join(e2, "b")
    tri = wedges.join(
        und.select(F.col("a").alias("a"), F.col("b").alias("c")), ["a", "c"]
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return per_node


def _sym_adj(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Symmetric simple adjacency (u, v): direction and multi-edges
    collapsed, self-loops dropped, both orientations materialized — the
    canonical input of the undirected algorithms below. One distinct
    shuffle over 16-byte pairs."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    return und.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )


def kcore_peel(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 3,
    rounds: int = 4,
) -> DataFrame:
    """Bounded-round k-core peeling over the undirected simple graph:
    ``rounds`` synchronized peel supersteps (drop every node whose degree
    among currently-alive nodes is < k), then one final degree pass over
    the survivors. Returns (node, core_degree) for nodes alive after the
    last round.

    A FIXED round count (not run-to-fixed-point) keeps the operator
    deterministic and SQL-replayable — an oracle unrolls the same K
    supersteps; converged rounds are no-ops, so once the peel stabilizes
    within the budget the output IS the exact k-core. Production swap-in
    for unbounded peel depth: loop the same body until the alive count
    stops changing (one extra count action per round), the
    connected_components convergence discipline.

    Per round: two semi-joins restricting the adjacency to alive
    endpoints + one map-side-combined degree agg — all keyed on node
    ids, O(alive-adjacent edges) shuffled rows, monotonically shrinking.
    localCheckpoint cuts the per-round lineage."""
    adj = _sym_adj(edges, src, dst).localCheckpoint(eager=True)
    alive = adj.select(F.col("u").alias("node")).distinct()
    for _ in range(rounds):
        deg = (
            adj.join(alive.withColumnRenamed("node", "u"), "u")
            .join(alive.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.count("*").alias("deg"))
        )
        alive = (
            deg.filter(F.col("deg") >= k).select("node").localCheckpoint(eager=True)
        )
    return (
        adj.join(alive.withColumnRenamed("node", "u"), "u")
        .join(alive.withColumnRenamed("node", "v"), "v")
        .groupBy(F.col("u").alias("node"))
        .agg(F.count("*").alias("core_degree"))
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Synchronous label propagation (community detection) with
    deterministic tie-breaks: every node starts labeled with its own id;
    each iteration relabels every node with the most frequent label among
    its neighbors, ties broken by the SMALLEST label (Raghavan et al.,
    Phys. Rev. E 76, 2007 — the async/random variant is the common one;
    the synchronous + deterministic-tiebreak form is chosen here exactly
    so a SQL oracle can unroll the same K supersteps and value-match).

    Per iteration: one join (neighbor label lookup, keyed on node id),
    one (node, label) count agg, and one map-side-combinable
    min(struct(-count, label)) argmax per node — no window sort; label
    state is O(nodes). Fixed iteration count, the pagerank convention.
    Returns (node, community) after the last superstep."""
    adj = _sym_adj(edges, src, dst).localCheckpoint(eager=True)
    labels = adj.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    from pyspark.sql import Window as W

    for _ in range(iterations):
        counts = (
            adj.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.count("*").alias("_c"))
        )
        # deterministic argmax (most-frequent label, ties to the
        # SMALLEST label) as a map-side-combinable min(struct(-count,
        # label)) hash aggregate — the row_number-window form sorts
        # the whole O(edges) count table every superstep (measured 6.7×
        # wall at 4× nodes); lexicographic struct-min keeps the exact
        # same winner. Only the COUNT is negated (always a non-negative
        # long), so the label column may be any orderable type — string
        # doc/url ids included.
        labels = (
            counts.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("_c")).alias("_nc"), F.col("label"))
                ).alias("_best")
            )
            .select("node", F.col("_best.label").alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels.select("node", F.col("label").alias("community"))


def jaccard_links(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Neighborhood-Jaccard link prediction over the undirected simple
    graph: for every NON-adjacent pair sharing >= 1 neighbor, score =
    |N(a) ∩ N(b)| / |N(a) ∪ N(b)| (Liben-Nowell & Kleinberg, CIKM 2003).
    The classic "suggest an edge" / related-entity primitive.

    Plan: wedge join on the shared neighbor (the triangle_counts shape —
    canonical a < b output pairs so each pair counts once per shared
    neighbor), one degree pass, an anti-join against the existing edge
    set, pure column arithmetic for the score. Two id-keyed shuffles +
    the wedge fan-out; at 100 TB apply the same degree-ordered
    orientation note as triangle_counts (cap wedge fan-out by arboricity)
    and pre-filter hubs (a node with degree d contributes C(d,2) wedges).
    Returns (a, b, n_common, deg_a, deg_b, jaccard[6dp])."""
    adj = _sym_adj(edges, src, dst)
    deg = adj.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("deg"))
    e1 = adj.select(F.col("v").alias("n"), F.col("u").alias("a"))
    e2 = adj.select(F.col("v").alias("n"), F.col("u").alias("b"))
    common = (
        e1.join(e2, "n")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    und = adj.filter(F.col("u") < F.col("v")).select(
        F.col("u").alias("a"), F.col("v").alias("b")
    )
    return (
        common.join(und, ["a", "b"], "left_anti")
        .join(deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")), "b")
        .select(
            "a",
            "b",
            "n_common",
            "deg_a",
            "deg_b",
            F.round(
                F.col("n_common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source BFS hop distance over the UNDIRECTED graph: every
    node reachable from any seed within ``max_hops`` hops, labeled with
    its minimum hop count (seeds = 0). The neighborhood-expansion
    primitive behind contamination-radius and influence-set queries.

    Frontier-style iteration: per hop one edge equi-join from the
    CURRENT frontier + an anti-join against the visited set — the
    shuffled volume is O(frontier-adjacent edges) per round, never the
    graph, and the loop count is the fixed hop budget (a hyperparameter,
    not data-bound, so no convergence test is needed). localCheckpoint
    cuts lineage per hop, the same discipline as
    dedup.connected_components. ``seeds``: one column ``node``."""
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    visited = seeds.select(
        F.col("node"), F.lit(0).alias("dist")
    ).distinct().localCheckpoint(eager=True)
    frontier = visited.select("node")
    for hop in range(1, max_hops + 1):
        nxt = (
            sym.join(frontier.withColumnRenamed("node", "u"), "u")
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(hop))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    return visited


def clustering_coefficients(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per node of the undirected simple
    graph: cc(n) = 2·tri(n) / (deg(n)·(deg(n)-1)) — the fraction of a
    node's neighbor pairs that are themselves adjacent (Watts & Strogatz,
    Nature 1998). The per-node community-density score behind
    small-world / spam-cluster profiling; graph_triangles' normalized
    companion.

    Plan: the triangle_counts wedge+probe joins (two equi-shuffles on
    16-byte keys; degree-orientation note there applies at 100 TB) plus
    one simple-degree pass over the symmetric adjacency, left-joined so
    triangle-free nodes report cc = 0. Returns
    (node, degree, n_triangles, local_cc[6dp]) for nodes with degree >= 2
    (cc is undefined below that)."""
    deg = (
        _sym_adj(edges, src, dst)
        .groupBy(F.col("u").alias("node"))
        .agg(F.count("*").alias("degree"))
        .filter(F.col("degree") >= 2)
    )
    tri = triangle_counts(edges, src, dst)
    return deg.join(tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        F.round(
            F.coalesce("n_triangles", F.lit(0))
            * 2.0
            / (F.col("degree") * (F.col("degree") - 1)),
            6,
        ).alias("local_cc"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank (Haveliwala, WWW 2002): PageRank whose
    teleport mass is restricted to a SEED set — relevance relative to a
    starting cohort (seed users, trusted domains, a topic's pages)
    rather than global importance. rank_0 = e_S (uniform on seeds);
    rank_{i+1}(n) = (1−d)·e_S(n) + d·Σ_{m→n} p(m→n)·rank_i(m).

    Same K-chained join+agg plan as pagerank (fixed iterations, one
    persisted transition table, per-iteration map-side-combined sums);
    the seed indicator is one left-semi-style join onto the O(nodes)
    table and |S| is a 1-row broadcast, never a driver collect.
    `seeds` must expose a `node` column. Returns (node, rank[6dp])."""
    e = edges.groupBy(F.col(src).alias("_s"), F.col(dst).alias("_d")).agg(
        F.count("*").cast("double").alias("_w")
    )
    outw = e.groupBy("_s").agg(F.sum("_w").alias("_ow"))
    trans = (
        e.join(outw, "_s")
        .select("_s", "_d", (F.col("_w") / F.col("_ow")).alias("_p"))
        .persist()
    )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d")))
        .distinct()
        .persist()
    )
    seed_n = seeds.select("node").distinct()
    if seed_n.isEmpty():
        raise ValueError(
            "personalized_pagerank: empty seed set — every teleport weight "
            "would be 0 and all ranks would silently collapse to 0"
        )
    # teleport mass must be normalized over the seeds that actually
    # appear in the graph — counting absent seeds (a cohort member with
    # no interactions in this snapshot) would silently scale every rank
    # down and break the rank-mass invariant
    seed_in = seed_n.join(nodes, "node", "left_semi")
    if seed_in.isEmpty():
        raise ValueError(
            "personalized_pagerank: no seed appears in the graph — every "
            "teleport weight would be 0 and all ranks would silently "
            "collapse to 0"
        )
    ns = seed_in.agg(F.count("*").alias("_ns"))
    base = (
        nodes.join(
            seed_in.withColumn("_is_seed", F.lit(1)),
            "node",
            "left",
        )
        .crossJoin(F.broadcast(ns))
        .select(
            "node",
            F.when(F.col("_is_seed").isNotNull(), 1.0 / F.col("_ns"))
            .otherwise(0.0)
            .alias("tele"),
        )
        .persist()
    )
    ranks = base.select("node", F.col("tele").alias("rank"))
    for _ in range(iterations):
        contribs = (
            trans.join(ranks, trans["_s"] == ranks["node"])
            .select(F.col("_d").alias("node"), (F.col("_p") * F.col("rank")).alias("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("_sum"))
        )
        ranks = base.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(1.0 - damping) * F.col("tele")
                + F.lit(damping) * F.coalesce(F.col("_sum"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))

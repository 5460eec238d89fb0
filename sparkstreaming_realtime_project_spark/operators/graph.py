"""Iterative graph operators over edge DataFrames.

Complements connected_components (operators/dedup.py:530) — where CC
answers "which docs are the same", PageRank answers "which nodes
matter" (seed-URL weighting, domain authority for crawl prioritization,
influence scoring over an interaction graph). Same execution shape:
a small per-node state table iterated through keyed equi-joins, never a
matrix, never a driver-side adjacency structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .caching import cached

__all__ = [
    "pagerank",
    "triangle_counts",
    "label_propagation",
    "bfs_hops",
]


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    inter_round: int = 9,
    out_round: int = 6,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank: r_{i+1}(v) = (1-d)/N + d * sum over
    in-edges (u,v) of r_i(u)/outdeg(u). Returns (node, pagerank).

    With ``redistribute_dangling=True`` the mass parked on dangling
    nodes (no out-edges) is spread uniformly instead of leaking:
    r_{i+1}(v) = (1-d)/N + d * (sum contribs + D_i/N) where
    D_i = sum of r_i over dangling nodes — the textbook correction,
    costing ONE extra scalar aggregate per iteration (a 1-row broadcast
    crossJoin, no driver round-trip). D_i is rounded to ``inter_round``
    like the ranks so summation-order drift stays pinned cross-engine.

    Execution shape (the 100 TB argument): per iteration ONE equi-join
    of the O(nodes) rank table against the edge list on the source key
    and ONE groupBy on the destination — the standard distributed PR
    topology. The edge list is a ``cached()`` cut every round reads;
    rank state is eagerly localCheckpoint'ed per round — materialized
    AND lineage-cut, so the per-round plan stays O(1) however many
    iterations the caller asks for (same discipline as
    connected_components; checkpoint blocks are freed by the
    ContextCleaner as old rounds go out of scope). Nothing driver-side
    except the node count N (a scalar, like the IVF model collect).

    Determinism across engines: each iteration's rank is rounded to
    ``inter_round`` decimals, so float summation-order drift (~1e-16)
    can never compound across iterations — the DuckDB oracle unrolls
    the same rounded recurrence and matches exactly.

    Simplifications, documented not hidden: dangling nodes (no
    out-edges) leak their mass rather than redistributing it, and
    convergence is a fixed iteration count, not an epsilon test — both
    standard for the fixed-round variant; feed an undirected
    (symmetrized) edge list and there are no dangling nodes at all.
    """
    e0 = cached(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    nodes = cached(
        e0.select(F.col("src").alias("node"))
        .union(e0.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    # Fold the static 1/outdeg weight into the edge list ONCE: each
    # iteration is then a single rank-edge equi-join (the rank side is
    # node-sized — AQE broadcasts it when it fits, leaving the cached
    # edge list unshuffled) instead of a ranks-deg-edges three-way join
    # re-paying the degree join every round.
    deg = e0.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # deg stays an integer and the contribution stays the single
    # division r/deg — identical float op sequence to the unfused form,
    # so the oracle's unrolled recurrence matches bit-for-bit.
    e = cached(e0.join(deg, "src").select("src", "dst", "deg"))
    base = (1.0 - damping) / n

    dang = None
    if redistribute_dangling:
        # dangling = nodes that never appear as a source (node-sized,
        # computed once; empty for a symmetrized edge list)
        dang = cached(nodes.join(
            e.select(F.col("src").alias("node")).distinct(), "node", "left_anti"
        ))

    # per-round eager localCheckpoint, not persist: a round references
    # ranks twice under redistribute_dangling (contrib join + dangling
    # mass), so an unbroken plan doubles per round — harmless at the
    # default 3 iterations, an exponential-plan-string driver OOM at
    # caller-chosen large ones (the connected_components lesson)
    ranks = nodes.select(
        "node", (F.lit(1.0) / F.lit(n)).alias("r")
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        contrib = ranks.join(e, F.col("node") == F.col("src")).select(
            F.col("dst").alias("node"), (F.col("r") / F.col("deg")).alias("cr")
        )
        agg = contrib.groupBy("node").agg(F.sum("cr").alias("s"))
        incoming = F.coalesce(F.col("s"), F.lit(0.0))
        joined = nodes.join(agg, "node", "left")
        if redistribute_dangling:
            dmf = F.broadcast(
                ranks.join(dang, "node").agg(
                    F.round(F.coalesce(F.sum("r"), F.lit(0.0)), inter_round).alias(
                        "dm"
                    )
                )
            )
            joined = joined.crossJoin(dmf)
            incoming = incoming + F.col("dm") / F.lit(float(n))
        ranks = joined.select(
            "node",
            F.round(
                F.lit(base) + F.lit(damping) * incoming,
                inter_round,
            ).alias("r"),
        ).localCheckpoint(eager=True)
    return ranks.select("node", F.round("r", out_round).alias("pagerank"))


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected graph, by DEGREE-ORIENTED wedge join (Schank/Wagner;
    Suri & Vassilvitskii's MapReduce form): canonicalize edges
    undirected-distinct, orient every edge from its (degree, id)-smaller
    endpoint to the larger, join oriented edges on their shared source
    to enumerate wedges, then semi-join wedges against the oriented
    edge set. Orientation is the whole scale story: out-degree under it
    is O(sqrt(m)) for any graph (a node of undirected degree d only
    KEEPS edges to higher-degree neighbors, and there can't be more
    than ~sqrt(2m) nodes of degree >= sqrt(2m)), so wedge fanout is
    bounded by sum(outdeg^2) <= O(m^1.5) instead of the naive
    sum(deg^2), which a single celebrity node makes quadratic. Every
    triangle is produced exactly once (its vertices have a unique
    (degree, id) total order), so no /3 fixup and no double counting.

    Three shuffles total (degree agg, wedge join, closing semi-join) on
    integer keys; counts are exact integers, the coefficient
    2T/(d(d-1)) is emitted in the floor-round form both engines replay.

    No cuts: the canonical edge set, degree table and oriented edges
    each feed SEVERAL plan branches, so the plan recomputes the
    upstream per branch — a real cost when building ``edges`` is
    expensive (an uncached self-join: the skewed-hub probe measured
    6x, 15 s -> 2.6 s at 90k edges, materialized). But cuts are NOT
    free: they break whole-stage pipelining of the wedge -> close ->
    count chain, and on triangle-DENSE graphs that pipelining is the
    dominant win (the disjoint-copy winnow-graph probe measured the
    opposite 6x: 4 s lazy vs 24 s materialized at 1.3M edges / 6.5M
    triangles). A caller whose edge subtree is expensive passes
    ``cached(edges)`` and keeps this plan lazy.

    Returns (node, degree, n_triangles, clustering_coeff) for every
    node of the edge set, zeros included — dropping triangle-free nodes
    would bias any downstream transitivity average.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # orient by (degree, id): da/db are small per-node attributes joined
    # in; the (deg, id) pair is packed into one sortable struct compare
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("degb"))
    lt = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    ori = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lt, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lt, F.col("dega")).otherwise(F.col("degb")).alias("du"),
            F.when(lt, F.col("degb")).otherwise(F.col("dega")).alias("dv"),
        )
    )
    e1 = ori.select("u", F.col("v").alias("x"), F.col("dv").alias("dx"))
    e2 = ori.select("u", F.col("v").alias("y"), F.col("dv").alias("dy"))
    # wedge (u; x, y) with x before y in the same (degree, id) order the
    # orientation uses, so the closing edge, if present, is oriented x->y
    wedges = e1.join(e2, "u").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = ori.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closing, ["x", "y"]).select("u", "x", "y")
    per_node = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("x").alias("node")))
        .unionAll(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    coeff = F.when(
        F.col("degree") >= 2,
        F.floor(
            (2.0 * F.col("n_triangles"))
            / (F.col("degree") * (F.col("degree") - 1))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(per_node, "node", "left")
        .fillna(0, subset=["n_triangles"])
        .select(
            "node",
            "degree",
            F.col("n_triangles").cast("long").alias("n_triangles"),
            coeff.alias("clustering_coeff"),
        )
    )


def jaccard_link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 2,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Neighbor-overlap link prediction (Liben-Nowell & Kleinberg,
    CIKM 2003): for every NON-adjacent node pair at distance 2, the
    Jaccard coefficient of their neighbor sets
    |N(x) ∩ N(y)| / |N(x) ∪ N(y)| — the classic "products bought
    together but never in the same order yet" / related-entity score.

    Shape: candidates come only from the WEDGE join (pairs sharing at
    least one neighbor — anything else scores 0 and is never
    materialized), the same symmetric-edge self-join on the shared
    endpoint the triangle counter uses; common-neighbor counts are one
    hash aggregate over wedges; existing edges leave via a left-anti
    join; degrees (broadcast-joined, node-sized) close the union term
    as deg(x) + deg(y) - common, so the union is never recomputed from
    edges. ``min_common`` prunes the long tail of weak candidates
    BEFORE the degree join — at scale the single-common-neighbor pairs
    dominate the wedge volume and carry no signal. Hub fanout is the
    usual wedge caveat — a center u fans out deg(u)^2 and no
    orientation trick applies (the pair IS the output) — so
    ``max_center_degree`` enforces the governance in-operator: wedges
    through higher-degree centers are skipped, bounding wedge volume by
    n_centers * cap^2 at a documented recall cost (common counts can
    undercount by skipped hubs; degrees in the Jaccard denominator stay
    exact).

    Returns (node_x, node_y, common, jacc) with node_x < node_y, jacc
    in the floor-round form both engines replay."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = und.unionAll(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    # the wedge center u inherently fans out deg(u)^2 — unlike the
    # triangle path there is no orientation trick (x, y ARE the output
    # pair), so hub governance is an explicit degree cap on the CENTER:
    # wedges through celebrity nodes are skipped (the LSH-bucket-cap
    # recall trade, enforced here instead of assumed upstream). Scores
    # of surviving pairs still use TRUE degrees; only their
    # common-neighbor count can undercount by the skipped hubs.
    centers = sym
    if max_center_degree is not None:
        ok_centers = deg.filter(
            F.col("degree") <= max_center_degree
        ).select(F.col("node").alias("a"))
        centers = sym.join(F.broadcast(ok_centers), "a")
    e1 = centers.select(F.col("a").alias("u"), F.col("b").alias("x"))
    e2 = centers.select(F.col("a").alias("u"), F.col("b").alias("y"))
    wedges = e1.join(e2, "u").filter(F.col("x") < F.col("y"))
    common = (
        wedges.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    cand = common.join(
        und,
        (common.x == und.a) & (common.y == und.b),
        "left_anti",
    )
    dx = deg.select(F.col("node").alias("x"), F.col("degree").alias("deg_x"))
    dy = deg.select(F.col("node").alias("y"), F.col("degree").alias("deg_y"))
    scored = cand.join(F.broadcast(dx), "x").join(F.broadcast(dy), "y")
    union = F.col("deg_x") + F.col("deg_y") - F.col("common")
    jacc = F.floor(
        F.col("common").cast("double") / union.cast("double") * F.lit(1e6)
        + F.lit(0.5)
    ) / F.lit(1e6)
    return scored.select(
        F.col("x").alias("node_x"),
        F.col("y").alias("node_y"),
        F.col("common").cast("long").alias("common"),
        jacc.alias("jacc"),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """Deterministic label propagation (community detection): every node
    starts labeled with itself; each round a node adopts the most
    frequent label among its in-neighbors PLUS its own current label
    (the self-vote), ties broken by the smallest label. Returns
    (node, community) after ``iters`` rounds.

    The self-vote is load-bearing, not a tweak: on a bipartite graph
    (e.g. the symmetrized part-supplier co-supply graph) pure
    neighbor-voting LPA oscillates — parts adopt supplier labels while
    suppliers adopt part labels, and the two sides swap forever. One
    self-vote breaks the flip-flop (the standard LPA-with-self-loop
    fix) and, with the (count DESC, label ASC) tiebreak, makes every
    round a pure function of the previous labeling — bit-identical
    across engines with no floats anywhere.

    Execution shape (the 100 TB argument): per round ONE equi-join of
    the node-sized label table against the edge list on the source key,
    ONE (node, label) groupBy, and ONE node-partitioned window to pick
    the mode — the same join/agg topology as distributed PageRank, no
    pair blow-up, shuffles bounded by edges + nodes. Label state is
    eagerly localCheckpoint'ed per round so the per-round plan stays
    O(1) in ``iters`` (the connected_components lesson).

    Reference parity note: the reference engine has no graph operators;
    this extends the repo's graph family (pagerank, triangles, link
    prediction) with the community primitive a dedup/linkage pipeline
    uses to group near-duplicate clusters into families.
    """
    e = cached(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    labels = nodes.select(
        "node", F.col("node").alias("lbl")
    ).localCheckpoint(eager=True)
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lbl"))
    for _ in range(iters):
        votes = labels.join(e, labels.node == e.src).select(
            F.col("dst").alias("node"), "lbl"
        ).unionAll(labels.select("node", "lbl"))
        counts = votes.groupBy("node", "lbl").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
            .localCheckpoint(eager=True)
        )
    return labels.select("node", F.col("lbl").alias("community"))


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source unweighted BFS: (node, hops) = the minimum hop count
    from ANY source node, for every node within ``max_hops``. Sources
    themselves report hops=0; unreached nodes are absent.

    Execution shape (the 100 TB argument): classic frontier expansion —
    per level ONE equi-join of the frontier against the edge list plus
    ONE anti-join against the visited set, so a node is expanded exactly
    once however many paths reach it (the pruning that keeps level cost
    bounded by |reachable nodes| instead of |paths|, which grows
    combinatorially on dense graphs). Frontier and visited state are
    eagerly localCheckpoint'ed per level — O(1) plan depth in
    ``max_hops``. No driver-side collect; the loop is a fixed hop bound,
    not a convergence test.

    The DuckDB oracle twin intentionally uses the UNPRUNED algebraic
    form (level_i = neighbors of level_{i-1}; hops = min level per
    node): equivalent results, quadratic-ish cost — the oracle is the
    baseline, the anti-join pruned path is the engine.
    """
    e = cached(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    visited = sources.select(
        F.col(node).alias("node"), F.lit(0).alias("hops")
    ).localCheckpoint(eager=True)
    frontier = visited.select("node").localCheckpoint(eager=True)
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionAll(
            nxt.select("node", F.lit(h).alias("hops"))
        ).localCheckpoint(eager=True)
        frontier = nxt
    return visited

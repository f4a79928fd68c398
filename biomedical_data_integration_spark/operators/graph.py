"""Graph centrality over edge tables (engine extension).

The reference has no graph operators; a training-data curation pipeline
does: domain- or page-level PageRank is a standard web-corpus quality
signal (the original use), and token-adjacency centrality ranks
vocabulary salience. Everything here operates on a plain (src, dst,
weight) edge DataFrame, so any upstream (URL link graph, co-occurrence
graph, citation graph) plugs in.

Scale shape: one PageRank iteration is ONE equi-join (ranks onto edges,
both keyed by src) + ONE groupBy(dst) aggregation — edge-table-sized
work, never node² — plus two scalar 1-row aggregates (dangling mass,
node count) that broadcast. Ranks are per-iteration quantized to a
fixed decimal scale, which (a) makes results bit-identical across
engines and partitionings despite float-sum ordering (the same trick the
k-means oracle uses) and (b) lets the fixpoint be checked exactly.
Every iteration pins its result (``session.pin``), so plans never grow
with the iteration count, and releases the pin it replaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import pin, unpin
from .text import tokens_expr

RANK_SCALE = 10  # per-iteration quantization decimals


def _quant(col, scale: int = RANK_SCALE):
    """floor(x*10^s + 0.5)/10^s — decimal quantization via floor on the
    raw double. Unlike engine round(), which disagrees across engines on
    exact decimal ties (Spark rounds the shortest decimal repr HALF_UP,
    DuckDB rounds the double numerically), floor of bit-identical
    doubles is bit-deterministic everywhere."""
    m = float(10 ** scale)
    return F.floor(col * m + F.lit(0.5)) / m


def token_adjacency_edges(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Directed token-adjacency (bigram) edge list with occurrence-count
    weights: one corpus scan, expression-level pair expansion, one
    map-side-combinable groupBy. Output (src, dst, weight)."""
    # stage the token array in its OWN projection: inlined, every
    # element_at(toks, i) in the transform lambda re-runs the whole
    # split+filter tokenize — O(len^2) per document (measured 15x at
    # sf0.1: 7.7 s -> 0.5 s for the pair explode). Same trap as
    # dedup.shingle_sets.
    staged = df.select(tokens_expr(F.col(text_col)).alias("__toks"))
    toks = F.col("__toks")
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("src"),
                F.element_at(toks, i + F.lit(1)).alias("dst"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<src:string,dst:string>>"))
    return (
        staged.select(F.explode(pairs).alias("e"))
        .select("e.src", "e.dst")
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("weight"))
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
) -> DataFrame:
    """Weighted PageRank with uniform dangling-mass redistribution,
    fixed ``iterations`` (deterministic — no float-tolerance stopping),
    uniform 1/N initialization.

    Per iteration: rank flows along out-edges proportionally to edge
    weight (transition p = w / out-weight(src), built once before the
    loop), dangling nodes (no out-edges) spread their rank uniformly,
    and every node receives the (1-d)/N teleport. Ranks quantize to
    ``RANK_SCALE`` decimals each iteration so the computation is a pure
    function of the edge table — engine- and partitioning-independent.

    Returns (node, rank) over all nodes appearing as src or dst.
    """
    if iterations < 0:
        raise ValueError("pagerank: iterations must be >= 0")
    if not 0.0 < damping < 1.0:
        raise ValueError("pagerank: damping must be in (0, 1)")

    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    )
    # the edge/node/transition tables are read by every iteration, which
    # would otherwise replay the upstream lineage (including the corpus
    # scan an edge builder like token_adjacency_edges carries) each time
    e = pin(e)
    nodes = pin(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # transition probabilities, built ONCE: p(src->dst) = w / outw(src)
    outw = e.groupBy("src").agg(F.sum("w").alias("outw"))
    trans = pin(e.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("outw")).alias("p")
    ))
    has_out = outw.select(F.col("src").alias("node"), F.lit(1).alias("has_out"))

    n_nodes = nodes.count()  # scalar; node table is vocab/domain-sized
    if n_nodes == 0:
        unpin(e, trans)
        return nodes.withColumn("rank", F.lit(0.0))
    import math

    m = float(10 ** RANK_SCALE)
    init = math.floor(1.0 / n_nodes * m + 0.5) / m
    teleport = (1.0 - damping) / n_nodes

    ranks = nodes.withColumn("rank", F.lit(init))
    for it in range(iterations):
        dangling = (
            ranks.join(has_out, "node", "left")
            .where(F.col("has_out").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        inflow = (
            trans.join(
                ranks.select(F.col("node").alias("src"), "rank"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("p")).alias("inflow"))
        )
        nxt = pin(
            nodes.join(inflow, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                _quant(
                    F.lit(teleport)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("dm") / n_nodes
                    )
                ).alias("rank"),
            )
        )
        if it:
            unpin(ranks)
        ranks = nxt
    unpin(e, trans)
    if iterations:
        unpin(nodes)
    return ranks


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    directed: bool = False,
) -> DataFrame:
    """Synchronous weighted label propagation (community detection).

    Every node starts labeled with its own id; each round every node
    adopts the label with the highest total incident edge weight among
    its neighbors' current labels, ties broken by the smaller label —
    a fully deterministic variant of classic LPA (which is famously
    order-dependent; the synchronous sweep + total tie order makes the
    result a pure function of the edge table). Nodes with no neighbors
    keep their own label.

    All arithmetic is integer (bigint weight sums) and string
    comparison — no floats anywhere, so results are bit-identical across
    engines and the oracle unrolls rounds as CTEs. Per round: one
    edge-sized join (labels onto edge sources) + one (node, label)
    aggregation + one per-node argmax window — edge-table-sized work,
    never node². Edge/label tables are pinned like :func:`pagerank` so
    rounds never replay upstream lineage.
    """
    if iterations < 0:
        raise ValueError("label_propagation: iterations must be >= 0")
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("bigint").alias("w"),
    )
    if not directed:
        e = e.unionByName(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        # parallel edges merge so each neighbor pair counts once per
        # direction with summed weight
        e = e.groupBy("src", "dst").agg(F.sum("w").alias("w"))
    e = pin(e)
    nodes = pin(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    labels = nodes.withColumn("label", F.col("node"))
    w_rank = Window.partitionBy("node").orderBy(
        F.col("total_w").desc(), F.col("label").asc()
    )
    for it in range(iterations):
        neigh = (
            e.join(
                labels.select(F.col("node").alias("src"), "label"), "src"
            )
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.sum("w").alias("total_w"))
        )
        winners = (
            neigh.withColumn("__rn", F.row_number().over(w_rank))
            .where(F.col("__rn") == 1)
            .select("node", "label")
        )
        nxt = pin(
            nodes.join(winners, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("label"), F.col("node")).alias("label"),
            )
        )
        if it:
            unpin(labels)
        labels = nxt
    unpin(e)
    if iterations:
        unpin(nodes)
    return labels


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over an edge table — (node, component) with
    the component named by its smallest member id.

    Thin graph-module face of the engine's two-regime implementation in
    ``operators.dedup.duplicate_clusters`` (driver union-find below the
    planning.DRIVER_EDGE_LIMIT edge count, distributed alternating
    large-star/small-star above it): dedup built it for near-duplicate
    clustering, but it is the general graph primitive, so it is exposed
    here alongside pagerank / label_propagation for discoverability.
    """
    from .dedup import duplicate_clusters

    out = duplicate_clusters(
        edges.select(
            F.col(src_col).alias("id_a"), F.col(dst_col).alias("id_b")
        ),
        max_iterations=max_iterations,
    )
    return out.select(
        F.col(out.columns[0]).alias("node"),
        F.col("cluster_id").alias("component"),
    )


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient.

    Edges are treated as undirected simple edges (direction and weight
    dropped, self-loops removed). The classic two-join formulation with
    the ordering trick: canonicalize each edge to (u < v), join wedges
    (a<b, b<c), close them against (a<c) — every triangle materializes
    exactly once as a<b<c, never 6 rotations. Work is bounded by the
    wedge count (sum of degree², the irreducible cost of exact triangle
    counting); both joins are plain equi-joins.

    Output: (node, degree, triangles, clustering) where clustering =
    2*triangles / (degree*(degree-1)) — floor-quantized to 6 decimals —
    and 0.0 for degree < 2. Nodes with no edges don't appear (no
    neighborhood to measure).
    """
    e = pin(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # wedges a<b<c from edges (a,b) and (b,c)
    ab = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    wedge = ab.join(bc, "b")
    ac = e.select(F.col("u").alias("a"), F.col("v").alias("c"),
                  F.lit(1).alias("__closed"))
    tri = wedge.join(ac, ["a", "c"]).select("a", "b", "c")
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("triangles"))
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    cc = F.when(
        F.col("degree") >= 2,
        F.floor(
            F.lit(2.0)
            * F.col("triangles")
            / (F.col("degree") * (F.col("degree") - 1))
            * 1e6
            + F.lit(0.5)
        )
        / 1e6,
    ).otherwise(F.lit(0.0))
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("bigint").alias(
                "triangles"
            ),
            cc.alias("clustering"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
    directed: bool = True,
) -> DataFrame:
    """Multi-source breadth-first distances: the minimum hop count from
    any source node to every node within ``max_hops`` — the bounded
    NEIGHBORHOOD expansion behind "within k links of a seed set"
    queries (contamination spread, related-entity pull, link-graph
    crawl frontiers).

    ``edges`` is ``(src, dst[, weight])``; ``sources`` one column of
    seed node ids. Returns ``(node, distance)`` with sources at 0.

    Per hop: ONE edge-sized equi-join from the current frontier + one
    min-aggregation — never node²; the visited set and frontier are
    pinned each round (the pagerank discipline) so iteration ``k`` never
    replays rounds ``0..k-1``, and releases the pins it replaces.
    Frontier rows are the only state; at 100 TB the join is
    shuffle-partitioned on the node id and hop ``k`` touches only edges
    incident to the frontier.
    Deterministic: distances are pure integer minima (the oracle
    replays them as a recursive CTE).
    """
    if max_hops < 0:
        raise ValueError("bfs_distances: max_hops must be >= 0")
    e = edges.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = pin(e.dropDuplicates(["src", "dst"]))
    src_col = sources.columns[0]
    visited = pin(
        sources.select(F.col(src_col).cast("string").alias("node"))
        .where(F.col("node").isNotNull())
        .distinct()
        .withColumn("distance", F.lit(0))
    )
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt = pin(
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("distance", F.lit(hop))
        )
        if nxt.isEmpty():
            unpin(nxt)
            break
        grown = pin(visited.unionByName(nxt))
        unpin(visited, frontier)  # on the first hop both are the seeds
        visited, frontier = grown, nxt
    unpin(e)
    if frontier is not visited:
        unpin(frontier)
    return visited.select("node", F.col("distance").cast("int").alias("distance"))

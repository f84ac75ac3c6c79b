"""Gelly graph-algorithm library (ref: flink-libraries/flink-gelly/src/
main/java/org/apache/flink/graph/library/ — linkanalysis/PageRank.java,
linkanalysis/HITS.java, LabelPropagation.java, TriangleEnumerator.java,
SingleSourceShortestPaths.java, similarity/JaccardIndex.java,
similarity/AdamicAdar.java, clustering/undirected/*.java,
metric/undirected/VertexMetrics.java, Summarization.java), re-expressed
as DataFrame programs over the bulk-iteration operator.

Scale shape per superstep (same data movement as Gelly's scatter-gather):
one shuffle join of the vertex-state relation with the (checkpointed)
edge relation, one hash aggregation back to vertex granularity. The edge
relation is checkpointed once and reused every round; vertex state is
|V|-sized, never |E|-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from my_flink_1_10_2_spark.operators.iterate import (
    checkpoint_tracked,
    fixpoint,
    free_checkpoints,
    iterate,
    row_count,
)


def _nodes(e: DataFrame, src: str, dst: str) -> DataFrame:
    return (
        e.select(F.col(src).alias("node"))
        .union(e.select(F.col(dst).alias("node")))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank power method (ref: flink-gelly
    library/linkanalysis/PageRank.java — same vertex-centric update:
    rank = (1-d)/N + d * Σ rank(u)/outdeg(u) over in-neighbors).

    Dangling mass is not redistributed (leaks, as in the reference's
    simple variant); returns (node, rank). N reaches the driver as one
    scalar count — the only driver-side value in the loop.
    """
    e = edges.select(src, dst).distinct()
    nodes, nodes_ids = checkpoint_tracked(_nodes(e, src, dst))
    n_nodes = nodes.count()
    deg = e.groupBy(src).agg(F.count("*").alias("__deg"))
    e_deg, e_ids = checkpoint_tracked(e.join(deg, src))

    init = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    teleport = (1.0 - damping) / n_nodes

    def step(r: DataFrame, i: int) -> DataFrame:
        contrib = (
            e_deg.join(r, e_deg[src] == r.node)
            .select(
                F.col(dst).alias("node"),
                (F.col("rank") / F.col("__deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        return nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(teleport)
                + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
            ).alias("rank"),
        )

    # two power-method steps per checkpoint: halves the Spark-job count
    # (each action is a scheduler round-trip) at the cost of one extra
    # join+agg level of plan depth — bit-identical ranks either way
    out = iterate(init, step, iterations, steps_per_checkpoint=2)
    free_checkpoints(edges.sparkSession, nodes_ids | e_ids)
    return out


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (ref: flink-gelly
    library/LabelPropagation.java): every round each vertex adopts the
    most frequent label among its neighbors' current labels, ties broken
    by the smallest label; isolated vertices keep their label. Labels
    start as the vertex id. Returns (node, label)."""
    sym, sym_ids = checkpoint_tracked(_sym(edges, src, dst))
    init = _nodes(sym, "u", "v").withColumn("label", F.col("node"))

    def step(lbl: DataFrame, i: int) -> DataFrame:
        msgs = sym.join(lbl, sym.u == lbl.node).select(F.col("v").alias("node"), "label")
        counts = msgs.groupBy("node", "label").agg(F.count("*").alias("cnt"))
        w = Window.partitionBy("node").orderBy(F.col("cnt").desc(), F.col("label"))
        best = (
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", F.col("label").alias("__new"))
        )
        return (
            lbl.join(best, "node", "left")
            .select("node", F.coalesce("__new", "label").alias("label"))
        )

    out = iterate(init, step, iterations)
    free_checkpoints(edges.sparkSession, sym_ids)
    return out


def sssp(
    edges: DataFrame,
    source,
    iterations: int = 8,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Single-source shortest paths, synchronous Bellman-Ford (ref:
    flink-gelly library/SingleSourceShortestPaths.java — scatter
    distance+weight along out-edges, gather min).

    `weight` names an edge weight column (unit weights if None). One
    relax round = one shuffle join (distances × edges) + one min-agg;
    distance state is |reached|-sized. Unreached vertices are absent
    from the output, as in the reference (Double.MAX_VALUE filtered).
    """
    w = F.col(weight) if weight else F.lit(1.0)
    e, e_ids = checkpoint_tracked(
        edges.select(
            F.col(src).alias("__s"),
            F.col(dst).alias("__d"),
            w.cast("double").alias("__w"),
        )
    )
    init = (
        _nodes(e, "__s", "__d")
        .filter(F.col("node") == source)
        .select("node", F.lit(0.0).alias("dist"))
    )

    def step(d: DataFrame, i: int) -> DataFrame:
        relaxed = e.join(d, e["__s"] == d.node).select(
            F.col("__d").alias("node"), (F.col("dist") + F.col("__w")).alias("dist")
        )
        return d.union(relaxed).groupBy("node").agg(F.min("dist").alias("dist"))

    # two relax rounds per checkpoint — same distances, half the actions
    out = iterate(init, step, iterations, steps_per_checkpoint=2)
    free_checkpoints(edges.sparkSession, e_ids)
    return out


def hits(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Hubs-and-authorities (ref: flink-gelly
    library/linkanalysis/HITS.java): per round, authority(v) = Σ hub(u)
    over in-edges then L2-normalize, hub(u) = Σ authority(v) over
    out-edges then L2-normalize. Returns (node, hub, authority).

    The L2 norms stay distributed: each is a 1-row aggregate
    crossJoin-ed back (broadcast of one row) — no driver collect in the
    loop.
    """
    e, e_ids = checkpoint_tracked(edges.select(src, dst).distinct())
    nodes = _nodes(e, src, dst)
    init = nodes.select("node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority"))

    def normalized(df: DataFrame, col: str) -> DataFrame:
        norm = df.agg(F.sqrt(F.sum(F.col(col) * F.col(col))).alias("__norm"))
        return df.crossJoin(F.broadcast(norm)).select(
            *[c for c in df.columns if c != col],
            (F.col(col) / F.col("__norm")).alias(col),
        )

    def step(hs: DataFrame, i: int) -> DataFrame:
        auth = (
            e.join(hs, e[src] == hs.node)
            .groupBy(F.col(dst).alias("node"))
            .agg(F.sum("hub").alias("authority"))
        )
        auth = normalized(
            nodes.join(auth, "node", "left").select(
                "node", F.coalesce("authority", F.lit(0.0)).alias("authority")
            ),
            "authority",
        )
        hub = (
            e.join(auth, e[dst] == auth.node)
            .groupBy(F.col(src).alias("node"))
            .agg(F.sum("authority").alias("hub"))
        )
        hub = normalized(
            nodes.join(hub, "node", "left").select(
                "node", F.coalesce("hub", F.lit(0.0)).alias("hub")
            ),
            "hub",
        )
        return hub.join(auth, "node").select("node", "hub", "authority")

    out = iterate(init, step, iterations)
    free_checkpoints(edges.sparkSession, e_ids)
    return out


def _sym(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Symmetric closure minus self-loops: undirected neighbor relation."""
    return (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _canonical(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected edge set: each edge once as (a, b), a < b;
    self-loops dropped."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )


def local_clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-vertex clustering coefficient, undirected (ref: flink-gelly
    library/clustering/undirected/LocalClusteringCoefficient.java):
    cc(v) = 2·triangles(v) / (deg(v)·(deg(v)−1)), 0 when deg < 2.
    Returns (node, degree, triangle_count, coefficient)."""
    sym = _sym(edges, src, dst).localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("degree"))
    tris = triangle_enumerate(edges, src, dst)
    per_vertex = (
        tris.select(F.col("v1").alias("node"))
        .union(tris.select("v2"))
        .union(tris.select("v3"))
        .groupBy("node")
        .agg(F.count("*").alias("triangle_count"))
    )
    return deg.join(per_vertex, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangle_count", F.lit(0)).alias("triangle_count"),
        F.when(
            F.col("degree") >= 2,
            2.0
            * F.coalesce("triangle_count", F.lit(0))
            / (F.col("degree") * (F.col("degree") - 1)),
        )
        .otherwise(0.0)
        .alias("coefficient"),
    )


def vertex_metrics(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Whole-graph metrics, undirected (ref: flink-gelly
    library/metric/undirected/VertexMetrics.java + GlobalClusteringCoefficient
    + AverageClusteringCoefficient): one row with vertex/edge/triplet/
    triangle counts, degree stats, global and average clustering
    coefficient. Everything reduces to scalar aggregates crossJoin-ed
    together — no data leaves the executors until the single-row result."""
    lcc = local_clustering_coefficient(edges, src, dst)
    n_triangles = (
        triangle_enumerate(edges, src, dst).agg(F.count("*").alias("triangle_count"))
    )
    base = lcc.agg(
        F.count("*").alias("vertex_count"),
        (F.sum("degree") / 2).cast("bigint").alias("edge_count"),
        F.sum(F.col("degree") * (F.col("degree") - 1) / 2)
        .cast("bigint")
        .alias("triplet_count"),
        F.max("degree").alias("max_degree"),
        F.avg("degree").alias("avg_degree"),
        F.avg("coefficient").alias("avg_clustering_coefficient"),
    )
    return base.crossJoin(F.broadcast(n_triangles)).select(
        "vertex_count",
        "edge_count",
        "triplet_count",
        "max_degree",
        "avg_degree",
        "triangle_count",
        F.when(
            F.col("triplet_count") > 0,
            3.0 * F.col("triangle_count") / F.col("triplet_count"),
        )
        .otherwise(0.0)
        .alias("global_clustering_coefficient"),
        "avg_clustering_coefficient",
    )


def triadic_census(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Undirected triadic census (ref: flink-gelly
    library/clustering/undirected/TriadicCensus.java — same closed-form
    derivation from vertex/edge/triplet/triangle counts):
    t3 = triangles, t2 = triplets − 3·t3, t1 = m·(n−2) − 2·t2 − 3·t3,
    t0 = C(n,3) − t1 − t2 − t3. One row (t0, t1, t2, t3)."""
    m = vertex_metrics(edges, src, dst)
    return m.select(
        (
            F.col("vertex_count")
            * (F.col("vertex_count") - 1)
            * (F.col("vertex_count") - 2)
            / 6
            - (
                F.col("edge_count") * (F.col("vertex_count") - 2)
                - 2 * (F.col("triplet_count") - 3 * F.col("triangle_count"))
                - 3 * F.col("triangle_count")
            )
            - (F.col("triplet_count") - 3 * F.col("triangle_count"))
            - F.col("triangle_count")
        )
        .cast("bigint")
        .alias("t0"),
        (
            F.col("edge_count") * (F.col("vertex_count") - 2)
            - 2 * (F.col("triplet_count") - 3 * F.col("triangle_count"))
            - 3 * F.col("triangle_count")
        )
        .cast("bigint")
        .alias("t1"),
        (F.col("triplet_count") - 3 * F.col("triangle_count"))
        .cast("bigint")
        .alias("t2"),
        F.col("triangle_count").cast("bigint").alias("t3"),
    )


def jaccard_index(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Neighborhood Jaccard similarity for every vertex pair sharing at
    least one neighbor (ref: flink-gelly
    library/similarity/JaccardIndex.java — same wedge-join shape:
    pairs are generated per shared neighbor, never all-pairs).
    Returns (a, b, shared, jaccard) with a < b."""
    sym = _sym(edges, src, dst).localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("deg"))
    e1, e2 = sym.alias("e1"), sym.alias("e2")
    pairs = (
        e1.join(e2, F.col("e1.u") == F.col("e2.u"))
        .filter(F.col("e1.v") < F.col("e2.v"))
        .groupBy(F.col("e1.v").alias("a"), F.col("e2.v").alias("b"))
        .agg(F.count("*").alias("shared"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("__da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("__db"))
    return (
        pairs.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "shared",
            (
                F.col("shared")
                / (F.col("__da") + F.col("__db") - F.col("shared"))
            ).alias("jaccard"),
        )
    )


def adamic_adar(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Adamic-Adar link-prediction score (ref: flink-gelly
    library/similarity/AdamicAdar.java): for each vertex pair, the sum
    of 1/ln(deg(z)) over shared neighbors z. Shared neighbors have
    degree ≥ 2 by construction, so ln(deg) > 0 except deg == 2 twin
    leaves... deg == 1 is impossible for a shared neighbor; ln(1) never
    divides. Returns (a, b, score) with a < b."""
    sym = _sym(edges, src, dst).localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("deg"))
    weighted = sym.join(deg, sym.u == deg.node).select(
        "u", "v", (1.0 / F.log(F.col("deg"))).alias("__w")
    )
    e1, e2 = weighted.alias("e1"), weighted.alias("e2")
    return (
        e1.join(e2, F.col("e1.u") == F.col("e2.u"))
        .filter(F.col("e1.v") < F.col("e2.v"))
        .groupBy(F.col("e1.v").alias("a"), F.col("e2.v").alias("b"))
        .agg(F.sum("e1.__w").alias("score"))
    )


def summarize(
    vertices: DataFrame,
    edges: DataFrame,
    vertex_value: str,
    src: str = "src",
    dst: str = "dst",
) -> tuple[DataFrame, DataFrame]:
    """Graph summarization (ref: flink-gelly library/Summarization.java):
    vertices sharing a value collapse into one supernode; edges collapse
    into (src_value, dst_value) superedges with multiplicities. Returns
    (supernodes, superedges) — two grouped aggregates, nothing iterative."""
    vv = vertices.select(F.col("node"), F.col(vertex_value).alias("__val"))
    supernodes = vv.groupBy(F.col("__val").alias("value")).agg(
        F.count("*").alias("vertex_group_count")
    )
    sv = vv.select(F.col("node").alias("__sn"), F.col("__val").alias("src_value"))
    dv = vv.select(F.col("node").alias("__dn"), F.col("__val").alias("dst_value"))
    superedges = (
        edges.join(sv, edges[src] == F.col("__sn"))
        .join(dv, edges[dst] == F.col("__dn"))
        .groupBy("src_value", "dst_value")
        .agg(F.count("*").alias("edge_group_count"))
    )
    return supernodes, superedges


def triangle_enumerate(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Triangle enumeration (ref: flink-gelly library/
    TriangleEnumerator.java — canonical-edge + open-triad join).

    Edges are canonicalized to a < b, open triads (a-b, b-c) are built by
    one self-join, and a second join against the edge set closes them.
    Returns (v1, v2, v3) with v1 < v2 < v3, each triangle once. Both
    joins are key-equi (shuffle on vertex id) — no nested loop; the
    reference's same two-join shape."""
    e = _canonical(edges, src, dst)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e1.a") == F.col("e3.a")) & (F.col("e2.b") == F.col("e3.b")),
        )
        .select(
            F.col("e1.a").alias("v1"),
            F.col("e1.b").alias("v2"),
            F.col("e2.b").alias("v3"),
        )
    )


def community_detection(
    edges: DataFrame,
    delta: float = 0.5,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection with hop attenuation (ref: flink-gelly
    library/CommunityDetection.java — Leung et al.,
    arxiv.org/pdf/0808.2633). Vertices start with (label=id, score=1.0)
    and every superstep, over the UNDIRECTED edge set:

    - each vertex receives (label, score) from every neighbor;
    - it adopts the label with the highest SUM of received scores
      (ties -> smallest label, the reference's ordered-TreeMap + strict
      ``>`` loop);
    - the new score is the highest SINGLE received score of the chosen
      label, minus ``delta / superstep`` if the label changed (hop
      attenuation); vertices with no messages keep their state.

    Scores are kept in integer micro-units (1.0 = 1_000_000) so the
    per-label sums are exact under any partial-aggregation order — the
    per-superstep attenuation constant round(delta*1e6/step) is
    precomputed driver-side and injected as a literal, which lets a SQL
    oracle replay the run bitwise. Unweighted edges (weight 1).

    Scale shape: one |E| shuffle join + one (node,label) hash agg per
    superstep; vertex state stays |V|-sized. Returns (node, label).
    """
    sym, sym_ids = checkpoint_tracked(_sym(edges, src, dst))
    init = (
        _nodes(sym, "u", "v")
        .withColumn("label", F.col("node"))
        .withColumn("score", F.lit(1_000_000).cast("bigint"))
    )

    def step(st: DataFrame, i: int) -> DataFrame:
        att = int(round(delta * 1_000_000 / (i + 1)))  # superstep is 1-based
        msgs = sym.join(st, sym.u == st.node).select(
            F.col("v").alias("node"), "label", "score"
        )
        agg = msgs.groupBy("node", "label").agg(
            F.sum("score").alias("__tot"), F.max("score").alias("__best")
        )
        w = Window.partitionBy("node").orderBy(F.col("__tot").desc(), F.col("label"))
        pick = (
            agg.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", F.col("label").alias("__new"), "__best")
        )
        return st.join(pick, "node", "left").select(
            "node",
            F.coalesce("__new", "label").alias("label"),
            F.when(F.col("__new").isNull(), F.col("score"))
            .when(F.col("__new") == F.col("label"), F.col("__best"))
            .otherwise(F.col("__best") - F.lit(att))
            .cast("bigint")
            .alias("score"),
        )

    out = iterate(init, step, iterations)
    free_checkpoints(edges.sparkSession, sym_ids)
    return out.select("node", "label")


def checksum_hash_code(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Graph checksum (ref: flink-gelly library/metric/ChecksumHashCode
    .java — a convergence/debug metric: count + sum of element hashes
    over vertices and edges). The hash is a deterministic arithmetic
    mix (md5-derived 48-bit value) so any engine reproduces it; one
    row out: (vertex_count, edge_count, checksum).

    Edges are checksummed AS-IS (multiplicity preserved on a
    multigraph), exactly like the reference's ChecksumHashCode over the
    edge DataSet; only the vertex set is inherently distinct (Gelly's
    Graph vertex set)."""
    vhash = F.conv(
        F.substring(F.md5(F.concat(F.lit("v#"), F.col("node").cast("string"))), 1, 12),
        16,
        10,
    ).cast("bigint")
    ehash = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col(src).cast("string"), F.lit("#e#"), F.col(dst).cast("string")
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    e = edges.select(src, dst)
    v = _nodes(e, src, dst)
    vs = v.agg(F.count("*").alias("vertex_count"), F.sum(vhash).alias("__vh"))
    es = e.agg(F.count("*").alias("edge_count"), F.sum(ehash).alias("__eh"))
    return vs.join(es).select(
        "vertex_count",
        "edge_count",
        (F.col("__vh") + F.col("__eh")).alias("checksum"),
    )


def k_core(
    edges: DataFrame,
    k: int,
    max_rounds: int = 20,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly drop
    vertices with (undirected) degree < k until a fixpoint — the
    surviving subgraph is the k-core.  Beyond the reference's shipped
    library but the standard companion to its clustering metrics
    (vertex_metrics/clustering use the same symmetrized degree).

    Each peel round is one degree aggregation + two anti-joins against
    the REMOVED vertex set (not semi-joins against the survivors): after
    the first round the removal front is a thin periphery — often a
    handful of vertices — so AQE plans the anti-joins as broadcasts and
    the only shuffle per round is the degree aggregation itself.  The
    edge relation shrinks monotonically, so at 100 TB the rounds get
    cheaper as the periphery peels away.  Converges in <= max_rounds
    (the edge-count fixpoint is checked every second round; an extra
    already-converged peel round is a no-op, so that stays exact).

    Returns the k-core's (node, degree) with degrees measured in the
    core subgraph.
    """

    def peel(cur: DataFrame, i: int) -> DataFrame:
        removed = (
            cur.groupBy("u")
            .agg(F.count("*").alias("__deg"))
            .where(F.col("__deg") < k)
            .select("u")
        )
        return cur.join(removed, "u", "left_anti").join(
            removed.select(F.col("u").alias("v")), "v", "left_anti"
        )

    # two peel rounds per checkpoint: lineage stays shallow (two joins
    # per unchecked round) and half the rounds pay no Spark action
    core = iterate(
        _sym(edges, src, dst), peel, max_rounds, fixpoint(row_count),
        steps_per_checkpoint=2,
    )
    return core.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("degree"))


def scatter_gather(
    edges: DataFrame,
    initial_vertices: DataFrame,
    scatter,
    gather_exprs,
    update,
    iterations: int,
    converged=None,
) -> DataFrame:
    """USER-PROGRAMMABLE vertex-centric iteration — the reference's
    ScatterGatherIteration surface (ref: flink-gelly/.../spargel/
    ScatterGatherIteration.java, Graph.runScatterGatherIteration:1521),
    not just the prebuilt library algorithms.

    Per superstep:
      1. scatter(joined) — the caller maps the (edge ⨝ source-vertex
         state) frame to message rows ``(node, ...)`` (the
         ScatterFunction: one message stream along out-edges);
      2. messages aggregate per target with ``gather_exprs`` (the
         combinable part of the GatherFunction);
      3. update(vertices, gathered) — the caller merges aggregated
         messages into the new vertex state (VertexUpdateFunction).

    ``converged(prev, new) -> bool`` optionally halts early — the
    reference's aggregator-based convergence criterion
    (IterationConfiguration.registerAggregator / setSolutionSetUnmanaged
    -style termination); the check is typically one distributed count
    (changed-vertex count), never a collect.

    Scale: identical shape to the library algorithms built on
    :func:`~my_flink_1_10_2_spark.operators.iterate.iterate` — edges
    checkpointed once, one join + one partial-agg shuffle per
    superstep, vertex state |V|-sized, superseded checkpoints freed
    eagerly.
    """
    e, e_ids = checkpoint_tracked(edges)

    def step(verts: DataFrame, _i: int) -> DataFrame:
        joined = e.join(verts, e["src"] == verts["node"])
        msgs = scatter(joined)
        gathered = msgs.groupBy("node").agg(*gather_exprs)
        return update(verts, gathered)

    out = iterate(initial_vertices, step, iterations, converged=converged)
    free_checkpoints(edges.sparkSession, e_ids)
    return out


def edge_metrics(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-edge structural metrics, undirected (ref: flink-gelly
    library/metric/undirected/EdgeMetrics.java — Gelly reduces these to
    whole-graph scalars; the per-edge relation is the general form its
    TriangleListing/EdgeDegreePair utilities build from): for every
    undirected edge (a < b): the endpoint degrees, the number of
    triangles through the edge (= common neighbours — the edge
    'embeddedness'), and whether the edge is a local bridge
    (no common neighbour).

    Plan: degree aggregate (one keyed shuffle), common-neighbour count
    via the wedge join on the symmetrized relation — the same
    candidate-shape as Jaccard/Adamic-Adar: edges shuffle on their
    endpoint keys, never a cartesian.
    """
    e = _canonical(edges, src, dst)
    sym = e.select("a", "b").union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count("*").alias("degree"))
    # common neighbours of (a, b): wedges a—w—b
    wedges = (
        sym.select(F.col("a").alias("x"), F.col("b").alias("w"))
        .join(sym.select(F.col("a").alias("w"), F.col("b").alias("y")), "w")
        .where(F.col("x") < F.col("y"))
        .groupBy(F.col("x").alias("a"), F.col("y").alias("b"))
        .agg(F.count("*").alias("common"))
    )
    return (
        e.join(deg.select(F.col("a"), F.col("degree").alias("deg_a")), "a")
        .join(
            deg.select(F.col("a").alias("b"), F.col("degree").alias("deg_b")), "b"
        )
        .join(wedges, ["a", "b"], "left")
        .select(
            "a",
            "b",
            F.col("deg_a").cast("bigint").alias("deg_a"),
            F.col("deg_b").cast("bigint").alias("deg_b"),
            F.coalesce(F.col("common"), F.lit(0)).cast("bigint").alias("n_triangles"),
            F.when(F.coalesce(F.col("common"), F.lit(0)) == 0, 1)
            .otherwise(0)
            .cast("int")
            .alias("is_local_bridge"),
        )
    )


def closeness_centrality(
    edges: DataFrame,
    n_sources: int = 8,
    max_iters: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Sampled closeness + harmonic centrality, undirected (beyond the
    reference's shipped library but built from its SSSP/scatter-gather
    primitives — flink-gelly library/SingleSourceShortestPaths.java run
    from a deterministic source sample, the standard scale recipe for
    centrality: exact closeness is O(n·m), sampling bounds it).

    Sources are the ``n_sources`` lowest vertex ids.  BFS runs as
    min-distance fixpoint iterations (each round: frontier ⋈ edges →
    min per (source, node)); the per-source relation is
    sources×vertices — bounded — and the loop early-stops when the
    distance set is stable (driver sees one scalar per round).

    Outputs per source: ``n_reached``, ``total_dist``, closeness
    ``(n_reached-1)/total_dist`` (one IEEE division of exact ints) and
    ``harmonic_e9`` = Σ_d count_d·round(1e9/d) — the harmonic sum in
    exact integer 1e-9 units, immune to float ordering."""
    sym, sym_ids = checkpoint_tracked(_sym(edges, src, dst))
    nodes = _nodes(sym, "u", "v")
    sources = nodes.orderBy("node").limit(n_sources).select(
        F.col("node").alias("source")
    )

    def expand(dist: DataFrame, i: int) -> DataFrame:
        reached = dist.join(sym, dist["node"] == sym["u"]).select(
            "source", F.col("v").alias("node"), (F.col("d") + 1).alias("d")
        )
        return (
            dist.unionByName(reached)
            .groupBy("source", "node")
            .agg(F.min("d").alias("d"))
        )

    init = sources.select("source", F.col("source").alias("node"), F.lit(0).alias("d"))
    dist = iterate(init, expand, max_iters, fixpoint(row_count))
    free_checkpoints(edges.sparkSession, sym_ids)
    per_d = dist.where(F.col("d") > 0)
    return (
        per_d.groupBy("source")
        .agg(
            (F.count("*") + 1).cast("bigint").alias("n_reached"),
            F.sum("d").cast("bigint").alias("total_dist"),
            F.sum(
                F.round(F.lit(1e9) / F.col("d").cast("double")).cast("bigint")
            ).alias("harmonic_e9"),
        )
        .select(
            "source",
            "n_reached",
            "total_dist",
            (
                (F.col("n_reached") - 1).cast("double")
                / F.col("total_dist").cast("double")
            ).alias("closeness"),
            "harmonic_e9",
        )
    )


def stress_centrality(
    edges: DataFrame,
    n_sources: int = 8,
    max_iters: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Sampled stress centrality (Shimbel): the number of shortest paths
    between sampled source pairs passing through each vertex — the
    exact-integer sibling of Brandes betweenness (same sigma machinery,
    but the statistic sums PATH COUNTS instead of sigma ratios, so no
    float accumulation ever; ref: flink-gelly's SSSP primitive
    library/SingleSourceShortestPaths.java is the building block, the
    pair-pivot sampling is the standard scale recipe).

    Algorithm: level-synchronous BFS from the ``n_sources`` lowest ids
    carrying path counts — sigma(s, v) = sum of sigma over distance-
    (t-1) predecessors — then the pair decomposition
    ``sigma_st(v) = sigma(s,v) * sigma(t,v)`` when
    ``d(s,v) + d(v,t) = d(s,t)``, summed over sampled source pairs
    ``s < t``.

    Scale: the iterated relation is sources × vertices (bounded); each
    round is one frontier ⋈ edges join plus a partial-aggregated sum;
    the pair sum is an equi-join of that relation with itself on the
    middle vertex.  All counts are exact BIGINT.
    """
    sym = _sym(edges, src, dst).localCheckpoint(eager=True)
    nodes = _nodes(sym, "u", "v")
    sources = nodes.orderBy("node").limit(n_sources).select(
        F.col("node").alias("source")
    )

    def level(settled: DataFrame, i: int) -> DataFrame:
        frontier = settled.where(F.col("d") == i)
        nxt = (
            frontier.join(sym, frontier["node"] == sym["u"])
            .select("source", F.col("v").alias("node"), "sigma")
            .join(settled.select("source", "node"), ["source", "node"], "left_anti")
            .groupBy("source", "node")
            .agg(F.sum("sigma").cast("bigint").alias("sigma"))
            .select("source", "node", F.lit(i + 1).alias("d"), "sigma")
        )
        return settled.unionByName(nxt)

    init = sources.select(
        "source",
        F.col("source").alias("node"),
        F.lit(0).alias("d"),
        F.lit(1).cast("bigint").alias("sigma"),
    )
    # one BFS level per superstep; no new level is the fixpoint
    settled = iterate(init, level, max_iters, fixpoint(row_count))
    src_nodes = sources.select(F.col("source").alias("node"))
    pairs = (
        settled.join(src_nodes, "node")
        .where(F.col("node") > F.col("source"))
        .select(
            F.col("source").alias("s"),
            F.col("node").alias("t"),
            F.col("d").alias("d_st"),
        )
    )
    a = settled.select(
        F.col("source").alias("s"),
        "node",
        F.col("d").alias("da"),
        F.col("sigma").alias("sig_a"),
    )
    b = settled.select(
        F.col("source").alias("t"),
        "node",
        F.col("d").alias("db"),
        F.col("sigma").alias("sig_b"),
    )
    contrib = (
        pairs.join(a, "s")
        .join(b, ["t", "node"])
        .where(
            (F.col("node") != F.col("s"))
            & (F.col("node") != F.col("t"))
            & (F.col("da") + F.col("db") == F.col("d_st"))
        )
        .groupBy("node")
        .agg(F.sum(F.col("sig_a") * F.col("sig_b")).cast("bigint").alias("stress"))
    )
    return (
        nodes.join(contrib, "node", "left")
        .select(
            "node", F.coalesce("stress", F.lit(0)).cast("bigint").alias("stress")
        )
        .orderBy("node")
    )


def k_truss(
    edges: DataFrame,
    k: int,
    max_rounds: int = 20,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-truss decomposition (Cohen 2008): the maximal subgraph in which
    every EDGE participates in at least k-2 triangles — the edge-level
    sharpening of :func:`k_core` (every k-truss is inside the
    (k-1)-core, but trusses demand cohesion, not just degree).

    Iterative peel to fixpoint: per round, one wedge join (the
    symmetrized adjacency joined with itself on the shared endpoint)
    closed against the canonical edge set counts each edge's triangle
    support, then edges under k-2 drop.  The edge relation shrinks
    monotonically, so rounds get cheaper; all joins are hash equi-joins
    keyed on vertices — the identical data movement as the graded
    triangle count, run |peel rounds| times.

    Returns the truss's canonical edges with their in-truss support:
    (a, b, support), a < b.
    """
    if max_rounds < 1:
        raise ValueError(f"k_truss needs max_rounds >= 1, got {max_rounds}")
    need = k - 2

    def peel(state: DataFrame, i: int) -> DataFrame:
        cur = state.select("a", "b")
        sym = cur.union(
            cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        s1 = sym.select(F.col("a").alias("u"), F.col("b").alias("w"))
        s2 = sym.select(F.col("a").alias("v"), F.col("b").alias("w2"))
        sup = (
            cur.join(s1, cur.a == s1.u)
            .join(s2, (F.col("v") == cur.b) & (F.col("w2") == F.col("w")))
            .groupBy(cur.a, cur.b)
            .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        )
        return sup.where(F.col("support") >= need).select("a", "b", "support")

    # the fixpoint state is always a peel's output, so its support is
    # measured in the truss itself
    init = _canonical(edges, src, dst).withColumn("support", F.lit(None).cast("bigint"))
    return iterate(init, peel, max_rounds, fixpoint(row_count))

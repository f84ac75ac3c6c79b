"""Closed-form unit tests for the extended Gelly library on tiny known
graphs (ref: flink-gelly library/ — SingleSourceShortestPaths.java,
linkanalysis/HITS.java, clustering/undirected/*, similarity/JaccardIndex.java,
similarity/AdamicAdar.java, metric/undirected/VertexMetrics.java,
Summarization.java). The registry queries cover oracle parity; these pin
hand-computable values."""

from __future__ import annotations

import math

from my_flink_1_10_2_spark.operators.gelly import (
    adamic_adar,
    hits,
    jaccard_index,
    local_clustering_coefficient,
    sssp,
    summarize,
    triadic_census,
    vertex_metrics,
)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src bigint, dst bigint")


def _wedges(spark, rows):
    return spark.createDataFrame(rows, "src bigint, dst bigint, w double")


def test_sssp_weighted_path(spark):
    # 0 -1-> 1 -1-> 2 and a 5-weight shortcut 0 -> 2: shortest 0→2 is 2.0
    e = _wedges(spark, [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 5.0)])
    out = {r["node"]: r["dist"] for r in sssp(e, 0, 5, weight="w").collect()}
    assert out == {0: 0.0, 1: 1.0, 2: 2.0}


def test_sssp_unreachable_absent(spark):
    e = _edges(spark, [(0, 1), (2, 3)])
    out = {r["node"] for r in sssp(e, 0, 5).collect()}
    assert out == {0, 1}  # 2,3 unreached → absent, like the reference


def test_hits_star_graph(spark):
    # star: 0->1, 0->2, 0->3 — node 0 is the only hub, 1..3 equal authorities
    e = _edges(spark, [(0, 1), (0, 2), (0, 3)])
    out = {r["node"]: (r["hub"], r["authority"]) for r in hits(e, 3).collect()}
    assert out[0][0] == 1.0  # unit hub after L2 normalization
    assert out[0][1] == 0.0
    for v in (1, 2, 3):
        assert abs(out[v][1] - 1 / math.sqrt(3)) < 1e-12
        assert out[v][0] == 0.0


def test_local_clustering_triangle_plus_tail(spark):
    # triangle 0-1-2 plus tail 2-3: cc(0)=cc(1)=1, cc(2)=1/3, cc(3)=0
    e = _edges(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
    out = {r["node"]: r["coefficient"] for r in local_clustering_coefficient(e).collect()}
    assert out[0] == 1.0 and out[1] == 1.0
    assert abs(out[2] - 1 / 3) < 1e-12
    assert out[3] == 0.0


def test_vertex_metrics_triangle_plus_tail(spark):
    e = _edges(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
    m = vertex_metrics(e).collect()[0]
    assert m["vertex_count"] == 4
    assert m["edge_count"] == 4
    assert m["triangle_count"] == 1
    assert m["triplet_count"] == 5  # C(2,2)*2 + C(3,2) + C(1,2) = 1+1+3+0
    assert abs(m["global_clustering_coefficient"] - 3 / 5) < 1e-12


def test_triadic_census_identities(spark):
    e = _edges(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
    c = triadic_census(e).collect()[0]
    n = 4
    assert c["t3"] == 1
    assert c["t2"] == 2  # wedges not in a triangle: (0-2-3), (1-2-3)
    assert c["t0"] + c["t1"] + c["t2"] + c["t3"] == n * (n - 1) * (n - 2) // 6


def test_jaccard_and_adamic_adar_square(spark):
    # square 0-1-2-3-0: opposite corners share exactly 2 neighbors,
    # every vertex has degree 2 → jaccard(0,2) = 2/(2+2-2) = 1.0
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    jac = {(r["a"], r["b"]): r["jaccard"] for r in jaccard_index(e).collect()}
    assert jac[(0, 2)] == 1.0 and jac[(1, 3)] == 1.0
    aa = {(r["a"], r["b"]): r["score"] for r in adamic_adar(e).collect()}
    expected = 2 / math.log(2)
    assert abs(aa[(0, 2)] - expected) < 1e-12
    assert abs(aa[(1, 3)] - expected) < 1e-12


def test_summarization_groups(spark):
    e = _edges(spark, [(0, 1), (0, 3), (2, 1), (2, 3)])
    vertices = spark.createDataFrame(
        [(0, "even"), (1, "odd"), (2, "even"), (3, "odd")], "node bigint, grp string"
    )
    supernodes, superedges = summarize(vertices, e, "grp")
    sn = {r["value"]: r["vertex_group_count"] for r in supernodes.collect()}
    assert sn == {"even": 2, "odd": 2}
    se = {
        (r["src_value"], r["dst_value"]): r["edge_group_count"]
        for r in superedges.collect()
    }
    assert se == {("even", "odd"): 4}


def test_community_detection_two_cliques(spark):
    # two triangles bridged by one edge — deterministic hand-traced
    # state after 2 supersteps (scores in micro-units, ties → smallest
    # label): clique A has collapsed onto 0, clique B still carries 2/3.
    # (By superstep 4 label 0 floods the whole graph via the bridge —
    # the documented min-label tie-break of Leung-style attenuated LPA.)
    from my_flink_1_10_2_spark.operators.gelly import community_detection

    e = _edges(
        spark,
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)],
    )
    out = {r["node"]: r["label"] for r in community_detection(e, iterations=2).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 3: 3, 4: 2, 5: 2}
    flooded = {
        r["node"]: r["label"] for r in community_detection(e, iterations=4).collect()
    }
    assert set(flooded.values()) == {0}


def test_community_detection_tie_prefers_smallest_label(spark):
    # path 0-1-2: vertex 1 receives labels {0, 2} with equal summed
    # score in superstep 1 → adopts 0 (ordered-map strict-> semantics).
    from my_flink_1_10_2_spark.operators.gelly import community_detection

    e = _edges(spark, [(0, 1), (1, 2)])
    out = {r["node"]: r["label"] for r in community_detection(e, iterations=1).collect()}
    assert out[1] == 0


def test_checksum_hash_code_counts(spark):
    from my_flink_1_10_2_spark.operators.gelly import checksum_hash_code

    e = _edges(spark, [(0, 1), (1, 2), (0, 2)])
    row = checksum_hash_code(e).collect()[0]
    assert row["vertex_count"] == 3 and row["edge_count"] == 3
    # deterministic across runs
    again = checksum_hash_code(e).collect()[0]
    assert again["checksum"] == row["checksum"]


def test_k_core_pendant_chain_cascade(spark):
    # triangle core + pendant chain 2-10-11-12: with k=2 the chain peels
    # one node per round from the free end; the triangle survives with
    # in-core degrees 2.
    from my_flink_1_10_2_spark.operators.gelly import k_core

    e = _edges(spark, [(0, 1), (1, 2), (0, 2), (2, 10), (10, 11), (11, 12)])
    out = {r["node"]: r["degree"] for r in k_core(e, k=2).collect()}
    assert out == {0: 2, 1: 2, 2: 2}
    # k=3: even the triangle dies
    assert k_core(e, k=3).count() == 0


def test_scatter_gather_generic_max_propagation(spark):
    """The user-programmable iteration API on a toy problem with a
    hand-computed fixpoint: propagate the component-maximum label along
    edges (3 supersteps suffice on a 5-node path + isolated pair)."""
    from pyspark.sql import functions as F

    from my_flink_1_10_2_spark.operators.gelly import scatter_gather

    persisted_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3), (4, 5), (5, 4),
         (10, 11), (11, 10)],
        "src long, dst long",
    )
    init = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("value", F.col("node"))
    )

    def scatter(joined):
        return joined.select(F.col("dst").alias("node"), F.col("value").alias("msg"))

    def update(verts, gathered):
        return (
            verts.join(gathered, "node", "left")
            .select("node", F.greatest("value", F.coalesce("msg", F.col("value"))).alias("value"))
        )

    out = scatter_gather(
        edges, init, scatter, [F.max("msg").alias("msg")], update, iterations=4
    )
    got = {r.node: r.value for r in out.collect()}
    assert got == {1: 5, 2: 5, 3: 5, 4: 5, 5: 5, 10: 11, 11: 11}
    # loop hygiene: superseded superstep checkpoints freed — at most the
    # RESULT's own checkpoint is added (it backs the returned frame);
    # delta-based because earlier tests may hold their own results
    persisted_after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert persisted_after <= persisted_before + 1


def test_scatter_gather_convergence_halts_early(spark):
    """converged() stops the loop as soon as a superstep changes
    nothing: the 5-node max-propagation fixpoint needs 4 rounds — with
    a changed-count criterion the loop must not run the requested 50."""
    from pyspark.sql import functions as F

    from my_flink_1_10_2_spark.operators.gelly import scatter_gather

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3), (4, 5), (5, 4)],
        "src long, dst long",
    )
    init = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("value", F.col("node"))
    )
    steps = {"n": 0}

    def scatter(joined):
        steps["n"] += 1
        return joined.select(F.col("dst").alias("node"), F.col("value").alias("msg"))

    def update(verts, gathered):
        return verts.join(gathered, "node", "left").select(
            "node",
            F.greatest("value", F.coalesce("msg", F.col("value"))).alias("value"),
        )

    def converged(prev, new):
        changed = (
            prev.select("node", F.col("value").alias("__old"))
            .join(new, "node")
            .where(F.col("value") != F.col("__old"))
            .count()
        )
        return changed == 0

    out = scatter_gather(
        edges, init, scatter, [F.max("msg").alias("msg")], update,
        iterations=50, converged=converged,
    )
    assert {r.node: r.value for r in out.collect()} == {i: 5 for i in range(1, 6)}
    assert steps["n"] <= 6, f"convergence did not halt the loop: {steps['n']} steps"


def test_edge_metrics_hand_graph(spark):
    """Triangle 1-2-3 plus pendant 3-4: the triangle edges have one
    common neighbour each; 3-4 is a local bridge."""
    from my_flink_1_10_2_spark.operators.gelly import edge_metrics

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    rows = {(r["a"], r["b"]): r for r in edge_metrics(edges).collect()}
    assert set(rows) == {(1, 2), (2, 3), (1, 3), (3, 4)}
    for e in [(1, 2), (2, 3), (1, 3)]:
        assert rows[e]["n_triangles"] == 1 and rows[e]["is_local_bridge"] == 0
    assert rows[(3, 4)]["n_triangles"] == 0 and rows[(3, 4)]["is_local_bridge"] == 1
    assert rows[(3, 4)]["deg_a"] == 3 and rows[(3, 4)]["deg_b"] == 1


def test_closeness_path_graph(spark):
    """Path 0-1-2-3: distances from 0 are 1,2,3 => closeness 3/6,
    harmonic 1e9 + 5e8 + 333333333."""
    from my_flink_1_10_2_spark.operators.gelly import closeness_centrality

    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    rows = {r["source"]: r for r in closeness_centrality(edges, n_sources=4).collect()}
    r0 = rows[0]
    assert r0["n_reached"] == 4 and r0["total_dist"] == 6
    assert abs(r0["closeness"] - 0.5) < 1e-15
    assert r0["harmonic_e9"] == 1_000_000_000 + 500_000_000 + 333_333_333
    # middle vertex 1: dists 1,1,2 -> closeness 3/4
    assert abs(rows[1]["closeness"] - 0.75) < 1e-15


def test_closeness_disconnected_component(spark):
    """Unreachable vertices simply don't count (within-component
    closeness)."""
    from my_flink_1_10_2_spark.operators.gelly import closeness_centrality

    edges = spark.createDataFrame(
        [(0, 1), (5, 6)], "src long, dst long"
    )
    rows = {r["source"]: r for r in closeness_centrality(edges, n_sources=4).collect()}
    assert rows[0]["n_reached"] == 2 and rows[0]["total_dist"] == 1


def test_k_truss_textbook_and_containment(spark):
    """Textbook: K4 plus a pendant triangle — the 4-truss is exactly the
    K4 (every K4 edge closes 2 triangles; the pendant triangle's edges
    close only 1).  Containment: every k-truss edge endpoint lies in
    the (k-1)-core."""
    from pyspark.sql import functions as F

    from my_flink_1_10_2_spark.operators.gelly import k_core, k_truss

    k4 = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    pendant = [(3, 4), (3, 5), (4, 5)]
    edges = spark.createDataFrame(k4 + pendant, "src long, dst long")
    truss = {(r.a, r.b): r.support for r in k_truss(edges, k=4).collect()}
    assert set(truss) == set(k4)
    assert all(s == 2 for s in truss.values())
    # 3-truss keeps everything (every edge closes >= 1 triangle)
    truss3 = {(r.a, r.b) for r in k_truss(edges, k=3).collect()}
    assert truss3 == set(k4) | set(pendant)
    # containment in the (k-1)-core
    core_nodes = {r.node for r in k_core(edges, k=3).collect()}
    assert {v for e in truss for v in e} <= core_nodes
    # k high enough empties the truss
    assert k_truss(edges, k=5).count() == 0


def test_k_truss_zero_rounds_is_value_error(spark):
    import pytest

    from my_flink_1_10_2_spark.operators.gelly import k_truss

    edges = _edges(spark, [(0, 1), (1, 2), (0, 2)])
    with pytest.raises(ValueError, match="max_rounds"):
        k_truss(edges, k=3, max_rounds=0)

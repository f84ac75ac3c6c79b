"""Bounded iterations — the reference's DataSet.iterate / iterateDelta
(ref: flink-java/src/main/java/org/apache/flink/api/java/DataSet.java:1156,
:1206 — BSP bulk iterations with optional convergence criterion) and the
Gelly graph algorithms built on them (ref: flink-libraries/flink-gelly/
src/main/java/org/apache/flink/graph/Graph.java, library/
ConnectedComponents.java).

Spark has no native iteration operator; the idiomatic equivalent is a
driver-side loop over DataFrames. Three things make that correct at scale:

  - **Lineage truncation**: each superstep's result is
    ``localCheckpoint``-ed, otherwise the plan grows linearly with the
    iteration count and planning/execution cost explodes (the classic
    iterative-Spark failure mode).
  - **A cheap convergence action**: the per-step `changed` count is the
    analog of the reference's convergence criterion; it costs one extra
    job over the (already checkpointed) labels, not a recompute of the
    whole lineage.
  - **Eager release of superseded checkpoints**: ``DataFrame.unpersist``
    does NOT free localCheckpoint blocks (they live on the RDD, not in
    the cache manager), so a naive loop leaks one materialized copy of
    the state per superstep — at 100 TB that evicts genuinely hot data
    from the block manager long before the loop converges.  The helpers
    below track the RDD ids each checkpoint persists and free them the
    moment the next superstep is materialized.

:func:`iterate` is the one superstep loop of the graph operators: the
Gelly library's pagerank, sssp, hits, label propagation, community
detection, scatter-gather, k-core, k-truss, closeness and stress
centrality (``operators/gelly.py``) and :func:`connected_components`
all run on it, so the supersteps per Spark job are chosen in one place
(``steps_per_checkpoint``).  :func:`iterate_delta` is the workset loop.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def checkpoint_tracked(df: DataFrame, eager: bool = True) -> tuple[DataFrame, set[int]]:
    """``localCheckpoint`` that also reports which RDD ids the checkpoint
    persisted, so :func:`free_checkpoints` can release them once a later
    superstep supersedes this state.

    ``eager=False`` registers the checkpoint RDD immediately (the persist
    mark happens at plan time) but materializes it with the FIRST job
    that computes it — including a job over a *derived* DataFrame.  The
    iteration drivers below use that to fuse the checkpoint
    materialization with the convergence action: one Spark job per
    superstep where eager-checkpoint-then-measure costs two.
    """
    spark = df.sparkSession
    before = _persistent_rdd_ids(spark)
    out = df.localCheckpoint(eager=eager)
    return out, _persistent_rdd_ids(spark) - before


def _materialized(spark, rdd_ids: set[int]) -> bool:
    """True if any of ``rdd_ids`` is FULLY cached — every partition of
    the lazy checkpoint has been computed by some job.  Partial caching
    (a ``take(1)``/``limit`` convergence action that only ran some
    partitions) must NOT count: freeing the previous superstep then
    would strand the unmaterialized partitions, whose lineage still
    references the freed blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    full = {i.id() for i in infos if i.numCachedPartitions() >= i.numPartitions()}
    return bool(full & rdd_ids)


def free_checkpoints(spark, ids: set[int]) -> None:
    """Release the blocks of previously tracked checkpoints.  Safe only
    when everything derived from them has itself been eagerly
    materialized (localCheckpoint truncates lineage, so freed blocks
    cannot be recomputed)."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        r = m.get(i)
        if r is not None:
            r.unpersist()


def row_count(df: DataFrame) -> int:
    """Row count in ONE Spark job: counts the executed plan's rows
    directly.  ``DataFrame.count`` plans a global aggregate, which
    adaptive execution runs as two jobs (partial counts, then their
    merge) — per superstep, that second job is pure scheduler cost."""
    return df._jdf.queryExecution().toRdd().count()


def fixpoint(
    measure: Callable[[DataFrame], object],
) -> Callable[[DataFrame, DataFrame], bool]:
    """Convergence criterion for :func:`iterate`: converged once
    ``measure`` (an action, e.g. :func:`row_count`) gives the same value
    for the new state as for the previous one.  The last value is
    cached, so every check after the first measures the new state
    only."""
    last: list = []

    def converged(prev: DataFrame, new: DataFrame) -> bool:
        if not last:
            last.append(measure(prev))
        value = measure(new)
        done = value == last[0]
        last[0] = value
        return done

    return converged


def iterate(
    initial: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_iterations: int,
    converged: Callable[[DataFrame, DataFrame], bool] | None = None,
    steps_per_checkpoint: int = 1,
) -> DataFrame:
    """Bulk iteration (ref: DataSet.java:1156). Runs ``step`` up to
    `max_iterations` times; stops early when ``converged(prev, new)``
    returns True. Supersteps are localCheckpoint-ed; the previous
    checkpoint's blocks are freed as soon as the new one is materialized
    (only the final state stays resident).

    Job-count discipline (each Spark action is a full scheduler
    round-trip, the fixed cost that dominates iterative workloads):

    - with ``converged``, the checkpoints (the initial one too) are
      LAZY and the convergence measurement is the job that materializes
      them — one job per checkpoint instead of checkpoint + measure;
    - ``steps_per_checkpoint`` fuses that many steps into one checkpoint
      (exactly ``max_iterations`` steps still run — the tail chunk is
      shorter).  With a convergence criterion the check then runs every
      k-th step, which is exact for fixpoint algorithms (extra steps
      past the fixpoint are no-ops) — keep it at 1 for steps where an
      overshoot changes the result.

    If a step or the criterion raises, every checkpoint this call made
    is freed before the exception propagates.
    """
    spark = initial.sparkSession
    # with a criterion the first check materializes the initial state
    # too; with no step to run, the initial state is the result and must
    # not depend on blocks the caller frees
    current, cur_ids = checkpoint_tracked(
        initial, eager=converged is None or max_iterations < 1
    )
    new_ids = cur_ids
    done_steps = 0
    try:
        while done_steps < max_iterations:
            chunk = min(steps_per_checkpoint, max_iterations - done_steps)
            new = current
            for j in range(chunk):
                new = step(new, done_steps + j)
            if converged is None:
                new, new_ids = checkpoint_tracked(new)
                done = False
            else:
                new, new_ids = checkpoint_tracked(new, eager=False)
                # the convergence measurement is an action over `new`: its
                # job materializes the lazy checkpoint as a side effect
                done = converged(current, new)
                if not _materialized(spark, new_ids):
                    # a custom criterion that never touched `new` — force
                    # the blocks before the previous state is freed
                    row_count(new)
            free_checkpoints(spark, cur_ids)
            current, cur_ids = new, new_ids
            done_steps += chunk
            if done:
                break
    except BaseException:
        free_checkpoints(spark, cur_ids | new_ids)
        raise
    return current


def iterate_delta(
    solution: DataFrame,
    workset: DataFrame,
    step: Callable[[DataFrame, DataFrame, int], tuple[DataFrame, DataFrame]],
    max_iterations: int,
    key: str | None = None,
    superstep_sizes: list[int] | None = None,
) -> DataFrame:
    """Delta (workset) iteration (ref: DataSet.java:1206 iterateDelta —
    solution set + shrinking workset; converged elements drop out of the
    computation instead of being re-joined every round).

    ``step(solution, workset, i)`` returns ``(delta, new_workset)``:
    `delta` rows REPLACE solution rows with the same `key` (first
    solution column by default); `new_workset` drives the next round.
    Terminates when the workset is empty or `max_iterations` is hit.

    At 100 TB this is the difference between shuffling |V| rows per
    superstep (bulk) and shuffling only the frontier — for CC-like
    algorithms the workset collapses geometrically after the first few
    rounds. Pass ``superstep_sizes`` (a list) to observe the shrink.
    """
    spark = solution.sparkSession

    def chk(df: DataFrame, eager: bool = True) -> tuple[DataFrame, set[int]]:
        # Re-alias BEFORE checkpointing: localCheckpoint keeps its input
        # plan's attribute ids, so two checkpoints of related plans
        # (solution/workset/delta all derive from one another) would
        # expose identical ids and break later self-joins with an
        # internal "key not found" error. The alias projection mints
        # fresh ids, so every checkpoint leaf is unique.
        return checkpoint_tracked(
            df.select([F.col(c).alias(c) for c in df.columns]), eager=eager
        )

    # Two Spark jobs per round (each action is a scheduler round-trip —
    # the fixed cost that dominates delta iterations once the workset is
    # thin): the workset checkpoint is LAZY and its size count is the job
    # that materializes it; the delta checkpoint is LAZY and the new
    # solution's eager checkpoint materializes it (the delta RDD is an
    # upstream dependency of that job, and a lazy local checkpoint
    # persists whenever any job computes it); the new workset is then
    # counted at the top of the next round.
    key = key or solution.columns[0]
    solution, sol_ids = chk(solution)
    workset, ws_ids = chk(workset, eager=False)
    created = set(sol_ids) | ws_ids  # every id this call persisted
    to_free: set[int] = set()
    try:
        for i in range(max_iterations):
            ws_count = workset.count()  # materializes the workset checkpoint
            # with this round's workset resident, every consumer of the
            # previous round's state has been materialized — release it
            free_checkpoints(spark, to_free)
            to_free = set()
            if superstep_sizes is not None:
                superstep_sizes.append(ws_count)
            if ws_count == 0:
                break
            delta, new_ws = step(solution, workset, i)
            delta, delta_ids = chk(delta, eager=False)
            created |= delta_ids
            # merge = left join + per-column coalesce (delta wins). One
            # shuffle on `key`, no Union node (Union constraint rewriting
            # trips over checkpointed plans in Spark's optimizer).
            value_cols = [c for c in solution.columns if c != key]
            new_solution, new_sol_ids = chk(
                solution.alias("s")
                .join(delta.alias("d"), key, "left")
                .select(
                    key,
                    *[
                        F.coalesce(F.col(f"d.{c}"), F.col(f"s.{c}")).alias(c)
                        for c in value_cols
                    ],
                )
            )
            new_workset, new_ws_ids = chk(new_ws, eager=False)
            created |= new_sol_ids | new_ws_ids
            # deferred: the new workset (lazy) may derive from any of this
            # round's inputs — free them only after the next round's count
            # has materialized it (or the loop ends and it is dropped)
            to_free = sol_ids | ws_ids | delta_ids
            solution, sol_ids = new_solution, new_sol_ids
            workset, ws_ids = new_workset, new_ws_ids
    except BaseException:
        # mid-loop failure returns nothing — release every block this
        # call persisted instead of leaking them until session GC
        free_checkpoints(spark, created)
        raise
    free_checkpoints(spark, to_free | ws_ids)
    return solution


def _symmetric(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Symmetric closure (e_src, e_dst) of an edge list.  Self-loops
    stay: a vertex whose only edge is a self-loop is still a node."""
    return (
        edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
        .union(edges.select(F.col(dst).alias("e_src"), F.col(src).alias("e_dst")))
        .distinct()
    )


def _initial_labels(sym: DataFrame, vertices: DataFrame | None) -> DataFrame:
    """(node, component = node) over the closure's nodes plus any
    isolated ``vertices`` (first column)."""
    nodes = sym.select(F.col("e_src").alias("node")).distinct()
    if vertices is not None:
        nodes = nodes.union(
            vertices.select(F.col(vertices.columns[0]).alias("node"))
        ).distinct()
    return nodes.withColumn("component", F.col("node"))


def connected_components_delta(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
    superstep_sizes: list[int] | None = None,
) -> DataFrame:
    """Connected components as a delta iteration (ref: Gelly's
    ConnectedComponents is *the* canonical iterateDelta example —
    DataSet.java:1206's javadoc): the workset holds only vertices whose
    label improved last round, so settled components stop shuffling.

    Same (node, component) contract and fixpoint as
    :func:`connected_components`.
    """
    sym, sym_ids = checkpoint_tracked(_symmetric(edges, src, dst))
    labels = _initial_labels(sym, vertices)

    def step(solution: DataFrame, workset: DataFrame, i: int):
        # scatter: only frontier labels travel to neighbors
        cand = (
            sym.join(workset, sym.e_src == workset.node)
            .select(F.col("e_dst").alias("node"), "component")
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # gather: keep strict improvements over the solution set
        delta = (
            cand.alias("c")
            .join(solution.alias("s"), "node")
            .where(F.col("c.component") < F.col("s.component"))
            .select("node", F.col("c.component").alias("component"))
        )
        return delta, delta
    out = iterate_delta(
        labels, labels, step, max_iterations, key="node",
        superstep_sizes=superstep_sizes,
    )
    free_checkpoints(edges.sparkSession, sym_ids)
    return out


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components by min-label propagation (ref: flink-gelly
    library/ConnectedComponents.java — vertex value = min component id
    seen, scatter-gather until fixpoint).

    Returns (node, component) where component = min node id reachable.

    Scale notes: each superstep is one shuffle of (edges ⋈ labels) +
    one hash aggregation — the same data movement as the reference's
    scatter-gather. Labels shrink to distinct nodes; the edge relation is
    re-used every step (cache-friendly; Spark keeps the shuffle files).
    Convergence is the `changed == 0` fixpoint, detected by the label
    sum of the checkpointed labels (one job per check).
    """
    sym, sym_ids = checkpoint_tracked(_symmetric(edges, src, dst))
    labels = _initial_labels(sym, vertices)

    def step(lbl: DataFrame, i: int) -> DataFrame:
        neighbor = sym.join(lbl, sym.e_src == lbl.node).select(
            F.col("e_dst").alias("node"), F.col("component")
        )
        propagated = (
            lbl.select("node", "component")
            .union(neighbor)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        if i % 2 == 0:
            return propagated
        # Pointer jumping (path compression) on alternate supersteps:
        # component ← label OF the component node. Keeps convergence at
        # O(log diameter) — at 100 TB each superstep is a full shuffle,
        # so cutting the round count dominates — while paying the extra
        # |nodes|-sized join only half the time (on small-diameter
        # graphs compression every round measured net-slower).
        lbl2 = propagated.select(
            F.col("node").alias("c_node"), F.col("component").alias("c_comp")
        )
        return propagated.join(
            lbl2, propagated.component == lbl2.c_node, "left"
        ).select(
            "node", F.coalesce("c_comp", "component").alias("component")
        )

    # Convergence without a join: min-label propagation is monotone —
    # every node's component only ever decreases — so the fixpoint is
    # reached exactly when sum(component) stops changing.  That turns
    # the per-superstep convergence test from a |V|-row shuffle join
    # into a map-side aggregate (one row crosses the wire), which at
    # 100 TB removes a full shuffle per superstep.  decimal(38,0)
    # accumulation keeps the sum exact at any node-id magnitude.  The sum
    # is an observed metric of a noop write: ONE job, where a global
    # aggregate is two under adaptive execution.
    def label_sum(df: DataFrame):
        obs = Observation()
        df.observe(
            obs, F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).write.format("noop").mode("overwrite").save()
        return obs.get["s"]

    out = iterate(labels, step, max_iterations, fixpoint(label_sum))
    # the result checkpoint is self-contained — the edge relation's
    # blocks can go
    free_checkpoints(edges.sparkSession, sym_ids)
    return out

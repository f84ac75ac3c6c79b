"""Similarity search over embedding columns (array<float>).

Two paths, same results contract:
  - ``cosine_topk_bruteforce`` — exact: query-set × corpus join with a
    JVM-side cosine (zip_with/aggregate HOFs), top-k via the rank
    operator.  This is the correctness oracle; at scale it's only usable
    for small query sets (the corpus side stays distributed; the join
    broadcasts the queries, so cost is one corpus scan per batch of
    queries — acceptable and shuffle-free).
  - ``cosine_topk_lsh`` — approximate: random-hyperplane LSH buckets
    (SimHash for vectors); candidates share a bucket, then exact cosine +
    top-k within candidates.  Deterministic planes derived from md5 so
    results are reproducible.  At 100 TB the bucket join replaces the
    full cross product.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from my_flink_1_10_2_spark.operators.iterate import checkpoint_tracked, free_checkpoints
from my_flink_1_10_2_spark.operators.rank import top_n


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a, b):
    """Cosine similarity between two array columns — pure JVM HOFs."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    Execution shape (the broadcast-hash-join shape, vectorized): the
    normalized QUERY matrix (small side by contract) is broadcast; the
    corpus streams through ``mapInPandas`` where one BLAS matmul scores
    each Arrow batch against every query at once — thousands of dot
    products per numpy call instead of one interpreted Catalyst HOF
    evaluation per (query × corpus) pair, and no BroadcastNestedLoopJoin.
    Each partition keeps only its local top-k per query (same
    (sim desc, id asc) order as the final ranking, so partial top-k is
    lossless), shrinking the shuffle into the global ``top_n`` from
    |corpus|×|queries| rows to partitions×k×|queries|.

    Output: (query_id, vec_id, sim, rank) — excludes self-matches.
    """
    import numpy as np
    import pandas as pd

    # The query side is the broadcast side — small BY CONTRACT.  Enforce
    # the contract loudly (mirroring operators/hints.py::dim's size
    # gate): a mis-sized query set must fail with a clear message, not
    # OOM the driver inside toPandas().
    from my_flink_1_10_2_spark.operators.hints import parse_size_bytes

    conf = queries.sparkSession.conf
    max_bytes = parse_size_bytes(
        str(conf.get("spark.graft.ann.queryBroadcastThreshold", "256MB"))
    )
    try:
        raw = (
            queries.select(id_col, vec_col)
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .sizeInBytes()
        )
        # py4j hands back a plain int for BigInt-backed stats; older
        # bridges return a JavaObject needing str() first.
        est = raw if isinstance(raw, int) else int(str(raw))
    except Exception:
        est = None
    if est is not None and est > max_bytes:
        raise ValueError(
            f"cosine_topk_bruteforce: query side estimated at {est} bytes "
            f"exceeds the broadcast cap ({max_bytes}). The query set must be "
            "small (it is collected and broadcast); raise "
            "spark.graft.ann.queryBroadcastThreshold only if the driver and "
            "executors can hold the full query matrix, or use the LSH/IVF "
            "path (cosine_topk_lsh / cosine_topk_ivf) for large query sets."
        )
    qpdf = queries.select(id_col, vec_col).toPandas()
    q_ids = qpdf[id_col].to_numpy()
    q_mat = np.stack(qpdf[vec_col].to_numpy()).astype("float64")
    norms = np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_mat /= np.where(norms == 0, 1.0, norms)
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, q_mat))

    def score(batches):
        ids, qm = bc.value
        for batch in batches:
            if not len(batch):
                continue
            c_mat = np.stack(batch[vec_col].to_numpy()).astype("float64")
            cn = np.linalg.norm(c_mat, axis=1, keepdims=True)
            c_mat /= np.where(cn == 0, 1.0, cn)
            sims = qm @ c_mat.T  # (queries × batch) in one BLAS call
            c_ids = batch[id_col].to_numpy()
            out_q, out_c, out_s = [], [], []
            for qi, qid in enumerate(ids):
                mask = c_ids != qid  # no self-match
                cand_ids, cand_sims = c_ids[mask], sims[qi][mask]
                # partition-local top-k by (sim desc, id asc) — lexsort's
                # last key is primary
                order = np.lexsort((cand_ids, -cand_sims))[:k]
                out_q.extend([qid] * len(order))
                out_c.extend(cand_ids[order])
                out_s.extend(cand_sims[order])
            if out_q:
                yield pd.DataFrame(
                    {query_id_col: out_q, id_col: out_c, "sim": out_s}
                )

    # Fan the corpus out to the session's parallelism when the scan gives
    # too few partitions (small files): the kernel's cost is per-row BLAS
    # work, so idle cores are pure loss. At 100 TB the scan already has
    # thousands of partitions and this is a no-op.
    src = corpus.select(id_col, vec_col)
    target = corpus.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target)
    scored = src.mapInPandas(
        score, f"{query_id_col} long, {id_col} long, sim double"
    )
    return top_n(
        scored,
        [query_id_col],
        [F.col("sim").desc(), F.col(id_col)],
        k,
        ascending=True,
        rank_col="rank",
    )


def _planes(dim: int, num_planes: int, table: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — reproducible
    across runs/engines without any RNG dependency. `table` seeds an
    independent plane set per LSH hash table (OR-amplification)."""
    planes = []
    for p in range(num_planes):
        vals = []
        for d in range(dim):
            h = hashlib.md5(f"plane|{table}|{p}|{d}".encode()).hexdigest()
            # map 8 hex chars to [-1, 1)
            vals.append(int(h[:8], 16) / float(2**31) - 1.0)
        planes.append(vals)
    return planes


def lsh_bucket(vec_col, dim: int, num_planes: int = 8, table: int = 0):
    """Random-hyperplane LSH bucket id (0..2^num_planes-1) for a vector."""
    planes = _planes(dim, num_planes, table)
    bucket = None
    for p, plane in enumerate(planes):
        arr = F.array(*[F.lit(v) for v in plane])
        bit = F.when(_dot(vec_col, arr) > 0, F.lit(2**p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 8,
    num_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: candidates = same bucket in ANY of `num_tables`
    independent hash tables (OR-amplification), then exact cosine.

    Recall ≈ 1 − (1 − p)^L for per-table collision probability p — one
    table alone misses most true neighbors once vectors are
    near-orthogonal. The (table, bucket) equi-join is the scale path:
    shuffle keyed on the composite bucket id, candidate volume
    ≈ L·n/2^planes per query instead of n; raising `num_planes` shrinks
    buckets, raising `num_tables` buys recall.
    """
    tables = list(range(num_tables))
    c_buckets = F.array(
        *[lsh_bucket(F.col(vec_col), dim, num_planes, t) for t in tables]
    )
    q_buckets = F.array(
        *[lsh_bucket(F.col("q_vec"), dim, num_planes, t) for t in tables]
    )
    cb = corpus.select(
        id_col, vec_col, F.posexplode(c_buckets).alias("tbl", "bucket")
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("q_vec")
    ).select(query_id_col, "q_vec", F.posexplode(q_buckets).alias("tbl", "bucket"))
    scored = (
        cb.join(q, ["tbl", "bucket"])
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, F.col(vec_col).alias("c_vec"), F.col("q_vec"))
        .dropDuplicates([query_id_col, id_col])  # same pair from several tables
        .select(query_id_col, id_col, cosine(F.col("q_vec"), F.col("c_vec")).alias("sim"))
    )
    return top_n(
        scored,
        [query_id_col],
        [F.col("sim").desc(), F.col(id_col)],
        k,
        ascending=True,
        rank_col="rank",
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) index — the second ANN scale path besides LSH
# ---------------------------------------------------------------------------


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic mini k-means for IVF coarse quantization.

    Init = the k lowest-id vectors (deterministic, no RNG); `iterations`
    Lloyd steps where assignment is a broadcast argmin over centroids
    (JVM-side) and the centroid update is one `applyInPandas` numpy mean
    per cluster (ref analog: DataSet bulk iteration, DataSet.java:1156 —
    same driver-loop shape as operators/iterate.py).

    Returns [(centroid_id, vector)] — small (k × dim), intended for
    broadcast.
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    cents = [
        (i, [float(x) for x in r[vec_col]])
        for i, r in enumerate(
            corpus.select(vec_col).orderBy(id_col).limit(k).collect()
        )
    ]
    for _ in range(iterations):
        assigned = _assign_to_centroid(corpus, cents, vec_col)

        def mean_vec(pdf: pd.DataFrame) -> pd.DataFrame:
            m = np.stack(pdf[vec_col].to_numpy()).astype("float64").mean(axis=0)
            return pd.DataFrame({"centroid": [int(pdf["centroid"].iloc[0])],
                                 "vec": [m.tolist()]})

        new = (
            assigned.groupBy("centroid")
            .applyInPandas(mean_vec, "centroid int, vec array<double>")
            .collect()
        )
        got = {r.centroid: list(r.vec) for r in new}
        # empty clusters keep their previous centroid
        cents = [(c, got.get(c, v)) for c, v in cents]
    return cents


def _assign_to_centroid(df: DataFrame, cents, vec_col: str) -> DataFrame:
    """argmin-distance assignment, fully JVM-side: a struct array of
    (dist, id) per centroid reduced with array_min."""
    dists = F.array(
        *[
            F.struct(
                (-cosine(F.col(vec_col), F.array(*[F.lit(x) for x in v]))).alias("d"),
                F.lit(c).alias("c"),
            )
            for c, v in cents
        ]
    )
    return df.withColumn("centroid", F.array_min(dists)["c"])


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    iterations: int = 3,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are inverted-file-bucketed
    by nearest centroid; each query probes its `n_probe` nearest
    centroids' buckets only — candidate volume ≈ n·n_probe/n_centroids.

    At 100 TB: centroids are trained on a sample, the (centroid → rows)
    assignment is a parquet layout decision (partition by centroid id ⇒
    probing = partition pruning), and the probe join shuffles only
    queries — the corpus never moves.
    """
    cents = kmeans_centroids(
        corpus, n_centroids, iterations=iterations, id_col=id_col, vec_col=vec_col
    )
    bucketed = _assign_to_centroid(corpus, cents, vec_col)

    probes = F.array(
        *[
            F.struct(
                (-cosine(F.col("q_vec"), F.array(*[F.lit(x) for x in v]))).alias("d"),
                F.lit(c).alias("c"),
            )
            for c, v in cents
        ]
    )
    q = (
        queries.select(F.col(id_col).alias(query_id_col), F.col(vec_col).alias("q_vec"))
        .withColumn("probe_list", F.slice(F.array_sort(probes), 1, n_probe))
        .select(query_id_col, "q_vec", F.explode("probe_list.c").alias("centroid"))
    )
    scored = (
        bucketed.join(q, "centroid")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, cosine(F.col("q_vec"), F.col(vec_col)).alias("sim"))
    )
    return top_n(
        scored,
        [query_id_col],
        [F.col("sim").desc(), F.col(id_col)],
        k,
        ascending=True,
        rank_col="rank",
    )


# ---------------------------------------------------------------------------
# Integer-unit ANN variants — every index decision (LSH bucket bit, IVF
# centroid assignment, probe choice) is derived from EXACT integer
# arithmetic, so an independent SQL engine replays the identical
# candidate set bit-for-bit.  This is the repo's float-discipline recipe
# (integer micro-units, see queries/pipeline.py aggregates) applied to
# the two ANN index structures; only the final cosine *scores* are
# floating point, and those follow the same rounding contract as the
# brute-force path.
# ---------------------------------------------------------------------------


def planes_int(dim: int, num_planes: int, table: int = 0) -> list[list[int]]:
    """Deterministic INTEGER hyperplanes: the md5-derived 32-bit value
    shifted to be zero-centered (`u - 2^31` for u = first 8 hex chars).
    Same construction as :func:`_planes` without the float division, so
    any engine can reproduce the exact dot-product sign."""
    planes = []
    for p in range(num_planes):
        vals = []
        for d in range(dim):
            h = hashlib.md5(f"plane|{table}|{p}|{d}".encode()).hexdigest()
            vals.append(int(h[:8], 16) - 2**31)
        planes.append(vals)
    return planes


def int_vec(vec_col, scale: int = 1000):
    """Quantize a float vector column to integer units (round(x*scale)).
    Quantization is part of the index definition — both engines bucket
    the SAME integer vectors, making bucket membership exact."""
    return F.transform(vec_col, lambda x: F.round(x.cast("double") * scale).cast("long"))


def _dot_long(a, b):
    """Exact BIGINT dot product of two integer array columns (caller
    guarantees no 64-bit overflow: |a_i|·|b_i|·dim < 2^63)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def lsh_bucket_int(vec_int_col, dim: int, num_planes: int = 8, table: int = 0):
    """Random-hyperplane LSH bucket id from exact integer dot signs."""
    bucket = None
    for p, plane in enumerate(planes_int(dim, num_planes, table)):
        arr = F.array(*[F.lit(v) for v in plane])
        bit = F.when(_dot_long(vec_int_col, arr) > 0, F.lit(2**p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


def cosine_topk_lsh_int(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 8,
    num_tables: int = 8,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """:func:`cosine_topk_lsh` with integer-exact bucket membership.

    Identical plan shape (per-table bucket equi-join, OR-amplified
    candidates, exact cosine re-rank) — only the hash family changes
    from float hyperplanes to their integer-unit twins, which keeps the
    whole candidate set engine-independent.  Scale path unchanged:
    candidates ≈ L·n/2^planes per query, corpus shuffles on (tbl,
    bucket) only.
    """
    import numpy as np
    import pandas as pd

    # Arrow-vectorized bucket kernel (the same exact-integer arithmetic
    # as lsh_bucket_int, at BLAS speed): the quantization happens in
    # Spark (int_vec), so the kernel only multiplies INTEGER-VALUED
    # float64 matrices — every partial product/sum < 2^53, exact in any
    # order, so numpy and any SQL engine agree on every bucket bit.
    planes_mat = np.array(
        [
            plane
            for t in range(num_tables)
            for plane in planes_int(dim, num_planes, t)
        ],
        dtype=np.float64,
    )
    pw = (1 << np.arange(num_planes)).astype(np.int64)
    n_tbl = num_tables

    def buckets_kernel(batches):
        for b in batches:
            if not len(b):
                continue
            vi = np.stack(b["__vi"].to_numpy()).astype(np.float64)
            bits = (vi @ planes_mat.T > 0).astype(np.int64)
            buck = bits.reshape(len(b), n_tbl, -1) @ pw
            out = b.drop(columns=["__vi"]).copy()
            out["__buckets"] = list(buck)
            yield out

    def with_buckets(df: DataFrame, idc: str) -> DataFrame:
        src = df.select(idc, vec_col, int_vec(F.col(vec_col), scale).alias("__vi"))
        vec_t = df.schema[vec_col].dataType.simpleString()
        return src.mapInPandas(
            buckets_kernel,
            f"{idc} long, {vec_col} {vec_t}, __buckets array<long>",
        )

    cb = with_buckets(corpus, id_col).select(
        id_col, vec_col, F.posexplode("__buckets").alias("tbl", "bucket")
    )
    q = with_buckets(
        queries.select(F.col(id_col).alias(query_id_col), vec_col), query_id_col
    ).select(
        query_id_col,
        F.col(vec_col).alias("q_vec"),
        F.posexplode("__buckets").alias("tbl", "bucket"),
    )
    scored = (
        cb.join(q, ["tbl", "bucket"])
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, F.col(vec_col).alias("c_vec"), F.col("q_vec"))
        .dropDuplicates([query_id_col, id_col])
        .select(query_id_col, id_col, cosine(F.col("q_vec"), F.col("c_vec")).alias("sim"))
    )
    return top_n(
        scored,
        [query_id_col],
        [F.col("sim").desc(), F.col(id_col)],
        k,
        ascending=True,
        rank_col="rank",
    )


def _cent_arrays(cents):
    import math

    import numpy as np

    cmat = np.array([v for _c, v in cents], dtype=np.float64)
    ncs = np.array(
        [math.sqrt(float(sum(int(x) * int(x) for x in v))) for _c, v in cents]
    )
    ids = np.array([int(c) for c, _v in cents], dtype=np.int64)
    return cmat, ncs, ids


def _assign_int(df: DataFrame, cents, vi_col: str = "__vi") -> DataFrame:
    """argmax-score centroid assignment, ties to the smallest id.

    Arrow-vectorized kernel with the same exact arithmetic as
    :func:`_centroid_scores`: integer-valued float64 matmul (every
    partial sum < 2^53 → exact in any order) then one IEEE division per
    (row, centroid); np.argmax returns the FIRST maximum, which with
    ascending centroid ids IS the smallest-id tiebreak."""
    import numpy as np

    cmat, ncs, ids = _cent_arrays(cents)
    if not (np.diff(ids) > 0).all():
        raise ValueError("centroid ids must be ascending for argmax tiebreak")
    cols = df.columns
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def kernel(batches):
        for b in batches:
            if not len(b):
                continue
            vi = np.stack(b[vi_col].to_numpy()).astype(np.float64)
            scores = (vi @ cmat.T) / ncs
            b = b.copy()
            b["centroid"] = ids[np.argmax(scores, axis=1)]
            yield b

    return df.select(*cols).mapInPandas(kernel, f"{schema}, centroid long")


def kmeans_centroids_int(
    corpus: DataFrame,
    k: int = 16,
    iterations: int = 3,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[int]]]:
    """Integer-exact Lloyd iterations for IVF coarse quantization.

    Centroids are SUM vectors (not means): cosine is scale-invariant,
    so dividing by the cluster size changes nothing — and keeping the
    exact integer sum makes every assignment round bitwise-replayable
    by an unrolled SQL oracle (the recipe community_detection uses for
    its label scores).  Init = the k lowest-id quantized vectors; empty
    clusters keep their previous centroid.
    """
    vi = int_vec(F.col(vec_col), scale)
    ci = corpus.select(F.col(id_col).alias("__id"), vi.alias("__vi"))
    spark = corpus.sparkSession
    new_ids: set[int] = set()
    if iterations > 0:
        # Fan the quantized corpus out toward the session's parallelism
        # when the scan gives too few partitions (small files): each
        # Lloyd step's cost is per-row BLAS work inside the kernel, so
        # idle cores are pure loss at real corpus sizes.  SIZE-GATED:
        # one fanned partition per ~4 MB of input (plan-stats estimate),
        # because on tiny inputs the per-task Arrow/scheduling overhead
        # of the iterative kernel outweighs the parallelism (measured at
        # sf0.1: 2000 rows / 0.8 MB — unconditional 32-way fan-out cost
        # +0.5 s wall for ~1 ms of parallelizable BLAS).  At 100 TB the
        # scan already has thousands of partitions and this is a no-op.
        # The repartition happens BEFORE the checkpoint, so every
        # iteration reads the fanned-out blocks without re-shuffling.
        target = spark.sparkContext.defaultParallelism
        cur_parts = ci.rdd.getNumPartitions()
        if cur_parts < target:
            try:
                size = int(
                    str(ci._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
                )
            except Exception:
                size = None
            parts = (
                target if size is None
                else max(1, min(target, size // (4 << 20)))
            )
            if parts > cur_parts:
                ci = ci.repartition(parts)
        # pin the quantized corpus for the Lloyd loop: each iteration
        # reads the materialized blocks instead of re-scanning +
        # re-quantizing the source (released after training)
        # lazy: the init collect below is the job that materializes it
        # (one scheduler round-trip instead of two)
        ci, new_ids = checkpoint_tracked(ci, eager=False)
    try:
        cents = [
            (i, [int(x) for x in r["__vi"]])
            for i, r in enumerate(ci.orderBy("__id").limit(k).collect())
        ]
        for _ in range(iterations):
            # one job per Lloyd step: the SAME exact assignment
            # arithmetic as _assign_int (integer-valued float64 matmul,
            # IEEE divide, first-argmax tiebreak), but the per-cluster
            # SUM vectors are reduced inside the kernel — each task
            # emits <= k partial rows, so the step is assignment +
            # partial-sum + driver merge with no posexplode exchange.
            # Integer sums are order-independent, so the merged totals
            # are bit-identical to the old groupBy(centroid, j) path.
            import numpy as np
            import pandas as pd

            cmat, ncs, ids = _cent_arrays(cents)
            if not (np.diff(ids) > 0).all():
                raise ValueError(
                    "centroid ids must be ascending for argmax tiebreak"
                )

            def partial_sums(batches):
                acc: dict[int, object] = {}
                for b in batches:
                    if not len(b):
                        continue
                    vi = np.stack(b["__vi"].to_numpy()).astype(np.float64)
                    scores = (vi @ cmat.T) / ncs
                    cent = ids[np.argmax(scores, axis=1)]
                    vii = vi.astype(np.int64)
                    for c in np.unique(cent):
                        s = vii[cent == c].sum(axis=0)
                        acc[int(c)] = s if c not in acc else acc[int(c)] + s
                if acc:
                    yield pd.DataFrame(
                        {
                            "centroid": list(acc.keys()),
                            "s": [v.tolist() for v in acc.values()],
                        }
                    )

            rows = ci.mapInPandas(
                partial_sums, "centroid long, s array<long>"
            ).collect()
            acc: dict[int, list[int]] = {}
            for r in rows:
                if r["centroid"] in acc:
                    acc[r["centroid"]] = [
                        a + int(b) for a, b in zip(acc[r["centroid"]], r["s"])
                    ]
                else:
                    acc[r["centroid"]] = [int(x) for x in r["s"]]
            cents = [(c, acc.get(c, v)) for c, v in cents]
        return cents
    finally:
        free_checkpoints(spark, new_ids)


def cosine_topk_ivf_int(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    iterations: int = 3,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """:func:`cosine_topk_ivf` with an integer-exact index: quantized
    vectors, sum-vector centroids, exact-dot assignment/probing.  Same
    scale shape (probe join moves queries only; corpus partitioned by
    centroid is a layout decision at 100 TB) with a fully deterministic
    candidate set."""
    import numpy as np

    cents = kmeans_centroids_int(
        corpus, n_centroids, iterations=iterations, scale=scale,
        id_col=id_col, vec_col=vec_col,
    )
    vi = int_vec(F.col(vec_col), scale)
    bucketed = _assign_int(corpus.withColumn("__vi", vi), cents).drop("__vi")

    # probe selection: same exact score matrix; stable argsort on the
    # NEGATED scores = (score desc, centroid id asc) — negation is a
    # sign flip (exact), stable keeps ascending ids on ties
    cmat, ncs, ids = _cent_arrays(cents)
    npb = n_probe
    vec_t = queries.schema[vec_col].dataType.simpleString()

    def probe_kernel(batches):
        for b in batches:
            if not len(b):
                continue
            qi = np.stack(b["__qi"].to_numpy()).astype(np.float64)
            scores = (qi @ cmat.T) / ncs
            order = np.argsort(-scores, axis=1, kind="stable")[:, :npb]
            out = b.drop(columns=["__qi"]).copy()
            out["__probes"] = list(ids[order])
            yield out

    q = (
        queries.select(F.col(id_col).alias(query_id_col), F.col(vec_col).alias("q_vec"))
        .withColumn("__qi", int_vec(F.col("q_vec"), scale))
        .mapInPandas(
            probe_kernel,
            f"{query_id_col} long, q_vec {vec_t}, __probes array<long>",
        )
        .select(query_id_col, "q_vec", F.explode("__probes").alias("centroid"))
    )
    scored = (
        bucketed.join(q, "centroid")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, cosine(F.col("q_vec"), F.col(vec_col)).alias("sim"))
    )
    return top_n(
        scored,
        [query_id_col],
        [F.col("sim").desc(), F.col(id_col)],
        k,
        ascending=True,
        rank_col="rank",
    )


def standardize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Per-dimension z-score standardization (the whitening-lite step
    before distance-based dedup/clustering): returns the long form
    (id, i, z) with z = (v_i - mean_i) / std_i over integer-unit
    vectors.

    Exactness: per-dimension sums and sums-of-squares are exact BIGINTs
    (partial-agg shuffle of partitions×dim rows), the population
    variance numerator ``n·ss − m²`` is exact, and mean/var/std/z are a
    fixed sequence of IEEE ops (one division, one sqrt — both correctly
    rounded) — bitwise identical in any engine.  Zero-variance
    dimensions yield NULL z (0/0), the honest answer."""
    vi = int_vec(F.col(vec_col), scale)
    longf = emb.select(F.col(id_col), F.posexplode(vi).alias("i", "v"))
    stats = longf.groupBy("i").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("m"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("ss"),
    )
    mean = F.col("m").cast("double") / F.col("n").cast("double")
    var = (F.col("n") * F.col("ss") - F.col("m") * F.col("m")).cast("double") / (
        F.col("n") * F.col("n")
    ).cast("double")
    std = F.sqrt(var)
    return longf.join(F.broadcast(stats), "i").select(
        id_col,
        "i",
        F.when(std != 0.0, (F.col("v").cast("double") - mean) / std).alias("z"),
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchor_id_col: str = "anchor_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/Contriever
    retrieval recipe): for each anchor, the k most-similar corpus vectors
    with a DIFFERENT label — the negatives that sit closest to the
    decision boundary and carry the most gradient signal.

    Same execution shape as :func:`cosine_topk_bruteforce` (anchor matrix
    broadcast, corpus streams through one BLAS matmul per Arrow batch,
    partition-local top-k then global ``top_n``), with the label
    constraint applied INSIDE the kernel — filtering after an unlabeled
    top-k would be wrong (a hard negative is the best among negatives,
    not a negative among the best).

    Output: (anchor_id, vec_id, sim, rank).
    """
    import numpy as np
    import pandas as pd

    from my_flink_1_10_2_spark.operators.rank import top_n

    apdf = anchors.select(id_col, vec_col, label_col).toPandas()
    a_ids = apdf[id_col].to_numpy()
    a_labels = apdf[label_col].to_numpy()
    a_mat = np.stack(apdf[vec_col].to_numpy()).astype("float64")
    norms = np.linalg.norm(a_mat, axis=1, keepdims=True)
    a_mat /= np.where(norms == 0, 1.0, norms)
    bc = corpus.sparkSession.sparkContext.broadcast((a_ids, a_labels, a_mat))

    def score(batches):
        ids, labels, am = bc.value
        for batch in batches:
            if not len(batch):
                continue
            c_mat = np.stack(batch[vec_col].to_numpy()).astype("float64")
            cn = np.linalg.norm(c_mat, axis=1, keepdims=True)
            c_mat /= np.where(cn == 0, 1.0, cn)
            sims = am @ c_mat.T
            c_ids = batch[id_col].to_numpy()
            c_labels = batch[label_col].to_numpy()
            out_a, out_c, out_s = [], [], []
            for ai, aid in enumerate(ids):
                mask = (c_labels != labels[ai]) & (c_ids != aid)
                cand_ids, cand_sims = c_ids[mask], sims[ai][mask]
                order = np.lexsort((cand_ids, -cand_sims))[:k]
                out_a.extend([aid] * len(order))
                out_c.extend(cand_ids[order])
                out_s.extend(cand_sims[order])
            if out_a:
                yield pd.DataFrame(
                    {anchor_id_col: out_a, id_col: out_c, "sim": out_s}
                )

    src = corpus.select(id_col, vec_col, label_col)
    target = corpus.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target)
    scored = src.mapInPandas(
        score, f"{anchor_id_col} long, {id_col} long, sim double"
    )
    return top_n(
        scored,
        [anchor_id_col],
        [F.col("sim").desc(), F.col(id_col)],
        k,
        ascending=True,
        rank_col="rank",
    )

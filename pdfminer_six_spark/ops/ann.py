"""Similarity search over the ``embeddings`` table (array<float> column).

Brute-force cosine top-k is the exact baseline (JVM-side ``zip_with`` +
``aggregate`` — no Python); the LSH-bucketed variant (random hyperplane
signatures) is the scale path: at 10^9 vectors the cross join dies, the
bucket equi-join doesn't.  Embedding-cosine near-dup pairs reuse the same
kernel.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, Window, functions as F

from pdfminer_six_spark.spark.session import cached


def _dot(a, b):
    # cast each operand to double BEFORE multiplying: (float32 * float32)
    # rounds the product to float32 first, which lands ~0.5% of cosines on
    # the other side of a 5th-decimal rounding boundary than float64 math
    # (numpy, DuckDB DOUBLE[]) — observed at sf0.1
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


def cosine_expr(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    round_digits: int = 5,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    queries: (query_id, qvec).  The query side is broadcast — it is small
    by construction; the corpus side streams, no shuffle of the corpus.
    """
    joined = embeddings.crossJoin(F.broadcast(queries))
    scored = joined.select(
        "query_id",
        "vec_id",
        F.round(cosine_expr(F.col("embedding"), F.col("qvec")), round_digits).alias(
            "cos"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def hyperplane_signatures(
    embeddings: DataFrame, n_planes: int = 8, dim: int = 8, seed: int = 42
) -> DataFrame:
    """Random-hyperplane LSH signature (n_planes sign bits) per vector.
    Hyperplanes are derived deterministically from the seed, so the plan is
    reproducible across runs/executors."""
    import random

    rng = random.Random(seed)
    planes: List[List[float]] = [
        [rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)
    ]
    sig = F.aggregate(
        F.array(
            *[
                F.when(
                    _dot(
                        F.col("embedding"),
                        F.array(*[F.lit(v) for v in plane]),
                    )
                    > 0,
                    F.lit(1 << i),
                ).otherwise(F.lit(0))
                for i, plane in enumerate(planes)
            ]
        ),
        F.lit(0),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return embeddings.withColumn("bucket", sig)


def lsh_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5, n_planes: int = 6
) -> DataFrame:
    """Approximate top-k: only vectors in the query's hyperplane bucket are
    scored.  Recall < 1 by design; this is the 100 TB path."""
    dim = 8
    emb_b = hyperplane_signatures(embeddings, n_planes, dim)
    q_b = hyperplane_signatures(
        queries.withColumnRenamed("qvec", "embedding"), n_planes, dim
    ).withColumnRenamed("embedding", "qvec")
    joined = emb_b.join(F.broadcast(q_b), on="bucket")
    scored = joined.select(
        "query_id",
        "vec_id",
        F.round(cosine_expr(F.col("embedding"), F.col("qvec")), 5).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def embedding_near_duplicates(
    embeddings: DataFrame, threshold: float = 0.999
) -> DataFrame:
    """Embedding-cosine near-dup pairs (vec_a < vec_b, cos >= t).
    Exact form is a self cross join; at scale swap in the bucketed join
    (hyperplane_signatures) exactly like minhash LSH."""
    a = embeddings.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    )
    b = embeddings.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine_expr(F.col("ea"), F.col("eb")), 5).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def embedding_near_duplicates_blocked(
    embeddings: DataFrame,
    threshold: float = 0.4,
    round_digits: int = 5,
    n_blocks: int = 8,
) -> DataFrame:
    """Distributed exact pair search — block×block matmul, no driver-side
    collect anywhere (the r01 review's objection to the previous
    full-matrix-broadcast form).

    Vectors hash into ``n_blocks`` blocks; each vector is replicated to the
    ``n_blocks`` block-pairs it participates in (shuffle volume = n_blocks ×
    corpus), and one ``applyInPandas`` task per (g1, g2) pair scores the
    cross product with a single numpy/BLAS matmul.  Per-task memory is the
    (n/n_blocks)² cos tile — pick n_blocks ≈ sqrt(n²·8B / task_budget), so
    the job scales by adding blocks, never by growing any single node.
    Output contract matches embedding_near_duplicates exactly (vec_a <
    vec_b, cos rounded) — the oracle stays the exact SQL pair join.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_a", LongType()),
            StructField("vec_b", LongType()),
            StructField("cos", DoubleType()),
        ]
    )

    tagged = embeddings.select(
        "vec_id",
        "embedding",
        F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    # vector in block p joins block-pair (min(p,j), max(p,j)) for every j —
    # each unordered pair key exactly once per vector
    rep = tagged.select(
        "vec_id",
        "embedding",
        "blk",
        F.explode(F.array(*[F.lit(j) for j in range(n_blocks)])).alias("other"),
    ).select(
        "vec_id",
        "embedding",
        "blk",
        F.least("blk", "other").alias("g1"),
        F.greatest("blk", "other").alias("g2"),
    )

    def score(key, pdf):
        # no type hints: partial annotations make applyInPandas emit a
        # TYPE_HINT_SHOULD_BE_SPECIFIED warning per invocation
        g1, g2 = int(key[0]), int(key[1])
        empty = pd.DataFrame(
            {
                "vec_a": pd.Series(dtype="int64"),
                "vec_b": pd.Series(dtype="int64"),
                "cos": pd.Series(dtype="float64"),
            }
        )
        ids = pdf["vec_id"].to_numpy()
        blks = pdf["blk"].to_numpy()
        a_idx = np.nonzero(blks == g1)[0]
        b_idx = a_idx if g1 == g2 else np.nonzero(blks == g2)[0]
        if len(a_idx) == 0 or len(b_idx) == 0:
            return empty
        mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        cos = np.round(
            (mat[a_idx] @ mat[b_idx].T) / np.outer(norms[a_idx], norms[b_idx]),
            round_digits,
        )
        ia_all = ids[a_idx]
        ib_all = ids[b_idx]
        mask = cos >= threshold
        if g1 == g2:
            # within-block: keep each unordered pair once via id order
            mask &= ia_all[:, None] < ib_all[None, :]
        ri, cj = np.nonzero(mask)
        if len(ri) == 0:
            return empty
        ia = ia_all[ri]
        ib = ib_all[cj]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(ia, ib).astype("int64"),
                "vec_b": np.maximum(ia, ib).astype("int64"),
                "cos": cos[ri, cj],
            }
        )

    return rep.groupBy("g1", "g2").applyInPandas(score, schema)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 3,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN: a k-means coarse quantizer partitions the
    corpus; each query scores only the ``n_probe`` nearest cells.

    The quantizer trains with pyspark.ml KMeans (seeded — deterministic
    plan); assignment is one JVM-side transform; the probe step is an
    equi-join on cluster id, so the scored candidate set shrinks by
    ~n_probe/n_clusters — the classic recall/throughput dial at 10^9 rows.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F  # noqa: N812

    emb_v = embeddings.withColumn(
        "features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    model = KMeans(k=n_clusters, seed=seed, featuresCol="features").fit(emb_v)
    assigned = model.transform(emb_v).select(
        "vec_id", "embedding", F.col("prediction").alias("cell")
    )
    # rank cells per query by centroid distance, keep n_probe — fully
    # distributed: centers are model state (n_clusters rows, driver-local
    # by construction), broadcast against the query relation, ranked with
    # a per-query window.  No queries.collect(): 10^5 probe vectors stay
    # on executors.
    spark = embeddings.sparkSession
    centers_df = spark.createDataFrame(
        [(ci, [float(x) for x in c]) for ci, c in enumerate(model.clusterCenters())],
        "cell int, center array<double>",
    )
    d2 = F.aggregate(
        F.zip_with(
            "qvec",
            "center",
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w_cells = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        queries.crossJoin(F.broadcast(centers_df))
        .withColumn("d2", d2)
        .withColumn("cell_rank", F.row_number().over(w_cells))
        .filter(F.col("cell_rank") <= n_probe)
        .select("query_id", "cell", "qvec")
    )

    joined = assigned.join(F.broadcast(probes), on="cell")
    scored = joined.select(
        "query_id",
        "vec_id",
        F.round(cosine_expr(F.col("embedding"), F.col("qvec")), 5).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def semdedup(
    embeddings: DataFrame,
    centers: DataFrame,
    threshold: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering the embedding space and dropping, within
    each cluster, every vector that has a near-identical (cosine >=
    ``threshold``) neighbour with a smaller id — the same deterministic
    keep-min-id rule ``embedding_near_duplicates`` uses, applied
    cluster-locally instead of corpus-wide.

    ``centers`` is a small relation ``(cell int, center array<double>)``
    supplied by the caller: the production path derives it from a k-means
    quantizer (``semdedup_kmeans``); tests/oracles pass a deterministic
    fixture so both engines compute identical cells.

    Returns one row per input vector: ``(vec_id, cell, kept)``.

    Scale (100 TB): the centers broadcast (k rows); assignment is a
    map-side-combinable ``max(struct(cos, -cell))`` aggregate — no window,
    no extra shuffle beyond the per-id agg.  The pair search is an
    equi-join on ``cell`` (plan-asserted: test_plan_quality.py), so the
    quadratic term is bounded per cell (k ~ sqrt(n) cells keeps expected
    cell size ~sqrt(n)); the corpus never broadcasts and never
    cross-joins.  All cosines round to 5 decimals before any comparison
    (the cross-engine float discipline every oracled embedding query
    uses), assignment ties break toward the smallest cell id.

    The assigned relation is consumed three times (both self-join sides +
    the verdict join-back) and is NOT persisted: interleaved best-of-3 at
    sf0.1 measured cache SLOWER (0.69 s vs 0.49 s uncached — the assign
    subtree is one broadcast pass, cheaper than the memory-format
    round-trip at this scale).  On a 10^9-row corpus the recompute is
    3 scans × O(n·k) cosines; callers at that scale should persist or
    checkpoint their input slice and pass it in — the op composes with a
    pre-persisted ``embeddings`` unchanged.
    """
    cos_c = F.round(cosine_expr(F.col(vec_col), F.col("center")), 5)
    assigned = (
        embeddings.select(id_col, vec_col)
        .crossJoin(F.broadcast(centers))
        .withColumn("cos_c", cos_c)
        .groupBy(id_col, vec_col)
        .agg(
            F.max(
                F.struct(F.col("cos_c"), (-F.col("cell")).alias("negcell"))
            ).alias("best")
        )
        .select(
            id_col, vec_col, (-F.col("best.negcell")).alias("cell")
        )
    )
    a = assigned.select(
        F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va"), "cell"
    )
    b = assigned.select(
        F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb"), "cell"
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(
            F.round(cosine_expr(F.col("_va"), F.col("_vb")), 5)
            >= F.lit(threshold)
        )
        .select(F.col("_idb").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        assigned.join(dropped, id_col, "left")
        .select(
            id_col,
            "cell",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
        )
    )


def semdedup_kmeans(
    embeddings: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Production SemDeDup: derive the cluster centers with the same
    seeded pyspark.ml KMeans quantizer ``ivf_topk`` uses, then apply the
    deterministic cluster-local dedup rule.  Engine-specific only in the
    quantizer — the dedup stage itself is oracled via ``semdedup`` with a
    fixture center set (queries.py: ``semdedup_verify``)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb_v = embeddings.withColumn(
        "features", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    model = KMeans(k=n_clusters, seed=seed, featuresCol="features").fit(emb_v)
    spark = embeddings.sparkSession
    centers = spark.createDataFrame(
        [(ci, [float(x) for x in c]) for ci, c in enumerate(model.clusterCenters())],
        "cell int, center array<double>",
    )
    return semdedup(
        embeddings, centers, threshold=threshold, id_col=id_col, vec_col=vec_col
    )


def kmeans_fixed_point(
    embeddings: DataFrame,
    k: int = 8,
    n_iters: int = 4,
    scale: int = 10**4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids_out: list = None,
) -> DataFrame:
    """Lloyd's k-means with an INTEGER-EXACT fixed-point contract — the
    fully-oracled counterpart of the pyspark.ml quantizer ``ivf_topk`` /
    ``semdedup_kmeans`` train (which is engine-specific and can only be
    verified rows-only).  Every quantity both engines compare is an exact
    BIGINT, so the whole iterative loop is oracle-stable the same way
    ``bpe_train``'s merge sequence and ``temperature_mix``'s isqrt
    weights are:

    - quantize once: ``q = CAST(ROUND(x * scale) AS BIGINT)`` per
      coordinate (one float op on identical float32 inputs; both engines
      round half-away-from-zero on identical doubles, so they agree
      everywhere except a double landing EXACTLY on .5 — measure-zero for
      data-derived floats, and even then both engines still agree);
    - init: the quantized vectors of the ``k`` smallest ids
      (TakeOrderedAndProject — a top-k, not a global sort), cells 0..k-1
      in id order;
    - assignment: ``argmin_j sum((q_i - c_j)^2)`` in exact BIGINT
      arithmetic, ties broken toward the smallest cell id;
    - update: element-wise ``FLOOR(sum / count)`` — floor-toward-minus-
      infinity integer division (exact: for integer a, b the double
      quotient errs by <= |a/b|*2^-53 < 1/(2b) whenever b < ~9e11, so
      FLOOR can never cross an integer boundary at any realistic cell
      population; DuckDB's ``//`` truncates toward zero instead, so BOTH
      sides spell it FLOOR(a/b));
    - an emptied cell keeps its previous centroid.

    Returns the FINAL assignment ``(vec_id, cell, dist_sq)`` after
    ``n_iters`` centroid updates — dist_sq is the exact integer squared
    distance in quantized units, so per-cell inertia aggregates are also
    exact.

    Scale (100 TB): each iteration is ONE scan of the input + a map-side-
    combinable ``(cell, pos)`` aggregate with k*dim groups (tiny shuffle,
    skew-immune: partial aggregation collapses any cell imbalance on the
    map side) + a k*dim-row driver collect — the sanctioned model-state
    pattern (pyspark.ml KMeans does the same via treeAggregate; bpe_train
    precedent).  Assignment is pure whole-stage codegen over LITERAL
    centroid arrays — no join, no broadcast, no BNLJ — and each iteration
    rebuilds its plan from the source relation with fresh literals, so
    lineage depth stays constant.  The quantized (id, qv) projection is
    cached, so every pass after the first reads it instead of the input.
    Quantization error is bounded by 1/scale per coordinate (the same
    resolution trade PQ/int8 ANN indexes make).
    """
    qv = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(float(scale))).cast("long"),
    )
    # Cache the quantized (id, qv) projection across the LOOP (guide
    # §5: reuse + recompute-cost both high): unpersisted, the
    # init top-k, every one of the n_iters update jobs AND the final
    # assignment each re-scan the source and re-quantize — n_iters + 2
    # full input passes.  Persisted, the input is read once (the init
    # job materializes the cache) and every later pass starts from the
    # narrow quantized longs.  The cached relation is (id, int64[dim]) —
    # the same order of size as the embeddings input, MEMORY_AND_DISK so
    # it spills rather than evicting at 100 TB.  Interleaved best-of-3
    # A/B at sf0.1 local[32], together with the expr-built assignment
    # below: kmeans_assign 4.23 -> 1.72 s, and the composed
    # cluster_domain_report 4.72 -> 2.15 s.
    q = cached(embeddings.select(F.col(id_col).alias("_kid"), qv.alias("_qv")))

    init = q.orderBy("_kid").limit(k).collect()
    cents: List[List[int]] = [list(r["_qv"]) for r in init]

    def _assign(df: DataFrame) -> DataFrame:
        # The assignment expression is built as ONE SQL string (a nested
        # bigint array literal + transform's (elem, index) lambda), not a
        # CreateArray of k*dim scalar literal Columns: the loop rebuilds
        # this expression every iteration (fresh centroid values), and
        # the Column-DSL form paid ~0.3 s/iteration of py4j round-trips
        # plus JVM analysis over a ~500-node tree, dominating the
        # iteration at bench scale (the data pass is milliseconds).
        # Measured per-iteration (plan-build, job) at sf0.1 local[32]:
        # (0.10, 0.50) Column-DSL -> (0.07, 0.32) expr.  Semantics are
        # unchanged and A/B-verified row-identical: exact BIGINT
        # distances, tie to the smallest cell via array_min over the
        # (d, cell) struct.
        carr = "array(" + ",".join(
            "array(" + ",".join(f"{int(v)}L" for v in c) + ")" for c in cents
        ) + ")"
        best = F.expr(
            f"array_min(transform({carr}, (c, j) -> named_struct("
            "'d', aggregate(zip_with(_qv, c, (a, b) -> (a - b) * (a - b)), "
            "cast(0 as bigint), (acc, x) -> acc + x), 'cell', j)))"
        )
        return df.withColumn("_best", best)

    for _ in range(n_iters):
        upd = (
            _assign(q)
            .select(F.col("_best.cell").alias("cell"), F.posexplode("_qv"))
            .groupBy("cell", "pos")
            .agg(F.sum("col").alias("s"), F.count(F.lit(1)).alias("n"))
            .select(
                "cell",
                "pos",
                F.floor(F.col("s") / F.col("n")).cast("long").alias("cv"),
            )
            .collect()
        )
        by_cell: dict = {}
        for r in upd:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["cv"]
        for j in range(k):  # emptied cell keeps its previous centroid
            if j in by_cell:
                cents[j] = [by_cell[j][p] for p in range(len(cents[j]))]

    if centroids_out is not None:
        # the final centroid table is driver-side model state already —
        # hand it to callers (PQ builds its ADC tables from it)
        centroids_out.extend([list(c) for c in cents])
    return _assign(q).select(
        F.col("_kid").alias(id_col),
        F.col("_best.cell").alias("cell"),
        F.col("_best.d").alias("dist_sq"),
    )


def kmeans_balanced_select(
    embeddings: DataFrame,
    k: int = 8,
    n_iters: int = 4,
    per_cell: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-balanced curation (the D4 / DataComp recipe: diversify by
    quantizing the embedding space, then cap each cluster's contribution):
    keep at most ``per_cell`` vectors per k-means cell, chosen in the
    deterministic md5(id) permutation order (the same engine-neutral
    "random but reproducible" order ``train_order`` / ``corpus_mix`` use,
    so the selection is a fixed set, not a float-threshold lottery).

    Returns ``(vec_id, cell)`` for the kept vectors.

    Scale: the cap is a per-cell top-N — a window sort per cell, the same
    pattern as ``window_topn_per_customer``; cells are k-bounded so AQE
    skew-split applies, and per_cell is small so the rank short-circuits
    via WindowGroupLimit (rank pushdown) in Spark 4.
    """
    assigned = kmeans_fixed_point(
        embeddings, k=k, n_iters=n_iters, id_col=id_col, vec_col=vec_col
    )
    order = F.md5(F.concat(F.lit("kmsel:"), F.col(id_col).cast("string")))
    w = Window.partitionBy("cell").orderBy(order.asc(), F.col(id_col).asc())
    return (
        assigned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_cell)
        .select(id_col, "cell")
    )


def pq_encode(
    embeddings: DataFrame,
    m: int = 2,
    k: int = 8,
    n_iters: int = 2,
    scale: int = 10**4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    centroids_out: list = None,
) -> DataFrame:
    """PRODUCT QUANTIZATION encode (Jégou et al. 2011): split the vector
    into ``m`` contiguous subspaces, run the integer-exact fixed-point
    k-means in each, and emit each vector's code word — ``(vec_id,
    codes array<int>)``, m * log2(k) bits a vector where the raw
    embedding was dim * 32.  Because every subspace quantizer is the
    oracled :func:`kmeans_fixed_point`, the ENTIRE encode is
    deterministic integer arithmetic — PQ with a DuckDB oracle and no
    fixtures.

    ``centroids_out``, when given, receives m lists of k centroid
    vectors (quantized ints) — the codebook :func:`pq_topk` builds its
    ADC tables from.

    Scale: m sequential kmeans loops (each the documented one-scan-per-
    iteration shape) over a d/m-wide projection; the final codes
    assembly is m-1 joins on ``id_col`` — co-partitioned after the first
    exchange, and each side is (id, small-int) only."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    out = None
    for j in range(m):
        sub = embeddings.select(
            F.col(id_col),
            F.slice(F.col(vec_col), j * d + 1, d).alias("_sub"),
        )
        cents_j: list = []
        a = kmeans_fixed_point(
            sub, k=k, n_iters=n_iters, scale=scale,
            id_col=id_col, vec_col="_sub", centroids_out=cents_j,
        ).select(id_col, F.col("cell").alias(f"_c{j}"))
        if centroids_out is not None:
            centroids_out.append(cents_j)
        out = a if out is None else out.join(a, id_col)
    return out.select(
        id_col,
        F.array(*[F.col(f"_c{j}") for j in range(m)]).alias("codes"),
    )


def pq_topk(
    embeddings: DataFrame,
    n_queries: int = 3,
    topk: int = 5,
    m: int = 2,
    k: int = 8,
    n_iters: int = 2,
    scale: int = 10**4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """PQ ADC top-k (asymmetric distance computation): queries stay
    exact, the corpus is its code words; distance(q, x) = sum_j
    d2(q_j, codebook_j[x.codes_j]).  The per-query ADC tables are m*k
    exact integers computed driver-side from the codebook (model state,
    the kmeans pattern), so scoring one corpus row is m array lookups +
    an add — no vector math touches the corpus at query time, THE
    point of PQ at 10^9 rows.  Exact integer distances keep ranking
    deterministic (ties to the smaller vec_id); the oracle replays the
    whole thing — subspace kmeans chains, codes, ADC — in SQL."""
    d = dim // m
    codebook: list = []
    codes = pq_encode(
        embeddings, m=m, k=k, n_iters=n_iters, scale=scale,
        id_col=id_col, vec_col=vec_col, dim=dim, centroids_out=codebook,
    )
    qv = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(float(scale))).cast("long"),
    )
    qrows = (
        embeddings.select(F.col(id_col), qv.alias("_qv"))
        .orderBy(id_col).limit(n_queries).collect()
    )
    # per (query, subspace): the k-entry exact ADC table
    scored = None
    for qr in qrows:
        qvec = list(qr["_qv"])
        tables = []
        for j in range(m):
            qs = qvec[j * d : (j + 1) * d]
            tables.append(
                [
                    sum((a - b) * (a - b) for a, b in zip(qs, c))
                    for c in codebook[j]
                ]
            )
        adist = None
        for j in range(m):
            term = F.element_at(
                F.array(*[F.lit(int(v)) for v in tables[j]]),
                F.element_at(F.col("codes"), j + 1) + 1,
            )
            adist = term if adist is None else adist + term
        one = codes.select(
            F.lit(qr[id_col]).alias("query_id"),
            F.col(id_col).alias("vec_id"),
            adist.alias("adist"),
        )
        scored = one if scored is None else scored.unionByName(one)
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "vec_id", "adist", "rank")
    )


def hash_embed(
    df: DataFrame,
    dims: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Model-free text embedding via the signed hashing trick (Weinberger
    et al., ICML 2009): every token of the normalized text maps to a
    bucket ``md5_32(tok) % dims`` with sign ``+-1`` from an independent
    md5 hex digit; the document vector is the per-bucket signed-count
    histogram, L2-normalized.  This is the bridge from the ``documents``
    table to every embedding operator in this module (semdedup,
    near-dup pairs, brute/LSH/IVF top-k, PQ) when no learned embedding
    column exists — hashed bag-of-words cosine is the classic cheap
    near-dup / similarity signal.

    Emits ``(doc_id, n_tokens, vec, emb)``: ``vec`` the raw signed
    counts (exact integers — cross-engine bitwise stable), ``emb`` the
    L2-normalized double vector (all-zero when the document is empty or
    its signs fully cancel — filter ``n_tokens > 0`` / non-zero vectors
    before feeding cosine ops, whose 0-norm division throws under ANSI
    mode).  md5 rather than xxhash64 because the oracle must reproduce
    the values exactly (the deterministic_split / rollfp precedent:
    ``conv(substr(md5,1,8),16,10)`` == DuckDB
    ``CAST('0x'||substr(md5,1,8) AS UBIGINT)``).

    Scale design: explode + TWO-LEVEL codegen hash aggregate, not a
    per-row higher-order fold — a dims-wide ``aggregate`` lambda over
    every token runs interpreted (no whole-stage codegen inside HOFs)
    and measured 8.4 s at sf0.1 vs 1.3 s for this shape.  The partial
    (map-side) aggregate combines each scan split to <= docs x dims
    rows BEFORE the exchange, so the only shuffle is model-sized, not
    token-sized; the second doc-keyed aggregate pivots buckets into the
    vector via a map lookup (order-independent).  md5 is evaluated once
    per token inside codegen.
    """
    from pdfminer_six_spark.ops.textstats import normalized_text, tokens_col

    toks = tokens_col(normalized_text(F.coalesce(F.col(text_col), F.lit(""))))
    t = F.col("_t")
    ex = df.select(F.col(id_col), toks.alias("_toks")).select(
        id_col,
        F.size("_toks").cast("long").alias("n_tokens"),
        F.explode_outer("_toks").alias("_t"),
    )
    per = (
        ex.groupBy(
            id_col,
            "n_tokens",
            F.when(
                t.isNotNull(),
                F.pmod(
                    F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast(
                        "long"
                    ),
                    F.lit(dims),
                ).cast("int"),
            ).alias("b"),
        )
        .agg(
            F.sum(
                F.when(
                    F.conv(F.substring(F.md5(t), 9, 1), 16, 10).cast("int")
                    % 2
                    == 0,
                    F.lit(1).cast("long"),
                ).otherwise(F.lit(-1).cast("long"))
            ).alias("v")
        )
    )
    m = F.map_from_entries(
        F.filter(
            F.collect_list(F.struct("b", "v")),
            lambda e: e["b"].isNotNull(),
        )
    )
    vecd = per.groupBy(id_col, "n_tokens").agg(m.alias("_m"))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dims - 1)),
        lambda b: F.coalesce(
            F.element_at(F.col("_m"), b.cast("int")), F.lit(0).cast("long")
        ),
    )
    withv = vecd.select(id_col, "n_tokens", vec.alias("vec"))
    nrm = F.sqrt(
        F.aggregate(
            F.col("vec"),
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    return withv.select(
        id_col,
        "n_tokens",
        "vec",
        F.transform(
            F.col("vec"),
            lambda v: F.when(
                nrm > 0, v.cast("double") / nrm
            ).otherwise(F.lit(0.0)),
        ).alias("emb"),
    )

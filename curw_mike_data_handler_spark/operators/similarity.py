"""Similarity search over embedding columns (array<float>).

* ``cosine`` — pure higher-order-function column math (zip_with +
  aggregate), double-precision, sequential fold → bit-reproducible.
* ``ann_topk_bruteforce`` — exact top-k: query set ⨯ corpus
  (broadcast the small query side), cosine, per-query row_number.
  The 100 TB baseline: one pass over the corpus per query batch,
  no index, no Python.
* ``ann_topk_bucketed`` — IVF-flavored scale path: restrict the
  search to rows sharing a coarse partition key (here a precomputed
  cluster/label column; in production: a KMeans/IVF assignment).
  Same plan shape, corpus scan pruned by the bucket join.
* ``embedding_neardup_pairs`` — near-duplicate pairs within buckets
  (cosine ≥ threshold), the embedding-space analog of MinHash dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from curw_mike_data_handler_spark.sources.local import local_frame


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _cos_precomputed(av: Column, an: Column, bv: Column, bn: Column) -> Column:
    """cosine with norms computed ONCE per row instead of per pair —
    at P pairs over N rows this does N norm traversals, not 2P.
    Value-identical to cosine(): same sequential folds."""
    return dot(av, bv) / (an * bn)


def quantize_embeddings(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 64,
) -> DataFrame:
    """Scalar int8-style quantization of an embedding column →
    (id, codes array<int>, n_clipped, recon_dist).

    The 100 TB lever: at scale=64 each dim fits a signed byte, so the
    shuffled/stored footprint of an ANN corpus drops ~4-8× vs float32
    while brute-force/IVF ranking continues to work on reconstructed
    values.  All math is exact-by-construction for cross-engine
    parity: the scale is a power of two (x*64 and code/64 are exact FP
    ops), codes use explicit floor (DuckDB CAST rounds, Spark
    truncates — floor agrees), and the reconstruction distance is a
    sequential fold rounded to 6 dp.  Map-only, no shuffle."""
    c = F.col(vec_col)
    clamped = F.transform(c, lambda x: F.least(F.greatest(x.cast("double"), F.lit(-1.0)), F.lit(1.0)))
    codes = F.transform(
        clamped,
        lambda x: F.least(F.floor(x * scale), F.lit(scale - 1)).cast("int"),
    )
    recon = lambda code: (code.cast("double") + 0.5) / scale  # noqa: E731
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(clamped, codes, lambda x, q: (x - recon(q)) * (x - recon(q))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    v = F.col(vec_col)
    n_clipped = F.size(
        F.filter(v, lambda x: (x.cast("double") < -1.0) | (x.cast("double") >= 1.0))
    ).cast("bigint")
    return corpus.select(
        F.col(id_col),
        codes.alias("codes"),
        n_clipped.alias("n_clipped"),
        F.round(dist, 6).alias("recon_dist"),
    )


def ann_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_partitions: int | None = None,
) -> DataFrame:
    """→ (query_id, neighbor_id, cos_sim, rank); exact, exclude self.

    Rank orders on the 6-dp-rounded similarity with id tie-break so the
    result is total-ordered and engine-reproducible.

    ``corpus_partitions``: the corpus side carries the per-pair cosine
    work after the broadcast join; a corpus read from one small file is
    one partition = one core.  Set to the cluster parallelism for small
    corpora; leave ``None`` for a large corpus already split by the
    scan."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    if corpus_partitions:
        c = c.repartition(corpus_partitions)
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            F.round(_cos_precomputed(F.col("qv"), F.col("qn"), F.col("cv"), F.col("cn")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ann_topk_bucketed(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
    corpus_partitions: int | None = None,
) -> DataFrame:
    """IVF-style: only score candidates in the query's bucket — the
    cross join becomes an equi join on the bucket key, so the shuffle
    and the scored-pair count shrink by ~|buckets|×."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(bucket_col).alias("bucket"),
        as_double_array(vec_col).alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(bucket_col).alias("bucket"),
        as_double_array(vec_col).alias("cv"),
    ).withColumn("cn", norm(F.col("cv")))
    if corpus_partitions:
        c = c.repartition(corpus_partitions)
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            F.round(_cos_precomputed(F.col("qv"), F.col("qn"), F.col("cv"), F.col("cn")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    *,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str | None = "label",
    salt_buckets: int = 0,
    engine: str = "hof",
) -> DataFrame:
    """Pairs (a<b) with cosine ≥ threshold; bucketed when a coarse
    cluster key exists (at corpus scale an unbucketed all-pairs join is
    intractable — the bucket key IS the blocking strategy).

    ``salt_buckets`` > 1 splits each cluster's self-join across that
    many join keys (left side hashed to one salt, right side replicated
    to all) — the standard skew treatment when |clusters| ≪ cores or
    one cluster dominates.  Output pairs are identical.

    ``engine``: ``"hof"`` (default) scores pairs with the sequential
    zip_with/aggregate fold — zero Python, bit-reproducible, and the
    form every oracle replicates.  ``"arrow"`` groups each bucket into
    an Arrow batch and scores ALL its pairs as one normalized X·Xᵀ
    matrix product (applyInPandas) — the SIMD path, ~5× the fold on
    wide buckets; cosine values differ from the fold only by
    FP-summation order (ULPs), rounded to the same 6 dp, so the pair
    set is identical except for values within an ULP of the rounding
    boundary (property-tested equal on real data).  Note the rounding
    modes also differ in that last ULP: numpy rounds half-even where
    Spark's ``round`` is HALF_UP — immaterial off the boundary, but
    don't hash-compare the two engines at exactly-half values.
    Requires ``bucket_col``; salting doesn't apply (the group IS the
    work unit — use more clusters, not salts, to split hot buckets).
    The id column keeps its input type on both engines."""
    if engine == "arrow":
        if not bucket_col:
            raise ValueError("engine='arrow' requires bucket_col")
        import pandas as pd  # noqa: F401

        src = corpus.select(
            F.col(id_col).alias("id"),
            F.col(bucket_col).alias("bucket"),
            as_double_array(vec_col).alias("v"),
        )
        # mirror the HOF path: output ids carry the input column's
        # native type instead of a hardcoded bigint (string/int32 ids
        # previously broke or silently cast on this path only)
        id_type = src.schema["id"].dataType.simpleString()

        def score(key, pdf):
            import numpy as np
            import pandas as pd

            if len(pdf) < 2:
                return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
            order = pdf["id"].to_numpy().argsort()
            ids = pdf["id"].to_numpy()[order]
            X = np.stack(pdf["v"].to_numpy()[order])
            nrm = np.sqrt((X * X).sum(axis=1))
            sims = np.round((X @ X.T) / np.outer(nrm, nrm), 6)
            iu = np.triu_indices(len(ids), k=1)
            keep = sims[iu] >= threshold
            return pd.DataFrame(
                {
                    "id_a": ids[iu[0][keep]],
                    "id_b": ids[iu[1][keep]],
                    "cos_sim": sims[iu][keep],
                }
            )

        return src.groupBy("bucket").applyInPandas(
            score, f"id_a {id_type}, id_b {id_type}, cos_sim double"
        )
    c1 = corpus.select(
        F.col(id_col).alias("id_a"),
        *( [F.col(bucket_col).alias("bucket")] if bucket_col else [] ),
        as_double_array(vec_col).alias("va"),
    ).withColumn("na", norm(F.col("va")))
    c2 = corpus.select(
        F.col(id_col).alias("id_b"),
        *( [F.col(bucket_col).alias("bucket")] if bucket_col else [] ),
        as_double_array(vec_col).alias("vb"),
    ).withColumn("nb", norm(F.col("vb")))
    if bucket_col and salt_buckets > 1:
        c1 = c1.withColumn("__salt", F.pmod(F.hash("id_a"), F.lit(salt_buckets)))
        c2 = c2.withColumn(
            "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
        )
        pairs = c1.join(c2, ["bucket", "__salt"]).drop("__salt")
    elif bucket_col:
        pairs = c1.join(c2, "bucket")
    else:
        pairs = c1.crossJoin(c2)
    return (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            F.round(_cos_precomputed(F.col("va"), F.col("na"), F.col("vb"), F.col("nb")), 6),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _rademacher_signs(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix from md5 — reproducible in
    any engine (the oracle re-derives the identical planes)."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{j}:{k}".encode()).hexdigest()[:2], 16) % 2 == 0 else -1.0
            for k in range(dim)
        ]
        for j in range(num_planes)
    ]


def random_projection_bucket(
    vec: Column, *, num_planes: int = 8, dim: int = 64
) -> Column:
    """SimHash-for-vectors: the sign bit of the dot product with each
    of ``num_planes`` fixed Rademacher hyperplanes, concatenated to a
    bucket key.  Cosine-similar vectors collide with the standard
    random-projection LSH probability (1 − θ/π per bit); the bucket
    key is a plain string column, so the downstream join is an equi
    join — the same blocking idea as the label buckets, but derived
    from the vectors themselves (no prior clustering needed)."""
    signs = _rademacher_signs(num_planes, dim)
    bits = [
        F.when(
            dot(vec, F.array(*[F.lit(s) for s in plane])) >= 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for plane in signs
    ]
    return F.concat(*bits)


def ann_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    dim: int = 64,
    corpus_partitions: int | None = None,
) -> DataFrame:
    """ANN via random-projection LSH buckets: candidates share all
    ``num_planes`` sign bits.  Same plan shape as ann_topk_bucketed
    with the bucket computed from the data — the scan stays one pass,
    the join is hash, recall follows the LSH S-curve (raise recall by
    lowering num_planes or unioning multiple independent bucket
    tables)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv")
    )
    q = q.withColumn("bucket", random_projection_bucket(F.col("qv"), num_planes=num_planes, dim=dim))
    q = q.withColumn("qn", norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv")
    )
    c = c.withColumn("bucket", random_projection_bucket(F.col("cv"), num_planes=num_planes, dim=dim))
    c = c.withColumn("cn", norm(F.col("cv")))
    if corpus_partitions:
        c = c.repartition(corpus_partitions)
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            F.round(_cos_precomputed(F.col("qv"), F.col("qn"), F.col("cv"), F.col("cn")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def kmeans_assign(
    corpus: DataFrame,
    *,
    k: int = 10,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd's k-means → (id, cluster): the IVF coarse
    quantizer that produces the bucket column ann_topk_bucketed /
    embedding_neardup_pairs block on, computed without MLlib so
    initialization and iteration order are fully specified:

    * init: the k lowest-id vectors are the seed centroids;
    * assignment: nearest centroid by squared L2, centroid-id
      tie-break;
    * update: coordinate-wise mean of members (fixed ``iterations``
      rounds — at corpus scale each round is ONE scan + ONE small
      groupBy).

    The per-round collect is k×dim doubles (the centroids), not data —
    the standard iterative-algorithm driver loop.

    Assignment is zero-Python: the centroids travel as DATA (one
    broadcast row of ``array<struct<cid, center>>``) and the argmin is
    a higher-order fold, so the plan size is independent of k·dim."""
    spark = corpus.sparkSession
    vecs = corpus.select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("v")
    ).cache()
    centroids = [
        (i, r["v"])
        for i, r in enumerate(vecs.orderBy("id").limit(k).collect())
    ]

    def assign(centroids):
        # One row, one array column: ships once per executor; the
        # nested fold below is the argmin loop a native engine would
        # compile, but expressed as data so the PLAN stays O(1).
        cents = local_frame(
            spark,
            [([{"cid": cid, "center": ctr} for cid, ctr in centroids],)],
            "cents array<struct<cid:int,center:array<double>>>",
        )
        # struct ordering is lexicographic (d2, then cid), so
        # array_min IS "nearest centroid, lowest-cid tie-break".
        scored = F.transform(
            F.col("cents"),
            lambda c: F.struct(
                F.aggregate(
                    F.zip_with(F.col("v"), c["center"], lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda s, x: s + x,
                ).alias("d2"),
                c["cid"].alias("cid"),
            ),
        )
        return (
            vecs.crossJoin(F.broadcast(cents))
            .select("id", "v", F.array_min(scored)["cid"].alias("cluster"))
        )

    def round_means(assigned):
        # ONE narrow shuffle on (cluster, dim); the k×dim mean rows are
        # the per-round collect, assembled into centers driver-side
        # (cheaper than a second exchange just to re-array them).
        return (
            assigned.select("cluster", F.posexplode("v").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg("x").alias("m"))
            .collect()
        )

    # the returned assignment uses the centroids after iterations-1
    # updates, so the last round needs NO mean job — computing it would
    # be a full wasted pass (its update could never be observed).
    # Driver-side centroid canonicalization: each mean reaches the
    # driver as a double whose LAST ULPs depend on the partition
    # combine order of the avg merges.  Snapping each mean to a fixed
    # 1e-9 grid collapses that fold-order noise, so the NEXT round's
    # assignments — and hence the final output — are identical under
    # any repartitioning (property-tested with a repartition
    # perturbation).  1e-9 is ~1e6 ULPs above double noise yet far
    # below any real assignment margin.
    def _quant(m: float) -> float:
        import math

        # beyond |m| ≈ 2^53/1e9 (~9.0e6) the product m*1e9 has ULP > 1
        # and the snap is a silent no-op — pass such magnitudes through
        # unchanged rather than pretend they were canonicalized (the
        # determinism contract covers bounded feature domains —
        # documented in SCALE.md round-6 notes)
        if abs(m) >= 9.0e6:
            return m
        return math.floor(m * 1e9 + 0.5) / 1e9

    for it in range(iterations - 1):
        by_cluster: dict[int, dict[int, float]] = {}
        for r in round_means(assign(centroids)):
            by_cluster.setdefault(r["cluster"], {})[r["dim"]] = r["m"]
        centroids = sorted(
            (cid, [_quant(dims[d]) for d in sorted(dims)])
            for cid, dims in by_cluster.items()
        )
    # Materialize the final (id, cluster) assignment and release the
    # cached vectors: the algorithm is already eager (per-round
    # collects), and without this every call leaked its vecs cache into
    # the CacheManager for the life of the session — across a 130-query
    # bench those copies of the embedding arrays accumulate until the
    # heap GC-thrashes.  localCheckpoint blocks, by contrast, are freed
    # by the ContextCleaner once the returned frame is unreachable, and
    # consumers with several branches (semdedup) reuse the materialized
    # rows instead of re-running the assignment subtree.
    final = assign(centroids).select("id", "cluster").localCheckpoint()
    vecs.unpersist()
    return final


# -- OPQ-style rotated product quantization (post-drain roadmap #1) ---
#
# The rotation is the structured HD transform used as the random-
# rotation baseline/initializer of OPQ (Ge et al., "Optimized Product
# Quantization", CVPR 2013 §4; Jégou et al. TPAMI 2011 use the same
# R·x preconditioning): R = (1/√d)·P·H·D with H the Sylvester
# Walsh-Hadamard matrix, D a ±1 diagonal and P a row permutation, both
# derived from a SEED (md5 of (seed, index) — no RNG state), so the
# whole matrix is a pure function of (seed, dim) and the DuckDB oracle
# can inline the identical literal.  With d = 64 the scale 1/√d = 1/8
# is a power of two, so every matrix entry (±0.125 after scaling) and
# every intermediate product is exactly representable — the rotated
# vector is bit-identical across engines as long as both fold the dot
# product sequentially (the established parity contract of every ANN
# query here).
#
# The product quantizer on top is gain-shape VQ per subspace (Gersho &
# Gray ch. 10): split the rotated vector into m subspaces, code each
# subvector as (sign pattern, quantized mean magnitude).  The sign
# pattern is the argmax over the full ±1 codebook — closed form, no
# learned centroids, hence exactly mirrorable in SQL — and the HD
# rotation is what makes that codebook fit: it spreads energy so
# rotated coordinates are near-iid (the ITQ/Fast-JL argument), which
# measurably lifts recall over quantizing the raw embedding (probed in
# tests/scripts at sf0.01/sf1).  Storage: m·(sub_dim sign bits +
# 4-bit gain) = 96 bits/vector at (m=8, sub_dim=8) vs 2048 bits raw —
# the 100 TB lever is a ~21× smaller corpus scan, same as ann_topk_pq
# but with a genuine per-subspace product codebook.


def opq_signed_rows(seed: int = 9, dim: int = 64) -> list[list[float]]:
    """±1 rows of P·H·D for the OPQ rotation — deterministic in
    ``seed``; ``dim`` must be a power of two (Hadamard), and callers
    that need exact cross-engine floats should keep √dim a power of
    two as well (dim 16/64/256...)."""
    import hashlib

    if dim & (dim - 1):
        raise ValueError(f"Hadamard rotation needs power-of-two dim, got {dim}")

    def h(tag: str, k: int) -> int:
        dig = hashlib.md5(f"opq-{seed}-{tag}-{k}".encode()).digest()
        return int.from_bytes(dig[:8], "big")

    d = [1.0 if h("d", i) % 2 == 0 else -1.0 for i in range(dim)]
    perm = sorted(range(dim), key=lambda j: (h("p", j), j))
    return [
        [(-1.0 if (j & i).bit_count() % 2 else 1.0) * d[i] for i in range(dim)]
        for j in perm
    ]


def _matrix_literal(rows: list[list[float]], dialect: str = "spark") -> str:
    """±1 matrix → nested-array literal text.  Spark spells nested
    arrays ``array(array(...))``; DuckDB has no ``array()`` function,
    so it gets ``[[...]]::DOUBLE[][]`` (the cast matters — bare 1.0
    literals land as DECIMAL and would leak into downstream types)."""
    if dialect == "spark":
        return (
            "array(" + ",".join(
                "array(" + ",".join("1.0" if e > 0 else "-1.0" for e in r) + ")"
                for r in rows
            ) + ")"
        )
    return (
        "[" + ",".join(
            "[" + ",".join("1.0" if e > 0 else "-1.0" for e in r) + "]"
            for r in rows
        ) + "]::DOUBLE[][]"
    )


def opq_rotate(vec: Column | str, rows: list[list[float]]) -> Column:
    """HD rotation: element j = (1/√dim)·⟨vec, rows[j]⟩, as a
    sequential JVM-interpreted fold — bit-identical to DuckDB's
    list_dot_product, which is what lets the gate compare exactly."""
    import math

    dim = len(rows)
    scale = 1.0 / math.sqrt(dim)
    if scale != 2.0 ** round(math.log2(scale)):
        raise ValueError(f"1/√{dim} is not a power of two — rotation would not be exact")
    v = as_double_array(vec)
    mat = F.expr(_matrix_literal(rows))
    return F.transform(
        mat,
        lambda row: F.lit(scale)
        * F.aggregate(
            F.zip_with(v, row, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def pq_gain_shape_reconstruct(
    rv: Column | str, *, n_subspaces: int = 8, sub_dim: int = 8
) -> Column:
    """Decode-after-encode of the gain-shape product quantizer, in one
    expression (the code words never materialize — ADC ranks against
    the reconstruction, exactly like ann_topk_pq's scalar path):

    per subspace s: gain_s = snap16(Σ|x_i| / sub_dim)  (4-bit-ish grid,
    exact sixteenths), shape_i = sign(x_i); x̂_i = gain_s · shape_i.

    snap16(x) = floor(x·16 + 0.5)/16 — floor+½ rather than a banker's
    round so Spark and the DuckDB oracle agree at grid boundaries."""
    c = F.col(rv) if isinstance(rv, str) else rv
    gains = F.transform(
        F.sequence(F.lit(0), F.lit(n_subspaces - 1)),
        lambda s: F.floor(
            (
                F.aggregate(
                    F.slice(c, s * sub_dim + F.lit(1), sub_dim),
                    F.lit(0.0),
                    lambda acc, x: acc + F.abs(x),
                )
                / F.lit(float(sub_dim))
            )
            * F.lit(16.0)
            + F.lit(0.5)
        )
        / F.lit(16.0),
    )
    return F.transform(
        c,
        lambda x, i: F.element_at(gains, F.floor(i / F.lit(sub_dim)).cast("int") + F.lit(1))
        * F.when(x >= 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
    )

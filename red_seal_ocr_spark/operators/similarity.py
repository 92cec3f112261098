"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk` — exact brute-force top-k (the correctness
  baseline; crossJoin + window).  Fine for moderate query sets; the
  candidate side streams, queries broadcast.
- :func:`lsh_topk` — random-hyperplane LSH: sign-bit signatures bucketed
  in bands; candidates = bucket collisions; exact cosine re-rank inside
  the candidate set.  The scale path: the crossJoin disappears, replaced
  by an equi-join on (band, bucket) whose key distribution is uniform by
  construction.

Hyperplanes are seeded deterministically and shipped as literal arrays
(a few KB) — they compile into the plan, no side channel needed.  All
math runs in double precision via built-in higher-order functions
(zip_with / aggregate): JVM-side, codegen'd, no Python in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dbl(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cos)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _dbl(F.col(vec_col)).alias("q_emb")
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), _dbl(F.col(vec_col)).alias("c_emb")
    )
    sims = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("q_emb"), F.col("c_emb"))
             / (_norm(F.col("q_emb")) * _norm(F.col("c_emb")))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _hyperplanes(dim: int, n_bits: int, seed: int) -> list[list[float]]:
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal((n_bits, dim)).tolist()


# Column-EXPRESSION memo for lsh_signature (NOT data caching: unresolved
# Catalyst expression trees are immutable and plan-agnostic, so one
# constructed Column is reusable across any number of DataFrames).
# Building the 32x64 plan-literal signature costs ~1.2 s of py4j calls
# per call site (measured r07); the recall queries build it for both the
# query and candidate branches on every invocation.
_SIG_EXPR_CACHE: dict = {}


def lsh_signature(vec_col, planes: list[list[float]], bits_per_band: int = 4):
    """Sign-bit signature as an array<int> of band values.

    Narrow bands (default 4 bits) trade candidate-set size for recall:
    collision probability per band is (1 - theta/pi)^bits, so fewer bits
    keeps moderate-angle neighbors findable.

    Data-driven construction: the hyperplanes ship as ONE 2-D literal
    array and a single dot-product lambda runs over it (same values as
    unrolling one expression per plane, but codegen compiles one lambda
    instead of n_bits copies — the unrolled form cost seconds of fixed
    compile time per query).
    """
    if len(planes) % bits_per_band:
        raise ValueError("n_bits must be divisible by bits_per_band")
    # exact values, not their hash: a hash collision would hand back
    # another plane set's signature.  len(planes) keeps two shapes of the
    # same flattened values apart
    cache_key = (
        str(vec_col), bits_per_band, len(planes),
        tuple(float(v) for p in planes for v in p),
    )
    cached = _SIG_EXPR_CACHE.get(cache_key)
    if cached is not None:
        return cached
    # UNROLLED per plane: one zip_with + aggregate against a LITERAL array
    # per plane keeps every lambda single-level and the banding free of
    # lambda-var array indexing (the idiom that cost dedup._shingles 5x).
    # Measured honestly: ~parity with the nested data-driven form at 50k
    # dim-64 vectors (~6 s) — codegen compiles both (verified), and the
    # per-element HOF overhead dominates either way.  The true scale path
    # for 10^9+-vector banding would be a broadcast-GEMM pandas UDF like
    # IVF assignment (nearest_lists_udf); the expression form is kept
    # because its left-fold float order is what the q45/q26 IEEE-fold
    # oracle mirrors pin bit-for-bit.
    def bit(plane):
        # ONE parsed SQL literal per plane instead of one py4j F.lit()
        # call per ELEMENT: the unrolled form spent ~1.9 s of pure
        # DataFrame-BUILD time per signature site (2 sites in the
        # LSH-vs-exact recall queries) shipping 2,048 literals over
        # py4j one call at a time (measured r07; execution was only
        # ~1.6 s).  repr() is shortest-round-trip exact and Spark's
        # double-literal parser is correctly rounded, so the parsed
        # Literal values — and therefore every downstream fold — are
        # bit-identical to the F.lit form (asserted in
        # test_dedup_similarity).
        lit = F.expr(
            "array(" + ",".join(f"{float(v)!r}D" for v in plane) + ")"
        )
        dot = F.aggregate(
            F.zip_with(vec_col, lit, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0))

    bit_exprs = [bit(p) for p in planes]
    n_bands = len(planes) // bits_per_band
    bands = []
    for b in range(n_bands):
        chunk = bit_exprs[b * bits_per_band : (b + 1) * bits_per_band]
        val = chunk[0]
        for r in range(1, bits_per_band):
            val = val + chunk[r] * F.lit(1 << r)
        bands.append(val)
    out = F.array(*bands)
    _SIG_EXPR_CACHE[cache_key] = out
    return out


def broadcast_hyperplanes(spark, planes: list[list[float]]):
    """Ship the hyperplane matrix as ONE Spark broadcast, reusable across
    every signature UDF built from it (the banding twin of
    :func:`broadcast_centroids`)."""
    P = np.ascontiguousarray(np.asarray(planes, dtype=np.float64))
    return spark.sparkContext.broadcast(P)


def lsh_signature_gemm_udf(spark, planes: list[list[float]],
                           bits_per_band: int = 4, bc=None):
    """Sign-bit band signature as a vectorized pandas UDF: one GEMM per
    Arrow batch against the broadcast hyperplane matrix.

    The 10^9-vector scale path for banding.  :func:`lsh_signature`'s
    expression form ships one literal array per hyperplane and pays
    per-element higher-order-function overhead — fine at the tested
    32 bits x dim 64 (a few KB of plan), but at production
    256 bits x dim 768 the plan would carry ~200k literals, the same
    codegen explosion plan-literal IVF centroids had before
    :func:`nearest_lists_udf`.  Here the plan carries ZERO per-plane
    expressions: the hyperplanes ride a broadcast variable and the dot
    products are one BLAS matmul per batch (exactly the
    ``nearest_lists_udf`` pattern).

    Output contract matches :func:`lsh_signature` exactly: array<int> of
    band values, bit b of a band weighted ``1 << b`` in signature order,
    sign convention ``dot >= 0``.  Sign agreement with the expression
    form is exact except where a dot product sits within float-summation
    error of zero (the expression form folds left in doubles, BLAS sums
    pairwise); measure-zero for continuous embeddings, and pinned by a
    band-for-band agreement test on the sf0.01 embeddings table.  q26/q45
    keep the expression form because their IEEE-fold oracle mirrors pin
    that float order bit-for-bit.
    """
    from pyspark.sql.functions import pandas_udf

    n_bits = len(planes)
    if n_bits % bits_per_band:
        raise ValueError("n_bits must be divisible by bits_per_band")
    if bc is None:
        bc = broadcast_hyperplanes(spark, planes)
    n_bands = n_bits // bits_per_band
    weights = (1 << np.arange(bits_per_band, dtype=np.int64))

    @pandas_udf("array<int>")
    def sig(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        P = bc.value
        X = np.stack(emb.to_numpy()).astype(np.float64, copy=False)  # B x d
        bits = (X @ P.T >= 0).astype(np.int64)  # B x n_bits
        bands = bits.reshape(len(emb), n_bands, bits_per_band) @ weights
        return pd.Series(list(bands.astype("int32")))

    return sig


def broadcast_centroids(spark, centers: "np.ndarray"):
    """Ship the centroid matrix (plus precomputed row norms) as ONE Spark
    broadcast, reusable across every assignment UDF built from it."""
    C = np.ascontiguousarray(np.asarray(centers, dtype=np.float64))
    c_sq = (C * C).sum(axis=1)
    return spark.sparkContext.broadcast((C, c_sq))


def nearest_lists_udf(spark, centers: "np.ndarray", n_probe: int, bc=None):
    """Vectorized nearest-centroid assignment: array<double> -> array<int>
    of the ``n_probe`` nearest list ids (squared L2, ties broken by lower
    list id).

    The centroid matrix ships as a Spark broadcast variable and the
    distance computation is one BLAS matmul per Arrow batch — so the plan
    carries ZERO per-centroid expressions and the approach scales to
    realistic n_lists (1k-64k) where plan-literal centroids would explode
    codegen.  (FAISS does IVF assignment exactly this way: a dense GEMM
    against the coarse-quantizer centroids.)
    """
    from pyspark.sql.functions import pandas_udf

    if bc is None:
        bc = broadcast_centroids(spark, centers)

    @pandas_udf("array<int>")
    def nearest(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        cent, cent_sq = bc.value
        X = np.stack(emb.to_numpy())  # B x d
        # squared L2 up to a per-row constant: -2 X C^T + ||C||^2
        d = cent_sq[None, :] - 2.0 * (X @ cent.T)  # B x L
        n = min(n_probe, cent.shape[0])
        if n == 1:
            ids = np.argmin(d, axis=1)[:, None]  # argmin = lowest-id tie-break
        else:
            part = np.argpartition(d, n - 1, axis=1)[:, :n]
            pd_d = np.take_along_axis(d, part, axis=1)
            # stable (dist, id) order within the n-subset
            order = np.lexsort((part, pd_d), axis=1)
            ids = np.take_along_axis(part, order, axis=1)
        return pd.Series(list(ids.astype("int32")))

    return nearest


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 8,
    n_probe: int = 2,
    seed: int = 42,
    centroids=None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans-partitioned search.

    Train ``n_lists`` centroids (MLlib KMeans, seeded; or pass explicit
    ``centroids`` — any array-like L x d — for deterministic tests),
    assign every candidate to its nearest list, and search each query only
    in its ``n_probe`` nearest lists — the classic IVF recall/cost dial.
    The candidate join is an equi-join on the list id, so at scale this is
    a shuffle keyed by centroid assignment instead of a crossJoin; list
    sizes are balanced by KMeans itself (plus AQE skew handling).

    Assignment is a broadcast-centroids vectorized pandas UDF
    (:func:`nearest_lists_udf`) — one GEMM per Arrow batch, no
    per-centroid plan literals, so n_lists can grow without touching the
    plan size.
    """
    cand = candidates.select(
        F.col(id_col).alias("c_id"), _dbl(F.col(vec_col)).alias("c_emb")
    )
    qry = queries.select(
        F.col(id_col).alias("q_id"), _dbl(F.col(vec_col)).alias("q_emb")
    )
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = cand.select(array_to_vector("c_emb").alias("features"))
        km = KMeans(k=n_lists, seed=seed, maxIter=10).fit(train)
        centers = np.asarray(km.clusterCenters(), dtype=np.float64)
    else:
        centers = np.asarray(centroids, dtype=np.float64)

    spark = candidates.sparkSession
    # one broadcast shared by both assignment paths — the centroid matrix
    # ships to executors once, not once per UDF
    bc = broadcast_centroids(spark, centers)
    assign1 = nearest_lists_udf(spark, centers, 1, bc=bc)
    assign_probe = nearest_lists_udf(spark, centers, n_probe, bc=bc)
    cand_assigned = cand.select(
        "c_id", "c_emb", assign1(F.col("c_emb"))[0].alias("list_id")
    )
    qry_probed = qry.select(
        "q_id", "q_emb", F.explode(assign_probe(F.col("q_emb"))).alias("list_id")
    )
    sims = (
        qry_probed.join(cand_assigned, on="list_id")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            (_dot(F.col("q_emb"), F.col("c_emb"))
             / (_norm(F.col("q_emb")) * _norm(F.col("c_emb")))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= k
    )


# above this many plan literals (n_bits * dim), the expression form's own
# PLAN becomes the bottleneck: measured 102.8 s of analysis alone at
# 256 x 768 vs 0.71 s total for the GEMM form (BENCH/banding_bench.json)
_EXPR_LITERAL_BUDGET = 16384


def _signature_col(spark, emb_col, planes, bits_per_band, banding):
    """Signature column in the chosen banding form: 'expr' (plan-literal
    hyperplanes, IEEE-left-fold — the oracle-pinned form), 'gemm'
    (broadcast-matrix pandas UDF — the large-n_bits/dim scale path), or
    'auto' (expr while the literal count stays inside the plan budget,
    gemm beyond it — tested configs keep their oracle-pinned expr form,
    production dims get the scalable one without caller changes)."""
    if banding == "auto":
        n_lit = len(planes) * (len(planes[0]) if planes else 0)
        banding = "expr" if n_lit <= _EXPR_LITERAL_BUDGET else "gemm"
    if banding == "expr":
        return lsh_signature(emb_col, planes, bits_per_band)
    if banding == "gemm":
        return lsh_signature_gemm_udf(spark, planes, bits_per_band)(emb_col)
    raise ValueError(f"banding must be 'expr', 'gemm' or 'auto', got {banding!r}")


def embedding_near_dups(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cos_bps: int = 9500,
    n_bits: int = 32,
    dim: int = 64,
    seed: int = 42,
    bits_per_band: int = 4,
    banding: str = "auto",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the 5th dedup family).

    LSH self-join shape: sign-bit band buckets -> candidate pairs from
    bucket collisions (a_id < b_id, never an all-pairs join) -> exact
    cosine verify.  Output ``(a_id, b_id, cos_bps)`` with
    cos_bps = floor(cos * 10000) for deterministic integer comparison.
    At scale this is the same banded equi-join as MinHash-LSH dedup:
    uniform hash keys, map-side dedup of banded rows, no quadratic stage.
    """
    planes = _hyperplanes(dim, n_bits, seed)
    # band ONCE, self-join via renames: both join branches share an
    # identical child subtree, so the signature expression is planned and
    # codegen-compiled a single time (measured ~1.6x faster at sf0.1 than
    # banding each side independently; with a shuffle join the second
    # branch further collapses to a ReusedExchange)
    emb = _dbl(F.col(vec_col))
    banded = vectors.select(F.col(id_col).alias("_id"), emb.alias("_emb")).select(
        "_id",
        "_emb",
        F.posexplode(
            _signature_col(vectors.sparkSession, F.col("_emb"), planes,
                           bits_per_band, banding)
        ).alias("band", "bucket"),
    )
    if max_bucket_size is not None:
        # skew guard: an embedding hot spot (e.g. the zero/boilerplate
        # vector) floods one sign-bucket per band; see dedup.drop_hot_buckets
        from .dedup import drop_hot_buckets

        banded = drop_hot_buckets(banded, ("band", "bucket"), max_bucket_size)
    a = banded.select(
        F.col("_id").alias("a_id"), F.col("_emb").alias("a_emb"), "band", "bucket"
    )
    b = banded.select(
        F.col("_id").alias("b_id"), F.col("_emb").alias("b_emb"), "band", "bucket"
    )
    pairs = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "a_emb", "b_id", "b_emb")
        # the embeddings are functionally determined by the ids — keying
        # the dedup exchange on the ids alone avoids hashing/comparing the
        # full float arrays (≈16 KB/row at dim=1024) for zero semantic gain
        .dropDuplicates(["a_id", "b_id"])
    )
    cos = _dot(F.col("a_emb"), F.col("b_emb")) / (
        _norm(F.col("a_emb")) * _norm(F.col("b_emb"))
    )
    return (
        pairs.select(
            "a_id", "b_id", F.floor(cos * 10000).cast("int").alias("cos_bps")
        )
        .filter(F.col("cos_bps") >= min_cos_bps)
    )


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 32,
    dim: int = 64,
    seed: int = 42,
    bits_per_band: int = 4,
    banding: str = "auto",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH-bucketed approximate cosine top-k (same output shape as
    :func:`cosine_topk`; recall < 1 by design, measured in tests).
    ``max_bucket_size`` caps CANDIDATE-side bucket size (drop_hot_buckets
    skew guard): one hot candidate bucket fans out against every query
    that lands in it."""
    planes = _hyperplanes(dim, n_bits, seed)

    def with_bands(df: DataFrame, prefix: str) -> DataFrame:
        emb = _dbl(F.col(vec_col))
        return df.select(
            F.col(id_col).alias(f"{prefix}_id"), emb.alias(f"{prefix}_emb")
        ).select(
            f"{prefix}_id",
            f"{prefix}_emb",
            F.posexplode(
                _signature_col(df.sparkSession, F.col(f"{prefix}_emb"),
                               planes, bits_per_band, banding)
            ).alias("band", "bucket"),
        )

    qb = with_bands(queries, "q")
    cb = with_bands(candidates, "c")
    if max_bucket_size is not None:
        from .dedup import drop_hot_buckets

        cb = drop_hot_buckets(cb, ("band", "bucket"), max_bucket_size)
    cand_pairs = (
        qb.join(cb, on=["band", "bucket"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "q_emb", "c_id", "c_emb")
        # ids determine the vectors — dedup on ids only (see
        # embedding_near_dups for rationale)
        .dropDuplicates(["q_id", "c_id"])
    )
    sims = cand_pairs.select(
        F.col("q_id").alias("query_id"),
        F.col("c_id").alias("neighbor_id"),
        (_dot(F.col("q_emb"), F.col("c_emb"))
         / (_norm(F.col("q_emb")) * _norm(F.col("c_emb")))).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the memory-scale path for
    ANN state: a 768-dim float32 vector (3 KB) becomes 768 int8 codes +
    one float scale (~0.77 KB), and candidate scoring becomes exact
    integer dot products (SIMD-friendly on any engine; here they also
    make the DuckDB oracle comparison EXACT, no float-ulp hazard).

    ``code_i = round(x_i * 127 / max|x|)`` (the max-abs symmetric scheme
    faiss/SQ8-style indexes use); the per-vector ``amax`` rides along so
    approximate float dots can be reconstructed as
    ``dot_int * amax_a * amax_b / 127^2``.  All-zero vectors quantize to
    all-zero codes with amax = 0.  Pure JVM higher-order functions — a
    row-local projection, no shuffle.
    """
    dbl = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(dbl, F.abs))
    codes = F.when(
        amax == 0.0,
        F.transform(dbl, lambda x: F.lit(0)),
    ).otherwise(
        F.transform(dbl, lambda x: F.round(x * 127.0 / amax).cast("int"))
    )
    return emb.select(
        F.col(id_col),
        codes.alias("codes"),
        amax.alias("amax"),
    )


def quantized_topk(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k by int8-quantized cosine: rank candidates per
    query by the INTEGER dot product of quantized codes normalized by
    integer norms.  Because per-vector scales cancel in cosine, the
    quantized cosine is ``dot_int / sqrt(n_a * n_b)`` — the ordering key
    ``dot_int^2 * sign(dot_int)`` vs ``n_a * n_b`` stays in exact integer
    arithmetic: cos_a > cos_b iff s_a * nb_b > s_b * nb_a with
    s = sign(dot)*dot^2 — no float enters the comparison, so ranks are
    engine-exact by construction (the float cosine path q18 uses needs
    double-identical expressions instead).

    Output: (query_id, rank, neighbor_id, dot_int) — integers only.
    """
    from pyspark.sql import Window

    # zero-norm (all-zero) vectors have no cosine and are excluded.  The
    # exclusion must happen HERE, on the raw vector with a short-circuit
    # `exists`, not as a post-join `n2 > 0` filter: the optimizer pushes
    # any norm filter down through the projections to the scan by alias
    # substitution, where it re-evaluates the full interpreted
    # quantize+fold chain once per row in the (single-task) scan stage —
    # measured 4 s of the old 6 s at sf1.0 (guide 1.2: fix the plan
    # shape, then the per-task work).  `exists(x != 0)` tests the
    # identical condition (a nonzero element <=> amax > 0 <=> n2 > 0 for
    # the NaN-free float vectors this operator is defined over) and
    # inspects ~1 element per row.
    emb = emb.filter(
        F.exists(F.col(vec_col), lambda x: x != F.lit(0.0))
    )
    q8 = quantize_embeddings(emb, id_col, vec_col)
    norm2 = F.aggregate(
        "codes", F.lit(0).cast("bigint"),
        lambda acc, x: acc + (x * x).cast("bigint"),
    )
    t = q8.select(id_col, "codes", norm2.alias("n2"))
    a = t.select(F.col(id_col).alias("query_id"), F.col("codes").alias("qc"),
                 F.col("n2").alias("qn"))
    b = t.select(F.col(id_col).alias("neighbor_id"), F.col("codes").alias("cc"),
                 F.col("n2").alias("cn"))
    dot = F.aggregate(
        F.zip_with("qc", "cc", lambda x, y: (x * y).cast("bigint")),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x,
    )
    # stream the CANDIDATE side and broadcast the tiny query side: the
    # planner's size estimate otherwise broadcasts the candidates and
    # streams the n_queries rows, so every pair's integer dot fold runs
    # in as many tasks as the query side has partitions (1-2) — guide
    # 3.1: pick the build side deliberately
    pairs = (
        b.crossJoin(F.broadcast(a.filter(F.col("query_id") < n_queries)))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            dot.alias("dot_int"),
            (F.col("qn") * F.col("cn")).alias("nprod"),
        )
        # ordering key: sign(dot)*dot^2 over the norm product, both held
        # exactly — s <= (127^2*dim)^2 and nprod <= (127^2*dim)^2 stay
        # under 2^53 through dim ~ 5000, so each casts to double with
        # ZERO rounding
        .select(
            "query_id", "neighbor_id", "dot_int",
            (F.signum("dot_int") * F.col("dot_int").cast("double")
             * F.col("dot_int").cast("double")).alias("s"),
            F.col("nprod").cast("double").alias("np"),
        )
    )
    # rank by s/np descending.  Engine-exactness: s and np are integers
    # represented exactly in double, and IEEE division is correctly
    # rounded, so every engine computes the IDENTICAL double for the
    # ratio — the order (and any exact-double tie, broken by id) is the
    # same everywhere.  Monotonicity of rounding also means the double
    # order never inverts the true rational order; distinct rationals
    # closer than one ulp may tie, which the id tiebreak resolves —
    # deterministically, because the tie set is engine-identical.
    ratio = F.col("s") / F.col("np")
    w = Window.partitionBy("query_id").orderBy(
        F.desc(ratio), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "dot_int")
    )


def semantic_dedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 8,
    min_cos_bps: int = 9500,
    seed: int = 42,
    centroids=None,
    max_cluster_size: int | None = None,
    cache_assignments: bool = True,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication", arXiv:2303.09540):
    cluster the embedding space, then drop near-identical points WITHIN
    each cluster only — the trick that makes semantic dedup linear-ish:
    the quadratic compare is confined to cluster-sized blocks and the
    cross-cluster compare never exists.

    Keep rule (deterministic, id-greedy): a vector is dropped iff some
    LOWER-id vector in the same cluster has cosine >= min_cos_bps/10000
    with it — the "keep first occurrence" sweep of the reference
    implementation with doc order as the priority.  Output is
    row-preserving: ``(id, list_id:int, keep:boolean)`` for every input
    vector.

    Scale shape: assignment is the broadcast-centroid GEMM pandas UDF
    (:func:`nearest_lists_udf` — no per-centroid plan literals, FAISS
    shape); the within-cluster pair join is an equi-join on the list id;
    ``n_lists`` is the quadratic-block dial (SemDeDup's paper setting
    keeps clusters ~|corpus|/n_lists small).  ``max_cluster_size``
    guards degenerate clusterings: over-cap clusters SKIP dedup (every
    member kept — conservative, never lossy), same hot-key discipline as
    ``dedup.drop_hot_buckets``.
    """
    vec = vectors.select(F.col(id_col).alias("_id"), _dbl(F.col(vec_col)).alias("_emb"))
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = vec.select(array_to_vector("_emb").alias("features"))
        km = KMeans(k=n_lists, seed=seed, maxIter=10).fit(train)
        centers = np.asarray(km.clusterCenters(), dtype=np.float64)
    else:
        centers = np.asarray(centroids, dtype=np.float64)
    spark = vectors.sparkSession
    assign1 = nearest_lists_udf(spark, centers, 1)
    assigned = vec.select(
        "_id", "_emb", assign1(F.col("_emb"))[0].alias("list_id")
    )
    if cache_assignments:
        # referenced by the a-side, b-side AND the final keep-join:
        # without persistence the pandas-UDF GEMM assignment runs 3x
        assigned = assigned.cache()
    pair_src = assigned
    if max_cluster_size is not None:
        from .dedup import drop_hot_buckets

        pair_src = drop_hot_buckets(assigned, ("list_id",), max_cluster_size)
    a = pair_src.select(
        F.col("_id").alias("a_id"), F.col("_emb").alias("a_emb"), "list_id"
    )
    b = pair_src.select(
        F.col("_id").alias("b_id"), F.col("_emb").alias("b_emb"), "list_id"
    )
    cos = _dot(F.col("a_emb"), F.col("b_emb")) / (
        _norm(F.col("a_emb")) * _norm(F.col("b_emb"))
    )
    dropped = (
        a.join(b, on="list_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("b_id", F.floor(cos * 10000).cast("int").alias("cos_bps"))
        .filter(F.col("cos_bps") >= min_cos_bps)
        .select(F.col("b_id").alias("_id"))
        .distinct()
    )
    return assigned.join(dropped.withColumn("_drop", F.lit(True)), "_id", "left").select(
        F.col("_id").alias(id_col),
        F.col("list_id").cast("int").alias("list_id"),
        F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"),
    )


def tfidf_similarity_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_cos_bps: int = 8500,
    max_df: int | None = None,
) -> DataFrame:
    """Sparse lexical document similarity: TF-IDF cosine over an
    inverted-index self-join (the all-pairs similarity-search shape of
    Bayardo et al. 2007, WWW — "Scaling Up All Pairs Similarity
    Search") — the sparse counterpart to the dense-embedding families:
    pairs meet ONLY through terms they share, so the join is an
    equi-join on the term key and the all-pairs crossJoin never exists.

    Engine-exactness discipline (the q18b int8-ANN shape), with one
    honest caveat (ADVICE r06): IDF is quantized to integer milli-nats
    once per term — both engines feed the IDENTICAL double quotient to
    one ``ln`` and round the result, but ``ln`` itself is not guaranteed
    correctly rounded across libm implementations, so a boundary
    quotient could in principle round differently (gate-verified
    identical on the fixture corpora).  Downstream of that rounding
    everything IS order-free exact: weights ``tf * idf_milli`` are
    integers, dots and squared norms are integer sums (retry-stable
    where a float SUM over shuffled rows would not be), and the final
    ``dot / (sqrt(na2) * sqrt(nb2))`` divides exactly-representable
    doubles.

    ``max_df`` is the inverted-index skew dial: a stop-term present in
    df docs fans out df^2 pair rows; dropping high-df terms before the
    join is the standard prefix-filter simplification (what it costs is
    similarity mass from terms IDF already weights toward zero).

    Output: ``(a_id, b_id, cos_bps:int)`` with a_id < b_id,
    ``cos_bps = floor(cos * 10000) >= min_cos_bps``.
    """
    from .textops import nonblank_tokens

    tok = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(nonblank_tokens(text_col)).alias("term"),
    )
    tf = tok.groupBy("_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # document frequency derives FROM the tf frame — its rows are already
    # one per (doc, term), so df is a plain count per term and the
    # tokenize+explode pass runs once instead of twice (guide 2.4); the
    # counts are identical integers to the old countDistinct form
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_df is not None:
        df_tbl = df_tbl.filter(F.col("df") <= max_df)
    n_docs = docs.agg(F.count(F.lit(1)).alias("nn"))
    w = (
        tf.join(F.broadcast(df_tbl), on="term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "_id",
            "term",
            (
                F.col("tf")
                * F.round(
                    F.log((F.col("nn") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                    * 1000
                ).cast("bigint")
            ).alias("w"),
        )
    )
    norm2 = w.groupBy("_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    a = w.select(F.col("_id").alias("a_id"), "term", F.col("w").alias("wa"))
    b = w.select(F.col("_id").alias("b_id"), "term", F.col("w").alias("wb"))
    dots = (
        a.join(b, on="term")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norm2.select(F.col("_id").alias("a_id"), F.col("n2").alias("na2"))
    nb = norm2.select(F.col("_id").alias("b_id"), F.col("n2").alias("nb2"))
    # norm2 is corpus-sized (one row per doc) — unlike the genuinely
    # vocabulary-sized df_tbl/n_docs broadcasts above, it must NOT be
    # broadcast-hinted; plain equi-joins let AQE choose at runtime
    return (
        dots.join(na, "a_id")
        .join(nb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.floor(
                F.col("dot")
                / (F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double")))
                * 10000
            )
            .cast("int")
            .alias("cos_bps"),
        )
        .filter(F.col("cos_bps") >= min_cos_bps)
    )

"""Approximate-nearest-neighbor / similarity search over embedding columns.

- ``brute_topk``   exact cosine top-k: broadcast the (small) query set against
                   the corpus — the correctness baseline and the within-bucket
                   kernel of every ANN variant.
- ``lsh_ann``      sign-LSH (random hyperplane) bucketing: vectors hash to a
                   b-bit sign code; search only the query's bucket.  The
                   bucket assignment is a vectorized pandas UDF (numpy matmul
                   over Arrow batches — no per-row Python); hyperplanes are
                   seeded, so results are deterministic.

Scale notes (100 TB posture):
- brute_topk is a broadcast-nested-loop by design: the QUERY side is tiny
  (broadcast), the corpus streams once, and the per-partition top-k is folded
  by the final window — no corpus shuffle at all until the (queries × k)-sized
  aggregate.  At 10^12 vectors this is the scan-bound scatter-gather every
  vector DB does for exact search.
- lsh_ann reduces the scan to matching buckets: corpus bucketing is
  embarrassingly parallel, the join shuffles on the bucket code, and recall
  is tuned by ``n_planes`` (fewer bits → bigger buckets → higher recall).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from influxer_spark.operators.dedup import dot_f64

LSH_SEED = 42


def brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    Output: (query_id, rank, vec_id, cos) with rank 1..k by (cos desc, vec_id
    asc) — the tiebreak makes the ordering fully deterministic.  Self-matches
    (query_id == vec_id) are excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.sqrt(dot_f64(F.col(vec_col), F.col(vec_col))).alias("qnorm"),
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cvec"),
        F.sqrt(dot_f64(F.col(vec_col), F.col(vec_col))).alias("cnorm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (dot_f64(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def _hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic random hyperplanes (seeded standard normals)."""
    rng = np.random.default_rng(LSH_SEED)
    return rng.standard_normal((dim, n_planes))


def with_lsh_bucket(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int = 8,
) -> DataFrame:
    """Attach a sign-LSH bucket code (int) to every row.

    Pure Column expressions: one left-to-right fold dot product per plane
    (plane inlined as an array literal), sign bits packed into a long.  All
    JVM-side — no Python in the bucketing path at all — and bit-identical to
    the DuckDB oracle's sequential ``list_reduce`` sum, which is what makes
    the LSH contract query value-oracle-able (a BLAS matmul's pairwise
    summation could flip the sign of a near-zero dot product; a sequential
    fold cannot diverge from the oracle's identical fold).
    """
    planes = _hyperplanes(dim, n_planes)
    vec = F.col(vec_col)
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        plane_lit = F.array(*[F.lit(float(x)) for x in planes[:, p]])
        bit = F.when(dot_f64(vec, plane_lit) > 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + (bit * F.lit(int(2**p))).cast("long")
    return df.withColumn("lsh_bucket", bucket)


def ivf_random_centroids(dim: int, n_lists: int, seed: int = LSH_SEED) -> np.ndarray:
    """Deterministic unit-norm random centroids — the data-independent coarse
    quantizer.  Data-independence is what makes the IVF contract query
    oracle-able: the same literals are inlined into the DuckDB SQL."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_lists, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def kmeans_centroids(
    sample: np.ndarray, n_lists: int, iters: int = 10, seed: int = LSH_SEED
) -> np.ndarray:
    """Driver-side Lloyd k-means over a bounded sample — the trained coarse
    quantizer for production IVF (train on a collected sample, broadcast the
    centroids; the classic faiss-style flow).  Deterministic: seeded init,
    fixed iteration count, empty clusters re-seeded from the sample."""
    rng = np.random.default_rng(seed)
    sample = np.asarray(sample, dtype=np.float64)
    cent = sample[rng.choice(len(sample), n_lists, replace=False)].copy()
    for _ in range(iters):
        d = sample @ cent.T  # cosine-proportional for normalized input
        assign = np.argmax(d, axis=1)
        for j in range(n_lists):
            members = sample[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
            else:
                cent[j] = sample[rng.integers(len(sample))]
        cent = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    return cent


def _ivf_scores_udf(centroids: np.ndarray):
    cent = np.ascontiguousarray(centroids, dtype=np.float64)

    @pandas_udf("array<int>")
    def ranked_lists(vecs: pd.Series) -> pd.Series:
        m = np.asarray(vecs.tolist(), dtype=np.float64)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        scores = (m @ cent.T) / np.maximum(norms, 1e-12)  # cosine (cent unit)
        # argsort desc with stable ties → equal scores keep ascending list id,
        # matching the oracle's ORDER BY score DESC, cid ASC
        order = np.argsort(-scores, axis=1, kind="stable")
        return pd.Series([row.astype("int32").tolist() for row in order])

    return ranked_lists


def with_ivf_list(df: DataFrame, vec_col: str, centroids: np.ndarray) -> DataFrame:
    """Assign each vector to its nearest centroid list (one numpy matmul per
    Arrow batch; centroids ride into the workers as a closure broadcast)."""
    ranked = _ivf_scores_udf(centroids)
    return df.withColumn("ivf_list", ranked(F.col(vec_col)).getItem(0))


def ivf_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    dim: int = 64,
    n_lists: int = 8,
    n_probe: int = 2,
    k: int = 10,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors land in their nearest centroid's
    inverted list; each query scans only its ``n_probe`` nearest lists.

    Scale shape: list assignment is a narrow vectorized pass; the search join
    shuffles on the (small-cardinality) list id; recall is tuned by
    n_probe/n_lists.  At 10^12 vectors the inverted lists are the partition
    keys of the vector table — probing is partition pruning.
    """
    if centroids is None:
        centroids = ivf_random_centroids(dim, n_lists)
    cb = with_ivf_list(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec")),
        "cvec", centroids,
    )
    ranked = _ivf_scores_udf(centroids)
    qb = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .withColumn("_probes", F.slice(ranked(F.col("qvec")), 1, n_probe))
        .withColumn("ivf_list", F.explode("_probes"))
        .drop("_probes")
    )
    scored = (
        cb.join(qb, on="ivf_list")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (
                dot_f64(F.col("qvec"), F.col("cvec"))
                / (
                    F.sqrt(dot_f64(F.col("qvec"), F.col("qvec")))
                    * F.sqrt(dot_f64(F.col("cvec"), F.col("cvec")))
                )
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def lsh_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    k: int = 10,
) -> DataFrame:
    """Approximate top-k: exact cosine, but only within the query's bucket.

    Recall < 1 by construction (neighbors across a hyperplane are missed);
    deterministic given the seed.  The corpus/queries join shuffles on the
    bucket code — 2^n_planes buckets bound the fan-out.
    """
    cb = with_lsh_bucket(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec")),
        "cvec", dim, n_planes,
    )
    qb = with_lsh_bucket(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")),
        "qvec", dim, n_planes,
    )
    scored = (
        cb.join(qb, on="lsh_bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (
                dot_f64(F.col("qvec"), F.col("cvec"))
                / (
                    F.sqrt(dot_f64(F.col("qvec"), F.col("qvec")))
                    * F.sqrt(dot_f64(F.col("cvec"), F.col("cvec")))
                )
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


# ---------------------------------------------------------------------------
# product quantization (PQ): m subspaces x ksub centroids -> m-byte codes
# ---------------------------------------------------------------------------

def pq_random_codebooks(
    dim: int, m: int = 8, ksub: int = 16, seed: int = LSH_SEED
) -> np.ndarray:
    """Deterministic data-independent PQ codebooks, shape (m, ksub, dim/m).

    Data-independence (seeded normal scaled to the unit-ish range of
    normalized embeddings) is what makes the PQ contract queries
    value-oracle-able: the same literals are inlined into the DuckDB SQL,
    exactly like the IVF centroids and LSH hyperplanes.  Production use
    trains them instead (:func:`pq_train_codebooks`) — the operator code
    is identical either way.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    rng = np.random.default_rng(seed)
    return rng.standard_normal((m, ksub, dim // m)) / np.sqrt(dim)


def pq_train_codebooks(
    sample: np.ndarray, m: int = 8, ksub: int = 16, iters: int = 10,
    seed: int = LSH_SEED,
) -> np.ndarray:
    """Trained codebooks: independent Lloyd k-means per subspace over a
    driver-side sample (the faiss flow: train small, broadcast, encode
    everywhere).  Deterministic like :func:`kmeans_centroids`."""
    sample = np.asarray(sample, dtype=np.float64)
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        sub = sample[:, j * dsub : (j + 1) * dsub]
        cent = sub[rng.choice(len(sub), ksub, replace=False)].copy()
        for _ in range(iters):
            d = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d, axis=1)
            for c in range(ksub):
                members = sub[assign == c]
                cent[c] = members.mean(axis=0) if len(members) else sub[
                    rng.integers(len(sub))
                ]
        books[j] = cent
    return books


def _subspace_dists_from(sub, books: np.ndarray, j: int):
    """array<double> of squared distances from a dsub-wide subvector Column
    to each of subspace j's ksub centroids — sequential left folds
    (dedup.dot_f64 discipline), so the doubles are bit-identical to the
    oracle's list_reduce."""
    _, ksub, _ = books.shape
    dists = []
    for c in range(ksub):
        cent = F.array(*[F.lit(float(x)) for x in books[j, c]])
        diff2 = F.zip_with(sub, cent, lambda a, b: (a - b) * (a - b))
        dists.append(F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x))
    return F.array(*dists)


def _subvector(vec_col: str, books: np.ndarray, j: int):
    _, _, dsub = books.shape
    return F.slice(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        j * dsub + 1, dsub,
    )


def _subspace_dists(vec_col: str, books: np.ndarray, j: int):
    """Subspace-j distances of the RAW vector (non-residual PQ)."""
    return _subspace_dists_from(_subvector(vec_col, books, j), books, j)


def _pq_code_and_min(vec_col: str, books: np.ndarray):
    """(code_cols, min_cols) for every subspace: the 0-based nearest-centroid
    index (ties -> lowest, via first-position-of-min on the exact doubles)
    and the minimal squared distance itself."""
    m = books.shape[0]
    code_cols, min_cols = [], []
    for j in range(m):
        dists = _subspace_dists(vec_col, books, j)
        code_cols.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
        min_cols.append(F.array_min(dists))
    return code_cols, min_cols


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: np.ndarray,
) -> DataFrame:
    """Encode vectors to PQ codes: per subspace, the index of the nearest
    centroid (ties -> lowest index, via first-position-of-min on the exact
    doubles).  Output (id, pq_csv, sse_e6): the m codes comma-joined and
    floor(1e6 * total squared reconstruction error).

    A 64-dim float vector becomes m=8 nibble/byte codes — the 16-32x
    memory reduction that keeps a 10^12-vector ANN index addressable.
    Everything is whole-stage-codegen Column math: encode is a narrow
    scan-side projection, no UDF, no shuffle.
    """
    code_cols, min_cols = _pq_code_and_min(vec_col, books)
    sse = min_cols[0]
    for c in min_cols[1:]:
        sse = sse + c
    return df.select(
        F.col(id_col).alias("id"),
        F.array_join(F.array(*code_cols), ",").alias("pq_csv"),
        F.floor(sse * F.lit(1000000.0)).cast("long").alias("sse_e6"),
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """PQ search by Asymmetric Distance Computation: each query builds one
    lookup table of squared distances to every centroid (m x ksub scalars),
    then every corpus CODE is scored as the sum of m table entries —
    distance math never touches the original corpus vectors again.

    Output (query_id, rank, vec_id, adist) by (adist asc, vec_id asc).

    Scale shape: the query side (with its LUTs) is tiny and broadcast; the
    corpus streams once as codes (m small ints per vector instead of dim
    floats — the point of PQ), and the per-query top-k folds through the
    final window.  This is the faiss IndexPQ scan expressed as DataFrame
    ops.
    """
    m = books.shape[0]
    codes = pq_encode(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col)),
        "vec_id", vec_col, books,
    ).select(
        F.col("id").alias("vec_id"),
        F.transform(F.split("pq_csv", ","), lambda s: s.cast("int")).alias(
            "codes"
        ),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        *[
            _subspace_dists(vec_col, books, j).alias(f"lut{j}")
            for j in range(m)
        ],
    )
    joined = codes.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    )
    adist = F.element_at(F.col("lut0"), F.element_at("codes", 1) + 1)
    for j in range(1, m):
        adist = adist + F.element_at(
            F.col(f"lut{j}"), F.element_at("codes", j + 1) + 1
        )
    scored = joined.select("query_id", "vec_id", adist.alias("adist"))
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int"), "vec_id", "adist")
    )


# ---------------------------------------------------------------------------
# codegen centroid assignment + IVF-PQ (list pruning over compressed codes)
# ---------------------------------------------------------------------------

def centroid_dots_expr(vec_col: str, centroids: np.ndarray):
    """array<double> of raw dot products vector·centroid_j — sequential
    left folds with the centroids inlined as literals, so the doubles are
    bit-identical to the oracle's ``list_reduce`` (the dot_f64 discipline).
    Raw dots order clusters exactly like cosine for a fixed vector (its norm
    is one positive scalar), without the quotient's extra rounding step that
    could merge two distinct scores."""
    dots = []
    for c in centroids:
        lit = F.array(*[F.lit(float(x)) for x in c])
        dots.append(dot_f64(F.col(vec_col), lit))
    return F.array(*dots)


def nearest_centroid_expr(vec_col: str, centroids: np.ndarray):
    """0-based id of the max-dot centroid; ties -> lowest id (first position
    of the max), matching the oracle's ORDER BY dot DESC, cid ASC.  Pure
    whole-stage-codegen Column math — unlike :func:`with_ivf_list`'s numpy
    matmul (BLAS pairwise sums), this is value-oracle-safe even when two
    centroid scores are a ULP apart."""
    dots = centroid_dots_expr(vec_col, centroids)
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def probe_lists_expr(vec_col: str, centroids: np.ndarray, n_probe: int):
    """array<int> of the ``n_probe`` highest-dot centroid ids, ordered by
    (dot desc, id asc).  Implemented as array_sort over (negated dot, id)
    structs — negation is IEEE-exact, so the ordering is identical to the
    oracle's window rank."""
    ranked = F.array_sort(
        F.array(*[
            F.struct(
                (-dot_f64(F.col(vec_col),
                          F.array(*[F.lit(float(x)) for x in c]))).alias("neg"),
                F.lit(cid).cast("int").alias("cid"),
            )
            for cid, c in enumerate(centroids)
        ])
    )
    return F.slice(F.transform(ranked, lambda s: s.cid), 1, n_probe)


def _residual_subvector(vec_col: str, list_col: str, centroids: np.ndarray,
                        books: np.ndarray, j: int):
    """Subvector j of (vector - its list's coarse centroid): the coarse
    centroid row is selected by the data-dependent list id from an inlined
    array-of-arrays literal, sliced, and subtracted elementwise (exact IEEE,
    oracle-mirrorable)."""
    _, _, dsub = books.shape
    coarse = F.element_at(
        F.array(*[
            F.array(*[F.lit(float(x)) for x in c]) for c in centroids
        ]),
        F.col(list_col) + 1,
    )
    return F.zip_with(
        _subvector(vec_col, books, j),
        F.slice(coarse, j * dsub + 1, dsub),
        lambda a, b: a - b,
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
    k: int = 10,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ: coarse centroids prune the search to ``n_probe`` inverted
    lists; within them, vectors are scored from their PQ codes by ADC.
    This is the composition that serves 10^12 vectors: the list id is the
    vector table's partition key (probing = partition pruning) and each
    vector is m small ints, not dim floats (the index fits in memory).

    ``residual=True`` is the faiss IndexIVFPQ default: codes quantize
    (vector - coarse centroid) and each query builds one LUT PER PROBED
    LIST from its own residual against that list's centroid — finer codes
    where the coarse quantizer already explains most of the vector.
    ``residual=False`` quantizes the raw vector (one LUT per query,
    list-independent).  Both stay whole-stage codegen end to end.

    Output (query_id, rank, vec_id, adist) by (adist asc, vec_id asc).
    """
    m = books.shape[0]
    if residual:
        query_sub = lambda j: _residual_subvector(  # noqa: E731
            vec_col, "ivf_list", centroids, books, j
        )
    else:
        query_sub = lambda j: _subvector(vec_col, books, j)  # noqa: E731
    cb = _ivfpq_codes(corpus, id_col, vec_col, centroids, books, residual)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col),
        F.explode(probe_lists_expr(vec_col, centroids, n_probe)).alias(
            "ivf_list"
        ),
    ).select(
        "query_id",
        "ivf_list",
        *[
            _subspace_dists_from(query_sub(j), books, j).alias(f"lut{j}")
            for j in range(m)
        ],
    )
    joined = cb.join(F.broadcast(q), on="ivf_list").filter(
        F.col("vec_id") != F.col("query_id")
    )
    adist = F.element_at(F.col("lut0"), F.col("c0") + 1)
    for j in range(1, m):
        adist = adist + F.element_at(F.col(f"lut{j}"), F.col(f"c{j}") + 1)
    scored = joined.select("query_id", "vec_id", adist.alias("adist"))
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int"), "vec_id", "adist")
    )


def ivf_pq_refine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
    k: int = 10,
    refine_factor: int = 4,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ + exact re-rank (faiss ``IndexRefineFlat`` composition): ADC
    nominates ``refine_factor·k`` candidates per query, ONE equi-join back to
    the raw vector table rescores exactly those rows with exact cosine, and
    the final top-k orders by the exact score.

    Why this is the production ANN shape: pure ADC top-k inherits PQ's
    quantization error in the final RANKING, while pure exact search scans
    every vector.  Refine pays exact math on only ``refine_factor·k`` rows
    per query — at 10^12 vectors the raw-vector join is a point-lookup
    pattern (candidate ids → the id-partitioned vector table, bloom/minmax
    pruned), so recall approaches exact search at ADC scan cost.  Output
    (query_id, rank, vec_id, cos) like :func:`brute_topk`.
    """
    cand = ivf_pq_topk(
        corpus, queries, centroids, books, id_col, vec_col,
        n_probe=n_probe, k=k * refine_factor, residual=residual,
    ).select("query_id", "vec_id")
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cvec"),
        F.sqrt(dot_f64(F.col(vec_col), F.col(vec_col))).alias("cnorm"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.sqrt(dot_f64(F.col(vec_col), F.col(vec_col))).alias("qnorm"),
    )
    scored = (
        cand.join(c, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "vec_id",
            (
                dot_f64(F.col("qvec"), F.col("cvec"))
                / (F.col("qnorm") * F.col("cnorm"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int"), "vec_id", "cos")
    )


def centroid_cosine(
    df: DataFrame,
    group_col: str,
    vec_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Embedding-space drift/segment map: cosine similarity between the
    CENTROIDS of every pair of groups (crawl days, languages, sources,
    cluster labels) — "did the new shard land where yesterday's corpus
    lives, or somewhere new?".  Complements the value-distribution drift
    monitor (``hdrsketch.hdr_tvd_drift``) with its embedding-space twin.

    Determinism discipline: components are quantized to ``scale`` ticks
    (exact BIGINT, so the per-(group, position) sums are order-free —
    a float Σ would drift with partial-agg order), and the pair cosine
    is an ordered left-to-right fold over positions (``dedup.dot_f64``),
    so a DuckDB replay of the same integer sums matches bit-for-bit.
    Both the doc count n and ``scale`` cancel in the cosine:
    cos(Σa/n₁s, Σb/n₂s) = Σ(sa·sb) / (‖sa‖·‖sb‖) on the raw tick sums.

    Scale: posexplode inflates rows ×dim but map-side combine collapses
    to (groups · dim) partials before the one shuffle; the pair join is
    over GROUP-level rows (dim-long arrays), broadcastable at any corpus
    size.  Overflow: |Σ ticks| ≤ n_g · scale · max|component| must stay
    under 2⁶³ — at scale 10⁶ and unit-normalized components that allows
    ~9·10¹² docs per group.

    Output: (g1, g2, n1, n2, cos) for every unordered pair, g1 < g2.
    """
    from influxer_spark.operators.dedup import dot_f64

    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * scale, 0).cast("long"),
    )
    e = df.select(
        F.col(group_col).alias("g"), F.posexplode(q).alias("pos", "q")
    )
    sums = e.groupBy("g", "pos").agg(F.sum("q").alias("s"))
    arrs = sums.groupBy("g").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "s"))),
            lambda x: x.getField("s"),
        ).alias("v")
    )
    n = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).alias("n")
    )
    sides = arrs.join(n, "g")
    x, y = sides.alias("x"), sides.alias("y")
    dot = dot_f64(F.col("x.v"), F.col("y.v"))
    nx = F.sqrt(dot_f64(F.col("x.v"), F.col("x.v")))
    ny = F.sqrt(dot_f64(F.col("y.v"), F.col("y.v")))
    return (
        x.join(F.broadcast(y), F.col("x.g") < F.col("y.g"))
        .select(
            F.col("x.g").alias("g1"),
            F.col("y.g").alias("g2"),
            F.col("x.n").alias("n1"),
            F.col("y.n").alias("n2"),
            (dot / (nx * ny)).alias("cos"),
        )
    )


def build_ivf_index(
    spark,
    catalog,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    dim: int = 64,
    n_lists: int = 8,
) -> list[str]:
    """PERSIST an IVF index in the catalog — the faiss build/search split
    made lakehouse-shaped: train/assign once, then every query session
    reads the stored index instead of re-scanning the corpus.

    Layout: ``ivf_centroids`` (one tiny partition) and ``ivf_postings``
    partitioned BY INVERTED LIST — so probing n of N lists at query time
    is MANIFEST-LEVEL PARTITION PRUNING, the property that makes IVF the
    scalable ANN tier at 10¹² vectors (read n_probe/n_lists of the
    bytes, not a filter over all of them).  n_lists and the vector
    column are pinned as table properties; a reader probing against
    different centroids would silently search the wrong geometry.
    """
    if centroids is None:
        centroids = ivf_random_centroids(dim, n_lists)
    assigned = with_ivf_list(
        corpus.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec")
        ),
        "cvec",
        centroids,
    ).withColumn("plist", F.col("ivf_list").cast("string"))
    lists = [str(i) for i in range(len(centroids))]
    catalog.write_partitions(assigned, "ivf_postings", lists, day_col="plist")
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(centroids)],
        "ivf_list int, centroid array<double>",
    ).withColumn("plist", F.lit("all"))
    catalog.write_partitions(cent_df, "ivf_centroids", ["all"], day_col="plist")
    for t in ("ivf_postings", "ivf_centroids"):
        catalog.set_table_property(t, "ivf_n_lists", int(len(centroids)))
        catalog.set_table_property(t, "ivf_vec_col", vec_col)
    return lists


def ivf_search_index(
    spark,
    catalog,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
    k: int = 10,
) -> DataFrame:
    """Search the catalog-persisted IVF index: load the (tiny) stored
    centroids, rank each query's probe lists, then read ONLY the probed
    lists' posting partitions (manifest pruning — the collect is over
    ≤ n_lists ints, never vectors).  Result is identical to
    :func:`ivf_ann` with the same centroids — the index just makes the
    corpus side a stored, pruned read instead of a full assignment scan.
    """
    cent_rows = sorted(
        (r["ivf_list"], r["centroid"])
        for r in catalog.read_partitions(
            spark, "ivf_centroids", ["all"]
        ).collect()
    )
    centroids = np.asarray([c for _, c in cent_rows], dtype=np.float64)
    ranked = _ivf_scores_udf(centroids)
    qb = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
        .withColumn("_probes", F.slice(ranked(F.col("qvec")), 1, n_probe))
        .withColumn("ivf_list", F.explode("_probes"))
        .drop("_probes")
    )
    probed = sorted(
        {r["ivf_list"] for r in qb.select("ivf_list").distinct().collect()}
    )
    cb = catalog.read_partitions(
        spark, "ivf_postings", [str(p) for p in probed]
    )
    if cb is None:
        raise FileNotFoundError(
            f"ivf index has no postings for probed lists {probed}"
        )
    scored = (
        cb.join(qb, on="ivf_list")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (
                dot_f64(F.col("qvec"), F.col("cvec"))
                / (
                    F.sqrt(dot_f64(F.col("qvec"), F.col("qvec")))
                    * F.sqrt(dot_f64(F.col("cvec"), F.col("cvec")))
                )
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


# ---------------------------------------------------------------------------
# catalog-persisted IVF-PQ index (codes-only postings + incremental extend)
# ---------------------------------------------------------------------------

def _ivfpq_codes(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    books: np.ndarray,
    residual: bool,
) -> DataFrame:
    """(vec_id, ivf_list, c0..c{m-1}) — the stored shape of an IVF-PQ
    posting: the coarse list id plus m small ints, NEVER the raw vector.
    Identical expression tree to :func:`ivf_pq_topk`'s corpus side, so a
    search over stored codes is bit-equal to the in-memory operator."""
    m = books.shape[0]
    if residual:
        sub = lambda j: _residual_subvector(  # noqa: E731
            vec_col, "ivf_list", centroids, books, j
        )
    else:
        sub = lambda j: _subvector(vec_col, books, j)  # noqa: E731
    assigned = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col),
        nearest_centroid_expr(vec_col, centroids).alias("ivf_list"),
    )
    code_cols = []
    for j in range(m):
        d = _subspace_dists_from(sub(j), books, j)
        code_cols.append(
            (F.array_position(d, F.array_min(d)) - 1).cast("int").alias(f"c{j}")
        )
    return assigned.select("vec_id", "ivf_list", *code_cols)


def build_ivfpq_index(
    spark,
    catalog,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    books: np.ndarray | None = None,
    dim: int = 64,
    n_lists: int = 8,
    m: int = 8,
    ksub: int = 16,
    residual: bool = False,
) -> list[str]:
    """Persist an IVF-PQ index: ``ivfpq_postings`` partitioned BY INVERTED
    LIST holding only (vec_id, m int codes) — the faiss IndexIVFPQ layout
    as catalog tables.  At 10^12 vectors this is the index that actually
    fits: probing is manifest-level partition pruning (read n_probe/n_lists
    of the bytes) and each posting is m small ints, not dim floats (~32x
    smaller rows).  Centroids and codebooks are persisted beside the
    postings so a later session searches with the exact geometry the codes
    were built with; residual/m/ksub are pinned as table properties."""
    if centroids is None:
        centroids = ivf_random_centroids(dim, n_lists)
    if books is None:
        books = pq_random_codebooks(dim, m=m, ksub=ksub)
    m, ksub, _ = books.shape
    codes = _ivfpq_codes(corpus, id_col, vec_col, centroids, books, residual)
    lists = [str(i) for i in range(len(centroids))]
    catalog.write_partitions(
        codes.withColumn("plist", F.col("ivf_list").cast("string")),
        "ivfpq_postings", lists, day_col="plist",
    )
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(centroids)],
        "ivf_list int, centroid array<double>",
    ).withColumn("plist", F.lit("all"))
    catalog.write_partitions(cent_df, "ivfpq_centroids", ["all"], day_col="plist")
    book_df = spark.createDataFrame(
        [
            (j, c, [float(x) for x in books[j, c]])
            for j in range(m)
            for c in range(ksub)
        ],
        "j int, c int, vals array<double>",
    ).withColumn("plist", F.lit("all"))
    catalog.write_partitions(book_df, "ivfpq_books", ["all"], day_col="plist")
    for t in ("ivfpq_postings", "ivfpq_centroids", "ivfpq_books"):
        catalog.set_table_property(t, "ivfpq_n_lists", int(len(centroids)))
        catalog.set_table_property(t, "ivfpq_m", int(m))
        catalog.set_table_property(t, "ivfpq_ksub", int(ksub))
        catalog.set_table_property(t, "ivfpq_residual", bool(residual))
        catalog.set_table_property(t, "ivfpq_vec_col", vec_col)
    return lists


def _load_ivfpq_geometry(spark, catalog) -> tuple[np.ndarray, np.ndarray, bool]:
    cent_rows = sorted(
        (r["ivf_list"], r["centroid"])
        for r in catalog.read_partitions(
            spark, "ivfpq_centroids", ["all"]
        ).collect()
    )
    centroids = np.asarray([c for _, c in cent_rows], dtype=np.float64)
    m = int(catalog.table_property("ivfpq_postings", "ivfpq_m"))
    ksub = int(catalog.table_property("ivfpq_postings", "ivfpq_ksub"))
    residual = bool(catalog.table_property("ivfpq_postings", "ivfpq_residual"))
    book_rows = catalog.read_partitions(
        spark, "ivfpq_books", ["all"]
    ).collect()
    dsub = len(book_rows[0]["vals"])
    books = np.empty((m, ksub, dsub))
    for r in book_rows:
        books[r["j"], r["c"]] = r["vals"]
    return centroids, books, residual


def extend_ivfpq_index(
    spark,
    catalog,
    shard: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[str]:
    """Incrementally add a shard to the persisted index: encode the new
    vectors with the STORED geometry, then rewrite only the affected list
    partitions (existing postings ∪ new codes) in one wave commit.  The
    untouched lists keep their bytes and manifest entries; the snapshot
    history records the append (time travel shows the pre-extend index).
    After extend, a search is bit-equal to a from-scratch build over the
    union corpus — pinned by pytest."""
    centroids, books, residual = _load_ivfpq_geometry(spark, catalog)
    new_codes = _ivfpq_codes(
        shard, id_col, vec_col, centroids, books, residual
    )
    affected = sorted(
        r["ivf_list"] for r in new_codes.select("ivf_list").distinct().collect()
    )
    existing = catalog.read_partitions(
        spark, "ivfpq_postings", [str(a) for a in affected]
    )
    merged = new_codes
    if existing is not None:
        # MERGE on vec_id, not blind append: stored rows whose id arrives
        # again are REPLACED, so replaying an already-committed batch (the
        # foreachBatch at-least-once edge) and re-crawled vectors that
        # re-encode into the same list are both idempotent.  A vector whose
        # NEW embedding lands in a different list leaves its old posting in
        # the unrewritten list — full cross-list upsert needs a tombstone
        # pass or rebuild (documented; same trade Iceberg MERGE makes when
        # the partition key itself changes).
        old = (
            existing.select(*new_codes.columns)
            .join(new_codes.select("vec_id"), on="vec_id", how="left_anti")
        )
        merged = old.unionByName(new_codes)
    catalog.write_partitions(
        merged.withColumn("plist", F.col("ivf_list").cast("string")),
        "ivfpq_postings", [str(a) for a in affected], day_col="plist",
    )
    return [str(a) for a in affected]


def ivfpq_search_index(
    spark,
    catalog,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
    k: int = 10,
) -> DataFrame:
    """ADC search over the persisted index: rank probe lists against the
    stored centroids, read ONLY those posting partitions (manifest
    pruning), build one LUT per (query, probed list) from the stored
    codebooks, and score stored codes by m table lookups.  Bit-identical
    to :func:`ivf_pq_topk` with the same geometry — the index changes
    where the corpus side comes from, never the scores."""
    centroids, books, residual = _load_ivfpq_geometry(spark, catalog)
    m = books.shape[0]
    if residual:
        qsub = lambda j: _residual_subvector(  # noqa: E731
            vec_col, "ivf_list", centroids, books, j
        )
    else:
        qsub = lambda j: _subvector(vec_col, books, j)  # noqa: E731
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col),
        F.explode(probe_lists_expr(vec_col, centroids, n_probe)).alias(
            "ivf_list"
        ),
    ).select(
        "query_id",
        "ivf_list",
        *[
            _subspace_dists_from(qsub(j), books, j).alias(f"lut{j}")
            for j in range(m)
        ],
    )
    probed = sorted(
        {r["ivf_list"] for r in q.select("ivf_list").distinct().collect()}
    )
    cb = catalog.read_partitions(
        spark, "ivfpq_postings", [str(p) for p in probed]
    )
    if cb is None:
        raise FileNotFoundError(
            f"ivfpq index has no postings for probed lists {probed} — "
            "extend the index before searching"
        )
    joined = cb.join(F.broadcast(q), on="ivf_list").filter(
        F.col("vec_id") != F.col("query_id")
    )
    adist = F.element_at(F.col("lut0"), F.col("c0") + 1)
    for j in range(1, m):
        adist = adist + F.element_at(F.col(f"lut{j}"), F.col(f"c{j}") + 1)
    scored = joined.select("query_id", "vec_id", adist.alias("adist"))
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int"), "vec_id", "adist")
    )


def _sq8_codes(vec_col: str):
    """Symmetric per-vector int8 quantization (sampling.quantize_embeddings_
    int8's exact rule: ``scale = max|x| / 127``, ``q = floor(x/scale + 0.5)``)
    plus the code self-dot as an exact BIGINT.  Pure Column expressions."""
    xd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    mx = F.array_max(F.transform(xd, lambda x: F.abs(x)))
    q = F.transform(
        xd,
        lambda x: F.when(
            mx > 0.0,
            F.floor(x / (mx / F.lit(127.0)) + F.lit(0.5)).cast("int"),
        ).otherwise(F.lit(0)),
    )
    qq = F.aggregate(
        F.transform(q, lambda c: (c.cast("long") * c.cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return q, qq


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Scalar-quantized (SQ8) cosine top-k — the faiss IndexScalarQuantizer
    tier between exact float scan and PQ codes: both sides quantize to int8
    (4x smaller corpus rows than float32, 8x than the float64 scan), the
    pair score is an EXACT BIGINT dot product over the codes, and cosine in
    quantized space divides both per-vector scales out entirely::

        cos8 = dot(q_a, q_b) / (sqrt(dot(q_a,q_a)) * sqrt(dot(q_b,q_b)))

    so the ranking reduces to exact integers plus two correctly-rounded
    IEEE ops (sqrt, divide) — bit-reproducible across engines, hence fully
    value-oracle-able, unlike any float-accumulation ANN score.

    Scale posture: identical to brute_topk's scatter-gather (query side
    broadcast, corpus streams once, WindowGroupLimit folds per-partition
    top-k before the one (queries x k)-sized exchange) — but the corpus
    scan reads int8 codes, not floats.  At 10^12 vectors SQ8 is the widest
    index faiss deploys before IVF pruning; compose with IVF lists the same
    way ivf_pq_topk does for the pruned variant.

    Output: (query_id, rank, vec_id, dot_int, cos8), rank 1..k by
    (cos8 desc, vec_id asc); zero vectors (all-zero codes) are excluded
    from both sides — cosine is undefined for them.
    """
    cq, cqq = _sq8_codes(vec_col)
    c = corpus.select(
        F.col(id_col).alias("vec_id"), cq.alias("cq"), cqq.alias("cqq")
    ).filter(F.col("cqq") > 0)
    qq_codes, qqq = _sq8_codes(vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), qq_codes.alias("qq"), qqq.alias("qqq")
    ).filter(F.col("qqq") > 0)
    dot_int = F.aggregate(
        F.zip_with(
            F.col("qq"), F.col("cq"), lambda a, b: a.cast("long") * b.cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        c.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            dot_int.alias("dot_int"),
            (
                dot_int.cast("double")
                / (F.sqrt(F.col("qqq").cast("double")) * F.sqrt(F.col("cqq").cast("double")))
            ).alias("cos8"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos8"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int"), "vec_id", "dot_int", "cos8")
    )

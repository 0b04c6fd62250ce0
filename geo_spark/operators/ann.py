"""Approximate / exact nearest-neighbor search over embedding columns.

- ``cosine_topk``: brute-force exact top-k by cosine similarity. The dot
  product and norms are higher-order SQL (`aggregate`/`zip_with`) — JVM-side,
  no Python. Scale path: the query side is broadcast (queries ≪ corpus), so
  the corpus is scanned once with no shuffle; top-k is a window per query.
- ``lsh_topk``: random-hyperplane LSH (sign sketch, fixed seed) bucketing the
  corpus; queries probe their own bucket (+ optional multi-probe neighbors
  at Hamming distance 1), then exact-rescore within candidates. At 100 TB
  the bucket join replaces the full scan with a hash-partitioned equi-join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double"),
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + (v * v).cast("double"))
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity (brute force).

    Returns (qid, vec_id, cosine, rank), rank 1..k by descending cosine,
    ties broken by ascending corpus id.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("_cvec"))
    joined = c.crossJoin(F.broadcast(q))
    denom = _norm(F.col("_qvec")) * _norm(F.col("_cvec"))
    cos = F.when(denom == 0, F.lit(0.0)).otherwise(_dot(F.col("_qvec"), F.col("_cvec")) / denom)
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        joined.withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("_qvec", "_cvec")
    )


def _hyperplanes(dim: int, n_bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_bits, dim)).astype(np.float64)


def sign_sketch_udf(dim: int, n_bits: int = 16, seed: int = 42, planes: np.ndarray | None = None):
    """pandas UDF: embedding → int64 random-hyperplane sign sketch.

    ``planes`` overrides the seeded Gaussian hyperplanes (e.g. the
    deterministic ``sin_planes`` so an external oracle can reproduce the
    buckets)."""
    H = planes if planes is not None else _hyperplanes(dim, n_bits, seed)

    @F.pandas_udf(T.LongType())
    def sketch(vec: pd.Series) -> pd.Series:
        M = np.asarray([np.asarray(v, dtype=np.float64) for v in vec])
        signs = (M @ H.T) > 0  # (n, n_bits)
        weights = (1 << np.arange(n_bits, dtype=np.int64))[None, :]
        return pd.Series((signs * weights).sum(axis=1).astype(np.int64))

    return sketch


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_bits: int = 12,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    planes: np.ndarray | None = None,
) -> DataFrame:
    """LSH-bucketed ANN: bucket equi-join + exact cosine rescore.

    Recall < 1 by design; rank/tie semantics match ``cosine_topk`` within the
    candidate set. ``planes`` (e.g. ``sin_planes``) makes the bucketing
    oracle-reproducible.
    """
    sketch = sign_sketch_udf(dim, n_bits, planes=planes)
    c = corpus.select(id_col, F.col(vec_col).alias("_cvec")).withColumn(
        "bucket", sketch(F.col("_cvec"))
    )
    q = queries.select(query_id_col, F.col(vec_col).alias("_qvec")).withColumn(
        "bucket0", sketch(F.col("_qvec"))
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket0"),
            *[F.col("bucket0").bitwiseXOR(F.lit(1 << b)) for b in range(n_bits)],
        )
        q = q.withColumn("bucket", F.explode(probes))
    else:
        q = q.withColumn("bucket", F.col("bucket0"))
    cand = q.join(c, "bucket").drop("bucket", "bucket0")
    denom = _norm(F.col("_qvec")) * _norm(F.col("_cvec"))
    cos = F.when(denom == 0, F.lit(0.0)).otherwise(_dot(F.col("_qvec"), F.col("_cvec")) / denom)
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        cand.withColumn("cosine", cos)
        .dropDuplicates([query_id_col, id_col])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("_qvec", "_cvec")
    )


def sin_planes(dim: int = 64, n_planes: int = 64) -> np.ndarray:
    """Deterministic quasi-random hyperplanes H[p,i] = sin(p*dim + i + 1).

    Both engines can synthesize these (numpy here, ``SIN()`` in the DuckDB
    oracle), so sketch buckets — and therefore the exact candidate set of
    the banded LSH — are reproducible outside Spark."""
    k = np.arange(1, n_planes * dim + 1, dtype=np.float64).reshape(n_planes, dim)
    return np.sin(k)


def cosine_near_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int = 64,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: np.ndarray | None = None,
    max_bucket: int = 2000,
) -> DataFrame:
    """Embedding near-duplicate pairs (id_a < id_b, cosine ≥ threshold).

    Banded random-hyperplane LSH: ``n_planes`` sign bits split into
    ``bands`` tables; vectors sharing any table's bucket become candidates
    (self-join on the bucket id — the 100 TB shape: no all-pairs anywhere),
    then the exact cosine (JVM higher-order SQL) filters. Recall for
    cosine ≥ 0.9 with 8×8-bit tables is ≈ 99.9%+ at near-dup similarity.
    Buckets over ``max_bucket`` rows (duplicate-heavy shards) take the O(n)
    identical-vector chain path (``banded_candidate_pairs``).

    Pair-completeness guarantee: for buckets within ``max_bucket`` the pair
    set is complete; oversized (duplicate-heavy) buckets emit a
    TRANSITIVELY-complete cover — identical-payload chains plus
    representative cross-pairs — so consumers needing duplicate GROUPS must
    take connected components over the pairs (as ``dedup_tiered``'s min-id
    drop rule effectively does), not assume every qualifying pair appears.
    """
    from geo_spark.operators.dedup import banded_candidate_pairs, ensure_parallelism

    H = planes if planes is not None else _hyperplanes(dim, n_planes, seed=7)
    b = n_planes // bands
    weights = 1 << np.arange(b, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def band_udf(vec: pd.Series) -> pd.Series:
        M = np.asarray([np.asarray(v, dtype=np.float64) for v in vec])
        signs = (M @ H.T) >= 0  # (n, n_planes)
        vals = np.stack(
            [(signs[:, t * b : (t + 1) * b] * weights).sum(axis=1) for t in range(bands)],
            axis=1,
        ).astype(np.int64)
        return pd.Series(list(vals))

    d = ensure_parallelism(df, heavy=True).select(F.col(id_col), F.col(vec_col).alias("_vec"))
    banded = (
        d.withColumn("_b", band_udf(F.col("_vec")))
        .select(id_col, "_vec", F.posexplode("_b").alias("band_idx", "band_hash"))
        .localCheckpoint(eager=False)
    )
    pairs = banded_candidate_pairs(banded, id_col, "_vec", max_bucket)
    denom = _norm(F.col("_vec_a")) * _norm(F.col("_vec_b"))
    cos = F.when(denom == 0, F.lit(0.0)).otherwise(
        _dot(F.col("_vec_a"), F.col("_vec_b")) / denom
    )
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .drop("_vec_a", "_vec_b")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids,
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
) -> DataFrame:
    """IVF (inverted-file) top-k — the coarse-quantizer ANN scale path.

    ``centroids``: (n_cells, dim) array, the pretrained/known coarse
    quantizer (the faiss ``IndexIVF`` shape: assignment by max inner
    product). Corpus vectors land in their top-1 cell (one vectorized
    numpy pUDF, NO shuffle); each query probes its ``nprobe`` nearest
    cells; candidates meet through a hash-partitioned equi-join on the
    cell id — at 100 TB this replaces the brute-force full scan with
    |corpus|/n_cells-sized buckets — and are exactly rescored by cosine
    with a per-query top-k window. Returns (qid, vec_id, cosine, rank).

    Recall is the standard IVF trade (quantizer + nprobe); the exact
    twin for small query sets is ``cosine_topk``.
    """
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(vec: pd.Series) -> pd.Series:
        # one (batch, dim) × (dim, cells) matmul + row-wise argsort — the
        # query side needs the nprobe nearest cells in order
        M = np.asarray([np.asarray(v, dtype=np.float64) for v in vec])
        if len(M) == 0:
            return pd.Series([], dtype=object)
        D = M @ C.T
        idx = np.argsort(-D, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([[int(x) for x in row] for row in idx])

    @F.pandas_udf(T.IntegerType())
    def assign(vec: pd.Series) -> pd.Series:
        # corpus-side assignment is the |corpus|-scale hot path and only
        # needs the argmax cell (first max == stable-argsort[0])
        M = np.asarray([np.asarray(v, dtype=np.float64) for v in vec])
        if len(M) == 0:
            return pd.Series([], dtype=np.int32)
        return pd.Series(np.argmax(M @ C.T, axis=1).astype(np.int32))

    cor = corpus.select(
        F.col(id_col), F.col(vec_col).alias("_cvec")
    ).withColumn("_cell", assign("_cvec"))
    q = (
        queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
        .withColumn("_cell", F.explode(probes("_qvec")))
    )
    # no broadcast hint: the probe side grows with the query set, so the
    # planner (and AQE at runtime) decides from its size whether the corpus
    # avoids the shuffle
    cand = cor.join(q, "_cell")
    denom = _norm(F.col("_qvec")) * _norm(F.col("_cvec"))
    cos = F.when(denom == 0, F.lit(0.0)).otherwise(
        _dot(F.col("_qvec"), F.col("_cvec")) / denom
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )

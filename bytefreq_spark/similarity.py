"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the correctness baseline: native
  ``zip_with``/``aggregate`` dot products (JVM-side, no UDF), full scan +
  ``orderBy desc limit k`` (Spark plans TakeOrderedAndProject — no global
  sort materialization).
* LSH-bucketed ANN — the scale path: random-hyperplane signatures
  (deterministic planes from a seed) → candidates share a bucket → exact
  rescoring only within buckets.  At 100 TB the full scan per query dies;
  bucketing bounds each query to a partition-pruned slice.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf resolves 'pd.Series' hints here
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import bucket_pairs


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(_dot(a, a))


def cosine_sim_col(a, b) -> F.Column:
    # try_divide: a zero vector has undefined cosine → NULL (sorted last),
    # instead of an ANSI DIVIDE_BY_ZERO crash taking down the whole scan
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame, query_vec: list[float], k: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Cosine top-k against a literal query vector: the brute-force scan
    over ``df``, and the exact rescoring tail every ANN search (IVF, LSH)
    applies to its candidate set."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = df.select(
        F.col(id_col),
        F.round(cosine_sim_col(F.col(vec_col), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def pairwise_topk(
    df: DataFrame, probe_ids: list[int], k: int = 5,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Top-k neighbors for a small probe set: broadcast the probes, one scan."""
    probes = df.filter(F.col(id_col).isin(probe_ids)).select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
    )
    joined = df.crossJoin(F.broadcast(probes)).filter(
        F.col(id_col) != F.col("probe_id")
    )
    scored = joined.select(
        "probe_id", F.col(id_col),
        F.round(cosine_sim_col(F.col(vec_col), F.col("probe_vec")), 6).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def make_planes(dim: int, n_planes: int = 12, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def _fits(vecs: pd.Series, dim: int) -> np.ndarray:
    """Rows holding a non-NULL vector of length ``dim``.  Every vector
    kernel's pandas UDF calls it, so unpickling the UDF on a worker imports
    the package (and runs its per-process worker setup) even though
    cloudpickle ships the UDF's closure by value."""
    return np.fromiter((v is not None and len(v) == dim for v in vecs),
                       dtype=bool, count=len(vecs))


def _seq_dot(xa: np.ndarray, xb: np.ndarray) -> np.ndarray:
    """Row-wise dot products of two ``(n, dim)`` float64 arrays, each a left
    fold from ``0.0`` over the dimensions in order — the IEEE operation
    sequence of ``_dot``'s ``aggregate``.  The fold runs over 256-row
    blocks: a block's products are transposed to ``(dim, 256)`` so that
    each of the ``dim`` adds is a contiguous vector op on a cache-resident
    slice: 8,211 × 768 pairs fold in ~36 ms, against ~150 ms for a loop of
    strided column adds over all rows (one core of a 4-CPU host)."""
    out = np.empty(len(xa), dtype=np.float64)
    for s in range(0, len(xa), 256):
        p = (xa[s:s + 256] * xb[s:s + 256]).T.copy()
        acc = np.zeros(p.shape[1], dtype=np.float64)
        for row in p:
            acc += row
        out[s:s + 256] = acc
    return out


def hyperplane_signature_udf(planes: np.ndarray):
    """Arrow-vectorized hyperplane signature: one (batch × dim) @ (dim ×
    n_planes) matmul per batch.  NULL and ragged vectors (length ≠ dim)
    yield signature 0, as the native literal-tree expression kept with the
    tests (``hyperplane_signature_col``) does."""
    p_t = planes.astype(np.float64).T.copy()
    n_planes, dim = planes.shape
    weights = np.left_shift(
        np.uint64(1), np.arange(n_planes, dtype=np.uint64)
    )

    @F.pandas_udf("long")
    def sig(vecs: pd.Series) -> pd.Series:
        ok = _fits(vecs, dim)
        out = np.zeros(len(vecs), dtype=np.uint64)
        if ok.any():
            x = np.array(vecs[ok].tolist(), dtype=np.float64)
            bits = (x @ p_t) >= 0
            out[ok] = (bits.astype(np.uint64) * weights[None, :]).sum(axis=1)
        return pd.Series(out.astype(np.int64))

    return sig


def seq_dot_udf(dim: int):
    """Arrow pairwise dot product, BIT-IDENTICAL to ``_dot`` (the
    ``zip_with``/``aggregate`` expression): float32→float64 widening is
    exact, and accumulating one dimension at a time reproduces the JVM
    fold's sequence of IEEE operations (``_seq_dot``) — so a caller that
    keeps the norm/divide/round arithmetic JVM-side gets byte-identical
    cosines.  The kernel gives a NULL or ragged pair NaN, and the pandas-UDF
    return path turns that NaN into NULL, as the expression path's NULL.
    The NULL is what a threshold filter drops: Spark orders NaN above every
    number, so ``NaN >= 0.99`` is true.

    Exists for the near-dup rescore (r8): the candidate set is
    quadratic-ish in bucket size and the interpreted higher-order-function
    dot was the last per-pair cost — interleaved min-of-5 reads −23% on
    the bench corpus with this kernel."""

    @F.pandas_udf("double")
    def dot(a: pd.Series, b: pd.Series) -> pd.Series:
        ok = _fits(a, dim) & _fits(b, dim)
        out = np.full(len(a), np.nan, dtype=np.float64)
        if ok.any():
            out[ok] = _seq_dot(np.array(a[ok].tolist(), dtype=np.float64),
                               np.array(b[ok].tolist(), dtype=np.float64))
        return pd.Series(out)

    # marked nondeterministic so the optimizer cannot copy it: a
    # deterministic UDF under ``cosine >= threshold`` is duplicated into the
    # pushed-down filter, planning a second ArrowEvalPython that re-scores
    # every surviving pair
    return dot.asNondeterministic()


def hyperplane_signatures(
    df: DataFrame, planes: np.ndarray,
    vec_col: str = "embedding", out_col: str = "_sig",
) -> DataFrame:
    """Signature column from the Arrow matmul kernel
    (``hyperplane_signature_udf``)."""
    return df.withColumn(
        out_col, hyperplane_signature_udf(planes)(F.col(vec_col)))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the clustered-data scale path
# ---------------------------------------------------------------------------


def ivf_train_centroids(
    df: DataFrame, n_centroids: int = 16, vec_col: str = "embedding",
    id_col: str = "vec_id", seed: int = 42, iters: int = 5,
    sample_n: int = 4096,
) -> np.ndarray:
    """Deterministic k-means centroids from a hash-ordered sample.

    The model is dimension-table sized (n_centroids × dim floats), so the
    Lloyd iterations run driver-side in numpy over a bounded sample — the
    standard IVF recipe; only assignment and search are distributed.
    Determinism: sample = first ``sample_n`` rows by ``xxhash64(id, seed)``
    order, init = first ``n_centroids`` of the sample, fixed iteration count.
    NULL vectors and vectors whose length differs from the sample's first
    vector are skipped, as :func:`ivf_assign_udf` gives them no cluster;
    an input with no non-NULL vector raises ``ValueError``.
    """
    sample = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(sample_n)
        .collect()
    )
    vecs = [r[vec_col] for r in sample if r[vec_col] is not None]
    if not vecs:
        raise ValueError(
            f"cannot train IVF centroids: no non-NULL {vec_col!r} vector "
            "in the input")
    x = np.array([list(v) for v in vecs if len(v) == len(vecs[0])],
                 dtype=np.float64)
    cents = x[:n_centroids].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def ivf_assign_udf(centroids: np.ndarray):
    """Arrow-vectorized nearest-centroid assignment (one matmul per batch).
    NULL and ragged vectors (length ≠ the centroids' dim) get a NULL
    cluster, so no probe ever selects them."""
    cents = centroids.astype(np.float64)
    c2 = (cents ** 2).sum(axis=1)
    dim = cents.shape[1]

    @F.pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        ok = _fits(vecs, dim)
        out = np.zeros(len(vecs), dtype=np.int32)
        if ok.any():
            x = np.array(vecs[ok].tolist(), dtype=np.float64)
            # argmin ||x-c||² = argmin c·c - 2 x·c  (x·x constant per row)
            out[ok] = (c2[None, :] - 2.0 * (x @ cents.T)).argmin(axis=1)
        return pd.Series(pd.arrays.IntegerArray(out, ~ok))

    return assign


def ivf_assignments(
    df: DataFrame, centroids: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Vectors + their IVF cluster id.  At 100 TB: materialize this once
    via ``ivf_write_partitioned`` so each query's bucket scan is a
    partition-pruned read (``ivf_topk_partitioned``) instead of a full pass."""
    return df.withColumn("ivf_cluster", ivf_assign_udf(centroids)(F.col(vec_col)))


def ivf_query_clusters(
    centroids: np.ndarray, query_vec: list[float], n_probe: int,
) -> list[int]:
    """The ``n_probe`` centroid ids nearest the query (driver-side numpy —
    the model is dimension-table sized)."""
    q = np.asarray(query_vec, dtype=np.float64)
    d = ((centroids - q[None, :]) ** 2).sum(axis=1)
    return [int(i) for i in np.argsort(d)[:n_probe]]


def ivf_write_partitioned(
    df: DataFrame, centroids: np.ndarray, path: str,
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF-clustered layout: assign once, write one parquet
    partition per cluster.  This is the 100 TB indexing job — run once;
    every subsequent ``ivf_topk_partitioned`` query then reads ONLY its
    probed clusters via partition pruning (never a full scan)."""
    (
        ivf_assignments(df, centroids, vec_col)
        .write.partitionBy("ivf_cluster")
        .mode("overwrite")
        .parquet(path)
    )


def ivf_topk_partitioned(
    spark, path: str, query_vec: list[float], centroids: np.ndarray,
    k: int = 10, n_probe: int = 4,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """IVF search against the materialized clustered layout.

    The ``ivf_cluster IN (probes)`` filter is a partition-directory predicate,
    so Catalyst plans it as **PartitionFilters** on the scan: non-probed
    clusters contribute zero files to the read (asserted on the plan AND on
    the scan's file count in test_ivf_partitioned_pruning; audited in
    docs/PLANS.md).  At 100 TB with n_probe/n_centroids = 4/1024 a query
    touches ~0.4% of the data instead of all of it."""
    probes = ivf_query_clusters(centroids, query_vec, n_probe)
    cands = spark.read.parquet(path).filter(F.col("ivf_cluster").isin(probes))
    return cosine_topk(cands, query_vec, k, vec_col, id_col)


def ivf_topk(
    df: DataFrame, query_vec: list[float], k: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id",
    centroids: np.ndarray | None = None, n_centroids: int = 16,
    n_probe: int = 4, seed: int = 42,
) -> DataFrame:
    """IVF search: exact cosine rescoring over only the ``n_probe`` clusters
    nearest the query.  ``n_probe == n_centroids`` degrades gracefully to the
    exact brute-force answer (tested).  Shines on clustered embeddings
    (real-corpus structure); on adversarially-uniform vectors recall tends to
    n_probe/n_centroids, which is the method's documented behavior, not a bug.
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            df, n_centroids, vec_col, id_col, seed=seed
        )
    probes = ivf_query_clusters(centroids, query_vec, n_probe)

    assigned = ivf_assignments(df, centroids, vec_col)
    cands = assigned.filter(F.col("ivf_cluster").isin(probes))
    return cosine_topk(cands, query_vec, k, vec_col, id_col)


def embedding_banded_signatures(
    df: DataFrame, planes: np.ndarray,
    vec_col: str = "embedding", id_col: str = "vec_id",
    bands: int = 4,
) -> DataFrame:
    """``(id, band, band_sig)``: the hyperplane signature split into
    ``bands`` bit-bands (cosine-LSH banding: near-identical vectors agree on
    at least one full band with high probability).  The near-dup search
    bands through this function too, so the table staged for the DuckDB
    replay oracle is the same expression."""
    n_planes = planes.shape[0]
    assert n_planes % bands == 0
    width = n_planes // bands
    mask = (1 << width) - 1
    sigs = hyperplane_signatures(df, planes, vec_col, "_sig")
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned("_sig", b * width).bitwiseAND(F.lit(mask))
                for b in range(bands)
            ])
        ).alias("band", "band_sig"),
    )


def embedding_near_dup_pairs(
    df: DataFrame, threshold: float = 0.99,
    vec_col: str = "embedding", id_col: str = "vec_id",
    n_planes: int = 16, bands: int = 4, seed: int = 42,
    max_bucket: int | None = 256,
    dim: int | None = None,
) -> DataFrame:
    """Corpus-wide embedding-cosine near-dup pairs — the dedup-shaped ANN:
    banded hyperplane-LSH self-join generates candidates (any shared band ⇒
    candidate; no all-pairs anywhere), exact cosine rescoring filters them.
    Hot buckets (e.g. zero-ish or templated embeddings) are capped like the
    minhash LSH path.  The exact filter means zero false positives by
    construction; recall rides on bands/planes like any LSH.

    Pass ``dim`` (the embedding width) to skip the fallback first() probe —
    at scale an extra Spark job just to learn the width is waste, and the
    probe cannot work on an empty input anyway."""
    if dim is None:
        head = df.select(vec_col).head(1)
        if not head or head[0][0] is None:
            raise ValueError(
                f"cannot infer embedding dim from an empty {vec_col!r} "
                "input — pass dim= explicitly"
            )
        dim = len(head[0][0])
    planes = make_planes(dim, n_planes, seed)
    # bucket_pairs caches the capped banded table, so the signature kernel
    # runs once over the vector column, not once per self-join side
    banded = embedding_banded_signatures(df, planes, vec_col, id_col, bands)
    cands = bucket_pairs(banded, id_col, "band_sig", max_bucket)
    # norms ride on the per-VECTOR side tables (one sqrt(dot(v,v)) per vector)
    # instead of inside the per-PAIR cosine (two per candidate pair) — the
    # same expressions, factored to evaluate n times instead of 2·|pairs|
    # times; the remaining per-pair dot runs through the bit-identical
    # sequential Arrow kernel (see seq_dot_udf) while the norm product,
    # division and rounding stay JVM-side — so every cosine value equals
    # ``cosine_sim_col(_va, _vb)`` byte-for-byte (r8: the candidate set is
    # quadratic-ish in bucket size, the vector set is not; interleaved A/B
    # read −23% over the interpreted higher-order-function dot)
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"),
                   _norm(F.col(vec_col)).alias("_na"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"),
                   _norm(F.col(vec_col)).alias("_nb"))
    scored = cands.join(va, "id_a").join(vb, "id_b").select(
        "id_a", "id_b",
        F.round(
            F.try_divide(seq_dot_udf(dim)(F.col("_va"), F.col("_vb")),
                         F.col("_na") * F.col("_nb")),
            6,
        ).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= threshold)


def lsh_probe_signatures(
    planes: np.ndarray, query_vec: list[float], probe_radius: int = 2,
) -> list[int]:
    """The query's bucket signature plus every signature within
    ``probe_radius`` hamming distance (multi-probe LSH) — driver-side."""
    from itertools import combinations

    n_planes = len(planes)
    q = np.asarray(query_vec, dtype=np.float64)
    qsig = 0
    for i, p in enumerate(planes):
        if float(np.dot(q, p)) >= 0:
            qsig |= 1 << i
    probe_sigs = [qsig]
    for r in range(1, probe_radius + 1):
        for bits in combinations(range(n_planes), r):
            flip = 0
            for b in bits:
                flip |= 1 << b
            probe_sigs.append(qsig ^ flip)
    return probe_sigs


def ann_lsh_topk(
    df: DataFrame, query_vec: list[float], k: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id",
    n_planes: int = 8, probe_radius: int = 2, seed: int = 42,
) -> DataFrame:
    """ANN: restrict the exact rescoring to vectors near the query's bucket.

    Recall/cost knobs: ``n_planes`` (more planes → smaller buckets → less
    scanned, lower recall) and ``probe_radius`` (multi-probe: also search
    buckets within this hamming distance of the query signature).  On
    *clustered* embeddings few probes suffice; on adversarially random
    vectors (no neighborhood structure — the driver's synthetic embeddings)
    radius 2 recovers most of the exact top-k while scanning a bounded
    fraction of buckets.
    """
    planes = make_planes(len(query_vec), n_planes, seed)
    probe_sigs = lsh_probe_signatures(planes, query_vec, probe_radius)
    with_sig = hyperplane_signatures(df, planes, vec_col, "_sig")
    cands = with_sig.filter(F.col("_sig").isin(probe_sigs))
    return cosine_topk(cands, query_vec, k, vec_col, id_col)

"""Similarity search over ``embeddings`` (task brief: brute-force cosine
top-k baseline + LSH-bucketed scale path).

Every operator is "candidates → one shared tail":

- input step: ``_vectors`` selects ``vec_id`` and the embedding as
  ``array<double>`` and drops null and all-zero embeddings (neither has a
  direction, so neither scores a cosine);
- candidates: the cross join (exact ``brute_force_topk`` and
  ``embedding_near_dup_pairs``, the references the others are checked
  against), the IVF probe join, or the random-hyperplane bucket joins
  (deterministic hyperplanes from xxhash of (dim, plane); a hot bucket in
  the near-dup self-join is split by AQE's skew join);
- tail: ``_topk`` (exact cosine as the vectorized Arrow UDF
  ``_cosine_vec``, window rank) or ``_at_least`` (exact cosine ≥ τ).

The exact operators are checked bit for bit by the oracle (DuckDB
list_cosine_similarity); the approximate ones at their provable-equality
operating points, and rows-only / recall elsewhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _cosine_vec(a, b):
    """Cosine column as an Arrow UDF. Fold order of each dot product and
    squared norm: elementwise float64 products, then a sequential
    left-to-right float64 sum (``np.cumsum`` is defined as that running
    fold, unlike ``np.sum``'s pairwise tree). Ragged batches fall back to a
    per-row loop with the identical ops."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    def _seq_dot(x: "np.ndarray") -> "np.ndarray":
        return np.cumsum(x, axis=1)[:, -1]

    def cos(ea: "pd.Series", eb: "pd.Series") -> "pd.Series":
        if len(ea) == 0:
            return pd.Series([], dtype="float64")
        try:
            ma = np.array(ea.tolist(), dtype=np.float64)
            mb = np.array(eb.tolist(), dtype=np.float64)
            if ma.ndim != 2 or mb.ndim != 2:
                raise ValueError
        except ValueError:  # ragged dims — per-row identical ops
            out = []
            for x, y in zip(ea, eb):
                x = np.asarray(x, dtype=np.float64)[None, :]
                y = np.asarray(y, dtype=np.float64)[None, :]
                out.append(
                    float(
                        _seq_dot(x * y)[0]
                        / (np.sqrt(_seq_dot(x * x)[0]) * np.sqrt(_seq_dot(y * y)[0]))
                    )
                )
            return pd.Series(out, dtype="float64")
        dot = _seq_dot(ma * mb)
        na = np.sqrt(_seq_dot(ma * ma))
        nb = np.sqrt(_seq_dot(mb * mb))
        return pd.Series(dot / (na * nb))

    return pandas_udf(cos, "double", PandasUDFType.SCALAR)(a, b)


def _vectors(
    embeddings: DataFrame, id_as: str = "vec_id", emb_as: str = "embedding"
) -> DataFrame:
    """The one input step: (vec_id, embedding cast to array<double>),
    renamed to (``id_as``, ``emb_as``), of the rows whose embedding has a
    direction — a null or all-zero vector can score no cosine."""
    return embeddings.filter(F.exists("embedding", lambda x: x != 0)).select(
        F.col("vec_id").alias(id_as), F.col("embedding").cast("array<double>").alias(emb_as)
    )


def _topk(cand: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, q_emb, c_emb) candidate pairs → the ``k``
    best per query by exact cosine, ties by neighbor_id:
    (query_id, neighbor_id, cosine rounded to 6 places, rank)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            _cosine_vec(F.col("q_emb"), F.col("c_emb")).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def _at_least(cand: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, e_a, e_b) candidate pairs → the pairs whose exact
    cosine is ≥ ``threshold``: (id_a, id_b, cosine rounded to 6 places)."""
    return (
        cand.withColumn("cosine", _cosine_vec(F.col("e_a"), F.col("e_b")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def brute_force_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k neighbours for the given query vec_ids (self
    excluded). Queries are broadcast — corpus side never shuffles."""
    q = _vectors(embeddings, "query_id", "q_emb").filter(F.col("query_id").isin(query_ids))
    c = _vectors(embeddings, "neighbor_id", "c_emb")
    return _topk(c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")), k)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a, b) with cosine ≥ τ,
    a < b. Exact all-pairs — the correctness baseline; the scale path for
    this operator is embedding_near_dup_lsh (banded signature buckets as
    candidates, the same exact-cosine tail)."""
    a = _vectors(embeddings, "id_a", "e_a")
    b = _vectors(embeddings, "id_b", "e_b")
    return _at_least(a.join(b, F.col("id_a") < F.col("id_b")), threshold)


def _plane_weights(embeddings: DataFrame, planes: int):
    """dim × planes hyperplane-component matrix, computed with the SAME
    column expressions the per-element lambda uses (xxhash64 on int32 pairs,
    pmod 2001, centered /1000) so every value is bit-identical; the
    xxhash64 primitive only exists JVM-side, hence one tiny spark job over
    range(dim). The dimension is that of the first row (0 on an empty
    table); callers pass ``_vectors(embeddings)``, which has no null rows."""
    import numpy as np

    first = embeddings.select(F.size("embedding").alias("d")).first()
    dim = int(first["d"]) if first is not None else 0
    spark = embeddings.sparkSession
    cols = [
        (
            (F.pmod(F.xxhash64(F.col("d"), F.lit(p)), F.lit(2001)) - F.lit(1000.0))
            / 1000.0
        ).alias(f"p{p}")
        for p in range(planes)
    ]
    rows = (
        spark.range(dim)
        .select(F.col("id").cast("int").alias("d"))
        .select("d", *cols)
        .orderBy("d")
        .collect()
    )
    return np.array(
        [[r[f"p{p}"] for p in range(planes)] for r in rows], dtype=np.float64
    ).reshape(dim, planes)


def _rh_components(mat, weights):
    """Per-plane fold components for a (n × dim) batch: elementwise products
    then the SEQUENTIAL left-to-right sum (np.cumsum last element) per plane —
    the exact float64 sequence of the zip_with/aggregate expression."""
    import numpy as np

    n, dim = mat.shape
    comps = np.empty((n, weights.shape[1]), dtype=np.float64)
    for p in range(weights.shape[1]):
        comps[:, p] = np.cumsum(mat * weights[:dim, p], axis=1)[:, -1]
    return comps


def _rh_band_buckets_vec(emb_col, planes: int, bands: int, weights):
    """Array of ``bands`` bucket strings "band:value" per embedding — each
    band packs ``planes // bands`` hyperplane sign bits — from the
    precomputed plane-weight matrix. It is bit-identical to the same fold
    written as JVM higher-order column expressions (pinned by
    tests/test_dedup_scale_ops.py), which are interpreted per element — at
    the near-dup operating point (~96 planes) ~12 M lambda evals per 2k
    vectors (weights from ``_plane_weights``, folds via ``_rh_components``).
    Rows longer than the sampled dim raise a named error (uniform-dim corpus
    expected)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    rows_per = planes // bands
    dim = weights.shape[0]

    def _bucket_rows(comps):
        bits = comps > 0
        out = []
        for i in range(bits.shape[0]):
            row = []
            for bi in range(bands):
                val = 0
                for ri in range(rows_per):
                    if bits[i, bi * rows_per + ri]:
                        val += 1 << ri
                row.append(f"{bi}:{val}")
            out.append(row)
        return out

    def buckets(vs: "pd.Series") -> "pd.Series":
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter((len(v) for v in vs), dtype=np.int64, count=len(vs))
        if lens.max() > dim:
            raise ValueError(
                f"embedding dim {lens.max()} exceeds sampled dim {dim}; "
                "vectorized LSH requires a uniform-dim corpus"
            )
        if lens.min() == lens.max() == dim:
            mat = np.array(vs.tolist(), dtype=np.float64)
            return pd.Series(_bucket_rows(_rh_components(mat, weights)))
        out = []
        for v in vs:  # ragged: identical per-row ops on the sliced matrix
            m = np.asarray(v, dtype=np.float64)[None, :]
            out.extend(_bucket_rows(_rh_components(m, weights)))
        return pd.Series(out)

    return pandas_udf(buckets, "array<string>", PandasUDFType.SCALAR)(emb_col)


def lsh_band_shape(
    threshold: float, target_recall: float = 0.99999, max_bands: int = 64
) -> tuple[int, int]:
    """(rows_per_band, bands) for random-hyperplane LSH at a cosine threshold.

    Per-bit agreement for a pair at cosine τ is p = 1 − acos(τ)/π; a band of
    r bits matches w.p. p^r and recall over b bands is 1 − (1 − p^r)^b.
    r is chosen near the balance point p^r ≈ 1/2 (floored, min 2 so buckets
    aren't 2-valued), then b sized for the target recall. High thresholds
    (τ ≥ 0.9 ⇒ r ≥ 4) prune hard; low thresholds (τ ≈ 0.4 ⇒ r = 2) cannot —
    the sign-bit gap between a 0.4-cosine pair and background is small, so
    most pairs become candidates and the verify step approaches the exact
    join's cost. That is a property of the operating point, not the
    implementation; at 100 TB you either raise τ or switch to IVF routing.
    """
    import math

    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    # τ ≥ 1 (or clamped to it) ⇒ p = 1: every bit agrees for qualifying pairs
    # (exact duplicates up to scale), so a single widest band is both complete
    # and maximally pruning — and log(p) = 0 must not be divided by.
    if p >= 1.0:
        return 32, 1
    r = max(2, int(math.log(0.5) / math.log(p)))
    pr = p**r
    b = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pr)))
    return r, min(max_bands, b)


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.95,
    target_recall: float = 0.99999,
    shape: tuple[int, int] | None = None,
) -> DataFrame:
    """Scale path for embedding near-dup pairs: banded random-hyperplane
    buckets → candidate pairs → EXACT cosine verify.

    Candidates are pairs sharing ≥1 of b sign-bit bands (an equi-join on the
    band bucket — never a cartesian); (r, b) come from lsh_band_shape unless
    ``shape`` overrides. Precision is exact (every candidate is re-scored
    with the true cosine); recall ≥ target_recall for pairs AT the threshold
    and higher for pairs above it. Output schema matches
    embedding_near_dup_pairs.

    A hot band bucket (a mode-collapsed embedder: many near-identical
    vectors) needs no salting here: the self-join is a plain shuffle join
    on ``bucket``, and AQE's skew join (on in ``get_spark``) splits the hot
    bucket's shuffle partition on both sides. Both sides of that join read
    one bucketed frame, which Spark computes once (exchange reuse)."""
    rows, bands = shape if shape is not None else lsh_band_shape(threshold, target_recall)
    planes = rows * bands
    vecs = _vectors(embeddings)
    weights = _plane_weights(vecs, planes)
    emb = vecs.withColumn(
        "bucket", F.explode(_rh_band_buckets_vec(F.col("embedding"), planes, bands, weights))
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("e_a"), "bucket")
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("e_b"), "bucket")
    return _at_least(
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"]),
        threshold,
    )


def train_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    sample_fraction: float | None = None,
    max_train_rows: int | None = 100_000,
) -> list[list[float]]:
    """Deterministic IVF centroid training: k-means/Lloyd with init = the
    ``n_centroids`` vectors of smallest xxhash64(vec_id) (reproducible, no
    RNG), assignment = the first of ``_nearest_centroids`` (an Arrow-batched
    pandas UDF), means via distributed per-dimension avg.

    IVF quality needs only a sketch of the distribution, so by default the
    Lloyd iterations run on a hash sample capped at ``max_train_rows``
    vectors (one count + one partition-independent xxhash filter) — NEVER on
    the full corpus: at 100 TB ``iters`` full-corpus assignment passes would
    dominate the whole query. ``sample_fraction`` overrides the derived
    fraction explicitly; below the cap the corpus trains unsampled (the
    small-sf determinism/recall contract is unchanged). The sampled training
    set is cached across the Lloyd iterations and unpersisted after. A table
    with no embedding trains no centroid (``[]``) and runs no Lloyd pass."""
    import numpy as np

    emb = _vectors(embeddings, emb_as="emb")
    if sample_fraction is None and max_train_rows is not None:
        n = emb.count()
        if n > max_train_rows:
            sample_fraction = max_train_rows / n
    if sample_fraction and sample_fraction < 1.0:
        # deterministic, partitioning-independent hash sample (same scheme as
        # operators/sampling.hash_sample)
        bound = int(sample_fraction * 1_000_000)
        emb = emb.filter(F.pmod(F.xxhash64("vec_id", F.lit(7)), F.lit(1_000_000)) < bound)
    emb = emb.cache()
    try:
        init = (
            emb.withColumn("h", F.xxhash64("vec_id"))
            .orderBy("h")
            .limit(n_centroids)
            .select("emb")
            .collect()
        )
        if not init:
            return []
        centroids = np.array([r.emb for r in init], dtype=np.float64)

        for _ in range(iters):
            assigned = emb.withColumn("cluster", _nearest_centroids(centroids, 1)("emb")[0])
            new_rows = (
                assigned.select("cluster", F.posexplode("emb").alias("pos", "v"))
                .groupBy("cluster", "pos")
                .agg(F.avg("v").alias("m"))
                .collect()
            )
            for r in new_rows:
                centroids[r.cluster][r.pos] = r.m
    finally:
        emb.unpersist()
    return centroids.tolist()


def _nearest_centroids(centroids, n: int):
    """Pandas UDF mapping each vector to its ``n`` max-cosine centroid ids,
    nearest first (stable order on ties), as array<int>. Its first entry is
    the vector's assignment (``argmax``); the whole array is a query's probe
    set, kept as a column so unbounded query sets never collect to the
    driver."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    c = np.asarray(centroids, dtype=np.float64)
    # axis -1: a table with no embedding trains no centroid, and [] is 1-D
    cn = c / np.maximum(np.linalg.norm(c, axis=-1, keepdims=True), 1e-12)

    # explicit functionType form: `from __future__ import annotations` makes
    # the pd.Series type hints unresolvable strings for pandas_udf inference
    def nearest(embs):
        m = np.stack(embs.to_numpy())
        mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        idx = np.argsort(-(mn @ cn.T), axis=1, kind="stable")[:, :n]
        return pd.Series([row.astype(np.int32) for row in idx])

    return pandas_udf(nearest, "array<int>", PandasUDFType.SCALAR)


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 5,
    max_train_rows: int | None = 100_000,
) -> DataFrame:
    """IVF-Flat approximate top-k (the brief's 'IVF variant as the scale
    path'): vectors are routed to their nearest trained centroid once
    (inverted lists = a cluster column, i.e. a partitionable key); each query
    probes its ``n_probe`` nearest centroids and scores ONLY those lists with
    the exact cosine. At scale the corpus is read cluster-pruned
    (n_probe/n_centroids of the data) instead of fully scanned; centroid
    training runs on a ≤``max_train_rows`` hash sample; probe assignment is
    a column expression over broadcast centroids, so queries stay a
    distributed (broadcast) DataFrame end-to-end — no driver collect.

    Provable-equality gate (the q_ngram_jaccard_capped pattern): with
    ``n_probe == n_centroids`` every inverted list is probed, so every
    (query, vector) pair is scored with the exact cosine and the result
    PROVABLY equals ``brute_force_topk`` — that operating point is what the
    driver's exact-cosine oracle checks; pruned operating points are
    benchmarked and recall-tested separately."""
    centroids = train_ivf_centroids(
        embeddings, n_centroids, iters, max_train_rows=max_train_rows
    )
    c = _vectors(embeddings, "neighbor_id", "c_emb").withColumn(
        "cluster", _nearest_centroids(centroids, 1)("c_emb")[0]
    )
    probes = (
        _vectors(embeddings, "query_id", "q_emb")
        .filter(F.col("query_id").isin(query_ids))
        .withColumn(
            "cluster",
            F.explode(_nearest_centroids(centroids, min(n_probe, n_centroids))("q_emb")),
        )
    )
    cand = c.join(F.broadcast(probes), "cluster").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _topk(cand, k)


def lsh_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    planes: int = 12,
    coverage_band: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates share the full random-hyperplane
    signature bucket (or differ in ≤1 of 3 sub-bands via banded buckets).

    ``coverage_band=True`` is the provable-equality operating point (the
    q_ngram_jaccard_capped pattern): one extra band whose bucket value is
    constant is appended, so the banded candidate generation provably covers
    every (query, vector) pair — the identical explode → bucket equi-join →
    dedup → exact-cosine top-k tail runs, but its output PROVABLY equals
    ``brute_force_topk`` and the driver's exact oracle applies. The pruned
    default (sign-bit bands only) is what runs at 100 TB and is
    benchmarked/recall-tested separately."""
    vecs = _vectors(embeddings)
    buckets = _rh_band_buckets_vec(
        F.col("embedding"), planes, 3, _plane_weights(vecs, planes)
    )
    if coverage_band:
        buckets = F.concat(buckets, F.array(F.lit("cover:0")))
    banded = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.explode(buckets).alias("bucket"),
    )
    # query side: filter BEFORE the band computation — the buckets are
    # per-row pure, and the broadcast-build subtree otherwise recomputes
    # them for the whole corpus to keep a handful of rows
    q = vecs.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(buckets).alias("bucket"),
    )
    cand = (
        banded.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_emb", "c_emb")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _topk(cand, k)

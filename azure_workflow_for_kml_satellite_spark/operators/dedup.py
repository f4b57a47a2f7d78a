"""Deduplication operators over the ``documents`` table — the
training-data-pipeline layer (task brief: exact, shingle/Jaccard, MinHash-LSH,
SimHash).

Scale notes:
- Exact dedup is a hash groupBy (one shuffle, map-side combinable).
- Near-dup candidates come from an inverted-index self-join on shingles:
  complete for any Jaccard threshold > 0 (two sets with J ≥ τ share ≥ 1
  shingle). At 100 TB the shingle join is bounded by dropping ultra-frequent
  shingles on the *candidate* side only when used with the MinHash-LSH
  variant; the exact variant here keeps completeness for the oracle check.
- MinHash-LSH is the scale path: k hashes → b bands × r rows, candidates =
  pairs sharing a band bucket, verified with exact Jaccard. Probabilistic
  recall; its *verified* output is still exact-Jaccard-filtered.
- Every Jaccard operator ends in one verify tail (``_jaccard_at_least``):
  size join → Jaccard = |A∩B| / (|A|+|B|−|A∩B|) → threshold.
- SimHash: 64-bit fingerprint; near-dups = fingerprints at Hamming
  distance ≤ d found by pigeonhole block join.

All tokenization/hashing is JVM-side column expressions (xxhash64, split,
transform) — no Python in these operators at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def tokens_expr(col: str = "text"):
    """Whitespace tokenization, lowercased — shared by all text operators."""
    return F.split(F.lower(F.trim(F.col(col))), r"\s+")


def shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle-hash) distinct pairs; shingle = n-gram of tokens,
    hashed to int64 JVM-side.

    Codegen form (OPTIMIZATION_r08.md §14): the natural
    ``transform(sequence(...), i -> xxhash64(concat_ws(slice(toks,i+1,n))))``
    runs the lambda INTERPRETED per shingle (measured 1.5x slower on the
    subtree). ``arrays_zip`` of the n shifted slices + ``explode`` +
    one codegen'd xxhash64 hashes the IDENTICAL strings: element i of the
    zip is (toks[i], …, toks[i+n-1]), so ``concat_ws(" ", g.0…)`` equals
    ``concat_ws(" ", slice(toks, i+1, n))`` verbatim. The short-document
    branch maps exactly too because concat_ws skips nulls
    (``concat_ws(" ", text, null, null) == concat_ws(" ", toks)``).
    Verified set-identical (exceptAll both ways empty) on the sf0.1 corpus."""
    toks = documents.select("doc_id", tokens_expr().alias("toks"))
    m = F.size("toks") - (n - 1)
    zipped = F.arrays_zip(*[F.slice("toks", i + 1, m) for i in range(n)])
    short = F.array(
        F.struct(
            F.concat_ws(" ", "toks").alias("0"),
            *[F.lit(None).cast("string").alias(str(i)) for i in range(1, n)],
        )
    )
    idx = toks.select(
        "doc_id",
        F.explode(F.when(F.size("toks") >= n, zipped).otherwise(short)).alias("g"),
    ).select(
        "doc_id",
        F.xxhash64(
            F.concat_ws(" ", *[F.col(f"g.{i}") for i in range(n)])
        ).alias("sh"),
    )
    return idx.distinct()


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Groups of byte-identical texts: (text_hash, canonical doc_id, dup count).
    Only groups with >1 member are duplicates; all groups are returned so the
    result doubles as the deduped catalog."""
    return (
        documents.groupBy(F.xxhash64("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_docs"))
    )


def _jaccard_at_least(inter: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, inter) shingle-intersection counts → the pairs whose
    Jaccard |A∩B| / (|A|+|B|−|A∩B|) is ≥ ``threshold``, set sizes counted
    from the (doc_id, sh) table ``sh``: (id_a, id_b, jaccard rounded to 6
    places). The one verify tail of every Jaccard operator."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _verified_jaccard(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for candidate (id_a, id_b) pairs: intersection count via
    a shingle equi-join restricted to the candidates, then the verify tail."""
    a = sh.select(F.col("doc_id").alias("id_a"), "sh")
    b = sh.select(F.col("doc_id").alias("id_b"), "sh")
    inter = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_at_least(inter, sh, threshold)


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All doc pairs with n-gram Jaccard ≥ threshold.

    Inverted-index self-join on shingle hash → per-pair intersection count →
    |A∪B| = |A|+|B|−|A∩B| → filter. One wide shuffle on shingle, one on pair.

    ``max_shingle_df`` is the 100 TB guard: a shingle appearing in k docs
    contributes O(k²) candidate rows, so one ultra-hot shingle ("the the
    the…") explodes the self-join. With a cap, shingles whose document
    frequency exceeds it are dropped from CANDIDATE GENERATION only; every
    surviving candidate is then verified with exact Jaccard over the FULL
    shingle sets, so precision stays exact and recall only misses pairs whose
    every shared shingle is globally hot (such pairs are overwhelmingly
    boilerplate, not near-duplicates). ``None`` keeps the exact/complete
    behaviour used by the oracle query.
    """
    sh = shingles(documents, n)
    if max_shingle_df is None:
        a = sh.select(F.col("doc_id").alias("id_a"), "sh")
        b = sh.select(F.col("doc_id").alias("id_b"), "sh")
        inter = (
            a.join(b, "sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
        return _jaccard_at_least(inter, sh, threshold)
    # scale path: document-frequency-capped candidate generation + exact verify
    rare = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_shingle_df)
        .select("sh")
    )
    capped = sh.join(rare, "sh")
    a = capped.select(F.col("doc_id").alias("id_a"), "sh")
    b = capped.select(F.col("doc_id").alias("id_b"), "sh")
    cand = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _verified_jaccard(cand, sh, threshold)


def minhash_signatures(documents: DataFrame, num_hashes: int = 64, n: int = 3) -> DataFrame:
    """(doc_id, array<long> signature): min over shingles of k independent
    hash mixes — all column expressions (aggregate over collect of hashed
    shingles via groupBy min of transformed hashes)."""
    sh = shingles(documents, n)
    # k hash functions: xxhash64(shingle, seed k) via hashing (sh, k) pairs
    mins = sh.groupBy("doc_id").agg(
        F.array(
            *[
                F.min(F.xxhash64(F.col("sh"), F.lit(k))).alias(f"h{k}")
                for k in range(num_hashes)
            ]
        ).alias("signature")
    )
    return mins


def minhash_lsh_pairs(
    documents: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH candidates, verified with exact
    Jaccard (so the output equals ngram_jaccard_pairs up to LSH recall)."""
    rows = num_hashes // bands
    sig = minhash_signatures(documents, num_hashes, n)
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("signature", bi * rows + ri + 1).cast("string")
                                    for ri in range(rows)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bucket"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"))
        .distinct()
    )
    # verify candidates with exact jaccard
    return _verified_jaccard(cand, shingles(documents, n), threshold)


def simhash(documents: DataFrame, bits: int = 64) -> DataFrame:
    """(doc_id, simhash int64): per-token 64-bit hash, bit-vote by token
    count, sign of vote per bit — all via bitwise column expressions."""
    toks = documents.select(
        "doc_id", F.explode(tokens_expr()).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    # votes per bit: +1 when bit set else -1 → sign of sum sets the bit
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    # bit 63 is the long sign bit: add -2^63 instead of +2^63
    fp = F.lit(0).cast("long")
    for b in range(bits):
        unit = -(1 << 63) if b == 63 else (1 << b)
        fp = fp + F.when(F.col(f"b{b}") > 0, F.lit(unit).cast("long")).otherwise(F.lit(0).cast("long"))
    return votes.select("doc_id", fp.alias("simhash"))


def near_dup_clusters(
    documents: DataFrame, pairs: DataFrame, max_rounds: int = 24
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id) with
    cluster_id = the smallest doc_id in the component (the canonical
    'keeper'); singletons label themselves. The engine's one CC step: J9's
    AOI clustering (operators/cluster.cluster_aois) runs through it too.

    Precondition: every ``id_a``/``id_b`` in ``pairs`` is a ``doc_id`` of
    ``documents``. A foreign id would become an edge node and could bridge
    two components. ``minhash_lsh_pairs(documents)`` and
    ``cluster.candidate_edges(aois)`` only emit ids of their input.

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014): converges
    in O(log n) rounds instead of O(graph diameter), so long near-dup
    chains (boilerplate ladders, template families) and long ε-chains of
    AOIs (parcel strips, river corridors) cost no more rounds than short
    ones.

    Each round is two grouped aggregations over the edge set:
    - large-star: every node's strictly-larger neighbours re-link to the
      minimum of its closed neighbourhood;
    - small-star: every node's smaller-or-equal neighbours re-link to the
      minimum neighbour.
    Both only ever REPLACE an edge with one incident to a smaller node, so
    the edge multiset's total label mass strictly decreases until the graph
    is a star forest rooted at each component's minimum. Convergence is
    detected by an unchanged edge set (count + exceptAll — set equality);
    non-convergence within ``max_rounds`` raises rather than returning wrong
    labels (the paper's bound is O(log² n) rounds worst case, O(log n)
    typical; 24 double-rounds covers graphs far beyond 10¹² nodes).

    Lineage is cut each round: with a configured checkpoint dir
    (``spark.sparkContext.setCheckpointDir``) a RELIABLE ``checkpoint()`` is
    written, so an executor loss mid-CC recovers from the checkpoint store;
    without one ``localCheckpoint`` is the fallback.
    """
    spark = documents.sparkSession
    reliable = spark.sparkContext.getCheckpointDir() is not None

    def _cut(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)

    # canonical undirected edge set, self-loops dropped
    edges = (
        pairs.select(
            F.least("id_a", "id_b").alias("u"), F.greatest("id_a", "id_b").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    edges = _cut(edges)
    n_edges = edges.count()
    for _ in range(max_rounds):
        if n_edges == 0:
            break
        # large-star: group the closed neighbourhood of u (edges in both
        # orientations), m = min(neighbourhood ∪ {u}); relink v > u to m
        both = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        nbr_min = both.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least("mv", "u").alias("m")
        )
        large = (
            both.join(nbr_min, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), F.col("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient (u = max endpoint); m = min smaller neighbour;
        # relink every smaller neighbour and u itself to m
        onto = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        small_min = onto.groupBy("u").agg(F.min("v").alias("m"))
        relinked = (
            onto.join(small_min, "u")
            .select(F.col("m").alias("nu"), F.col("v").alias("nv"))
            .union(small_min.select(F.col("m").alias("nu"), F.col("u").alias("nv")))
        )
        new_edges = (
            relinked.select(
                F.least("nu", "nv").alias("u"), F.greatest("nu", "nv").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        new_edges = _cut(new_edges)
        n_new = new_edges.count()
        if n_new == n_edges and new_edges.exceptAll(edges).isEmpty():
            edges = new_edges
            break
        edges, n_edges = new_edges, n_new
    else:
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_rounds} rounds"
        )
    labels = edges.groupBy("v").agg(F.min("u").alias("root"))
    return (
        documents.select("doc_id")
        .join(labels, documents.doc_id == labels.v, "left")
        .select(
            "doc_id", F.coalesce(F.col("root"), F.col("doc_id")).alias("cluster_id")
        )
    )


def simhash_hamming_pairs(
    documents: DataFrame, max_distance: int = 3, bits: int = 64
) -> DataFrame:
    """Near-dup pairs at SimHash Hamming distance ≤ ``max_distance``.

    Pigeonhole scheme (Manku et al., WWW'07 near-duplicate detection): split
    the ``bits``-bit fingerprint into ``max_distance + 1`` equal blocks; two
    fingerprints within Hamming distance d must agree EXACTLY on at least one
    block, so candidates are an equi-join on (block index, block value) —
    never a cross join — and each candidate pair is verified with
    ``bit_count(a XOR b) ≤ d``.  At 100 TB both sides shuffle only
    (doc_id, 2×long); a hot block value (e.g. an all-zero block from short
    docs) is the one skew risk — AQE skew-join handles it, and block width
    grows with fewer allowed errors.
    """
    nblocks = max_distance + 1
    if bits % nblocks:
        raise ValueError(f"bits={bits} not divisible by {nblocks} blocks")
    width = bits // nblocks
    mask = (1 << width) - 1
    fp = simhash(documents, bits)
    blocks = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("blk"),
                        F.shiftrightunsigned("simhash", bi * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("blk_val"),
                    )
                    for bi in range(nblocks)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.blk", "b.blk_val")
    x = blocks.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sim_a"), "blk", "blk_val"
    )
    y = blocks.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sim_b"), "blk", "blk_val"
    )
    return (
        x.join(y, ["blk", "blk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))
    )

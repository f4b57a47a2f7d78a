"""Round-2 scale operators: SimHash Hamming pair join, DF-capped Jaccard
candidates, banded-LSH embedding near-dup pairs, order-pinned portfolio."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _union_find_min_labels(nodes, edges):
    """{node: min node of its connected component} by pure-Python
    union-find — the independent reference for the Spark CC operator."""
    parent = {x: x for x in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min = {}
    for x in nodes:
        r = find(x)
        comp_min[r] = min(comp_min.get(r, x), x)
    return {x: comp_min[find(x)] for x in nodes}


def _brute_hamming(spark, docs, d):
    from azure_workflow_for_kml_satellite_spark.operators.dedup import simhash

    fps = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    out = []
    ids = sorted(fps)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")
            if h <= d:
                out.append((a, b, h))
    return sorted(out)


def test_simhash_hamming_pairs_matches_bruteforce(spark):
    from azure_workflow_for_kml_satellite_spark.operators.dedup import (
        simhash_hamming_pairs,
    )

    rng = random.Random(3)
    base = ["tok%d" % rng.randrange(500) for _ in range(60)]
    texts = []
    for i in range(30):
        words = list(base)
        for _ in range(rng.randrange(0, 6)):  # small edits → near-dups
            words[rng.randrange(len(words))] = "tok%d" % rng.randrange(500)
        texts.append(" ".join(words))
    texts += ["completely different text %d galaxy" % i for i in range(10)]
    docs = _docs_df(spark, texts)
    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_hamming_pairs(docs, max_distance=3).collect()
    )
    assert got == _brute_hamming(spark, docs, 3)
    assert len(got) > 0  # the planted near-dups must actually be found


def test_simhash_pairs_plan_has_no_cartesian(spark):
    from azure_workflow_for_kml_satellite_spark.operators.dedup import (
        simhash_hamming_pairs,
    )

    docs = _docs_df(spark, ["a b c", "a b d", "x y z"])
    plan = simhash_hamming_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_jaccard_df_cap_bounds_candidates_and_keeps_pairs(spark):
    from azure_workflow_for_kml_satellite_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingles,
    )

    # 40 docs all sharing one hot shingle ("the the the") + 2 true near-dups
    hot = "the the the"
    texts = [f"{hot} unique{i} filler{i} body{i}" for i in range(40)]
    texts.append("alpha beta gamma delta epsilon zeta")
    texts.append("alpha beta gamma delta epsilon eta")
    docs = _docs_df(spark, texts)

    exact = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    )
    capped = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=10).collect()
    )
    # the two planted near-dups share rare shingles → identical output here
    assert capped == exact and len(exact) >= 1

    # and the capped candidate side actually drops the hot shingle: the
    # inverted index no longer produces O(df²) rows for it
    sh = shingles(docs, 3)
    df_counts = {r.sh: r.c for r in sh.groupBy("sh").agg(F.count("*").alias("c")).collect()}
    assert max(df_counts.values()) >= 40  # hot shingle exists
    rare = sh.join(
        sh.groupBy("sh").agg(F.count("*").alias("df")).filter(F.col("df") <= 10),
        "sh",
    )
    a = rare.select(F.col("doc_id").alias("id_a"), "sh")
    b = rare.select(F.col("doc_id").alias("id_b"), "sh")
    n_cand = a.join(b, "sh").filter(F.col("id_a") < F.col("id_b")).count()
    assert n_cand < 40 * 39 / 2  # far below the hot shingle's O(df²) blow-up


def test_embedding_near_dup_lsh_matches_exact(spark):
    from azure_workflow_for_kml_satellite_spark.operators.similarity import (
        embedding_near_dup_lsh,
        embedding_near_dup_pairs,
        lsh_band_shape,
    )

    rng = random.Random(11)
    vecs = []
    for i in range(60):
        vecs.append([rng.gauss(0, 1) for _ in range(16)])
    # planted high-cosine near-dups
    for i in range(0, 10, 2):
        vecs[i + 1] = [v + rng.gauss(0, 0.05) for v in vecs[i]]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    exact = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_near_dup_pairs(emb, threshold=0.9).collect()
    )
    assert len(exact) >= 5
    got = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_near_dup_lsh(emb, threshold=0.9).collect()
    )
    assert got == exact
    # high threshold → genuinely pruning shape (r ≥ 4 bits per band)
    r, b = lsh_band_shape(0.9)
    assert r >= 4 and b <= 32


def test_portfolio_fold_is_partition_order_insensitive(spark):
    from azure_workflow_for_kml_satellite_spark.operators.metrics import portfolio_py

    rng = random.Random(5)
    rows = [
        {
            "url": f"u{rng.randrange(100)}",
            "feature_index": i,
            "area_ha": rng.uniform(1, 500),
            "perimeter_km": rng.uniform(0.1, 30),
            "latest_mean": None if rng.random() < 0.3 else rng.uniform(0, 1),
            "total_loss_ha": None if rng.random() < 0.5 else rng.uniform(0, 20),
            "total_gain_ha": None if rng.random() < 0.5 else rng.uniform(0, 20),
        }
        for i in range(500)
    ]
    shuffled = list(rows)
    rng.shuffle(shuffled)
    assert portfolio_py(rows) == portfolio_py(shuffled)
    out = portfolio_py(rows)
    assert out[0] == 500 and math.isfinite(out[1])


def test_ivf_topk_recall_on_clustered_data(spark):
    from azure_workflow_for_kml_satellite_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    rng = random.Random(21)
    dim = 16
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(6)]
    vecs = []
    for i in range(240):
        c = centers[i % 6]
        vecs.append([v + rng.gauss(0, 0.15) for v in c])
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    qids = list(range(6))
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, qids, k=10).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, qids, k=10, n_centroids=8, n_probe=3).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.8, recall
    # deterministic: same training init + assignment → identical result
    got2 = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, qids, k=10, n_centroids=8, n_probe=3).collect()
    }
    assert got == got2


def test_near_dup_clusters_chain_and_singletons(spark):
    from azure_workflow_for_kml_satellite_spark.operators.dedup import (
        near_dup_clusters,
    )

    docs = spark.createDataFrame([(i, f"t{i}") for i in range(8)], "doc_id long, text string")
    # a 5-chain (4-3-2-1-0 only via consecutive edges → needs >1 round),
    # a 2-cycle, and a singleton
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (5, 6), (6, 5)],
        "id_a long, id_b long",
    )
    got = {r.doc_id: r.cluster_id for r in near_dup_clusters(docs, pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 5, 7: 7}


def test_near_dup_clusters_raises_on_nonconvergence(spark):
    import pytest

    from azure_workflow_for_kml_satellite_spark.operators.dedup import near_dup_clusters

    docs = spark.createDataFrame([(i, f"t{i}") for i in range(6)], "doc_id long, text string")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        near_dup_clusters(docs, chain, max_rounds=1)


def test_near_dup_clusters_reliable_checkpoint(spark, tmp_path):
    """With a configured checkpoint dir the CC loop uses reliable
    checkpoint() (survives executor loss on a cluster); labels identical."""
    from azure_workflow_for_kml_satellite_spark.operators.dedup import near_dup_clusters

    docs = spark.createDataFrame([(i, f"t{i}") for i in range(8)], "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (5, 6), (6, 5)], "id_a long, id_b long"
    )
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    local = {r.doc_id: r.cluster_id for r in near_dup_clusters(docs, pairs).collect()}
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        reliable = {r.doc_id: r.cluster_id for r in near_dup_clusters(docs, pairs).collect()}
    finally:
        # best-effort reset so later tests see no checkpoint dir (the scala
        # setter name contains '$', hence getattr); leaking it is harmless —
        # only the CC lineage-cut mode would change, with identical labels
        try:
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
        except Exception:
            pass
    assert reliable == local == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 5, 7: 7}
    import os

    assert os.listdir(tmp_path / "ckpt")  # reliable checkpoints were written


def test_lsh_band_shape_degenerate_threshold():
    from azure_workflow_for_kml_satellite_spark.operators.similarity import lsh_band_shape

    assert lsh_band_shape(1.0) == (32, 1)
    assert lsh_band_shape(1.5) == (32, 1)  # clamped
    r, b = lsh_band_shape(0.999999)
    assert r >= 2 and b >= 1


def test_ann_provable_equality_operating_points(spark):
    """coverage_band=True (LSH) and n_probe == n_centroids (IVF) must equal
    brute_force_topk exactly — the gate that lets the driver's exact-cosine
    oracle check the approximate-ANN machinery."""
    from azure_workflow_for_kml_satellite_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )

    rng = random.Random(31)
    vecs = [[rng.gauss(0, 1) for _ in range(12)] for _ in range(80)]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    qids = list(range(5))
    exact = sorted(map(tuple, brute_force_topk(emb, qids, k=7).collect()))
    lsh = sorted(map(tuple, lsh_topk(emb, qids, k=7, coverage_band=True).collect()))
    ivf = sorted(
        map(tuple, ivf_topk(emb, qids, k=7, n_centroids=6, n_probe=6, iters=2).collect())
    )
    assert lsh == exact
    assert ivf == exact


def test_ivf_training_sample_cap(spark):
    """Lloyd iterations must never see more than max_train_rows vectors; the
    derived hash sample is deterministic and training still yields usable
    centroids (recall floor vs exact)."""
    from azure_workflow_for_kml_satellite_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        train_ivf_centroids,
    )

    rng = random.Random(41)
    dim = 8
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(4)]
    vecs = [[v + rng.gauss(0, 0.1) for v in centers[i % 4]] for i in range(400)]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    c1 = train_ivf_centroids(emb, n_centroids=4, iters=2, max_train_rows=100)
    c2 = train_ivf_centroids(emb, n_centroids=4, iters=2, max_train_rows=100)
    assert c1 == c2  # deterministic under the cap
    qids = [0, 1]
    exact = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(emb, qids, k=10).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(
            emb, qids, k=10, n_centroids=4, n_probe=2, iters=2, max_train_rows=100
        ).collect()
    }
    assert len(exact & got) / len(exact) >= 0.8


def test_portfolio_two_level_fold_parity(spark):
    """The two-level Shewchuk-partials fold must (a) be bit-identical under
    any partitioning, (b) agree with the sequential portfolio_py fold on
    realistic data, (c) match direct math.fsum semantics exactly."""
    import math

    from azure_workflow_for_kml_satellite_spark.operators.metrics import (
        portfolio_py,
        portfolio_summary,
    )

    rng = random.Random(17)
    rows = [
        (
            f"u{idx % 97}",
            idx,
            rng.uniform(0.5, 900.0),
            rng.uniform(0.05, 40.0),
            None if rng.random() < 0.25 else rng.uniform(0.0, 1.0),
            None if rng.random() < 0.4 else rng.uniform(0.0, 30.0),
            None if rng.random() < 0.4 else rng.uniform(0.0, 30.0),
        )
        for idx in range(3000)
    ]
    schema = (
        "url string, feature_index long, area_ha double, perimeter_km double, "
        "latest_mean double, total_loss_ha double, total_gain_ha double"
    )
    geom = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3]) for r in rows],
        "url string, feature_index long, area_ha double, perimeter_km double",
    )
    trend = spark.createDataFrame(
        [(r[0], r[1], r[4]) for r in rows],
        "url string, feature_index long, latest_mean double",
    )
    chg = spark.createDataFrame(
        [(r[0], r[1], r[5], r[6]) for r in rows],
        "url string, feature_index long, total_loss_ha double, total_gain_ha double",
    )
    outs = []
    for parts in (1, 7, 32):
        out = portfolio_summary(
            geom.repartition(parts), trend.repartition(max(1, parts // 2)), chg
        ).collect()[0]
        outs.append(tuple(out))
    assert outs[0] == outs[1] == outs[2]  # partitioning-invariant, bit-exact
    # fsum semantics, recomputed directly
    exp_area = round(math.fsum(r[2] for r in rows), 4)
    wnum = math.fsum(r[4] * r[2] for r in rows if r[4] is not None)
    wden = math.fsum(r[2] for r in rows if r[4] is not None)
    assert outs[0][0] == 3000 and outs[0][1] == exp_area
    assert outs[0][3] == round(wnum / wden, 4)
    net = math.fsum((r[6] or 0.0) - (r[5] or 0.0) for r in rows)
    assert outs[0][6] == round(net, 2)
    # agreement with the sequential reference fold (4/2-dp rounded values)
    py = portfolio_py(
        [
            {
                "url": r[0], "feature_index": r[1], "area_ha": r[2],
                "perimeter_km": r[3], "latest_mean": r[4],
                "total_loss_ha": r[5], "total_gain_ha": r[6],
            }
            for r in rows
        ]
    )
    assert tuple(outs[0]) == py


def test_near_dup_clusters_star_matches_label_propagation(spark):
    """Large-star/small-star CC must produce the (doc_id → component-min)
    labelling of a pure-Python union-find, including on a long path
    (diameter 60 — converges in O(log n) rounds) and on random graphs with
    singletons."""
    from azure_workflow_for_kml_satellite_spark.operators.dedup import (
        near_dup_clusters,
    )

    # long path 0-1-2-...-60 plus a separate triangle and singletons
    n = 70
    docs = spark.createDataFrame([(i, f"t{i}") for i in range(n)], "doc_id long, text string")
    path = [(i, i + 1) for i in range(60)]
    tri = [(63, 64), (64, 65), (65, 63)]
    pairs = spark.createDataFrame(path + tri, "id_a long, id_b long")
    star = {r.doc_id: r.cluster_id for r in near_dup_clusters(docs, pairs).collect()}
    assert star == _union_find_min_labels(range(n), path + tri)
    assert star[60] == 0 and star[65] == 63 and star[66] == 66

    # randomized union-find cross-check
    rng = random.Random(9)
    m = 120
    edges = [(rng.randrange(m), rng.randrange(m)) for _ in range(100)]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _union_find_min_labels(range(m), edges)
    docs2 = spark.createDataFrame([(i, f"d{i}") for i in range(m)], "doc_id long, text string")
    pairs2 = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id for r in near_dup_clusters(docs2, pairs2).collect()}
    assert got == expected


def test_lsh_topk_pruned_recall(spark):
    """The PRUNED lsh_topk operating point (sign-bit bands only, the 100 TB
    config benchmarked in bench.py) must keep useful recall vs brute force
    on clustered data — pins that the bucket machinery actually routes
    neighbours together, not just that the coverage band works."""
    from azure_workflow_for_kml_satellite_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    rng = random.Random(27)
    dim = 16
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(5)]
    vecs = [[v + rng.gauss(0, 0.12) for v in centers[i % 5]] for i in range(200)]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    qids = list(range(5))
    exact = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(emb, qids, k=10).collect()
    }
    got = {
        (r.query_id, r.neighbor_id) for r in lsh_topk(emb, qids, k=10).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.7, recall


def test_near_dup_clusters_star_logn_on_huge_diameter(spark):
    """O(log n) demonstration: a 30 000-node PATH (graph diameter 30 000 —
    min-label propagation would need 30 000 rounds) must converge within
    star contraction's 24-double-round bound and label every node with the
    component minimum."""
    from pyspark.sql import functions as F

    from azure_workflow_for_kml_satellite_spark.operators.dedup import (
        near_dup_clusters,
    )

    n = 30_000
    docs = spark.range(n).select(F.col("id").alias("doc_id"), F.lit("t").alias("text"))
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    labels = near_dup_clusters(docs, pairs)  # raises if > 24 rounds
    agg = labels.agg(
        F.count("*").alias("n"),
        F.min("cluster_id").alias("lo"),
        F.max("cluster_id").alias("hi"),
    ).collect()[0]
    assert (agg["n"], agg["lo"], agg["hi"]) == (n, 0, 0)


def test_ann_pruned_operating_points_recall_floors(spark):
    """Recall floors at the PRUNED configs bench.py runs (round-4 verdict
    item 9). Everything in this path is deterministic (hash signatures,
    hash-sampled k-means seeds), so the measured recalls are constants;
    the floors sit just under the measured sf0.01 values recorded in
    BASELINE.md (ivf n_probe=4 → 0.572, lsh planes=12 → 0.324), and the
    IVF curve must be monotone with a provably-exact full-probe end."""
    from azure_workflow_for_kml_satellite_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()
    qids = list(range(50))
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, qids, 10).collect()
    }

    def recall(rows):
        got = {(r.query_id, r.neighbor_id) for r in rows}
        return len(exact & got) / len(exact)

    r_curve = []
    for n_probe in (2, 4, 16):
        r_curve.append(
            recall(ivf_topk(emb, qids, 10, n_centroids=16, n_probe=n_probe).collect())
        )
    assert r_curve[0] >= 0.3 and r_curve[1] >= 0.5, r_curve  # pruned floors
    assert r_curve == sorted(r_curve), r_curve  # more probes never hurt
    assert r_curve[2] == 1.0  # full probe == exact (provable-equality point)
    assert recall(lsh_topk(emb, qids, 10, planes=12).collect()) >= 0.3


def test_lsh_skew_guard_fires_on_mode_collapse_and_stays_exact(spark):
    """A mode-collapsed embedder (many near-identical vectors) concentrates
    one band bucket. With broadcast off, AQE's skew join must split the hot
    bucket of the LSH self-join, and the operator must return EXACTLY the
    exact all-pairs result."""
    import numpy as np

    from azure_workflow_for_kml_satellite_spark.operators.similarity import (
        embedding_near_dup_lsh,
        embedding_near_dup_pairs,
    )

    from tests.conftest import final_plan, spark_confs

    rng = np.random.default_rng(11)
    base = rng.normal(size=8)
    # 360 near-copies of one vector (the collapsed mode) + 40 random tails
    vecs = [
        (base + rng.normal(scale=0.01, size=8)).tolist() for _ in range(360)
    ] + [rng.normal(size=8).tolist() for _ in range(40)]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    exact = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_near_dup_pairs(emb, threshold=0.9).collect()
    }
    # at 8 shuffle partitions each holds one of the 15 hot band buckets, so
    # no partition stands out; 16 leave room for AQE to see the skew
    confs = {
        "spark.sql.shuffle.partitions": "16",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    with spark_confs(spark, confs):
        lsh = embedding_near_dup_lsh(emb, threshold=0.9)
        got = {(r["id_a"], r["id_b"], r["cosine"]) for r in lsh.collect()}
    assert "SortMergeJoin(skew=true)" in final_plan(lsh)
    assert len(exact) > 300  # the collapsed mode really is near-dup-dense
    assert got == exact


def _rh_band_buckets(emb_col: str, planes: int, bands: int):
    """Array of ``bands`` bucket strings "band:value" — each band packs
    ``planes // bands`` hyperplane sign bits — as JVM column expressions
    (signature bits never materialize as a >63-bit integer). The
    independent reference for ``similarity._rh_band_buckets_vec``."""
    rows = planes // bands

    def _component(p: int):
        return lambda v, d: v * (
            (F.pmod(F.xxhash64(d, F.lit(p)), F.lit(2001)) - F.lit(1000.0)) / 1000.0
        )

    out = []
    for bi in range(bands):
        val = F.lit(0)
        for ri in range(rows):
            comp = F.aggregate(
                F.zip_with(
                    F.col(emb_col),
                    F.sequence(F.lit(0), F.size(emb_col) - 1),
                    _component(bi * rows + ri),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            val = val + F.when(comp > 0, F.lit(1 << ri)).otherwise(F.lit(0))
        out.append(F.concat_ws(":", F.lit(bi), val.cast("string")))
    return F.array(*out)


def _rh_signature(emb_col: str, planes: int = 16):
    """Random-hyperplane signature as JVM column expressions: plane p's
    normal component for dim d is a deterministic pseudo-gaussian from
    xxhash64(d, p) (sum of two uniform mixes, centered); sign of the dot
    product is bit p. The independent reference for the production
    ``similarity._rh_band_buckets_vec``."""
    bits = []
    for p in range(planes):
        comp = F.aggregate(
            F.zip_with(
                F.col(emb_col),
                F.sequence(F.lit(0), F.size(emb_col) - 1),
                lambda v, d: v
                * ((F.pmod(F.xxhash64(d, F.lit(p)), F.lit(2001)) - F.lit(1000.0)) / 1000.0),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(comp > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig


def test_vectorized_lsh_bits_match_jvm_expressions(spark):
    """The production Arrow UDF ``_rh_band_buckets_vec`` equals the JVM
    column expressions bit for bit on a seeded 300x8 corpus: lsh_topk's
    12-plane, 3-band strings ``band:(sig >> 4·band) & 15`` derived from the
    integer signature ``_rh_signature``, and ``_rh_band_buckets`` at the
    0.9 operating point."""
    import numpy as np

    from azure_workflow_for_kml_satellite_spark.operators.similarity import (
        _plane_weights,
        _rh_band_buckets_vec,
        lsh_band_shape,
    )

    rng = np.random.default_rng(29)
    mat = rng.normal(size=(300, 8))
    mat[::60] = 0.0  # every component exactly 0: the `> 0` edge
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(mat)],
        "vec_id long, embedding array<double>",
    )
    rows, bands = lsh_band_shape(0.9)
    planes = rows * bands
    sig = _rh_signature("emb", 12)
    topk_jvm = F.array(*[
        F.concat_ws(":", F.lit(bi), F.shiftright(sig, 4 * bi).bitwiseAND(F.lit(15)).cast("string"))
        for bi in range(3)
    ])
    got = (
        emb.select("vec_id", F.col("embedding").alias("emb"))
        .select(
            "vec_id",
            sig.alias("sig_jvm"),
            topk_jvm.alias("topk_jvm"),
            _rh_band_buckets_vec(F.col("emb"), 12, 3, _plane_weights(emb, 12)).alias("topk_vec"),
            _rh_band_buckets("emb", planes, bands).alias("bkt_jvm"),
            _rh_band_buckets_vec(
                F.col("emb"), planes, bands, _plane_weights(emb, planes)
            ).alias("bkt_vec"),
        )
        .collect()
    )
    assert len(got) == 300
    assert [r.topk_vec for r in got] == [r.topk_jvm for r in got]
    assert [r.bkt_vec for r in got] == [r.bkt_jvm for r in got]
    assert len({r.sig_jvm for r in got}) > 100  # the bits really vary
    assert all(len(r.bkt_jvm) == bands for r in got)


def test_lsh_operators_on_a_table_without_embeddings(spark, monkeypatch):
    """No row has an embedding (an empty table, or only nulls): both LSH
    operators, IVF and both exact baselines return no rows, the LSH ones
    and IVF with their output columns and types, and IVF training runs no
    Lloyd pass. A null or all-zero embedding beside real ones is dropped:
    it scores no cosine, every operator returns the rows it gives without
    it, and the exact baselines and IVF (every list probed) return the rows
    of their LSH counterparts."""
    from azure_workflow_for_kml_satellite_spark.operators import similarity
    from azure_workflow_for_kml_satellite_spark.operators.similarity import (
        brute_force_topk,
        embedding_near_dup_lsh,
        embedding_near_dup_pairs,
        ivf_topk,
        lsh_topk,
        train_ivf_centroids,
    )

    nearest_calls = []
    nearest = similarity._nearest_centroids
    monkeypatch.setattr(
        similarity,
        "_nearest_centroids",
        lambda *a: nearest_calls.append(a) or nearest(*a),
    )
    schema = "vec_id long, embedding array<double>"
    for emb in (
        spark.createDataFrame([], schema),
        spark.createDataFrame([(1, None), (2, None)], schema),
    ):
        nearest_calls.clear()
        assert train_ivf_centroids(emb, 2) == []
        assert nearest_calls == []  # no assignment pass on no centroid
        pairs = embedding_near_dup_lsh(emb, threshold=0.9)
        assert pairs.dtypes == [("id_a", "bigint"), ("id_b", "bigint"), ("cosine", "double")]
        assert pairs.count() == 0
        topk = lsh_topk(emb, [1, 2], k=3)
        assert topk.dtypes == [
            ("query_id", "bigint"), ("neighbor_id", "bigint"), ("cosine", "double"), ("rank", "int"),
        ]
        assert topk.count() == 0
        assert brute_force_topk(emb, [1, 2], k=3).count() == 0
        assert embedding_near_dup_pairs(emb, threshold=0.9).count() == 0
        ivf = ivf_topk(emb, [1, 2], k=3, n_centroids=2, n_probe=2)
        assert ivf.dtypes == topk.dtypes and ivf.count() == 0

    mixed = spark.createDataFrame([(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.01])], schema)
    cos = round(1.0 / (1.0 + 0.01**2) ** 0.5, 6)
    assert [tuple(r) for r in embedding_near_dup_lsh(mixed, threshold=0.9).collect()] == [
        (1, 3, cos)
    ]
    topk = lsh_topk(mixed, [1, 2, 3], k=3, coverage_band=True)
    assert sorted(tuple(r) for r in topk.collect()) == [(1, 3, cos, 1), (3, 1, cos, 1)]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    mixed4_rows = [(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.01]), (4, [0.0, 1.0])]
    mixed4 = spark.createDataFrame(mixed4_rows, schema)
    with_zero = spark.createDataFrame(mixed4_rows + [(5, [0.0, 0.0])], schema)
    qids = [1, 2, 3, 4, 5]
    for tau in (0.0, 0.9):
        lsh_pairs = rows(embedding_near_dup_lsh(mixed4, threshold=tau))
        assert lsh_pairs and rows(embedding_near_dup_pairs(mixed4, threshold=tau)) == lsh_pairs
        assert rows(embedding_near_dup_lsh(with_zero, threshold=tau)) == lsh_pairs
        assert rows(embedding_near_dup_pairs(with_zero, threshold=tau)) == lsh_pairs
    lsh = rows(lsh_topk(mixed4, qids, k=2, coverage_band=True))
    assert len(lsh) == 6
    assert rows(lsh_topk(with_zero, qids, k=2, coverage_band=True)) == lsh
    for emb in (mixed4, with_zero):
        assert rows(brute_force_topk(emb, qids, k=2)) == lsh
        assert rows(ivf_topk(emb, qids, k=2, n_centroids=2, n_probe=2)) == lsh

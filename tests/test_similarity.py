"""Similarity / LSH operators: signature determinism, bucket-join
candidate generation vs brute force, threshold semantics."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from semtools_spark.operators import dedup, similarity


def test_int_hyperplane_signature_deterministic(spark, embeddings):
    e = embeddings.limit(100)
    a = {r.vec_id: r.lsh_bucket for r in
         similarity.int_hyperplane_signature(e, n_planes=8).collect()}
    b = {r.vec_id: r.lsh_bucket for r in
         similarity.int_hyperplane_signature(e.repartition(7), n_planes=8).collect()}
    assert a == b
    assert all(0 <= v < 256 for v in a.values())
    assert len(set(a.values())) > 1  # not degenerate


def test_int_signature_matches_numpy(spark, embeddings):
    """The JVM expression implements exactly: sign of sum_i floor(e_i*1e6) *
    w[j][i] with the Philox-seeded ±1 plane weights."""
    rows = embeddings.limit(20).select("vec_id", "embedding").collect()
    got = {r.vec_id: r.lsh_bucket for r in
           similarity.int_hyperplane_signature(embeddings.limit(20), n_planes=8).collect()}
    weights = similarity.int_plane_weights(8, 64)
    for r in rows:
        v = np.floor(np.asarray(r.embedding, dtype=np.float64) * 1_000_000).astype(np.int64)
        sig = 0
        for j in range(8):
            if int((v * weights[j]).sum()) > 0:
                sig |= 1 << j
        assert got[r.vec_id] == sig


def test_int_signature_spreads_buckets(spark):
    """Random embeddings must spread across many of the 256 buckets — the
    old linear-congruence parity collapsed to ~2 effective buckets, making
    the candidate join quadratic (ADVICE r1, high)."""
    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(256)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    buckets = {r.lsh_bucket for r in
               similarity.int_hyperplane_signature(df, n_planes=8).collect()}
    assert len(buckets) >= 64, f"only {len(buckets)} distinct buckets"


def test_embedding_near_dups_threshold(spark, embeddings):
    pairs = dedup.embedding_near_dups(embeddings, max_distance=0.8)
    rows = pairs.collect()
    assert all(r.dist_micro < 800000 for r in rows)
    assert all(r.a < r.b for r in rows)


def test_minhash_lsh_recall_on_planted_dups(spark):
    """Two near-identical docs must collide in at least one band."""
    base = "spark join vector window table scan merge filter sort group key"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "completely different words here now")],
        "doc_id long, text string",
    )
    pairs = {(r.a, r.b) for r in
             dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=4).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ivf_assign_is_argmin(spark, embeddings):
    """Each vector's assigned centroid is the true argmin (ties → lowest
    id) of integer micro-unit cosine distances — numpy cross-check."""
    rows = embeddings.limit(30).select("vec_id", "embedding").collect()
    got = {r.vec_id: r.centroid_id for r in
           similarity.ivf_assign(embeddings.limit(30), n_centroids=8, dim=64).collect()}
    cents = similarity.ivf_centroids(8, 64)
    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        nv = np.linalg.norm(v)
        d = []
        for c in cents:
            nc = np.linalg.norm(c)
            d.append(int(np.floor((1.0 - (v @ c) / (nv * nc) if nv * nc > 0 else 1.0) * 1e6)))
        assert got[r.vec_id] == int(np.argmin(d))


def test_ivf_topk_probes_subset_and_full_probe_is_exact(spark, embeddings):
    """nprobe = n_centroids degenerates to exact brute force; nprobe < n
    returns results only from probed lists."""
    q = [float(x) for x in np.asarray(embeddings.first().embedding)]
    exact = [r.vec_id for r in
             similarity.brute_force_topk(embeddings, q, k=5).collect()]
    full = [r.vec_id for r in
            similarity.ivf_topk(embeddings, q, k=5, nprobe=8, n_centroids=8, dim=64).collect()]
    assert full == exact
    probe = set(similarity.ivf_probe_ids(q, nprobe=2, n_centroids=8, dim=64))
    part = similarity.ivf_topk(embeddings, q, k=5, nprobe=2, n_centroids=8, dim=64).collect()
    assert part and all(r.centroid_id in probe for r in part)


def test_lsh_signature_dim_mismatch_raises(spark):
    """A vector length != dim must raise, not NULL-pad through zip_with
    and collapse every signature into bucket 0."""
    import pytest
    from pyspark.sql import functions as F

    from semtools_spark.operators.similarity import (
        int_hyperplane_signature,
        ivf_assign,
    )

    df = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3])], "vec_id long, embedding array<double>"
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    for op in (
        lambda d: int_hyperplane_signature(d, n_planes=4, dim=8),
        lambda d: ivf_assign(d, n_centroids=4, dim=8),
    ):
        with pytest.raises(Exception, match="length"):
            op(df).collect()


def test_ivf_trained_codebook_recall(spark, embeddings):
    """A spherical-kmeans-trained codebook (ivf_train_centroids) must not
    lose to the seeded-random one on mean recall@10 (both deterministic
    on this data, so this pins the training as a real improvement)."""
    import numpy as np

    from semtools_spark.embedding import HashEmbedder
    from semtools_spark.operators import similarity as S

    trained = S.ivf_train_centroids(embeddings, n_centroids=8, dim=64)
    assert trained.shape == (8, 64)
    assert np.allclose(np.linalg.norm(trained, axis=1), 1.0)

    queries = [
        "spark join vector", "window agg stream", "hash batch data",
        "customer order line", "query group value",
    ]
    r_seed = r_train = 0.0
    for q in queries:
        qv = HashEmbedder(dim=64).embed_one(q)
        truth = {r.vec_id for r in S.brute_force_topk(embeddings, qv, k=10).collect()}
        seeded = {
            r.vec_id for r in S.ivf_topk(embeddings, qv, k=10, nprobe=2, dim=64).collect()
        }
        tr = {
            r.vec_id
            for r in S.ivf_topk(
                embeddings, qv, k=10, nprobe=2, dim=64, centroids=trained
            ).collect()
        }
        r_seed += len(truth & seeded) / 10
        r_train += len(truth & tr) / 10
    assert r_train >= r_seed, (r_train, r_seed)


def test_ivf_indexed_matches_unindexed_and_prunes_partitions(spark, embeddings, tmp_path):
    """ivf_build_index + ivf_topk_indexed: (a) identical results to the
    per-query-assignment ivf_topk (same seeded codebook via the sidecar),
    (b) the probe scan physically PRUNES to the nprobe centroid
    partitions — PartitionFilters in the plan AND a pruned input-file
    list — proving the fractional-scan claim in the plan, not a
    docstring."""
    idx = str(tmp_path / "ivf_index")
    similarity.ivf_build_index(embeddings, idx, n_centroids=8, dim=64, seed=42)

    q = np.asarray(
        embeddings.orderBy("vec_id").first().embedding, dtype=np.float64
    )
    expect = similarity.ivf_topk(
        embeddings, q, k=10, nprobe=2, n_centroids=8, dim=64, seed=42
    ).collect()
    got = similarity.ivf_topk_indexed(spark, idx, q, k=10, nprobe=2).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in expect]

    probe = similarity.ivf_probe_ids(q, nprobe=2, n_centroids=8, dim=64, seed=42)
    pruned = spark.read.parquet(idx).filter(F.col("centroid_id").isin(probe))
    pruned.collect()  # execute THIS plan so its scan metrics populate
    plan_node = pruned._jdf.queryExecution().executedPlan()
    plan = plan_node.toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan, plan

    def scan_metrics(node):
        if "Scan" in node.nodeName():
            m = node.metrics()
            return {
                k: int(m.apply(k).value())
                for k in ("numFiles", "numPartitions")
                if m.contains(k)
            }
        ch = node.children()
        for i in range(ch.size()):
            got = scan_metrics(ch.apply(i))
            if got:
                return got
        return {}

    m = scan_metrics(plan_node)
    n_all_parts = len(
        {f.rsplit("/", 2)[-2] for f in spark.read.parquet(idx).inputFiles()}
    )
    assert n_all_parts == 8
    assert m.get("numPartitions") == len(probe) == 2, m
    assert 0 < m.get("numFiles", 0) < len(spark.read.parquet(idx).inputFiles()), m


def test_ivf_index_roundtrips_trained_codebook(spark, embeddings, tmp_path):
    """A kmeans-trained codebook persists with the index and the probe
    step scores against the bit-identical centroids (meta sidecar)."""
    cents = similarity.ivf_train_centroids(
        embeddings, n_centroids=8, dim=64, seed=42, max_sample=2000, iters=3
    )
    idx = str(tmp_path / "ivf_trained")
    similarity.ivf_build_index(
        embeddings, idx, n_centroids=8, dim=64, seed=42, centroids=cents
    )
    meta = similarity.ivf_read_meta(spark, idx)
    assert np.array_equal(meta["centroids"], cents)
    q = np.asarray(embeddings.orderBy("vec_id").first().embedding, dtype=np.float64)
    expect = similarity.ivf_topk(
        embeddings, q, k=5, nprobe=2, n_centroids=8, dim=64, seed=42,
        centroids=cents,
    ).collect()
    got = similarity.ivf_topk_indexed(spark, idx, q, k=5, nprobe=2).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in expect]


def test_ann_recall_floors_vs_brute_force(spark, embeddings):
    """Committed recall@10 floors for the approximate IVF path vs exact
    brute force — the oracle gates prove deterministic equivalence to the
    oracle's IDENTICAL approximation, not retrieval quality; this pins
    quality so a codebook regression fails a test instead of silently
    degrading. Measured on sf0.001 embeddings (uniform word-soup vectors
    — a hard, clusterless case): IVF seeded nprobe=2/8 = 0.505,
    kmeans-trained = 0.605 (training buys +0.10)."""
    pdf = embeddings.select("vec_id", "embedding").toPandas()
    pdf = pdf.sort_values("vec_id")
    ids = np.asarray(pdf.vec_id, dtype=np.int64)
    M = np.stack([np.asarray(v, np.float64) for v in pdf.embedding])
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    S = Mn @ Mn.T
    queries = ids[::25][:20]
    idx_of = {v: i for i, v in enumerate(ids)}

    def exact_top10(qid, exclude_self):
        i = idx_of[qid]
        d = np.floor((1.0 - S[i]) * 1e6)
        if exclude_self:
            d = d.copy()
            d[i] = np.inf
        order = np.lexsort((ids, d))
        return set(int(x) for x in ids[order[:10]])

    def ivf_recall(centroids=None):
        rec = []
        for qid in queries:
            approx = {
                r.vec_id
                for r in similarity.ivf_topk(
                    embeddings, M[idx_of[qid]], k=10, nprobe=2, n_centroids=8,
                    dim=64, seed=42, centroids=centroids,
                ).collect()
            }
            rec.append(len(exact_top10(qid, False) & approx) / 10)
        return float(np.mean(rec))

    seeded = ivf_recall()
    cents = similarity.ivf_train_centroids(
        embeddings, n_centroids=8, dim=64, seed=42, max_sample=2000, iters=10
    )
    trained = ivf_recall(cents)
    assert seeded >= 0.48, seeded
    assert trained >= 0.58, trained
    assert trained > seeded, (trained, seeded)


def test_multi_probe_signatures_match_numpy(spark, documents):
    """kg._embed_probe_udf (the LSH link's fused embed + multi-probe
    signing) vs a full NumPy recomputation over the testdata texts plus
    empty and NULL mentions: the embedding is HashEmbedder's,
    probe_buckets[0] is the exact int signature and the probe set flips
    exactly the n_probes lowest-|dot| bits in confidence order (ties to
    the lower plane index)."""
    from semtools_spark.embedding import HashEmbedder
    from semtools_spark.operators import kg

    n_planes, n_probes, dim = 6, 2, 64
    texts = [r.text for r in documents.select("text").collect()] + ["", None]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, m string")
    got = {
        r.i: (list(r.p.embedding), list(r.p.probe_buckets))
        for r in df.select(
            "i", kg._embed_probe_udf(dim, 42, n_planes, n_probes)(F.col("m")).alias("p")
        ).collect()
    }
    emb = HashEmbedder(dim=dim, seed=42).embed_texts([t or "" for t in texts])
    W = similarity.int_plane_weights(n_planes, dim, 42)
    assert len(got) == len(texts)
    for i, vec in enumerate(emb):
        d = np.floor(np.asarray(vec, np.float64) * 1e6).astype(np.int64) @ W.T
        base = int(((d > 0).astype(np.int64) << np.arange(n_planes)).sum())
        order = sorted(range(n_planes), key=lambda j: (abs(int(d[j])), j))
        want = [base] + [base ^ (1 << j) for j in order[:n_probes]]
        assert got[i][0] == [float(x) for x in vec], i
        assert got[i][1] == want, (i, got[i][1], want)


def test_int_signature_udf_matches_jvm(spark, embeddings):
    """kg._int_signature_udf (the LSH link's Arrow catalog signer) equals
    the JVM int_hyperplane_signature on every testdata embedding, at a
    plane count below, at and above one byte of signature."""
    from semtools_spark.operators import kg

    for n_planes in (4, 8, 13):
        jvm = similarity.int_hyperplane_signature(
            embeddings, n_planes=n_planes, dim=64, seed=42
        ).select(
            "vec_id",
            "lsh_bucket",
            kg._int_signature_udf(64, 42, n_planes)(F.col("embedding")).alias("udf"),
        ).collect()
        assert len(jvm) == 500
        assert all(r.lsh_bucket == r.udf for r in jvm), n_planes

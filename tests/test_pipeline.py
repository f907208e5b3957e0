"""LLM-pipeline operators: dedup (exact/MinHash/SimHash/Jaccard), similarity
search, text analysis, multimodal plumbing."""

import pandas as pd
from pyspark.sql import functions as F

from backtest_crew_datalake_spark.pipeline.dedup import (
    exact_dedup, minhash_dedup_pairs, ngram_jaccard_pairs, simhash,
)
from backtest_crew_datalake_spark.pipeline.multimodal import (
    extract_media_features, frame_sample_stub,
)
from backtest_crew_datalake_spark.pipeline.similarity import (
    cosine_topk, cosine_topk_bucketed, lsh_sign_buckets,
)
from backtest_crew_datalake_spark.pipeline.text import (
    doc_fingerprint, language_id, quality_score, token_stats,
)


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (3, "completely different content about spark engines"),
        (4, "el rapido zorro marron salta sobre el perro con la luz de la manana"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark)).orderBy("doc_id").toPandas()
    assert len(out) == 4  # 5 docs, one exact dup collapsed
    dup = out[out.n_copies == 2]
    assert len(dup) == 1 and dup.iloc[0].doc_id == 0  # keep min id


def test_ngram_jaccard_pairs(spark):
    out = ngram_jaccard_pairs(_docs(spark), n=2, threshold=0.5).toPandas()
    pairs = {(r.id_a, r.id_b) for r in out.itertuples()}
    assert (0, 2) in pairs  # exact dup -> jaccard 1.0
    assert (0, 1) in pairs and (1, 2) in pairs  # near-dups
    assert all(a < b for a, b in pairs)
    exact = out[(out.id_a == 0) & (out.id_b == 2)].iloc[0]
    assert exact.jaccard == 1.0


def test_minhash_pairs_finds_near_dups(spark):
    out = minhash_dedup_pairs(_docs(spark), n=2, num_hashes=32, bands=16)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (0, 2) in pairs  # exact dup always collides in every band
    # near-dup should collide in at least one of 16 bands w.h.p.
    assert (0, 1) in pairs or (1, 2) in pairs


def test_simhash_properties(spark):
    out = simhash(_docs(spark)).select("doc_id", "simhash").toPandas()
    sigs = dict(zip(out.doc_id, out.simhash))
    assert sigs[0] == sigs[2]  # identical text -> identical signature
    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham(sigs[0], sigs[1]) < ham(sigs[0], sigs[3])  # near < far


def _vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
        (4, [0.7, 0.7, 0.0, 0.0]),
        (5, [0.8, 0.0, 0.0, 0.0]),  # same sign-bucket as vec 0
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )


def test_cosine_topk(spark):
    v = _vecs(spark)
    q = v.where(F.col("vec_id") == 0)
    c = v.where(F.col("vec_id") != 0)
    out = cosine_topk(q, c, k=3).orderBy("rank").toPandas()
    assert list(out.neighbor_id) == [5, 1, 4]  # by descending cosine to e_x
    assert out.iloc[0].cos_sim > 0.99
    assert list(out["rank"]) == [1, 2, 3]


def test_cosine_topk_bucketed_same_bucket_recall(spark):
    v = _vecs(spark)
    q = v.where(F.col("vec_id") == 0)
    c = v.where(F.col("vec_id").isin(5, 3))
    out = cosine_topk_bucketed(q, c, k=2, bits=4).toPandas()
    # vec 3 (-x) is in a different sign bucket; only vec 5 is a candidate
    assert list(out.neighbor_id) == [5]


def test_lsh_sign_buckets_deterministic(spark):
    out = lsh_sign_buckets(_vecs(spark), bits=4).select("vec_id", "bucket") \
        .toPandas()
    b = dict(zip(out.vec_id, out.bucket))
    assert b[0] == 1          # only dim0 positive
    assert b[2] == 2          # only dim1 positive
    assert b[3] == 0          # all non-positive
    assert b[4] == 3          # dims 0+1 positive


def test_text_ops(spark):
    d = _docs(spark)
    ts = token_stats(d).orderBy("doc_id").toPandas()
    assert ts.iloc[0].n_tokens == 9
    qs = quality_score(d).orderBy("doc_id").toPandas()
    assert 0.0 <= qs.iloc[0].quality <= 1.0
    assert abs(qs.iloc[0].stopword_ratio - 2 / 9) < 1e-6  # 'the' twice
    li = language_id(d).orderBy("doc_id").toPandas()
    assert li.iloc[0].pred_lang == "en"
    assert li[li.doc_id == 4].iloc[0].pred_lang == "es"
    fp = doc_fingerprint(d).orderBy("doc_id").toPandas()
    assert fp.iloc[0].fingerprint == fp[fp.doc_id == 2].iloc[0].fingerprint
    assert fp.iloc[0].fingerprint != fp[fp.doc_id == 3].iloc[0].fingerprint


def test_ann_recall_on_real_embeddings(spark):
    """Recall@5 of the ANN paths vs brute force on the driver's embeddings
    table: IVF(nprobe=2) and sign-LSH must each recover a meaningful
    fraction of the true neighbors; IVF must beat nothing-found."""
    from backtest_crew_datalake_spark.pipeline.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = emb.where(F.col("vec_id") < 16)
    corpus = emb.where(F.col("vec_id") >= 16)
    qs = emb.where((F.col("vec_id") >= 16) & (F.col("vec_id") < 36))

    exact = cosine_topk(qs, corpus, k=5).toPandas()
    approx = ivf_topk(qs, corpus, cent, k=5, nprobe=4).toPandas()
    truth = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}
    got = {(r.query_id, r.neighbor_id) for r in approx.itertuples()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.3, f"IVF recall@5 too low: {recall}"
    # self-match sanity: each query is its own nearest neighbor in both
    self_pairs = {(q, q) for q in exact.query_id.unique()}
    assert self_pairs <= truth and self_pairs <= got


def test_count_min_sketch(spark):
    """CMS never underestimates; is exact for heavy hitters at this width;
    merged sketches equal the sketch of the union."""
    from backtest_crew_datalake_spark.pipeline.sketch import (
        cms_build, cms_estimate, cms_merge,
    )

    rows = [(f"k{i % 20}",) for i in range(1000)] + [("rare",)]
    df = spark.createDataFrame(rows, ["k"])
    sk = cms_build(df, "k", depth=4, width=256)
    keys = df.select("k").distinct()
    est = {r.k: r.est_count for r in
           cms_estimate(sk, keys, "k", depth=4, width=256).collect()}
    exact = {r.k: r["count"] for r in df.groupBy("k").count().collect()}
    for k, n in exact.items():
        assert est[k] >= n               # CMS overestimates only
        assert est[k] <= n + 60          # e/width * N bound with slack
    # mergeability: sketch(a) + sketch(b) == sketch(a ∪ b)
    half1 = spark.createDataFrame(rows[:500], ["k"])
    half2 = spark.createDataFrame(rows[500:], ["k"])
    merged = cms_merge(cms_build(half1, "k"), cms_build(half2, "k"))
    est2 = {r.k: r.est_count for r in
            cms_estimate(merged, keys, "k").collect()}
    assert est2 == est


def test_multimodal_plumbing(spark):
    rows = [(i, "image", bytes([i]) * (10 + i), {"src": f"f{i}"})
            for i in range(5)]
    df = spark.createDataFrame(rows, "media_id long, kind string, "
                                     "content binary, meta map<string,string>")
    out = extract_media_features(df).orderBy("media_id").toPandas()
    assert len(out) == 5
    assert list(out.n_bytes) == [10, 11, 12, 13, 14]
    assert all(len(f) == 8 for f in out.feature)
    assert out.digest.nunique() == 5
    # determinism: same bytes -> same features
    out2 = extract_media_features(df).orderBy("media_id").toPandas()
    assert list(out.digest) == list(out2.digest)
    assert list(out.width) == list(out2.width)

    frames = frame_sample_stub(df, every_n=10)
    pdf = frames.groupBy("media_id").count().toPandas()
    assert len(pdf) == 5 and (pdf["count"] >= 1).all()


def test_kmeans_centroids_match_numpy(spark):
    """kmeans_centroids (Lloyd as DataFrame ops) is bit-close to an
    independent numpy implementation with the same deterministic init."""
    import numpy as np
    from backtest_crew_datalake_spark.pipeline.similarity import (
        kmeans_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = sorted((r["vec_id"], np.array(r["embedding"], dtype=np.float64))
                  for r in emb.collect())
    ids = np.array([r[0] for r in rows])
    X = np.stack([r[1] for r in rows])
    # iters=4 additionally exercises the >2-iteration checkpoint path —
    # lineage truncation must not change the values
    for iters in (2, 4):
        got = {r["centroid_id"]: np.array(r["embedding"])
               for r in kmeans_centroids(emb, k=8, iters=iters).collect()}
        C = X[:8].copy()
        for _ in range(iters):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            a = d2.argmin(1)  # first occurrence = lowest centroid id
            for j in range(8):
                if (a == j).any():
                    C[j] = X[a == j].mean(0)
        for j in range(8):
            assert np.abs(got[int(ids[j])] - C[j]).max() < 1e-9


def test_kmeans_clear_clusters_and_empty_keepold(spark):
    """Two well-separated blobs -> centroids converge to the blob means;
    a centroid that captures nothing keeps its previous position."""
    from backtest_crew_datalake_spark.pipeline.similarity import (
        kmeans_centroids,
    )

    rows = [(0, [0.0, 0.1]), (1, [10.0, 10.1]), (2, [0.2, 0.0]),
            (3, [0.1, 0.2]), (4, [10.1, 9.9]), (5, [9.9, 10.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>"))
    cent = {r["centroid_id"]: r["embedding"]
            for r in kmeans_centroids(df, k=2, iters=3).collect()}
    import numpy as np
    blob0 = np.mean([[0.0, 0.1], [0.2, 0.0], [0.1, 0.2]], axis=0)
    blob1 = np.mean([[10.0, 10.1], [10.1, 9.9], [9.9, 10.0]], axis=0)
    assert np.abs(np.array(cent[0]) - blob0).max() < 1e-7
    assert np.abs(np.array(cent[1]) - blob1).max() < 1e-7

    # duplicate init vectors: every point ties to both centroids and the
    # tie-break sends all of them to the lowest centroid id, so cluster 1
    # goes empty on iteration 1 and must keep its previous position
    dup = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 1.0])],
        ["vec_id", "embedding"],
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    c2 = {r["centroid_id"]: r["embedding"]
          for r in kmeans_centroids(dup, k=2, iters=1).collect()}
    assert list(c2[1]) == [0.0, 0.0]  # empty cluster kept its init centroid
    assert abs(c2[0][0] - 1 / 3) < 1e-9 and abs(c2[0][1] - 1 / 3) < 1e-9


def test_winnow_fingerprints_vs_python_reference(spark):
    """winnow_fingerprints matches a from-scratch python winnowing; shared
    k+w-1-word runs guarantee a shared fingerprint (the winnowing property)."""
    import hashlib
    from backtest_crew_datalake_spark.pipeline.text import winnow_fingerprints

    docs = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "one two three alpha beta gamma delta epsilon zeta eta nine"),
        (2, "совершенно unrelated words here nothing shared at all today"),
        (3, "tiny doc"),  # < k words -> no fingerprints
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {}
    for r in winnow_fingerprints(df, k=3, w=4).collect():
        # r12: fingerprints are 16-byte binary digests (min over digests
        # == min over hex — unsigned-lexicographic order is preserved)
        got.setdefault(r["doc_id"], set()).add(bytes(r["fingerprint"]))

    def ref(text, k=3, w=4):
        toks = text.lower().split()
        grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        hs = [hashlib.md5(g.encode()).digest() for g in grams]
        return {min(hs[i:i + w]) for i in range(len(hs) - w + 1)}

    for doc_id, text in docs:
        assert got.get(doc_id, set()) == ref(text), doc_id
    # docs 0 and 1 share the 8-word run 'alpha..eta' (> k+w-1 = 6 words)
    assert got[0] & got[1]
    assert not (got[0] & got[2])
    assert 3 not in got


def test_pq_matches_numpy_and_recall(spark):
    """PQ codebooks/encode match a from-scratch numpy PQ bit-for-bit; ADC
    top-5 recall clearly beats random chance (synthetic embeddings are
    near-uniform, so absolute recall is modest by construction)."""
    import numpy as np
    from backtest_crew_datalake_spark.pipeline.pq import (
        pq_codebooks, pq_encode, pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    M, KS, D = 8, 16, 64
    cb = pq_codebooks(emb, m=M, ksub=KS, iters=2, dim=D)
    cbp = {(r["sub_id"], r["centroid_id"]): np.array(r["centroid"])
           for r in cb.collect()}
    assert len(cbp) == M * KS

    rows = sorted((r["vec_id"], np.array(r["embedding"], dtype=np.float64))
                  for r in emb.collect())
    ids = np.array([r[0] for r in rows])
    X = np.stack([r[1] for r in rows])
    d = D // M
    C = {j: X[:KS, j * d:(j + 1) * d].copy() for j in range(M)}
    for _ in range(2):
        for j in range(M):
            S = X[:, j * d:(j + 1) * d]
            a = ((S[:, None, :] - C[j][None, :, :]) ** 2).sum(-1).argmin(1)
            for c in range(KS):
                if (a == c).any():
                    C[j][c] = S[a == c].mean(0)
    for (sub, cid), v in cbp.items():
        assert np.abs(v - C[sub][cid]).max() < 1e-9

    codes = pq_encode(emb, cb, m=M, dim=D)
    cp = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    assert all(len(v) == M and all(0 <= c < KS for c in v)
               for v in cp.values())
    x = X[ids.tolist().index(17)]
    want = [int(((x[j * d:(j + 1) * d] - C[j]) ** 2).sum(1).argmin())
            for j in range(M)]
    assert cp[17] == want

    qs = emb.where(F.col("vec_id") < 10)
    got = {}
    for r in pq_topk(qs, codes, cb, k=5, m=M, dim=D).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    rec = tot = 0
    for qi in range(10):
        xq = X[ids.tolist().index(qi)]
        dd = ((X - xq) ** 2).sum(1)
        true5 = set(ids[np.argsort(dd, kind="stable")[:5]].tolist())
        rec += len(true5 & got[qi])
        tot += 5
    assert rec / tot >= 0.2  # >> 5/500 random chance


def test_ivf_pq_recall_and_shortlist_containment(spark):
    """IVF-PQ: every returned neighbor must come from a probed list
    (shortlist containment), and recall@5 must beat random chance. Also:
    with nprobe=nlist (probe everything) IVF-PQ equals plain PQ/ADC."""
    import numpy as np
    from backtest_crew_datalake_spark.pipeline.pq import (
        ivf_pq_topk, pq_codebooks, pq_encode, pq_topk,
    )
    from backtest_crew_datalake_spark.pipeline.similarity import (
        kmeans_assign, kmeans_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 10)

    out = ivf_pq_topk(qs, emb, k=5, nlist=8, nprobe=2, m=8, ksub=16,
                      iters=1).toPandas()
    assert set(out.groupby("query_id").size()) == {5}

    # shortlist containment: neighbors' lists ⊆ the query's probed lists
    cent = kmeans_centroids(emb, k=8, iters=1)
    lists = {r["vec_id"]: r["centroid_id"]
             for r in kmeans_assign(emb, cent).collect()}
    probed = {}
    for r in kmeans_assign(qs, cent, topn=2).collect():
        probed.setdefault(r["vec_id"], set()).add(r["centroid_id"])
    for r in out.itertuples():
        assert lists[r.neighbor_id] in probed[r.query_id]

    # probe-everything degenerates to plain ADC over the full corpus
    full = ivf_pq_topk(qs, emb, k=5, nlist=8, nprobe=8, m=8, ksub=16,
                       iters=1).toPandas()
    cb = pq_codebooks(emb, m=8, ksub=16, iters=1)
    codes = pq_encode(emb, cb, m=8)
    plain = pq_topk(qs, codes, cb, k=5, m=8).toPandas()
    key = ["query_id", "rank"]
    assert (full.sort_values(key).neighbor_id.tolist()
            == plain.sort_values(key).neighbor_id.tolist())

    # recall@5 vs exact L2, clearly above the 5/500 random baseline
    rows = sorted((r["vec_id"], np.array(r["embedding"], dtype=np.float64))
                  for r in emb.collect())
    ids = np.array([r[0] for r in rows])
    X = np.stack([r[1] for r in rows])
    got = {}
    for r in out.itertuples():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    rec = tot = 0
    for qi in range(10):
        xq = X[ids.tolist().index(qi)]
        true5 = set(ids[np.argsort(((X - xq) ** 2).sum(1),
                                   kind="stable")[:5]].tolist())
        rec += len(true5 & got[qi])
        tot += 5
    assert rec / tot >= 0.1  # shortlisted ADC on near-uniform data


def test_neardup_window_pairs(spark):
    """Sorted-simhash window scan: exact dups always pair (hamming 0);
    found pairs are a subset of the brute-force hamming-close pairs; on
    this corpus the single-rotation scan recovers a solid fraction."""
    from backtest_crew_datalake_spark.pipeline.dedup import (
        neardup_window_pairs, simhash,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {(r.id_a, r.id_b): r.hamming
           for r in neardup_window_pairs(docs, window=4,
                                         max_hamming=3).collect()}
    assert got, "no pairs found at all"

    sigs = {r.doc_id: r.simhash
            for r in simhash(docs).select("doc_id", "simhash").collect()}

    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    truth = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = ham(sigs[a], sigs[b])
            if h <= 3:
                truth[(a, b)] = h
    # correctness: every found pair is true and its hamming is exact
    for p, h in got.items():
        assert truth.get(p) == h, p
    # identical-signature docs sort adjacent: the scan may not emit every
    # pair of a >window-sized group, but the emitted hamming-0 pairs must
    # CONNECT each equal-signature group (cluster recovery is the sorted
    # scan's guarantee)
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (a, b), h in got.items():
        if h == 0:
            parent[find(a)] = find(b)
    by_sig = {}
    for i, s_ in sigs.items():
        by_sig.setdefault(s_, []).append(i)
    for group in by_sig.values():
        if len(group) > 1:
            roots = {find(i) for i in group}
            assert len(roots) == 1, group
    # meaningful recall for a single rotation
    assert len(got) / len(truth) >= 0.2, (len(got), len(truth))


def test_multimodal_resize_and_audio_windows(spark):
    """Resize emits constant-dimension payloads deterministically; audio
    windowing fans one payload into ceil(bytes/window) feature rows."""
    from backtest_crew_datalake_spark.pipeline.multimodal import (
        audio_window_features_stub, resize_stub,
    )

    rows = [(i, "image", bytes([i]) * (100 + 1000 * i), {"s": "x"})
            for i in range(4)]
    df = spark.createDataFrame(rows, "media_id long, kind string, "
                                     "content binary, meta map<string,string>")
    rz = resize_stub(df, width=64, height=64).orderBy("media_id").toPandas()
    assert list(rz.width.unique()) == [64]
    assert all(len(c) == 64 * 64 // 64 for c in rz.content)
    rz2 = resize_stub(df, width=64, height=64).orderBy("media_id").toPandas()
    assert list(rz.content) == list(rz2.content)  # deterministic

    au = audio_window_features_stub(df, window_bytes=1024).toPandas()
    per = au.groupby("media_id").size().to_dict()
    import math
    for i in range(4):
        assert per[i] == max(1, math.ceil((100 + 1000 * i) / 1024))
    assert all(len(f) == 4 for f in au.feature)


def test_ivf_pq_residual_variant(spark):
    """IVFADC residual path: well-formed top-k, deterministic, recall at
    least in the same band as the raw-vector variant on this corpus."""
    import numpy as np
    from backtest_crew_datalake_spark.pipeline.pq import ivf_pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 10)

    res = ivf_pq_topk(qs, emb, k=5, nlist=8, nprobe=2, m=8, ksub=16,
                      iters=1, residual=True).toPandas()
    assert set(res.groupby("query_id").size()) == {5}
    res2 = ivf_pq_topk(qs, emb, k=5, nlist=8, nprobe=2, m=8, ksub=16,
                       iters=1, residual=True).toPandas()
    key = ["query_id", "rank"]
    assert (res.sort_values(key).neighbor_id.tolist()
            == res2.sort_values(key).neighbor_id.tolist())  # deterministic

    rows = sorted((r["vec_id"], np.array(r["embedding"], dtype=np.float64))
                  for r in emb.collect())
    ids = np.array([r[0] for r in rows])
    X = np.stack([r[1] for r in rows])

    def recall(df):
        got = {}
        for r in df.itertuples():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hit = tot = 0
        for qi in range(10):
            xq = X[ids.tolist().index(qi)]
            true5 = set(ids[np.argsort(((X - xq) ** 2).sum(1),
                                       kind="stable")[:5]].tolist())
            hit += len(true5 & got[qi])
            tot += 5
        return hit / tot

    raw = ivf_pq_topk(qs, emb, k=5, nlist=8, nprobe=2, m=8, ksub=16,
                      iters=1, residual=False).toPandas()
    r_res, r_raw = recall(res), recall(raw)
    # same shortlist, finer quantizer: residual shouldn't trail raw by much
    # (near-uniform data gives residuals little to exploit, so ~parity)
    assert r_res >= 0.1
    assert r_res >= r_raw - 0.15, (r_res, r_raw)


def test_adversarial_lsh_recall_vs_exact_jaccard(spark):
    """Seeded adversarial near-dup corpus: 30 clusters of 2-3 mutated copies
    plus 150 random singletons. Ground truth = exact 3-gram Jaccard >= 0.4
    (ngram_jaccard_pairs). Gates:
    - MinHash+LSH recall >= 0.9 (banded candidates find the clusters);
    - sorted-simhash window scan: adding rotations recovers pairs that
      straddle a prefix boundary — rotated recall >= single-pass recall,
      and the rotated pass clears a 0.85 floor.
    """
    import random

    rng = random.Random(20260813)
    vocab = [f"tok{i}" for i in range(400)]
    docs, truth_clusters, did = [], [], 0
    for c in range(30):
        base = [rng.choice(vocab) for _ in range(60)]
        ids = []
        for _m in range(2 + c % 2):
            toks = list(base)
            for _ in range(3):  # ~5% token mutation -> jaccard ~0.7
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            docs.append((did, " ".join(toks)))
            ids.append(did)
            did += 1
        truth_clusters.append(ids)
    for _ in range(150):
        docs.append((did, " ".join(rng.choice(vocab) for _ in range(60))))
        did += 1
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df, n=3, threshold=0.4).collect()
    }
    assert len(truth) >= 25  # the engineered clusters are in the truth set

    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_dedup_pairs(df, n=3, num_hashes=32, bands=16).collect()
    }
    lsh_recall = len(truth & lsh) / len(truth)
    assert lsh_recall >= 0.9, f"minhash-LSH recall {lsh_recall}"

    from backtest_crew_datalake_spark.pipeline.dedup import (
        neardup_window_pairs,
    )

    kw = dict(window=6, max_hamming=20, prefix_bits=4)
    one = {(r.id_a, r.id_b)
           for r in neardup_window_pairs(df, rotations=1, **kw).collect()}
    four = {(r.id_a, r.id_b)
            for r in neardup_window_pairs(df, rotations=4, **kw).collect()}
    r1 = len(truth & one) / len(truth)
    r4 = len(truth & four) / len(truth)
    assert one <= four  # union of passes only ever adds pairs
    assert r4 >= r1, (r1, r4)
    assert r4 >= 0.85, f"rotated window-scan recall {r4} (single-pass {r1})"


def test_bmp_roundtrip_real_decode():
    """encode_bmp -> decode_bmp reproduces exact dimensions and pixel stats
    (vs direct numpy on the source array), including non-multiple-of-4 row
    widths (padding) and real brightness/aspect."""
    import numpy as np

    from backtest_crew_datalake_spark.pipeline.multimodal import (
        decode_bmp, decode_media, encode_bmp,
    )

    rng = np.random.default_rng(7)
    for h, w in [(8, 8), (5, 7), (3, 2)]:  # 7/2-wide rows need padding
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        out = decode_bmp(encode_bmp(px))
        assert (out["width"], out["height"]) == (w, h)
        want = px.mean(axis=(0, 1)) / 255.0
        got = np.array(out["feature"][:3])
        assert np.allclose(got, want, atol=1e-12)
        assert abs(out["feature"][6] - px.mean() / 255.0) < 1e-12
        assert abs(out["feature"][7] - w / h) < 1e-12
    # the sniffing dispatcher routes BMP to the real decoder
    px = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    assert decode_media(encode_bmp(px))["width"] == 4


def test_wav_roundtrip_real_decode():
    """encode_wav -> decode_wav recovers channel count, rate, duration and
    real signal statistics (RMS/peak/ZCR vs numpy)."""
    import numpy as np

    from backtest_crew_datalake_spark.pipeline.multimodal import (
        decode_media, decode_wav, encode_wav,
    )

    t = np.arange(1600)
    x = (10000 * np.sin(2 * np.pi * 440 * t / 16000)).astype(np.int16)
    out = decode_wav(encode_wav(x, rate=16000))
    f = out["feature"]
    assert f[0] == 1.0                       # mono
    assert abs(f[1] - 16000 / 48000) < 1e-12
    assert abs(f[2] - 0.1) < 1e-9            # 1600 frames @ 16 kHz
    xf = x / 32768.0
    assert abs(f[3] - np.sqrt(np.mean(xf * xf))) < 1e-12   # rms
    assert abs(f[4] - np.max(np.abs(xf))) < 1e-12          # peak
    assert out["width"] is None and out["height"] is None
    assert decode_media(encode_wav(x))["feature"][0] == 1.0


def test_decode_media_corrupt_bmp_raises():
    """A payload that sniffs as BMP but is malformed must raise, not
    silently degrade to stub features."""
    import pytest as _pytest

    from backtest_crew_datalake_spark.pipeline.multimodal import decode_media

    import struct

    bad = (struct.pack("<2sIHHI", b"BM", 100, 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, 4, 4, 1, 8, 0, 0, 0, 0, 0, 0)
           + b"\x00" * 8)  # 8-bpp claims -> NotImplementedError
    with _pytest.raises(NotImplementedError):
        decode_media(bad)


def test_extract_media_features_real_payloads(spark):
    """The Spark mapInPandas path decodes REAL BMP and WAV payloads: widths
    and features come from actual pixel/sample data, per kind."""
    import numpy as np

    from backtest_crew_datalake_spark.pipeline.multimodal import (
        encode_bmp, encode_wav, extract_media_features,
    )

    px = np.full((6, 4, 3), 128, dtype=np.uint8)
    wavb = encode_wav(np.zeros(320, dtype=np.int16), rate=16000)
    rows = [(1, "image", bytearray(encode_bmp(px)), None),
            (2, "audio", bytearray(wavb), None)]
    from backtest_crew_datalake_spark.pipeline.multimodal import MEDIA_SCHEMA
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in extract_media_features(df).collect()}
    assert (out[1].width, out[1].height) == (4, 6)
    assert abs(out[1].feature[0] - 128 / 255) < 1e-6
    assert out[2].width is None
    assert out[2].feature[2] - 0.02 < 1e-6  # 320 frames @ 16 kHz duration


def test_hash_sample_and_split_deterministic(spark):
    """Hash sampling/splitting is a pure function of the key: identical
    output under different partitionings, roughly proportional rates, and
    split assignment is stable when the corpus grows."""
    from backtest_crew_datalake_spark.pipeline.sampling import (
        hash_sample, train_split,
    )

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id for r in hash_sample(df, 10).collect()}
    b = {r.doc_id for r in hash_sample(df.repartition(17), 10).collect()}
    assert a == b
    assert 120 <= len(a) <= 280  # ~10% of 2000

    s1 = {r.doc_id: r.split for r in train_split(df).collect()}
    grown = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    s2 = {r.doc_id: r.split for r in train_split(grown).collect()}
    assert all(s2[k] == v for k, v in s1.items())  # growth never reassigns
    frac = sum(1 for v in s1.values() if v == "train") / len(s1)
    assert 0.74 <= frac <= 0.86


def test_pack_bins_append_until_full(spark):
    """pack_bins is the append-until-full shard rule: bins are contiguous
    in order, start at 0, and no bin would still fit its last document's
    predecessor set (total - last_doc < capacity)."""
    from backtest_crew_datalake_spark.pipeline.sampling import pack_bins

    import random
    rng = random.Random(3)
    rows = [(i, "en", rng.randrange(50, 900)) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "sz"])
    out = pack_bins(df, "sz", capacity=2048, by=["lang"],
                    order_col="doc_id").orderBy("doc_id").collect()
    bins = [r.bin for r in out]
    assert bins[0] == 0
    assert all(b2 - b1 in (0, 1) for b1, b2 in zip(bins, bins[1:]))
    from collections import defaultdict
    totals, last = defaultdict(int), {}
    for r in out:
        totals[r.bin] += r.sz
        last[r.bin] = r.sz
    for b, tot in totals.items():
        assert tot - last[b] < 2048, (b, tot)


def test_contamination_flags_copied_benchmark_doc(spark):
    from backtest_crew_datalake_spark.pipeline.sampling import contamination

    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog again")],
        ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again"),  # copy
         (11, "completely different words about spark window functions")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in contamination(corpus, bench, n=3).collect()}
    assert 10 in out and out[10].ratio == 1.0
    assert 11 not in out

def test_wav_8bit_unsigned_decode():
    """8-bit PCM WAV is UNSIGNED (silence at 128): digital silence must
    decode to mean == rms == 0 exactly, and a full-scale square wave to
    |peak| <= 1 with symmetric mean — a signed-i8 misread would show
    silence as a -1.0 DC offset (the r3 fix, now pinned)."""
    import io
    import wave

    import numpy as np

    from backtest_crew_datalake_spark.pipeline.multimodal import decode_wav

    def enc8(samples_u8, rate=8000):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(1)
            wf.setframerate(rate)
            wf.writeframes(np.asarray(samples_u8, dtype=np.uint8).tobytes())
        return buf.getvalue()

    silence = decode_wav(enc8(np.full(800, 128)))
    f = silence["feature"]
    assert f[3] == 0.0 and f[6] == 0.0   # rms == mean == 0 for silence
    assert f[4] == 0.0                   # peak

    square = np.tile([255, 1], 400)      # ±127/128 full-scale square
    g = decode_wav(enc8(square))["feature"]
    assert abs(g[4] - 127 / 128) < 1e-12            # peak
    assert abs(g[6]) < 0.01                         # symmetric -> mean ~ 0
    assert abs(g[3] - 127 / 128) < 0.01             # rms of a square wave


def test_png_roundtrip_real_decode():
    """encode_png -> decode_png reproduces exact dimensions and pixel stats
    (vs direct numpy), and the sniffing dispatcher routes PNG to the real
    decoder — not the hash stub."""
    import numpy as np

    from backtest_crew_datalake_spark.pipeline.multimodal import (
        decode_media, decode_png, encode_png,
    )

    rng = np.random.default_rng(11)
    for h, w in [(8, 8), (5, 7), (3, 2)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        out = decode_png(encode_png(px))
        assert (out["width"], out["height"]) == (w, h)
        assert np.allclose(out["feature"][:3], px.mean(axis=(0, 1)) / 255.0,
                           atol=1e-12)
        assert abs(out["feature"][6] - px.mean() / 255.0) < 1e-12
        assert abs(out["feature"][7] - w / h) < 1e-12
    px = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    assert decode_media(encode_png(px))["width"] == 4


def test_png_decode_filtered_scanlines_and_rgba():
    """decode_png reverses every PNG filter type (Sub/Up/Average/Paeth) and
    handles RGBA (color type 6, alpha excluded from stats): a PNG whose
    scanlines cycle through all five filters decodes to the same pixel
    statistics as the unfiltered encoding of the same array."""
    import struct
    import zlib

    import numpy as np

    from backtest_crew_datalake_spark.pipeline.multimodal import (
        _PNG_SIG, _png_chunk, decode_png,
    )

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    def build_png(px, nch, filters):
        h, w, _ = px.shape
        ctype = 2 if nch == 3 else 6
        raw = bytearray()
        prev = np.zeros(w * nch, np.int32)
        for y in range(h):
            line = px[y].reshape(-1).astype(np.int32)
            f = filters[y % len(filters)]
            out = np.zeros(w * nch, np.int32)
            for x in range(w * nch):
                a = int(line[x - nch]) if x >= nch else 0
                b = int(prev[x])
                c = int(prev[x - nch]) if x >= nch else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    pred = paeth(a, b, c)
                out[x] = (line[x] - pred) & 0xFF
            raw += bytes([f]) + out.astype(np.uint8).tobytes()
            prev = line
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
                + _png_chunk(b"IEND", b""))

    rng = np.random.default_rng(23)
    # RGB with all five filter types across scanlines
    px = rng.integers(0, 256, size=(10, 6, 3), dtype=np.uint8)
    out = decode_png(build_png(px, 3, [0, 1, 2, 3, 4]))
    assert (out["width"], out["height"]) == (6, 10)
    assert np.allclose(out["feature"][:3], px.mean(axis=(0, 1)) / 255.0,
                       atol=1e-12)
    # RGBA: stats over RGB only
    pxa = rng.integers(0, 256, size=(4, 5, 4), dtype=np.uint8)
    out = decode_png(build_png(pxa, 4, [4, 3, 2, 1]))
    assert (out["width"], out["height"]) == (5, 4)
    assert np.allclose(out["feature"][:3],
                       pxa[:, :, :3].mean(axis=(0, 1)) / 255.0, atol=1e-12)


def test_extract_media_features_png_payload(spark):
    """The Spark mapInPandas path decodes REAL PNG payloads alongside BMP
    and WAV: the width/height/features come from actual zlib-inflated
    pixels, not the hash stub."""
    import numpy as np

    from backtest_crew_datalake_spark.pipeline.multimodal import (
        MEDIA_SCHEMA, encode_png, extract_media_features,
    )

    px = np.full((6, 4, 3), 64, dtype=np.uint8)
    rows = [(3, "image", bytearray(encode_png(px)), None)]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_media_features(df).collect()[0]
    assert (out.width, out.height) == (4, 6)
    assert abs(out.feature[0] - 64 / 255) < 1e-6
    assert abs(out.feature[3]) < 1e-12  # constant image -> zero std

def test_lloyd_checkpoint_constant_plan_depth(spark):
    """Each Lloyd round embeds the previous centroid plan on both sides of
    the assignment join, doubling the logical plan per iteration; past 2
    rounds the loop checkpoints the centroid/codebook table, so plan size
    must stay CONSTANT in the iteration count (analyzer blow-up guard for
    long refinements), with the truncated lineage visible as LogicalRDD."""
    from backtest_crew_datalake_spark.pipeline.pq import pq_codebooks
    from backtest_crew_datalake_spark.pipeline.similarity import (
        kmeans_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def kplan(iters):
        df = kmeans_centroids(emb, k=4, iters=iters)
        return df._jdf.queryExecution().optimizedPlan().toString()

    p4, p8 = kplan(4), kplan(8)
    assert len(p8) < len(p4) * 1.5, (len(p4), len(p8))
    assert "LogicalRDD" in p4

    def pqplan(iters):
        cb = pq_codebooks(emb, m=8, ksub=4, iters=iters)
        return cb._jdf.queryExecution().optimizedPlan().toString()

    q4, q8 = pqplan(4), pqplan(8)
    assert len(q8) < len(q4) * 1.5, (len(q4), len(q8))
    assert "LogicalRDD" in q4

def test_ngram_jaccard_bucket_local_matches_self_join(spark):
    """With max_df set, pairs are generated bucket-locally from collected
    posting lists; when no shingle actually exceeds the cap this must be
    EXACTLY the self-join path's answer (same pairs, same jaccard)."""
    d = _docs(spark)
    capped = ngram_jaccard_pairs(d, n=2, threshold=0.3, max_df=10).collect()
    free = ngram_jaccard_pairs(d, n=2, threshold=0.3).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, free))
    assert len(capped) > 0

def test_shared_spans_extracts_known_copied_span(spark, tmp_path):
    """Constructed ground truth for q_doc_shared_spans: doc 1 embeds an
    exact copy of doc 0's tokens [10, 31) at offset 20; every other token
    is globally unique. The extractor must emit exactly one maximal span
    with the true offsets, length and alignment delta."""
    import pandas as pd

    from backtest_crew_datalake_spark.queries import all_queries

    a_toks = [f"a{i}" for i in range(60)]
    copied = a_toks[10:31]                      # 21 tokens
    b_toks = [f"b{i}" for i in range(20)] + copied + \
        [f"c{i}" for i in range(20)]
    pdf = pd.DataFrame({
        "doc_id": [0, 1],
        "text": [" ".join(a_toks), " ".join(b_toks)],
        "lang": ["en", "en"],
        "source": ["t", "t"],
        "n_chars": [len(" ".join(a_toks)), len(" ".join(b_toks))],
    })
    sf_dir = str(tmp_path)
    pdf.to_parquet(f"{sf_dir}/documents.parquet")

    rows = all_queries()["q_doc_shared_spans"].build(spark, sf_dir).collect()
    assert len(rows) == 1, rows
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (0, 1)
    assert r["start_a"] == 10 and r["start_b"] == 20
    assert r["len_tokens"] == 21
    assert r["align_delta"] == -10

def test_winnow_pairs_vs_python_bruteforce(spark, tmp_path):
    """Bucket-local pair generation == brute-force O(n^2) fingerprint-set
    intersection on a randomized corpus with planted overlaps (df cap and
    shared_fps >= 2 threshold applied identically)."""
    import hashlib
    import itertools
    import random

    import pandas as pd

    from backtest_crew_datalake_spark.queries import all_queries

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(40)]
    texts = []
    for i in range(30):
        toks = [rng.choice(vocab) for _ in range(rng.randint(6, 40))]
        texts.append(" ".join(toks))
    # plant near-dups: doc 30/31 share doc 0's text with small edits
    texts.append(texts[0])
    texts.append(texts[0].replace("w1", "w2"))
    pdf = pd.DataFrame({
        "doc_id": range(len(texts)), "text": texts,
        "lang": ["en"] * len(texts), "source": ["t"] * len(texts),
        "n_chars": [len(t) for t in texts],
    })
    pdf.to_parquet(f"{tmp_path}/documents.parquet")

    def fingerprints(text, k=3, w=4):
        toks = text.strip().lower().split()
        if len(toks) < k + w - 1:
            return set()
        hs = [hashlib.md5(" ".join(toks[i:i + k]).encode()).hexdigest()
              for i in range(len(toks) - k + 1)]
        return {min(hs[i:i + w]) for i in range(len(hs) - w + 1)}

    fps = {i: fingerprints(t) for i, t in enumerate(texts)}
    df_count = {}
    for s in fps.values():
        for fp in s:
            df_count[fp] = df_count.get(fp, 0) + 1
    rare = {fp for fp, c in df_count.items() if c <= 10}
    want = {}
    for a, b in itertools.combinations(range(len(texts)), 2):
        shared = len(fps[a] & fps[b] & rare)
        if shared >= 2:
            want[(a, b)] = shared

    got = {(r["id_a"], r["id_b"]): r["shared_fps"]
           for r in all_queries()["q_doc_winnow_pairs"]
           .build(spark, str(tmp_path)).collect()}
    assert got == want and (30, 31) in got  # planted near-dups found


def test_shared_spans_exact_vs_python_bruteforce(spark, tmp_path):
    """q_doc_shared_spans_exact == a from-scratch brute force over ALL doc
    pairs and ALL alignment deltas, on a corpus that plants (a) one doc
    copying TWO spans from another at DIFFERENT deltas — the case the
    dominant-delta q_doc_shared_spans misses by construction — and (b)
    random near-dups. Candidate pairs share >= 1 rare winnow fingerprint
    (the winnowing guarantee covers every span >= 6 tokens)."""
    import hashlib
    import itertools
    import random

    import pandas as pd

    from backtest_crew_datalake_spark.queries import all_queries

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(50)]
    texts = []
    for i in range(20):
        toks = [rng.choice(vocab) for _ in range(rng.randint(6, 40))]
        texts.append(" ".join(toks))
    # (a) doc 20: two distinct spans of doc 0 at different offsets — two
    # different alignment deltas; globally-unique filler between them
    a_toks = [f"u{i}" for i in range(40)]
    texts.append(" ".join(a_toks))                      # doc 20
    texts.append(" ".join(
        [f"x{i}" for i in range(5)] + a_toks[0:8]       # delta 5-0=...
        + [f"y{i}" for i in range(7)] + a_toks[25:35]
        + [f"z{i}" for i in range(4)]))                 # doc 21
    # (b) a straight duplicate
    texts.append(texts[3])                              # doc 22
    pdf = pd.DataFrame({
        "doc_id": range(len(texts)), "text": texts,
        "lang": ["en"] * len(texts), "source": ["t"] * len(texts),
        "n_chars": [len(t) for t in texts],
    })
    pdf.to_parquet(f"{tmp_path}/documents.parquet")

    def grams(text, k=3):
        toks = text.strip().lower().split()
        return [hashlib.md5(" ".join(toks[i:i + k]).encode()).hexdigest()
                for i in range(len(toks) - k + 1)] if len(toks) >= k else []

    def fingerprints(hs, w=4):
        return {min(hs[i:i + w]) for i in range(len(hs) - w + 1)} \
            if len(hs) >= w else set()

    gs = {i: grams(t) for i, t in enumerate(texts)}
    fps = {i: fingerprints(hs) for i, hs in gs.items()}
    df_count = {}
    for s in fps.values():
        for fp in s:
            df_count[fp] = df_count.get(fp, 0) + 1
    rare = {fp for fp, c in df_count.items() if c <= 10}

    want = set()
    for a, b in itertools.combinations(range(len(texts)), 2):
        if not (fps[a] & fps[b] & rare):
            continue
        # all maximal runs at every delta
        matches = sorted(
            (pa - pb, pa)
            for pa, ha in enumerate(gs[a])
            for pb, hb in enumerate(gs[b]) if ha == hb
        )
        by_delta = {}
        for delta, pa in matches:
            by_delta.setdefault(delta, []).append(pa)
        for delta, pas in by_delta.items():
            run_start, prev = pas[0], pas[0]
            for p in pas[1:] + [None]:
                if p is not None and p == prev + 1:
                    prev = p
                    continue
                n = prev - run_start + 1
                if n >= 4:
                    want.add((a, b, run_start, run_start - delta,
                              n + 2, delta))
                if p is not None:
                    run_start = prev = p
    got = {(r["id_a"], r["id_b"], r["start_a"], r["start_b"],
            r["len_tokens"], r["align_delta"])
           for r in all_queries()["q_doc_shared_spans_exact"]
           .build(spark, str(tmp_path)).collect()}
    assert got == want
    # the planted two-delta pair produced BOTH spans (deltas differ)
    deltas_20_21 = {s[5] for s in got if (s[0], s[1]) == (20, 21)}
    assert len(deltas_20_21) == 2, got
    # and the straight duplicate is a full-length span at delta 0
    assert any(s[0] == 3 and s[1] == 22 and s[5] == 0 for s in got), got


def test_connected_components_shapes(spark):
    """Chain, clique, isolated pair: labels = min reachable id; the chain
    (path graph) needs multiple propagation rounds; plan depth stays
    bounded via per-round checkpoints."""
    from backtest_crew_datalake_spark.pipeline.dedup import (
        connected_components,
    )

    # component A: path 1-2-3-4-5 (diameter 4); component B: clique
    # {10,11,12}; component C: pair {20, 21}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (20, 21)],
        ["id_a", "id_b"],
    )
    got = {r["id"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_connected_components_long_path_converges(spark):
    """A 12-node path needs ~diameter rounds of min propagation — the
    sum-based convergence witness must keep iterating until every node
    carries the global min, and stop after."""
    from backtest_crew_datalake_spark.pipeline.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["id_a", "id_b"])
    got = {r["id"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {i: 0 for i in range(13)}


def test_chunk_documents_boundaries(spark):
    """Chunk starts/lengths/hashes match a from-scratch python chunker,
    including the short final chunk and the single-chunk short doc."""
    import hashlib

    from backtest_crew_datalake_spark.pipeline.text import chunk_documents

    texts = {
        0: " ".join(f"t{i}" for i in range(80)),   # 80 toks: 4 chunks
        1: " ".join(f"s{i}" for i in range(24)),   # exactly one stride
        2: "one two",                              # short single chunk
    }
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {(r["doc_id"], r["chunk_id"]):
           (r["start_tok"], r["n_tokens"], r["chunk_md5"])
           for r in chunk_documents(df, size=32, stride=24).collect()}
    want = {}
    for d, t in texts.items():
        toks = t.split()
        s = 0
        cid = 0
        while s < len(toks):
            chunk = toks[s:s + 32]
            want[(d, cid)] = (
                s, len(chunk),
                hashlib.md5(" ".join(chunk).encode()).hexdigest())
            s += 24
            cid += 1
    assert got == want
    assert len([k for k in got if k[0] == 0]) == 4  # 0,24,48,72


def test_blocklist_scrub_word_boundaries(spark):
    """Only whole words are masked ('values' is untouched by 'value');
    counts match occurrences."""
    from backtest_crew_datalake_spark.pipeline.text import blocklist_scrub

    df = spark.createDataFrame(
        [(0, "value values value secret secretive"),
         (1, "nothing to redact here")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in
            blocklist_scrub(df, ["value", "secret"]).collect()}
    assert rows[0]["n_redactions"] == 3
    assert rows[0]["scrubbed"] == "[MASK] values [MASK] [MASK] secretive"
    assert rows[1]["n_redactions"] == 0
    assert rows[1]["scrubbed"] == "nothing to redact here"


def test_stratified_sample_exact_allocation(spark):
    """Exactly n rows per stratum (or the whole stratum when smaller), and
    the selection is deterministic across invocations."""
    from backtest_crew_datalake_spark.pipeline.sampling import (
        stratified_sample,
    )

    rows = [(i, "en" if i < 40 else ("fr" if i < 60 else "xx"))
            for i in range(63)]  # en: 40, fr: 20, xx: 3
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out1 = stratified_sample(df, by=("lang",), n_per_stratum=10).collect()
    counts = {}
    for r in out1:
        counts[r["lang"]] = counts.get(r["lang"], 0) + 1
    assert counts == {"en": 10, "fr": 10, "xx": 3}
    out2 = stratified_sample(df, by=("lang",), n_per_stratum=10).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))


def test_tfidf_topk_hand_checked(spark):
    from backtest_crew_datalake_spark.pipeline.text import tfidf_topk

    # "rare" appears only in doc 0; "common" in every doc (idf ~ ln(4/4)=0)
    rows = [
        (0, "rare common common"),
        (1, "common alpha alpha"),
        (2, "common beta"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.doc_id, r.rank): (r.token, r.tf) for r in
           tfidf_topk(df, k=2).collect()}
    # doc 0: 'rare' (tf=1, df=1 -> idf=ln(2)) beats 'common'
    # (tf=2, df=3 -> idf=0); doc 1: 'alpha' (tf=2, df=1) first.
    assert out[(0, 1)] == ("rare", 1)
    assert out[(0, 2)] == ("common", 2)
    assert out[(1, 1)] == ("alpha", 2)


def test_length_quantiles_exact(spark):
    from backtest_crew_datalake_spark.pipeline.text import length_quantiles

    # 100 docs with n_chars = 1..100: type-1 quantiles are exactly 50/90/99
    rows = [(i, "en", i) for i in range(1, 101)] + [(200, "fr", 7)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "n_chars"])
    out = {r.lang: r for r in length_quantiles(df).collect()}
    en = out["en"]
    assert (en.n_rows, en.q_0_5, en.q_0_9, en.q_0_99) == (100, 50, 90, 99)
    fr = out["fr"]
    assert (fr.n_rows, fr.q_0_5, fr.q_0_9, fr.q_0_99) == (1, 7, 7, 7)


def test_hard_negatives_excludes_same_label(spark):
    from backtest_crew_datalake_spark.pipeline.similarity import hard_negatives

    # query [1,0]: nearest is same-label (1) so must be skipped; best
    # different-label is the 45-degree vector (2), then orthogonal (3).
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.01], 0),   # same label, nearly identical
        (2, [1.0, 1.0], 1),
        (3, [0.0, 1.0], 2),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    q = df.where(F.col("vec_id") == 0)
    c = df.where(F.col("vec_id") > 0)
    out = hard_negatives(q, c, k=2).orderBy("rank").collect()
    assert [r.neighbor_id for r in out] == [2, 3]
    assert all(r.neighbor_label != r.query_label for r in out)


def test_label_silhouette_separated_clusters(spark):
    from backtest_crew_datalake_spark.pipeline.similarity import label_silhouette

    # two tight, far-apart clusters -> silhouette near 1 for both labels
    rows = [
        (0, [0.0, 0.0], 0), (1, [0.1, 0.0], 0), (2, [0.0, 0.1], 0),
        (3, [10.0, 10.0], 1), (4, [10.1, 10.0], 1), (5, [10.0, 10.1], 1),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {r.label: r for r in label_silhouette(df).collect()}
    assert out[0].n_vecs == 3 and out[1].n_vecs == 3
    assert out[0].silhouette > 0.99 and out[1].silhouette > 0.99


def test_source_mix_allocation(spark):
    from backtest_crew_datalake_spark.pipeline.sampling import source_mix

    # 900 docs from 'big', 100 from 'small': sqrt-temperature at frac=0.5
    # keeps small's share ~3x its natural rate and keeps rates in [0,1]
    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = source_mix(df, frac=0.5).groupBy("source").count().collect()
    got = {r.source: r["count"] for r in out}
    # expected rates: w = (30, 10), wsum=40 -> big: 500*0.75/900 = 41.7%,
    # small: 500*0.25/100 = 125% -> capped at 100%
    assert got["small"] == 100               # small source fully kept
    assert 300 < got["big"] < 450            # ~41.7% of 900, hash-jittered
    # determinism: re-run is byte-identical
    out2 = source_mix(df, frac=0.5).groupBy("source").count().collect()
    assert got == {r.source: r["count"] for r in out2}


def test_unigram_nll_ranks_rare_docs_higher(spark):
    from backtest_crew_datalake_spark.pipeline.text import unigram_nll

    rows = [
        (0, "common common common common"),
        (1, "common common rare1 rare2"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in unigram_nll(df).collect()}
    assert out[0].n_tokens == 4 and out[1].n_tokens == 4
    # doc 1 contains two singleton tokens -> higher surprise
    assert out[1].nll > out[0].nll


def test_incremental_neardup_flags(spark):
    from backtest_crew_datalake_spark.pipeline.dedup import (
        incremental_neardup_flags,
    )

    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today"),
         (1, "completely unrelated text about spark shuffles and joins")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),  # exact dup
         (11, "nothing like anything in the existing corpus at all zz")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in
           incremental_neardup_flags(new, corpus).collect()}
    assert 10 in out and out[10].first_match == 0
    assert out[10].n_collisions == 8          # identical text -> all 8 bands
    assert 11 not in out                      # novel doc is not flagged


def test_image_dhash_and_near_dup_pairs(spark):
    import numpy as np

    from backtest_crew_datalake_spark.pipeline.multimodal import (
        dhash64, dhash_candidate_pairs, encode_bmp, encode_png,
        gray_pixels, image_dhash,
    )

    # deterministic 32x32 textured image (a smooth gradient is degenerate
    # for dHash: every horizontal difference has the same sign)
    rng = np.random.default_rng(0)
    base = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    noisy = base.copy()
    noisy[5, 5] = [255, 255, 255]            # one-pixel speck
    other = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)

    rows = [
        (0, "image", bytearray(encode_bmp(base))),
        (1, "image", bytearray(encode_png(base))),   # same pixels, other codec
        (2, "image", bytearray(encode_bmp(noisy))),
        (3, "image", bytearray(encode_bmp(other))),
        (4, "audio", bytearray(b"RIFF\x00\x00\x00\x00WAVE")),  # not an image
    ]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, content binary")
    hashed = image_dhash(df)
    got = {r.media_id: r.dhash for r in hashed.collect()}

    # spark-side hash == local python reference on the same pixels
    ref = dhash64(gray_pixels(bytes(encode_bmp(base))))
    signed_ref = ref - (1 << 64) if ref >= (1 << 63) else ref
    assert got[0] == signed_ref
    assert got[1] == got[0]                  # codec-independent (same pixels)
    assert got[4] is None                    # non-image -> NULL, not fake bits

    pairs = {(r.id_a, r.id_b): r.hamming
             for r in dhash_candidate_pairs(hashed).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 0
    assert (0, 2) in pairs and pairs[(0, 2)] <= 3   # speck: near-dup
    assert not any(3 in p for p in pairs)           # unrelated image is far


def test_dhash_candidate_pairs_recall_vs_brute_force(spark):
    """Banded-join EXACTNESS on a seeded hash corpus: plant near-dup
    clusters by flipping <= max_hamming random bits of base hashes, add
    random far hashes, and compare dhash_candidate_pairs against a
    numpy brute-force all-pairs popcount. The pigeonhole claim
    (multimodal.py:880): any pair within Hamming ``bands - 1`` shares at
    least one of the ``bands`` bit-slices, so the equi-join misses
    NOTHING inside the radius (recall 1.0), and the exact
    bit_count(xor) filter admits nothing outside it (precision 1.0) —
    output must EQUAL brute force, pair for pair, distance for
    distance."""
    import numpy as np

    from backtest_crew_datalake_spark.pipeline.multimodal import (
        dhash_candidate_pairs,
    )

    for seed, bands, max_hamming in [(0, 4, 3), (1, 4, 2), (2, 8, 7)]:
        rng = np.random.default_rng(seed)
        hashes = []
        # 24 planted clusters of 3: base + two perturbations that flip
        # 1..max_hamming random bits (intra-cluster distance can exceed
        # the radius when flips don't overlap — brute force decides)
        for _ in range(24):
            base = int(rng.integers(0, 1 << 64, dtype=np.uint64))
            hashes.append(base)
            for _ in range(2):
                v = base
                for bit in rng.choice(
                        64, size=int(rng.integers(1, max_hamming + 1)),
                        replace=False):
                    v ^= 1 << int(bit)
                hashes.append(v)
        # 80 unrelated hashes (random pairs land at ~32 bits apart)
        hashes += [int(v) for v in rng.integers(
            0, 1 << 64, size=80, dtype=np.uint64)]

        arr = np.array(hashes, dtype=np.uint64)
        xor = arr[:, None] ^ arr[None, :]
        dist = np.vectorize(lambda v: bin(int(v)).count("1"))(xor)
        iu = np.triu_indices(len(arr), k=1)
        want = {(int(i), int(j)): int(dist[i, j])
                for i, j in zip(*iu) if dist[i, j] <= max_hamming}
        assert want, "seed produced no in-radius pairs; test is vacuous"

        signed = [v - (1 << 64) if v >= (1 << 63) else v for v in hashes]
        df = spark.createDataFrame(
            list(enumerate(signed)), "media_id long, dhash long")
        got = {(r.id_a, r.id_b): r.hamming
               for r in dhash_candidate_pairs(
                   df, bands=bands, max_hamming=max_hamming).collect()}
        assert got == want


def test_dhash_image_near_dup_recall(spark):
    """End-to-end image-level recall: a seeded corpus where each base
    image gets a lightly-perturbed twin; every twin pair whose TRUE
    dHash distance (computed locally) is within the radius must come
    back from image_dhash -> dhash_candidate_pairs."""
    import numpy as np

    from backtest_crew_datalake_spark.pipeline.multimodal import (
        dhash64, dhash_candidate_pairs, encode_bmp, gray_pixels,
        image_dhash,
    )

    rng = np.random.default_rng(7)
    rows, local = [], {}
    mid = 0
    for _ in range(12):
        base = rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8)
        twin = base.copy()
        # small local perturbation: one 2x2 patch brightened
        y, x = rng.integers(0, 22, size=2)
        twin[y:y + 2, x:x + 2] = np.minimum(
            twin[y:y + 2, x:x + 2].astype(np.int32) + 40, 255
        ).astype(np.uint8)
        for px in (base, twin):
            content = bytes(encode_bmp(px))
            rows.append((mid, "image", bytearray(content)))
            local[mid] = dhash64(gray_pixels(content))
            mid += 1

    # local brute force over ALL hash pairs (not just planted twins)
    want = set()
    for i in range(mid):
        for j in range(i + 1, mid):
            if bin(local[i] ^ local[j]).count("1") <= 3:
                want.add((i, j))
    assert want, "no in-radius image pairs; perturbation too strong"

    df = spark.createDataFrame(
        rows, "media_id long, kind string, content binary")
    got = {(r.id_a, r.id_b)
           for r in dhash_candidate_pairs(image_dhash(df)).collect()}
    assert got == want


def test_pagerank_star_graph(spark):
    from backtest_crew_datalake_spark.pipeline.dedup import pagerank

    # star: hub 0 connected to 1..4 — hub rank must dominate, leaves equal,
    # and the distribution sums to ~1
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], ["id_a", "id_b"])
    out = {r.id: r.pr for r in pagerank(edges).collect()}
    assert len(out) == 5
    assert abs(sum(out.values()) - 1.0) < 1e-4
    leaves = [out[i] for i in range(1, 5)]
    assert len(set(leaves)) == 1
    assert out[0] > 2 * leaves[0]
    # closed form for a star with d=0.85, n=5 after convergence:
    # hub = (0.15/5) + 0.85*4*leaf_share; check against power iteration
    import numpy as np
    r = np.full(5, 0.2)
    for _ in range(5):
        new = np.full(5, 0.15 / 5)
        new[0] += 0.85 * r[1:].sum()          # leaves have degree 1
        new[1:] += 0.85 * r[0] / 4            # hub splits over 4 edges
        r = new
    assert abs(out[0] - round(float(r[0]), 6)) < 1e-6


def test_bpe_merges_hand_computed(spark):
    from backtest_crew_datalake_spark.pipeline.text import bpe_merges

    # vocab: low x2, lower x1. pairs r1: (l,o)=3, (o,w)=3, (w,e)=1, (e,r)=1
    # -> tie broken lexicographically: (l,o). r2: (lo,w)=3 -> merge.
    # r3: (low,e)=1 vs (e,r)=1 -> (e,r).
    df = spark.createDataFrame([(0, "low low lower")], ["doc_id", "text"])
    got = [(r.round, r.a, r.b, r.pair_count)
           for r in bpe_merges(df, rounds=3).orderBy("round").collect()]
    assert got == [(1, "l", "o", 3), (2, "lo", "w", 3), (3, "e", "r", 1)]


def test_pagerank_empty_edges(spark):
    from backtest_crew_datalake_spark.pipeline.dedup import pagerank

    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = pagerank(empty)
    assert out.columns == ["id", "pr"] and out.count() == 0


def test_gray_pixels_rejects_unsupported_bmp_variants(spark):
    from backtest_crew_datalake_spark.pipeline.multimodal import (
        encode_bmp, gray_pixels,
    )
    import numpy as np

    good = bytearray(encode_bmp(np.zeros((8, 8, 3), dtype=np.uint8)))
    assert gray_pixels(bytes(good)) is not None
    bad = bytearray(good)
    bad[28] = 32                      # claim 32 bpp: must be skipped, not
    assert gray_pixels(bytes(bad)) is None   # hashed as garbage pixels


def test_bpe_merges_ignores_pipe_words(spark):
    from backtest_crew_datalake_spark.pipeline.text import bpe_merges

    # the pipe-containing word must not corrupt the symbol encoding —
    # merges are learned from the clean words only
    df = spark.createDataFrame([(0, "a|b low low lower")], ["doc_id", "text"])
    got = [(r.round, r.a, r.b) for r in
           bpe_merges(df, rounds=2).orderBy("round").collect()]
    assert got == [(1, "l", "o"), (2, "lo", "w")]


def test_bpe_apply_rounds_beyond_available_merges_noop(spark):
    """A merge round with NO remaining adjacent pairs must be a no-op,
    not empty the vocab: single-char words exhaust merges at round 0, so
    rounds=3 must still report the un-merged totals (pre-fix the empty
    argmax crossJoin wiped the vocab and the summary went all-NULL)."""
    from backtest_crew_datalake_spark.pipeline.text import bpe_apply

    df = spark.createDataFrame([(0, "a b a c")], ["doc_id", "text"])
    row = bpe_apply(df, rounds=3).collect()[0]
    assert row.total_words == 4 and row.vocab_size == 3
    assert row.tokens_before == 4 and row.tokens_after == 4
    assert row.compression == 1.0


def test_ngram_novelty_hand_checked(spark):
    from backtest_crew_datalake_spark.pipeline.text import ngram_novelty

    rows = [
        (0, "a b c d"),            # shingles {abc, bcd}: all first -> 1.0
        (1, "a b c d"),            # exact copy -> 0.0
        (2, "a b c x"),            # {abc(seen), bcx(new)} -> 0.5
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in ngram_novelty(df).collect()}
    assert out[0].novelty == 1.0 and out[0].n_shingles == 2
    assert out[1].novelty == 0.0
    assert out[2].novelty == 0.5


def test_bloom_filter(spark):
    """Bloom: zero false negatives; FP rate bounded at the sized load;
    probe result matches a python-set reference for negatives tested."""
    from backtest_crew_datalake_spark.pipeline.sketch import (
        bloom_build, bloom_might_contain,
    )

    members = [(f"in{i}",) for i in range(500)]
    df = spark.createDataFrame(members, ["k"])
    sk = bloom_build(df, "k", m_bits=16384, k=3)
    # every member must hit (no false negatives)
    hits = bloom_might_contain(sk, df.distinct(), "k", m_bits=16384, k=3)
    assert hits.where("NOT might_contain").count() == 0
    # non-members: FP rate must be near the analytic bound
    probe = spark.createDataFrame([(f"out{i}",) for i in range(2000)], ["k"])
    fp = (
        bloom_might_contain(sk, probe, "k", m_bits=16384, k=3)
        .where("might_contain").count()
    )
    # (1 - e^{-kn/m})^k ~ 0.00057 at n=500, m=16384, k=3; allow 10x slack
    assert fp <= 2000 * 0.006, f"false-positive rate too high: {fp}/2000"


def test_hll_estimate(spark):
    """HLL: estimate within the ~1.04/sqrt(m) relative-error envelope (5x
    slack) across small (linear-counting) and large (raw) cardinalities;
    merged register tables equal the sketch of the union."""
    from pyspark.sql import functions as F
    from backtest_crew_datalake_spark.pipeline.sketch import (
        hll_build, hll_estimate,
    )

    for n in (50, 20000):
        df = spark.range(n).select(
            F.concat(F.lit("u"), F.col("id")).alias("k")
        )
        est = hll_estimate(
            spark, hll_build(df, "k", p=8), p=8
        ).collect()[0].estimate
        rel = abs(est - n) / n
        assert rel < 5 * 1.04 / (256 ** 0.5), f"n={n}: est={est} rel={rel}"
    # mergeability: union of register tables by MAX == sketch of the union
    a = spark.range(0, 600).select(F.concat(F.lit("u"), F.col("id")).alias("k"))
    b = spark.range(400, 1000).select(
        F.concat(F.lit("u"), F.col("id")).alias("k")
    )
    from backtest_crew_datalake_spark.pipeline.sketch import hll_merge

    merged = hll_merge(hll_build(a, "k", p=8), hll_build(b, "k", p=8))
    whole = hll_build(a.unionByName(b), "k", p=8)
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, whole.collect()))


def test_hll_rho_case_matches_bit_length():
    """The integer-only leading-zero CASE agrees with python's bit_length
    on boundary values (powers of two, zero, max)."""
    import duckdb
    from backtest_crew_datalake_spark.pipeline.sketch import _rho_case

    w_bits = 26
    case = _rho_case("w", w_bits)
    vals = [0, 1, 2, 3, 4, (1 << 25) - 1, 1 << 25, (1 << 26) - 1, 5, 1024]
    got = duckdb.connect().execute(
        f"SELECT w, {case} FROM (SELECT UNNEST(?::BIGINT[]) AS w)", [vals]
    ).fetchall()
    for w, rho in got:
        expect = w_bits - w.bit_length() + 1
        assert rho == expect, (w, rho, expect)


def test_gif_roundtrip_and_dispatch():
    """encode_gif -> decode_gif reproduces pixels exactly (palette +
    stdlib LZW with width growth); decode_media sniffs GIF; dhash over a
    GIF equals dhash over a BMP of the same pixels (codec independence)."""
    import numpy as np
    from backtest_crew_datalake_spark.pipeline.multimodal import (
        _gif_px, decode_media, dhash64, encode_bmp, encode_gif, gray_pixels,
    )

    rng = np.random.default_rng(7)
    # draw pixels from an explicit 100-color palette (<= 256 unique)
    palette = rng.integers(0, 256, (100, 3), dtype=np.uint8)
    px = palette[rng.integers(0, 100, (18, 24))]
    gif = encode_gif(px)
    assert np.array_equal(_gif_px(gif), px)
    feat = decode_media(gif)
    assert (feat["width"], feat["height"]) == (24, 18)
    assert dhash64(gray_pixels(gif)) == dhash64(gray_pixels(encode_bmp(px)))


def test_gif_interlaced_decode():
    """Interlaced GIF: rows stored in 4-pass order come back in display
    order."""
    import numpy as np
    from backtest_crew_datalake_spark.pipeline.multimodal import (
        _gif_px, encode_gif,
    )

    h, w = 13, 5
    px = (np.arange(h * w * 3, dtype=np.int64) % 251).astype(
        np.uint8).reshape(h, w, 3)
    order = [y for y in range(0, h, 8)] + [y for y in range(4, h, 8)] + \
            [y for y in range(2, h, 4)] + [y for y in range(1, h, 2)]
    stored = px[order]              # rows as an interlaced file stores them
    gif = bytearray(encode_gif(stored))
    # flip the interlace bit in the image descriptor (after header+lsd+gct)
    flags = gif[10]
    gct_len = (2 << (flags & 0x07)) * 3
    idesc = 13 + gct_len
    assert gif[idesc] == 0x2C
    gif[idesc + 9] |= 0x40
    assert np.array_equal(_gif_px(bytes(gif)), px)


def test_gif_lzw_kwkwk_case():
    """The KwKwK corner (decoder receives the code it is about to define):
    handcrafted 3-bit stream CLEAR,0,len(table) must yield [0, 0, 0]."""
    from backtest_crew_datalake_spark.pipeline.multimodal import (
        _gif_lzw_decode,
    )

    codes, width = [4, 0, 6, 5], 3  # CLEAR, 0, KwKwK, EOI at mcs=2
    acc = n = 0
    out = bytearray()
    for c in codes:
        acc |= c << n
        n += width
        while n >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        out.append(acc & 0xFF)
    assert _gif_lzw_decode(bytes(out), 2) == [0, 0, 0]


def test_gif_rejects_over_256_colors():
    import numpy as np
    import pytest
    from backtest_crew_datalake_spark.pipeline.multimodal import encode_gif

    px = np.arange(32 * 32 * 3, dtype=np.int64).astype(np.uint8)
    px = px.reshape(32, 32, 3)
    px[:, :, 0] = np.arange(32)[:, None]
    px[:, :, 1] = np.arange(32)[None, :]  # 1024 unique colors
    with pytest.raises(ValueError, match="256"):
        encode_gif(px)


def test_audio_frame_features_real_signal(spark):
    """Real per-frame WAV analysis: a file that is 100ms of 440 Hz sine
    followed by 100ms of silence frames into 8×25ms frames whose measured
    rms/zcr/peak match the signal analytically; non-WAV payloads yield no
    rows."""
    import numpy as np
    from backtest_crew_datalake_spark.pipeline.multimodal import (
        audio_frame_features, encode_wav,
    )

    rate = 16000
    t = np.arange(int(rate * 0.1)) / rate
    sine = 0.5 * np.sin(2 * np.pi * 440 * t)
    silence = np.zeros(int(rate * 0.1))
    pcm = np.round(np.concatenate([sine, silence]) * 32768.0)
    wav = encode_wav(np.clip(pcm, -32768, 32767).astype("<i2"), rate=rate)
    rows = [(1, "audio", bytearray(wav), {"s": "x"}),
            (2, "junk", bytearray(b"not a wav"), {"s": "x"})]
    df = spark.createDataFrame(rows, "media_id long, kind string, "
                                     "content binary, meta map<string,string>")
    out = audio_frame_features(df, frame_ms=25).toPandas()
    assert set(out.media_id) == {1}          # junk yields no rows
    assert len(out) == 8 and set(out.n_frames) == {8}
    out = out.sort_values("frame_idx")
    feats = list(out.feature)
    # sine frames: rms ~ A/sqrt(2), peak ~ A, zcr ~ 2f/rate
    for f in feats[:4]:
        assert abs(f[0] - 0.5 / np.sqrt(2)) < 0.01, f
        assert abs(f[1] - 0.5) < 0.01, f
        assert abs(f[2] - 2 * 440 / rate) < 0.01, f
    # silence frames: all-zero features
    for f in feats[4:]:
        assert f[0] == 0.0 and f[1] == 0.0, f


def test_gif_animation_roundtrip_and_frame_sample(spark):
    """Animated GIF: encode_gif_anim -> gif_frames is frame-exact; the
    frame sampler emits every Nth frame with the same dHash the still
    image pipeline computes; non-GIF rows yield nothing."""
    import numpy as np
    from backtest_crew_datalake_spark.pipeline.multimodal import (
        dhash64, encode_gif_anim, frame_sample_gif, gif_frames,
    )

    rng = np.random.RandomState(7)
    frames = []
    for i in range(5):
        # 16x12, 4-color quantized, varying per frame
        fr = (rng.randint(0, 4, (12, 16, 3)) * 80 + i * 5).astype(np.uint8)
        frames.append(fr)
    payload = encode_gif_anim(frames)

    got = list(gif_frames(payload))
    assert len(got) == 5
    for want, have in zip(frames, got):
        assert np.array_equal(want, have)

    rows = [(1, "video", bytearray(payload), {"s": "x"}),
            (2, "junk", bytearray(b"nope"), {"s": "x"})]
    df = spark.createDataFrame(rows, "media_id long, kind string, "
                                     "content binary, meta map<string,string>")
    out = frame_sample_gif(df, every_n=2).toPandas()
    assert set(out.media_id) == {1}
    assert sorted(out.frame_idx) == [0, 2, 4]
    assert set(out.n_frames) == {5}
    assert set(out.width) == {16} and set(out.height) == {12}
    # sampled-frame hash == the still pipeline's hash of the same frame
    for _, r in out.iterrows():
        fr = frames[r.frame_idx].astype(np.float64)
        g = fr[:, :, 0] * 0.299 + fr[:, :, 1] * 0.587 + fr[:, :, 2] * 0.114
        v = dhash64(g)
        assert r.dhash == (v - (1 << 64) if v >= (1 << 63) else v)


def test_gif_transparency_and_disposal(spark):
    """Animation model details: a transparent index leaves the canvas
    pixel; disposal 2 clears the frame region to background before the
    next frame composites."""
    import struct as _s
    import numpy as np
    from backtest_crew_datalake_spark.pipeline.multimodal import (
        _gif_lzw_stream, gif_frames,
    )

    # hand-build: 2x1 canvas, GCT [red, blue], bg=0 (red)
    # frame1: both pixels blue; GCE disposal=2
    # frame2: pixel0 transparent(idx0), pixel1 blue -> canvas shows
    #         [red (restored bg, transparent), blue]
    gct = bytes([255, 0, 0, 0, 0, 255])
    lsd = _s.pack("<HHBBB", 2, 1, 0x80, 0, 0)
    gce1 = bytes([0x21, 0xF9, 4, 0b00001000, 0, 0, 0, 0])  # disposal 2
    img1 = _s.pack("<BHHHHB", 0x2C, 0, 0, 2, 1, 0)
    s1 = _gif_lzw_stream(np.array([1, 1]), 1)
    gce2 = bytes([0x21, 0xF9, 4, 0b00000001, 0, 0, 0, 0])  # transparent=0
    img2 = _s.pack("<BHHHHB", 0x2C, 0, 0, 2, 1, 0)
    s2 = _gif_lzw_stream(np.array([0, 1]), 1)
    payload = (b"GIF89a" + lsd + gct + gce1 + img1 + s1
               + gce2 + img2 + s2 + b"\x3B")
    f1, f2 = list(gif_frames(payload))
    assert f1.tolist() == [[[0, 0, 255], [0, 0, 255]]]
    assert f2.tolist() == [[[255, 0, 0], [0, 0, 255]]]


def test_bigram_entropy_hand_checked(spark, tmp_path):
    from backtest_crew_datalake_spark.queries.text import q_doc_bigram_entropy

    # src_det: "a b a b a" -> ab,ba,ab,ba: every prev is deterministic -> H=0
    # src_mix: "x y x z" -> xy,yx,xz: prev x splits 1/1 (1 bit over cp=2),
    #   prev y deterministic -> H = 2/3 bits
    rows = [
        (0, "a b a b a", "en", "src_det", 9),
        (1, "x y x z", "en", "src_mix", 7),
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"])
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.source: (r.n_bigrams, r.cond_entropy_bits)
           for r in q_doc_bigram_entropy(spark, str(tmp_path)).collect()}
    assert out["src_det"] == (4, 0.0)
    assert out["src_mix"][0] == 3
    assert abs(out["src_mix"][1] - round(2 / 3, 6)) < 1e-9


def test_linear_probe_hand_checked(spark, tmp_path):
    import math

    from pyspark.sql import types as T

    from backtest_crew_datalake_spark.queries.embeddings import (
        q_emb_linear_probe,
    )

    # zero vector -> logit = bias = 0.1 -> prob = sigmoid(0.1) ~ 0.524979
    # w[1] = ((37 % 21) - 10)/10 = 0.6; e1*(-10) -> logit = 0.1 - 6 -> ~0
    zero = [0.0] * 64
    e1 = [0.0] * 64
    e1[1] = -10.0
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ])
    df = spark.createDataFrame([(0, zero, 0), (1, e1, 1)], schema)
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = {r.label: r for r in
           q_emb_linear_probe(spark, str(tmp_path)).collect()}
    sig = lambda x: 1.0 / (1.0 + math.exp(-x))  # noqa: E731
    assert out[0].n_vectors == 1 and out[0].n_pos == 1
    assert abs(out[0].avg_prob - round(sig(0.1), 6)) < 1e-9
    assert out[1].n_pos == 0
    assert abs(out[1].avg_prob - round(sig(0.1 - 6.0), 6)) < 1e-9


def test_ppjoin_pairs_complete_vs_bruteforce(spark):
    import itertools
    import random

    from backtest_crew_datalake_spark.pipeline.dedup import ppjoin_pairs

    # seeded corpus engineered for near-dup structure: doc 2i+1 is doc 2i
    # with a small suffix edit, so pairs straddle the 0.6 threshold
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(20):
        base = [rng.choice(vocab) for _ in range(rng.randint(1, 40))]
        edit = base[:-3] + [rng.choice(vocab) for _ in range(3)] \
            if len(base) > 3 else base + ["zz"]
        rows.append((2 * i, " ".join(base)))
        rows.append((2 * i + 1, " ".join(edit)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def sh(text, n=3):
        t = text.strip().split()
        if len(t) < n:
            return {" ".join(t)}
        return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}

    sets = {i: sh(t) for i, t in rows}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        ni = len(sets[a] & sets[b])
        if ni:
            ratio = ni / (len(sets[a]) + len(sets[b]) - ni)
            if ratio >= 0.6 - 1e-9:  # unrounded threshold (display rounds)
                want[(a, b)] = (ni, round(ratio, 6))
    got = {(r.id_a, r.id_b): (r.n_inter, r.jaccard)
           for r in ppjoin_pairs(df, threshold=0.6).collect()}
    assert got == want and want  # complete AND exact (and non-trivial)


def test_ppjoin_positional_alpha_float_boundary(spark):
    """Pin the float-ceil hazard in the positional filter: at t=0.4 with
    |A|+|B| = 7, the required overlap is exactly 2 (2/7 * 7), but the
    double product (0.4/1.4)*7 = 2.0000000000000004 ceils to 3 — without
    the 1e-9 guard the ONLY prefix match of this qualifying pair
    (ubound = 2) is pruned and the pair is silently lost. Unigram
    shingles (n=1) give exact control of the sets: A = {ua1, ua2, s1,
    s2}, B = {ub, s1, s2}, Jaccard = 2/5 = 0.4, and the rarity order
    puts the shared elements at the LAST prefix slot of both sides."""
    from backtest_crew_datalake_spark.pipeline.dedup import ppjoin_pairs

    rows = [(0, "ua1 ua2 s1 s2"), (1, "ub s1 s2")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.id_a, r.id_b): (r.n_inter, r.jaccard)
           for r in ppjoin_pairs(df, n=1, threshold=0.4).collect()}
    assert got == {(0, 1): (2, 0.4)}


def test_ppl_buckets_tertiles(spark):
    from backtest_crew_datalake_spark.pipeline.text import ppl_buckets

    # one language, 9 docs with strictly increasing surprise: doc i gets
    # i distinct singleton tokens appended to a common base, so nll rises
    # monotonically with doc_id -> tertiles are docs {0-2},{3-5},{6-8}
    rows = [
        (i, "base base base " + " ".join(f"rare{i}_{j}" for j in range(i)),
         "en")
        for i in range(9)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r.bucket: r for r in ppl_buckets(df).collect()}
    assert set(out) == {"head", "middle", "tail"}
    assert out["head"].n_docs == 3
    assert out["middle"].n_docs == 3
    assert out["tail"].n_docs == 3
    # buckets are score-ordered and non-overlapping
    assert out["head"].max_nll <= out["middle"].min_nll
    assert out["middle"].max_nll <= out["tail"].min_nll
    # head holds the least-surprising docs (most base tokens)
    assert out["head"].avg_nll < out["tail"].avg_nll


def test_seq_pack_matches_python_simulation(spark):
    from backtest_crew_datalake_spark.pipeline.sampling import seq_pack

    rows = [
        (0, "a b c", "en"),          # 3 tokens
        (1, " ".join(["t"] * 7), "en"),   # 7 -> stream: en = 3+7+2+6 = 18
        (2, "x y", "en"),
        (3, "p q r s t u", "en"),
        (10, " ".join(["z"] * 5), "de"),  # de = 5 tokens exactly one seq + 1
        (11, "k", "de"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r.lang: r for r in seq_pack(df, seq_len=4).collect()}

    # python simulation, seq_len=4, docs in id order per lang
    def sim(docs):
        off, boundary, seq_docs = 0, 0, {}
        for n in docs:
            first, last = off // 4, (off + n - 1) // 4
            if last > first:
                boundary += 1
            for s in range(first, last + 1):
                seq_docs[s] = seq_docs.get(s, 0) + 1
            off += n
        n_seqs = -(-off // 4)
        return off, n_seqs, boundary, seq_docs, off - (n_seqs - 1) * 4

    tot, n_seqs, boundary, sd, fill = sim([3, 7, 2, 6])
    en = out["en"]
    assert (en.n_docs, en.n_tokens, en.n_seqs) == (4, tot, n_seqs)
    assert en.n_boundary_docs == boundary
    assert en.max_docs_per_seq == max(sd.values())
    assert en.last_fill == fill
    from decimal import ROUND_HALF_UP, Decimal

    want = float(Decimal(sum(sd.values()) / len(sd)).quantize(
        Decimal("0.0001"), rounding=ROUND_HALF_UP))
    assert abs(en.avg_docs_per_seq - want) < 1e-9

    de = out["de"]
    assert (de.n_docs, de.n_tokens, de.n_seqs) == (2, 6, 2)
    assert de.n_boundary_docs == 1            # doc 11 starts at offset 5? no:
    # doc10 spans seq0 wholly + seq1 (5 tokens), doc11 sits inside seq1
    assert de.last_fill == 2


def test_dsir_weights_separate_vocabularies(spark):
    from backtest_crew_datalake_spark.pipeline.sampling import dsir_weights

    # target docs use one vocabulary, raw-only docs another; a held-out
    # target-like doc must outscore a raw-like doc
    rows = (
        [(i, "alpha beta gamma delta alpha beta", "tgt") for i in range(10)]
        + [(100 + i, "zig zag zog zum zig zag", "web") for i in range(10)]
        + [(500, "alpha beta gamma alpha beta gamma", "web"),
           (501, "zig zag zog zig zag zog", "web2"),
           (502, "x", "web2")]                # single token: no bigrams
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r.doc_id: r for r in dsir_weights(df, ["tgt"]).collect()}
    assert out[500].weight > out[501].weight  # target-vocab doc wins
    assert out[502].n_bigrams == 0 and out[502].weight_e8 == 0
    assert len(out) == len(rows)              # left join keeps every doc
    # the double is exactly the scaled integer / 1e8
    for r in out.values():
        assert r.weight == r.weight_e8 / 1e8


def test_kcenter_select_planted_clusters(spark):
    from backtest_crew_datalake_spark.pipeline.similarity import (
        kcenter_select,
    )

    # 4 tight clusters at corners of a square (side 100), 5 points each,
    # jitter 0.1; k=4 must pick exactly one point per cluster, and the
    # seed is the lowest id overall
    corners = [(0.0, 0.0), (100.0, 0.0), (0.0, 100.0), (100.0, 100.0)]
    rows = []
    for c, (cx, cy) in enumerate(corners):
        for j in range(5):
            rows.append((c * 10 + j, [cx + 0.01 * j, cy - 0.01 * j]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    sel = kcenter_select(df, k=4)
    got = {r.selection_order: r.vec_id for r in sel.collect()}
    assert got[0] == 0                         # seed = lowest id
    assert sorted(v // 10 for v in got.values()) == [0, 1, 2, 3]
    # determinism
    sel2 = {r.selection_order: r.vec_id for r in
            kcenter_select(df, k=4).collect()}
    assert got == sel2
    empty = kcenter_select(df.where("vec_id < 0"), k=4)
    assert empty.count() == 0
    # k beyond the distinct-vector count stops instead of re-selecting
    two = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    got3 = kcenter_select(two, k=3).collect()
    assert sorted(r.vec_id for r in got3) == [0, 2]  # dup of 0 never picked


def test_pca_power_matches_numpy_on_planted_direction(spark):
    import numpy as np

    from backtest_crew_datalake_spark.pipeline.similarity import pca_power

    rng = np.random.default_rng(7)
    # strong planted direction so 3 power rounds converge tightly
    w = rng.normal(size=8)
    w /= np.linalg.norm(w)
    X = rng.normal(size=(300, 1)) * 10.0 * w[None, :] + rng.normal(
        size=(300, 8)) * 0.1
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(300)],
        "vec_id bigint, embedding array<double>",
    )
    out = pca_power(df, iters=3).collect()
    assert len(out) == 8
    v = np.zeros(8)
    for r in out:
        v[r.dim - 1] = r.loading
    Xc = X - X.mean(axis=0)
    C = Xc.T @ Xc / len(X)
    evals, evecs = np.linalg.eigh(C)
    top = evecs[:, -1]
    assert abs(abs(float(v @ top)) - 1.0) < 1e-3     # aligned up to sign
    assert abs(out[0].eigenvalue - evals[-1]) / evals[-1] < 1e-3
    assert 0.9 < out[0].ev_share <= 1.0               # planted dominance


def test_bigram_nll_hand_check(spark):
    import math

    from backtest_crew_datalake_spark.pipeline.text import bigram_nll

    # corpus: "a b", "a b", "a c" -> bigrams: (a b)x2, (a c)x1
    # prefix count a = 3, suffix vocab V = {b, c} -> |V| = 2
    # p(b|a) = (2+1)/(3+2) = 0.6 ; p(c|a) = (1+1)/(3+2) = 0.4
    rows = [(0, "a b"), (1, "a b"), (2, "a c"), (3, "solo")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in bigram_nll(df).collect()}
    assert out[0].n_bigrams == 1
    # log-probs carried as 1e8-scaled ints; nll = -sum/1e8/n exactly
    lp_b = float(round(math.log(0.6) * 1e8))
    lp_c = float(round(math.log(0.4) * 1e8))
    assert out[0].nll == -lp_b / 1e8 / 1
    assert out[2].nll == -lp_c / 1e8 / 1
    # single-token doc: zero bigrams, present via the left join
    assert out[3].n_bigrams == 0 and out[3].nll == 0.0
    # smoothing normalizes: sum over observed suffixes < 1 (mass reserved)
    assert 0.6 + 0.4 == 1.0  # exact with prefix-count denominator


def test_abtt_whiten_isotropizes_planted_direction(spark):
    import numpy as np

    from backtest_crew_datalake_spark.pipeline.similarity import abtt_whiten

    rng = np.random.default_rng(11)
    w = rng.normal(size=8)
    w /= np.linalg.norm(w)
    X = rng.normal(size=(400, 1)) * 8.0 * w[None, :] + rng.normal(
        size=(400, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(400)],
        "vec_id bigint, embedding array<double>",
    )
    out = abtt_whiten(df, iters=3).collect()
    assert len(out) == 8
    # removing the dominant direction collapses anisotropy toward 1
    assert out[0].anis_before > 3.0
    assert out[0].anis_after < out[0].anis_before / 2
    # total variance strictly drops, per-dim never increases (projection)
    tot_b = sum(r.var_before for r in out)
    tot_a = sum(r.var_after for r in out)
    assert tot_a < tot_b
    assert all(r.var_after <= r.var_before + 1e-9 for r in out)


def test_logreg_train_matches_numpy_replica(spark):
    import numpy as np

    from backtest_crew_datalake_spark.pipeline.similarity import logreg_train

    rng = np.random.default_rng(3)
    X = rng.normal(size=(200, 4))
    y = (X[:, 0] + 0.1 * rng.normal(size=200) > 0).astype(int)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]], int(y[i])) for i in range(200)],
        "vec_id bigint, embedding array<double>, label int",
    )
    out = logreg_train(df, iters=3).collect()
    assert len(out) == 5                      # 4 dims + bias

    # numpy replica of the exact recipe: σ rounded 8, per-contribution
    # 1e8-scaled ints, identical update op order
    Xa = np.hstack([X, np.ones((200, 1))])
    yy = (y % 2).astype(float)
    w = np.zeros(5)
    n = 200
    for _ in range(3):
        z = Xa @ w
        p = np.round(1.0 / (1.0 + np.exp(-z)), 8)
        g8 = np.round(Xa * (p - yy)[:, None] * 1e8).sum(axis=0)
        w = np.array([w[d] - 0.5 * (float(g8[d]) / 1e8 / n)
                      for d in range(5)])
    got_w = np.zeros(5)
    for r in out:
        got_w[r.dim - 1] = r.weight
    assert np.allclose(got_w, w, rtol=0, atol=1e-12)
    # the separating feature dominates and training accuracy is real
    assert got_w[0] > 0 and abs(got_w[0]) > abs(got_w[1])
    assert out[0].accuracy > 0.8


def _gradient_img(h=40, w=56, seed=5):
    import numpy as np

    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(yy * 255 / h), (xx * 255 / w), ((yy + xx) * 255 / (h + w))],
        axis=2)
    return np.clip(img + rng.normal(0, 4, img.shape), 0, 255).astype("uint8")


def test_jpeg_roundtrip_and_dispatch():
    import numpy as np

    from backtest_crew_datalake_spark.pipeline.multimodal import (
        _jpeg_px,
        decode_media,
        dhash64,
        encode_bmp,
        encode_jpeg,
        gray_pixels,
    )

    # near-flat color: within ±1 of the original at q90 (DC-only blocks)
    flat = np.full((16, 24, 3), 137, dtype=np.uint8)
    flat[:, :, 1] = 64
    out = _jpeg_px(encode_jpeg(flat, 90))
    assert out.shape == flat.shape
    assert int(np.abs(out.astype(int) - flat.astype(int)).max()) <= 1

    # smooth natural-ish image: PSNR > 30 dB at q90, dims exact,
    # non-multiple-of-8 edges handled (40×56 → padded 4:4:4 blocks)
    img = _gradient_img()
    enc = encode_jpeg(img, 90)
    dec = _jpeg_px(enc)
    assert dec.shape == img.shape
    mse = float(np.mean((dec.astype(float) - img.astype(float)) ** 2))
    assert 10 * np.log10(255 ** 2 / mse) > 30.0

    # dispatcher routes by magic; features are real pixel stats
    d = decode_media(enc)
    assert (d["width"], d["height"]) == (56, 40)
    ref = decode_media(encode_bmp(img))
    assert abs(d["feature"][6] - ref["feature"][6]) < 0.02  # brightness

    # dHash is stable across the lossy re-encode (near-dup detection
    # works on JPEG payloads)
    hj = dhash64(gray_pixels(enc))
    hb = dhash64(gray_pixels(encode_bmp(img)))
    assert bin(hj ^ hb).count("1") <= 3

    # corrupt/unsupported payloads fail loudly, not silently
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _jpeg_px(b"\xff\xd8" + b"\x00" * 10)
    # progressive SOF2 is rejected, not mis-decoded
    prog = enc.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with _pytest.raises(NotImplementedError):
        _jpeg_px(prog)


def test_jpeg_quality_ladder_monotone():
    import numpy as np

    from backtest_crew_datalake_spark.pipeline.multimodal import (
        _jpeg_px,
        encode_jpeg,
    )

    img = _gradient_img(seed=9)
    errs, sizes = [], []
    for q in (30, 60, 90):
        enc = encode_jpeg(img, q)
        dec = _jpeg_px(enc)
        errs.append(float(np.mean((dec.astype(float) - img) ** 2)))
        sizes.append(len(enc))
    assert errs[0] > errs[1] > errs[2]      # more quality, less error
    assert sizes[0] < sizes[2]              # and bigger files


def test_resize_images_real_bilinear(spark):
    import numpy as np

    from backtest_crew_datalake_spark.pipeline.multimodal import (
        _media_px,
        bilinear_resize,
        encode_bmp,
        encode_png,
        encode_wav,
        resize_images,
    )

    img = _gradient_img(h=32, w=48, seed=2)
    rows = [
        (0, "image", encode_bmp(img), None),
        (1, "image", encode_png(img), None),
        (2, "audio", encode_wav((np.arange(64) * 100).astype(np.int16)),
         None),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, content binary, meta string")
    out = {r.media_id: r for r in
           resize_images(df, width=16, height=12).collect()}
    assert all(r.width == 16 and r.height == 12 for r in out.values())
    # decodable images come back as real BMP payloads of the target size
    for mid in (0, 1):
        px = _media_px(bytes(out[mid].content))
        assert px is not None and px.shape == (12, 16, 3)
        # both encodings of the SAME pixels resize to identical results
    a = _media_px(bytes(out[0].content))
    b = _media_px(bytes(out[1].content))
    assert (a == b).all()
    want = bilinear_resize(img, 12, 16)
    assert (a == want).all()
    # mean brightness is preserved by the resample
    assert abs(float(a.mean()) - float(img.mean())) < 4
    # the audio payload keeps the deterministic placeholder shape
    assert len(bytes(out[2].content)) == 16 * 12 // 64


def test_weighted_jaccard_matches_bruteforce_replica(spark):
    """q_doc_weighted_jaccard differential: recompute both metrics in
    python (exact integer idf-weight arithmetic, the query's own recipe)
    for every emitted pair at sf0.001 and compare bit-for-bit; also check
    the threshold rule (either metric >= 0.5, integer-multiplicative)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from backtest_crew_datalake_spark.queries import all_queries

    sf = "/root/testdata/sf0.001"
    out = {(r["id_a"], r["id_b"]): (r["w_jaccard"], r["jaccard"])
           for r in all_queries()["q_doc_weighted_jaccard"]
           .build(spark, sf).collect()}
    assert out, "expected at least one candidate pair at sf0.001"

    docs = {r["doc_id"]: r["text"]
            for r in spark.read.parquet(f"{sf}/documents.parquet").collect()}

    def shingles(text):
        toks = text.strip().split()
        if len(toks) >= 3:
            return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        return {" ".join(toks)}

    sh = {i: shingles(t) for i, t in docs.items()}
    n = float(len(docs))
    df = {}
    for s_set in sh.values():
        for s in s_set:
            df[s] = df.get(s, 0) + 1

    def w6(s):
        # ROUND(ln(n/df)*1e6, 0) as the engines compute it (HALF_UP on the
        # shortest decimal repr — ties are measure-zero for ln outputs)
        return int(Decimal(repr(math.log(n / df[s]) * 1e6)).quantize(
            Decimal("1"), rounding=ROUND_HALF_UP))

    for (ia, ib), (wj, pj) in out.items():
        inter = sh[ia] & sh[ib]
        wi = sum(w6(s) for s in inter)
        swa = sum(w6(s) for s in sh[ia])
        swb = sum(w6(s) for s in sh[ib])
        ni, sza, szb = len(inter), len(sh[ia]), len(sh[ib])
        assert wi * 2 >= (swa + swb - wi) or ni * 2 >= (sza + szb - ni)
        exp_wj = round(wi / (swa + swb - wi), 4)
        exp_pj = round(ni / (sza + szb - ni), 4)
        assert abs(wj - exp_wj) < 5e-5, (ia, ib, wj, exp_wj)
        assert abs(pj - exp_pj) < 5e-5, (ia, ib, pj, exp_pj)


def test_rollup_cascade_matches_direct(spark, tmp_path):
    """Re-aggregation invariant hand-check: hourly-from-5min-from-minute
    equals direct-from-raw, including the (ts, event_id) tie-break on
    open and the distinct-minute count the cascade carries as a sum."""
    from datetime import datetime as DT

    from pyspark.sql import types as T

    from backtest_crew_datalake_spark.queries.events import (
        q_evt_rollup_cascade,
    )

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])
    rows = [
        # two events at the SAME timestamp — open must take event_id 0
        (0, DT(2024, 1, 1, 10, 0, 30), 1, "a", 9.25, ""),
        (1, DT(2024, 1, 1, 10, 0, 30), 1, "a", 1.00, ""),
        (2, DT(2024, 1, 1, 10, 0, 45), 1, "a", 2.00, ""),
        (3, DT(2024, 1, 1, 10, 4, 10), 1, "a", 3.50, ""),
        (4, DT(2024, 1, 1, 10, 59, 59), 1, "a", 0.25, ""),
        (5, DT(2024, 1, 1, 11, 0, 0), 1, "a", 7.00, ""),
        (6, DT(2024, 1, 1, 10, 30, 0), 1, "b", 4.75, ""),
    ]
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet"))
    out = {(r.event_type, r.bucket_ms): r
           for r in q_evt_rollup_cascade(spark, str(tmp_path)).collect()}
    h10 = out[("a", int(DT(2024, 1, 1, 10, 0).timestamp() * 1000))]
    assert h10.open == 9.25          # tie at 10:00:30 -> event_id 0
    assert h10.close == 0.25         # last event in hour
    assert h10.high == 9.25 and h10.low == 0.25
    assert h10.volume_cents == 925 + 100 + 200 + 350 + 25
    assert h10.n_events == 5
    assert h10.n_minutes == 3        # 10:00, 10:04, 10:59
    h11 = out[("a", int(DT(2024, 1, 1, 11, 0).timestamp() * 1000))]
    assert (h11.open, h11.close, h11.n_events, h11.n_minutes) == \
        (7.0, 7.0, 1, 1)
    assert out[("b", int(DT(2024, 1, 1, 10, 0).timestamp() * 1000))] \
        .volume_cents == 475


def test_bq_topk_packing_and_recall(spark, tmp_path):
    """Sign-bit packing hand-check: planted all-positive / all-negative /
    half-split vectors give known Hamming distances; identical sign
    patterns collapse to Hamming 0 and the exact rerank separates them."""
    from pyspark.sql import types as T

    from backtest_crew_datalake_spark.queries.embeddings import q_emb_bq_topk

    pos = [1.0] * 64
    neg = [-1.0] * 64
    half = [1.0] * 32 + [-1.0] * 32
    zero = [0.0] * 64                  # packs like all-negative (> 0 strict)
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ])
    df = spark.createDataFrame(
        [(0, pos, 0), (1, neg, 0), (2, half, 0), (3, zero, 0)], schema)
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    rows = q_emb_bq_topk(spark, str(tmp_path)).collect()
    ham = {(r.query_id, r.neighbor_id): r.hamming for r in rows}
    assert ham[(0, 0)] == 0
    assert ham[(0, 1)] == 64 and ham[(0, 3)] == 64
    assert ham[(0, 2)] == 32 and ham[(2, 1)] == 32
    assert ham[(1, 3)] == 0            # same sign pattern, different vector
    rk = {(r.query_id, r.rank): r.neighbor_id for r in rows}
    for q in (0, 1, 2, 3):
        assert rk[(q, 1)] == q         # exact rerank puts self first
    # 4 vectors -> top-5 is everything -> recall5 == 4 for every query
    assert all(r.recall5 == 4 for r in rows)


def test_doremi_weights_update_properties(spark, tmp_path):
    """DoReMi update algebra on a planted two-regime corpus: the
    rare-token (high-NLL) domain must gain weight, the boilerplate
    domain must lose it, weights stay a smoothed distribution (sum 1),
    and the round-2 multiplicative carry amplifies round 1's tilt."""
    from pyspark.sql import types as T

    from backtest_crew_datalake_spark.queries.text import (
        q_doc_doremi_weights,
    )

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ])
    rows = [
        (0, "the the the the the the", "en", "boilerplate", 0),
        (1, "the the the the", "en", "boilerplate", 0),
        (2, "quasar ontology manifold", "en", "rare", 0),
        (3, "synecdoche palimpsest", "en", "rare", 0),
    ]
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))
    out = {r.source: r for r in
           q_doc_doremi_weights(spark, str(tmp_path)).collect()}
    b, r = out["boilerplate"], out["rare"]
    assert (b.n_docs, b.n_tokens) == (2, 10)
    assert (r.n_docs, r.n_tokens) == (2, 5)
    assert r.mean_nll > b.mean_nll
    for a1, a2 in ((b.alpha1, b.alpha2), (r.alpha1, r.alpha2)):
        assert 0.0 < a1 < 1.0 and 0.0 < a2 < 1.0
    assert abs(b.alpha1 + r.alpha1 - 1.0) < 1e-6
    assert abs(b.alpha2 + r.alpha2 - 1.0) < 1e-6
    assert r.alpha1 > 0.5 > b.alpha1   # tilt toward the high-loss domain
    assert r.alpha2 > r.alpha1         # multiplicative carry amplifies


def test_frame_sampler_count_formula_and_edge_frames(spark):
    """Golden invariants over varying animation length and stride: the
    sampler emits exactly ceil(n/every_n) rows per media with indices
    range(0, n, every_n); the first and last SAMPLED frames decode
    byte-exact (their dHash equals the brute-force hash of the original
    frame array) — the completeness proof the dHash dedup test gives the
    still pipeline, extended to the video path."""
    import numpy as np
    from backtest_crew_datalake_spark.pipeline.multimodal import (
        dhash64, encode_gif_anim, frame_sample_gif, gif_frames,
    )

    rng = np.random.RandomState(23)
    cases = [(n, k) for n in (1, 2, 3, 5, 8) for k in (1, 2, 3, 4)]
    all_frames, rows = {}, []
    for mid, (n, _k) in enumerate(cases):
        frames = [
            ((rng.randint(0, 4, (8, 10, 3)) * 80 + j * 3) % 256)
            .astype(np.uint8)
            for j in range(n)
        ]
        all_frames[mid] = frames
        rows.append((mid, "video", bytearray(encode_gif_anim(frames)),
                     {"n": str(n)}))
        # the payload itself is frame-exact (decode completeness)
        got = list(gif_frames(bytes(rows[-1][2])))
        assert len(got) == n
        assert np.array_equal(got[0], frames[0])
        assert np.array_equal(got[-1], frames[-1])

    df = spark.createDataFrame(
        rows,
        "media_id long, kind string, content binary, meta map<string,string>",
    )
    for k in (1, 2, 3, 4):
        out = frame_sample_gif(df, every_n=k).toPandas()
        for mid, (n, _) in enumerate(cases):
            sub = out[out.media_id == mid].sort_values("frame_idx")
            want_idx = list(range(0, n, k))
            assert len(sub) == -(-n // k), (mid, n, k)  # ceil(n/k)
            assert list(sub.frame_idx) == want_idx
            assert set(sub.n_frames) == {n}
            for which in (0, -1):  # first and last sampled frame
                r = sub.iloc[which]
                fr = all_frames[mid][r.frame_idx].astype(np.float64)
                g = (fr[:, :, 0] * 0.299 + fr[:, :, 1] * 0.587
                     + fr[:, :, 2] * 0.114)
                v = dhash64(g)
                assert r.dhash == (v - (1 << 64) if v >= (1 << 63) else v)


def test_q_multimodal_frames_end_to_end(spark):
    """The catalog query renders every 8th document into a 4-frame GIF and
    samples every 2nd frame: per-media row count is exactly ceil(4/2)=2
    with indices {0, 2}, media set == the doc_id%8==0 slice, and the
    emitted dHashes match an independent re-render + brute-force hash of
    the same frames (driver-side, no Spark in the re-derivation)."""
    import hashlib
    import numpy as np
    from backtest_crew_datalake_spark.pipeline.multimodal import (
        dhash64, gif_frames, encode_gif_anim,
    )
    from backtest_crew_datalake_spark.queries import all_queries, load

    sf = "/root/testdata/sf0.001"
    out = all_queries()["q_multimodal_frames"].build(spark, sf).toPandas()
    docs = load(spark, sf, "documents").where("doc_id % 8 = 0") \
        .select("doc_id", "text").toPandas()
    assert set(out.media_id) == set(docs.doc_id)
    for mid, grp in out.groupby("media_id"):
        assert list(grp.sort_values("frame_idx").frame_idx) == [0, 2]
        assert set(grp.n_frames) == {4}
        assert set(grp.width) == {8} and set(grp.height) == {8}
    # brute-force re-derivation for 5 media ids
    by_id = dict(zip(docs.doc_id, docs.text))
    for mid in sorted(out.media_id.unique())[:5]:
        seed = hashlib.sha256((by_id[mid] or "").encode()).digest()
        base = np.frombuffer(seed * 6, dtype=np.uint8)
        frames = []
        for i in range(4):
            px = base[i * 48:i * 48 + 8 * 8 * 3 // 4]
            frames.append(((np.resize(px, (8, 8, 3)) // 64) * 80)
                          .astype(np.uint8))
        decoded = list(gif_frames(encode_gif_anim(frames)))
        assert all(np.array_equal(a, b) for a, b in zip(frames, decoded))
        sub = out[out.media_id == mid].sort_values("frame_idx")
        for _, r in sub.iterrows():
            fr = frames[r.frame_idx].astype(np.float64)
            g = (fr[:, :, 0] * 0.299 + fr[:, :, 1] * 0.587
                 + fr[:, :, 2] * 0.114)
            v = dhash64(g)
            assert r.dhash == (v - (1 << 64) if v >= (1 << 63) else v)


def test_q_multimodal_scene_cuts_matches_bruteforce(spark):
    """Scene-cut detection equals the driver-side brute force: re-render
    each GIF, decode frame-exact, popcount consecutive dHash xors in
    NumPy, cut where distance > 10. Proves both the JVM-side
    bit_count(a ^ b) Hamming and the lag-window composition."""
    import hashlib
    import numpy as np
    from backtest_crew_datalake_spark.pipeline.multimodal import dhash64
    from backtest_crew_datalake_spark.queries import all_queries, load

    sf = "/root/testdata/sf0.001"
    out = all_queries()["q_multimodal_scene_cuts"].build(spark, sf) \
        .toPandas().set_index("media_id")
    docs = load(spark, sf, "documents").where("doc_id % 8 = 0") \
        .select("doc_id", "text").toPandas()
    assert set(out.index) == set(docs.doc_id)
    for _, row in docs.iterrows():
        seed = hashlib.sha256((row.text or "").encode()).digest()
        base = np.frombuffer(seed * 6, dtype=np.uint8)
        hashes = []
        for i in range(4):
            px = base[i * 48:i * 48 + 8 * 8 * 3 // 4]
            fr = (((np.resize(px, (8, 8, 3)) // 64) * 80)
                  .astype(np.uint8).astype(np.float64))
            g = (fr[:, :, 0] * 0.299 + fr[:, :, 1] * 0.587
                 + fr[:, :, 2] * 0.114)
            hashes.append(dhash64(g))  # unsigned; xor unaffected by sign
        cuts = [i for i in range(1, 4)
                if bin(hashes[i] ^ hashes[i - 1]).count("1") > 10]
        got = out.loc[row.doc_id]
        assert got.n_frames == 4
        assert got.n_cuts == len(cuts), (row.doc_id, cuts)
        if cuts:
            assert got.first_cut_idx == cuts[0]
        else:
            assert got.first_cut_idx is None or np.isnan(got.first_cut_idx)


def test_curation_short_documents(spark, tmp_path):
    """q_doc_curation over documents of 0-2 tokens: no crash (their
    trigram array is empty, not a descending sequence), and the result
    still equals its DuckDB oracle."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from backtest_crew_datalake_spark.queries import all_queries

    sentence = "spark reads the lake and joins every context bar as of its ts"
    texts = {
        0: "the eval suite holds this exact benchmark sentence here",  # bench
        20: "x the eval suite holds this exact benchmark sentence",  # contam.
        21: sentence, 22: sentence,  # second copy is a duplicate
        23: " ".join(["same old words"] * 6),  # repetitive
        30: "two words", 31: "one", 32: "",
    }
    docs = pa.table({
        "doc_id": pa.array(list(texts), pa.int64()),
        "text": list(texts.values()),
        "lang": ["en"] * len(texts),
        "source": [("web", "news")[i % 2] for i in range(len(texts))],
        "n_chars": pa.array([len(t) for t in texts.values()], pa.int64()),
    })
    pq.write_table(docs, tmp_path / "documents.parquet")
    q = all_queries()["q_doc_curation"]
    got = sorted(tuple(r) for r in q.build(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp_path}/documents.parquet')")
    want = sorted(con.execute(q.oracle).fetchall())
    assert got == want
    assert {s for _, s, _, _ in got} >= {"low_quality", "kept"}

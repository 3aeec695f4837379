"""Similarity search tests vs a numpy brute-force model."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from orestes_spark.operators import similarity


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(7)
    data = rng.normal(size=(40, 16)).astype("float32")
    data[1] = data[0]  # planted exact duplicate
    data[2] = data[0] + rng.normal(scale=0.01, size=16).astype("float32")  # near dup
    rows = [(i, [float(x) for x in data[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    return df, data


def model_topk(data, qid, k):
    norms = np.linalg.norm(data, axis=1)
    cos = data @ data[qid] / (norms * norms[qid])
    order = sorted(range(len(data)), key=lambda i: (-cos[i], i))
    return [(i, cos[i]) for i in order if i != qid][:k]


def test_cosine_topk_matches_numpy(vecs):
    df, data = vecs
    out = similarity.cosine_topk(df, df.where("vec_id = 0"), k=5)
    got = [(r["neighbor_id"], r["cosine"]) for r in out.orderBy("rank").collect()]
    exp = model_topk(data, 0, 5)
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert abs(g[1] - e[1]) < 1e-5
    assert got[0][0] == 1 and got[0][1] == 1.0  # the planted dup, cosine 1


def test_cosine_topk_quantized(vecs):
    df, data = vecs
    out = similarity.cosine_topk(df, df.where("vec_id = 0"), k=3, quantize=1000)
    got = [r["neighbor_id"] for r in out.orderBy("rank").collect()]
    assert got[:2] == [1, 2]


def test_lsh_finds_identical_vector(vecs):
    df, data = vecs
    out = similarity.cosine_topk_lsh(df, df.where("vec_id = 0"), k=5)
    rows = out.orderBy("rank").collect()
    assert rows, "identical vector must land in the same bucket"
    assert rows[0]["neighbor_id"] == 1 and rows[0]["cosine"] == 1.0


def test_lsh_subset_of_exact_scores(vecs):
    df, data = vecs
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.cosine_topk(df, df, k=40).collect()
    }
    for r in similarity.cosine_topk_lsh(df, df, k=5).collect():
        key = (r["query_id"], r["neighbor_id"])
        assert key in exact and abs(exact[key] - r["cosine"]) < 1e-9


def test_embedding_near_dups(vecs):
    df, data = vecs
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.embedding_near_dups(df, threshold=0.98).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs or (1, 2) in pairs  # the near dup


def test_hyperplanes_deterministic():
    a = similarity.hyperplanes(4, 8)
    b = similarity.hyperplanes(4, 8)
    assert a == b
    assert all(v in (-1, 1) for row in a for v in row)
    assert similarity.hyperplanes(4, 8, seed="x") != a


def test_ivf_topk_assigned_partition_only(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    # two well-separated clusters as labels
    c0, c1 = rng.normal(0, 1, 8), rng.normal(0, 1, 8)
    rows = []
    for i in range(20):
        base = c0 if i % 2 == 0 else c1
        v = base + rng.normal(scale=0.05, size=8)
        rows.append((i, [float(x) for x in v], i % 2))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT")
    out = similarity.ivf_topk(df, df.where("vec_id = 0"), k=3)
    got = out.orderBy("rank").collect()
    assert len(got) == 3
    # neighbors must come from the same (assigned) cluster: even ids
    assert all(r["neighbor_id"] % 2 == 0 for r in got)
    assert all(r["cosine"] > 0.9 for r in got)


def test_dimension_stats_match_numpy(vecs):
    df, data = vecs
    got = {r["dim"]: r for r in similarity.dimension_stats(df, "embedding", quantize=1000).collect()}
    q = np.round(data.astype("float64") * 1000)
    for d in range(16):
        col = q[:, d]
        r = got[d + 1]
        assert r["n"] == len(col)
        assert r["mean"] == round(float(col.sum() / len(col)) / 1000, 6)
        var_num = len(col) * (col * col).sum() - col.sum() ** 2
        assert r["std"] == round(float(np.sqrt(var_num)) / (len(col) * 1000.0), 6)
        assert r["vmin"] == round(float(col.min()) / 1000, 6)
        assert r["vmax"] == round(float(col.max()) / 1000, 6)


def test_dimension_stats_dead_dimension(spark):
    rows = [(i, [1.5, float(i)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    got = {r["dim"]: r for r in similarity.dimension_stats(df, "embedding").collect()}
    assert got[1]["std"] == 0.0 and got[1]["mean"] == 1.5
    assert got[2]["vmin"] == 0.0 and got[2]["vmax"] == 5.0


def test_label_centroids_match_numpy(spark):
    import numpy as np

    from orestes_spark.operators import similarity

    rng = [([float(i + j) / 7 for j in range(4)], i % 2) for i in range(10)]
    df = spark.createDataFrame(
        [(i, v, lbl) for i, (v, lbl) in enumerate(rng)],
        "vec_id LONG, embedding ARRAY<FLOAT>, label INT",
    )
    got = {
        (r["label"], r["dim"]): r["centroid"]
        for r in similarity.label_centroids(df, "embedding", "label", quantize=1000).collect()
    }
    for lbl in (0, 1):
        vecs = np.array([np.round(np.array(v, dtype=np.float64) * 1000) for v, l in rng if l == lbl])
        mean = vecs.sum(axis=0) / len(vecs)
        for d in range(4):
            assert got[(lbl, d + 1)] == round(float(mean[d]), 6)


def test_cosine_topk_arrow_matches_exact_path(spark):
    """The Arrow/BLAS production kernel returns the same neighbors and
    ranks as the expression-based exact path (float tie-break order is
    identical: score desc, neighbor id)."""
    from orestes_spark.operators.similarity import cosine_topk, cosine_topk_arrow

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(10)
    exact = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    fast = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in cosine_topk_arrow(emb, queries, k=5).collect()
    }
    assert set(exact) == set(fast)
    for key, (nid, cos) in exact.items():
        fnid, fcos = fast[key]
        assert fnid == nid, (key, nid, fnid)
        assert abs(fcos - cos) < 1e-6


def test_cosine_topk_arrow_tie_break_at_local_cut(spark):
    """Adversarial tie case: one Arrow batch holds MORE than k
    identical vectors (all tied at cosine 1.0), so the batch-local
    top-k cut itself must apply the (score desc, neighbor_id asc)
    tie-break — an arbitrary cut would drop low-id neighbors the
    exact path ranks."""
    from orestes_spark.operators.similarity import cosine_topk_arrow

    vec = [1.0, 0.0, 0.0, 1.0]
    rows = [(i, vec) for i in range(12)] + [(100, [0.0, 1.0, 0.0, 0.0])]
    corpus = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>"
    ).coalesce(1)
    queries = spark.createDataFrame([(99, vec)], "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = [
        (r.rank, r.neighbor_id, r.cosine)
        for r in cosine_topk_arrow(corpus, queries, k=5)
        .orderBy("rank")
        .collect()
    ]
    assert got == [(i + 1, i, 1.0) for i in range(5)], got


@pytest.fixture(scope="module")
def labeled_vecs(spark):
    """Three well-separated clusters, labels = cluster ids, one planted
    within-cluster near-duplicate (vec 10 ≈ vec 4, both label 1)."""
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(3, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    data = np.array([centers[i % 3] * 3 + rng.normal(scale=0.4, size=16) for i in range(60)])
    data[10] = data[4] + 0.001
    rows = [(i, [float(x) for x in data[i]], i % 3) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>, label LONG")
    return df, data


def test_semantic_dedup_drops_planted_dup_keeps_lower_id(labeled_vecs):
    df, data = labeled_vecs
    out = {r["vec_id"]: r for r in similarity.semantic_dedup(df, threshold=0.99).collect()}
    assert len(out) == 60  # one row per input vector
    assert out[4]["kept"] is True
    assert out[10]["kept"] is False  # higher id of the near-dup pair
    # well-separated clusters: assignment recovers the generating label
    agree = sum(1 for i in range(60) if out[i]["cluster"] == i % 3)
    assert agree >= 55


def test_prototype_rank_top1_matches_numpy(labeled_vecs):
    df, data = labeled_vecs
    out = similarity.prototype_rank(df, top=5).collect()
    by_label = {}
    for r in out:
        by_label.setdefault(r["label"], []).append(r)
    for lab in (0, 1, 2):
        ids = [i for i in range(60) if i % 3 == lab]
        cent = data[ids].sum(axis=0)
        cos = data[ids] @ cent / (np.linalg.norm(data[ids], axis=1) * np.linalg.norm(cent))
        best = ids[int(np.argmax(cos))]
        rows = sorted(by_label[lab], key=lambda r: r["proto_rank"])
        assert [r["proto_rank"] for r in rows] == [1, 2, 3, 4, 5]
        assert rows[0]["vec_id"] == best


def test_knn_classify_recovers_cluster_labels(labeled_vecs):
    df, data = labeled_vecs
    queries = df.where("vec_id < 6")
    corpus = df.where("vec_id >= 6")
    out = {r["query_id"]: r for r in similarity.knn_classify(corpus, queries, k=5).collect()}
    assert len(out) == 6
    for qid in range(6):
        assert out[qid]["predicted_label"] == qid % 3
        assert 3 <= out[qid]["votes"] <= 5


def test_semantic_dedup_cluster_cap_splits_instead_of_exempting(labeled_vecs):
    """Round 7: clusters over the cap are re-quantized (nearest-seed
    sub-cells), NOT exempted — the planted near-dup pair is
    geometrically close, lands in the same sub-cell, and is still
    deduped even when every cluster is over the cap."""
    df, _ = labeled_vecs
    capped = {r["vec_id"]: r for r in
              similarity.semantic_dedup(df, threshold=0.99, max_cluster=5).collect()}
    assert len(capped) == 60
    assert capped[4]["kept"] is True and capped[10]["kept"] is False
    # the OUTPUT still reports the original coarse cluster ids
    assert {r["cluster"] for r in capped.values()} == {0, 1, 2}
    # cap far above cluster sizes → identical to uncapped
    hi = {r["vec_id"]: r["kept"] for r in similarity.semantic_dedup(df, threshold=0.99).collect()}
    off = {r["vec_id"]: r["kept"] for r in
           similarity.semantic_dedup(df, threshold=0.99, max_cluster=None).collect()}
    assert hi == off and hi[10] is False


def test_semantic_dedup_arrow_equals_expression_under_split(labeled_vecs):
    df, _ = labeled_vecs
    expr = {r["vec_id"]: (r["cluster"], r["kept"]) for r in
            similarity.semantic_dedup(df, threshold=0.99, max_cluster=5).collect()}
    arrow = {r["vec_id"]: (r["cluster"], r["kept"]) for r in
             similarity.semantic_dedup_arrow(
                 df, threshold=0.99, quantize=None, max_cluster=5).collect()}
    assert expr == arrow


def test_semantic_dedup_hot_cluster_exact_dups_collapse(spark):
    """The degenerate head no quantizer can split — bit-identical
    vectors — is collapsed directly: every duplicate of a lower-id
    member is dropped without entering the pairwise stage (round 6
    exempted all of them as kept=True)."""
    rows = [(i, [1.0, 2.0, 3.0, 4.0], 0) for i in range(20)] + [
        (100 + i, [float(-1 - i), 5.0, 1.0, 0.0], 1) for i in range(3)
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>, label LONG")
    for fn, kw in (
        (similarity.semantic_dedup, {}),
        (similarity.semantic_dedup_arrow, {"quantize": None}),
    ):
        out = {r["vec_id"]: r["kept"] for r in
               fn(df, threshold=0.99, max_cluster=5, **kw).collect()}
        assert len(out) == 23
        assert sorted(i for i, k in out.items() if k) == [0, 100, 101, 102], out


def test_semantic_dedup_unsplittable_cell_under_approximates_soundly(spark):
    """Distinct-but-parallel vectors tie on cosine to every seed, so
    no split makes progress; after bounded depth the residual cell is
    excluded loudly. The cap's contract is one-sided: it may MISS
    drops (exempted non-seeds stay kept=True) but never drops a row
    the cap-free rule would keep — seed-seed comparisons still catch
    genuine cosine-1.0 dups among the sampled seeds, and the lowest
    id always survives."""
    rows = [(i, [float(i + 1), float(2 * (i + 1))], 0) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>, label LONG")
    capped = {r["vec_id"]: r["kept"] for r in
              similarity.semantic_dedup(df, threshold=0.99, max_cluster=5).collect()}
    free = {r["vec_id"]: r["kept"] for r in
            similarity.semantic_dedup(df, threshold=0.99).collect()}
    assert len(capped) == 12
    # cap-free truth: everything is a cosine-1.0 dup of id 0
    assert free == {0: True, **{i: False for i in range(1, 12)}}
    # capped: sound under-approximation — never drops what free keeps
    assert capped[0] is True
    assert {i for i, k in capped.items() if not k} <= {i for i, k in free.items() if not k}
    # and the seed comparisons make SOME progress (not a blanket exempt)
    assert any(not k for k in capped.values())


def test_semantic_dedup_arrow_equals_expression_path(labeled_vecs, spark):
    df, _ = labeled_vecs
    expr = {r["vec_id"]: (r["cluster"], r["kept"])
            for r in similarity.semantic_dedup(df, threshold=0.99).collect()}
    arrow = {r["vec_id"]: (r["cluster"], r["kept"])
             for r in similarity.semantic_dedup_arrow(df, threshold=0.99, quantize=None).collect()}
    assert expr == arrow
    # and on the real testdata shape, quantized (the registered config)
    from orestes_spark.sources.testdata import load_table
    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    expr2 = {r["vec_id"]: (r["cluster"], r["kept"])
             for r in similarity.semantic_dedup(e, threshold=0.35, quantize=1000).collect()}
    arrow2 = {r["vec_id"]: (r["cluster"], r["kept"])
              for r in similarity.semantic_dedup_arrow(e, threshold=0.35, quantize=1000).collect()}
    assert expr2 == arrow2


# ------------------------------------------------- product quantization ---


@pytest.fixture(scope="module")
def clustered_vecs(spark):
    """4 well-separated clusters of 12 vectors each in 16 dims."""
    rng = np.random.default_rng(11)
    centers = rng.normal(scale=10.0, size=(4, 16))
    data = np.concatenate(
        [centers[c] + rng.normal(scale=0.5, size=(12, 16)) for c in range(4)]
    ).astype("float64")
    rows = [(i, [float(x) for x in data[i]]) for i in range(len(data))]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    return df, data


def test_pq_codebooks_deterministic_shape(clustered_vecs):
    df, _ = clustered_vecs
    b1, dims = similarity.pq_codebooks(df, m=4, ks=8)
    b2, _ = similarity.pq_codebooks(df, m=4, ks=8)
    assert dims == 16 and b1.shape == (4, 8, 4)
    assert (b1 == b2).all(), "sampled codebooks must be bit-identical across runs"


def test_pq_encode_codes_in_range_and_deterministic(clustered_vecs):
    df, _ = clustered_vecs
    books, _ = similarity.pq_codebooks(df, m=4, ks=8)
    c1 = {r["vec_id"]: r["codes"] for r in similarity.pq_encode(df, books).collect()}
    c2 = {r["vec_id"]: r["codes"] for r in similarity.pq_encode(df, books).collect()}
    assert c1 == c2
    assert len(c1) == 48
    for codes in c1.values():
        assert len(codes) == 4 and all(0 <= c < 8 for c in codes)


def test_pq_topk_exact_when_vector_is_a_centroid_concat(spark):
    """A corpus vector whose subvectors all sit exactly on codebook
    centroids has ADC distance == true squared L2 — so with the query
    also on centroids, PQ must rank it first at distance 0."""
    rows = [(i, [float(i)] * 8) for i in range(16)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    # ks=16 -> every vector is sampled into the codebook, so every
    # subvector is a centroid and ADC is exact squared L2.
    out = similarity.pq_topk(df, df.where("vec_id = 7"), k=3, m=2, ks=16)
    got = [(r["neighbor_id"], r["adc_dist"]) for r in out.orderBy("rank").collect()]
    assert [g[0] for g in got] == [6, 8, 5]  # |i-7| order, tie 6<8 broken by dist=8 each? no: dist 8*1=8 both -> id asc
    assert got[0][1] == 8.0 and got[1][1] == 8.0 and got[2][1] == 32.0


def test_pq_topk_recall_on_separated_clusters(clustered_vecs):
    """With well-separated clusters, PQ top-1 must stay in the query's
    cluster (the coarse structure survives 4x16 quantization)."""
    df, data = clustered_vecs
    out = similarity.pq_topk(df, df.where("vec_id IN (0, 13, 27, 40)"), k=3, m=4, ks=16)
    rows = out.where("rank = 1").collect()
    assert len(rows) == 4
    for r in rows:
        assert r["query_id"] // 12 == r["neighbor_id"] // 12, (
            f"top-1 for {r['query_id']} left its cluster: {r['neighbor_id']}"
        )
        assert r["neighbor_id"] != r["query_id"]


def test_ivf_pq_topk_recovers_planted_near_dup(labeled_vecs):
    """IVF-PQ with the query's own cell probed must put the planted
    near-duplicate (vec 10 ≈ vec 4) at rank 1 for query 4 — residual
    quantization error is far smaller than the inter-point spacing."""
    df, _ = labeled_vecs
    out = similarity.ivf_pq_topk(df, df.where("vec_id = 4"), k=3, m=4, ks=16, nprobe=1)
    rows = out.orderBy("rank").collect()
    assert rows and rows[0]["neighbor_id"] == 10
    assert rows[0]["adc_dist"] < rows[-1]["adc_dist"] or len(rows) == 1


def test_ivf_pq_topk_deterministic_and_probe_bounded(labeled_vecs):
    df, _ = labeled_vecs
    q = df.where("vec_id IN (0, 1, 2)")
    a = [(r["query_id"], r["rank"], r["neighbor_id"])
         for r in similarity.ivf_pq_topk(df, q, k=5, nprobe=1).orderBy("query_id", "rank").collect()]
    b = [(r["query_id"], r["rank"], r["neighbor_id"])
         for r in similarity.ivf_pq_topk(df, q, k=5, nprobe=1).orderBy("query_id", "rank").collect()]
    assert a == b and len(a) == 15
    # nprobe=1 restricts candidates to the query's own cell (label = id%3)
    for qid, _, nid in a:
        assert nid % 3 == qid % 3


def test_pq_index_persist_and_search_matches_direct(clustered_vecs, spark, tmp_path):
    """pq_index_write → pq_index_topk must reproduce pq_topk exactly:
    the persisted code table + codebooks carry the whole search state,
    so steady-state queries never reopen the corpus."""
    df, _ = clustered_vecs
    path = str(tmp_path / "pq_index")
    similarity.pq_index_write(df, path, m=4, ks=8)
    q = df.where("vec_id IN (0, 25)")
    direct = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["adc_dist"])
        for r in similarity.pq_topk(df, q, k=4, m=4, ks=8).collect()
    )
    from_index = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["adc_dist"])
        for r in similarity.pq_index_topk(spark, path, q, k=4).collect()
    )
    assert direct == from_index and len(direct) == 8


def test_ivf_pq_topk_string_labels(spark):
    """Arbitrary label types route through dense cell indices — string
    cells work exactly like ints (parity with ivf_topk's contract)."""
    rng = np.random.default_rng(5)
    centers = {"red": rng.normal(scale=8.0, size=8), "blue": rng.normal(scale=8.0, size=8)}
    rows = []
    for i in range(24):
        lab = "red" if i % 2 == 0 else "blue"
        v = centers[lab] + rng.normal(scale=0.3, size=8)
        rows.append((i, [float(x) for x in v], lab))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>, label STRING")
    out = similarity.ivf_pq_topk(df, df.where("vec_id IN (0, 1)"), k=3, m=2, ks=8, nprobe=1)
    got = out.collect()
    assert len(got) == 6
    for r in got:
        assert r["neighbor_id"] % 2 == r["query_id"] % 2  # stayed in its cell


def test_emb_pq_recall_arithmetic_and_bounds(spark):
    """Pin the recall-instrumentation composition on the real fixture:
    one row, hits ≤ total = 5·n_queries, recall = hits/total, and the
    known-good value for the deterministic kernel on this data."""
    from orestes_spark.queries import QUERIES

    r = QUERIES["emb_pq_recall"](spark, "/root/testdata/sf0.001").collect()
    assert len(r) == 1
    row = r[0]
    assert row["k"] == 5 and row["n_queries"] == 10
    assert 0 <= row["hits"] <= 50
    assert row["recall"] == round(row["hits"] / 50, 4)
    # deterministic end-to-end: a second run returns the same number
    again = QUERIES["emb_pq_recall"](spark, "/root/testdata/sf0.001").first()
    assert (again["hits"], again["recall"]) == (row["hits"], row["recall"])


def test_pq_topk_quantized_matches_integer_model(vecs):
    """pq_topk_quantized vs a plain-Python replica of the whole
    integer pipeline (md5-ranked sample -> argmin encode -> ADC LUT
    sums) — exact equality, the property the DuckDB oracle relies on."""
    import hashlib

    df, data = vecs
    m, ks, quantize, k = 4, 8, 1000, 5
    qmat = np.round(data.astype(np.float64) * quantize)  # F.round half-up vs
    # numpy half-even differ only at exact .5 — perturb any such value away
    assert not np.any(np.abs(data.astype(np.float64) * quantize % 1 - 0.5) < 1e-9)
    n, dims = qmat.shape
    sub = dims // m
    order = sorted(range(n), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    books = qmat[order[:ks]]  # (ks, dims), code = rank in md5 order

    def enc(v):
        return [
            min(range(len(books)), key=lambda c: (((v - books[c])[j * sub:(j + 1) * sub] ** 2).sum(), c))
            for j in range(m)
        ]

    codes = {i: enc(qmat[i]) for i in range(n)}
    expected = {}
    for q in range(3):
        dists = []
        for cid in range(n):
            if cid == q:
                continue
            d = sum(
                ((qmat[q] - books[codes[cid][j]])[j * sub:(j + 1) * sub] ** 2).sum()
                for j in range(m)
            )
            dists.append((int(d), cid))
        expected[q] = sorted(dists)[:k]

    out = similarity.pq_topk_quantized(
        df, df.where("vec_id < 3"), k=k, m=m, ks=ks, quantize=quantize
    ).collect()
    got = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["adc_dist"], r["neighbor_id"]))
    assert got == expected


def test_assign_clusters_zero_norm_centroid(spark):
    """A zero-norm centroid (all-zero cluster) must neither abort the
    query (ANSI DIVIDE_BY_ZERO) nor capture the whole corpus via
    NULL-first struct ordering: its score is NULL (try_divide), ranked
    last, so every row goes to a real centroid."""
    from orestes_spark.operators.similarity import assign_clusters

    rows = [("1", "a", [1.0, 0.0]), ("2", "a", [0.9, 0.1]),
            ("3", "b", [0.0, 1.0]), ("4", "z", [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id STRING, label STRING, embedding ARRAY<DOUBLE>")
    out = {r["vec_id"]: r["cluster"] for r in assign_clusters(df).collect()}
    assert out["1"] == "a" and out["2"] == "a" and out["3"] == "b"
    assert out["4"] in ("a", "b")  # NOT the degenerate 'z'


def test_incremental_semantic_dedup_rules(spark, tmp_path):
    """Pins the three rules: a new vector near-dup of an INDEX member
    drops; a genuinely new direction keeps; a new-vs-new near-dup
    drops the higher id only. Clusters come from the CORPUS quantizer,
    and the index survives a parquet roundtrip."""
    corpus = spark.createDataFrame(
        [
            (1, [10.0, 0.0], 0),
            (3, [10.0, 1.0], 0),
            (2, [0.0, 10.0], 1),
            (4, [1.0, 10.0], 1),
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>, label LONG",
    )
    path = str(tmp_path / "sem_idx")
    similarity.semantic_index(corpus).write.parquet(path)
    index = spark.read.parquet(path)
    new = spark.createDataFrame(
        [
            (100, [10.0, 0.1], 9),   # ~1.0 cos vs corpus id 1 → dropped
            (101, [3.0, 9.0], 9),    # new direction in cell 1 → kept
            (102, [3.01, 9.03], 9),  # near-dup of NEW 101 → dropped (in-batch rule)
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>, label LONG",
    )
    out = {
        r["vec_id"]: (r["cluster"], r["kept"])
        for r in similarity.incremental_semantic_dedup(new, index, threshold=0.99).collect()
    }
    assert out == {100: (0, False), 101: (1, True), 102: (1, False)}, out


def test_incremental_semantic_dedup_arrow_equals_expression(spark, tmp_path, labeled_vecs):
    """The cogrouped-GEMM incremental kernel matches the expression
    path bit-for-bit on (cluster, kept) — including cells with no new
    members and in-batch-only near-dups."""
    df, _ = labeled_vecs
    corpus = df.where(F.col("vec_id") % 5 != 0)
    new = df.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "sem_idx_eq")
    similarity.semantic_index(corpus, quantize=1000).write.parquet(path)
    index = spark.read.parquet(path)
    expr = {r["vec_id"]: (r["cluster"], r["kept"]) for r in
            similarity.incremental_semantic_dedup(
                new, index, threshold=0.9, quantize=1000).collect()}
    arrow = {r["vec_id"]: (r["cluster"], r["kept"]) for r in
             similarity.incremental_semantic_dedup_arrow(
                 new, index, threshold=0.9, quantize=1000).collect()}
    assert expr == arrow and len(expr) == new.count()


def test_incremental_semdedup_partitioned_index_string_labels(spark, tmp_path):
    """The production index layout: cluster-PARTITIONED parquet with
    STRING labels. Partition inference flips the cluster key to int on
    read; both incremental variants must still agree with each other
    and dedup correctly (the type-flip guard casts keys back), and a
    NON-canonical label ('007') must be refused loudly instead of
    silently under-deduplicating."""
    import pytest

    corpus = spark.createDataFrame(
        [(1, "10", [10.0, 0.0]), (3, "10", [10.0, 1.0]),
         (2, "20", [0.0, 10.0]), (4, "20", [1.0, 10.0])],
        "vec_id LONG, label STRING, embedding ARRAY<FLOAT>",
    )
    root = str(tmp_path / "pidx")
    similarity.semantic_index(corpus, quantize=1000).write.partitionBy("cluster").parquet(
        root + "/index"
    )
    index = spark.read.parquet(root + "/index")
    assert dict(index.dtypes)["cluster"] == "int"  # the inference flip
    new = spark.createDataFrame(
        [(100, [10.0, 0.1]), (101, [3.0, 9.0]), (102, [3.01, 9.03])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    expr = {r["vec_id"]: (r["cluster"], r["kept"]) for r in
            similarity.incremental_semantic_dedup(
                new, index, threshold=0.99, quantize=1000).collect()}
    arrow = {r["vec_id"]: (r["cluster"], r["kept"]) for r in
             similarity.incremental_semantic_dedup_arrow(
                 new, index, threshold=0.99, quantize=1000).collect()}
    assert expr == arrow
    assert expr == {100: ("10", False), 101: ("20", True), 102: ("20", False)}, expr
    # non-canonical label: the int round-trip changes the value → refuse
    bad = spark.createDataFrame(
        [(1, "007", [10.0, 0.0]), (2, "007", [10.0, 1.0])],
        "vec_id LONG, label STRING, embedding ARRAY<FLOAT>",
    )
    similarity.semantic_index(bad, quantize=1000).write.partitionBy("cluster").parquet(
        root + "/bad"
    )
    bad_index = spark.read.parquet(root + "/bad")
    with pytest.raises(ValueError, match="round trip"):
        similarity.incremental_semantic_dedup(
            new, bad_index, threshold=0.99, quantize=1000
        ).collect()


def test_incremental_semdedup_zero_norm_oracle_semantics(spark):
    """Zero-norm vectors have NULL cosine (DuckDB oracle semantics):
    they are nobody's near-dup and nothing drops them — in batch
    dedup, incremental dedup, and the hot-cluster refine collapse."""
    z = [0.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(0, 0, z), (1, 0, z), (2, 0, [5.0, 0.0, 0.0]), (3, 0, [5.0, 0.01, 0.0])],
        "vec_id LONG, label LONG, embedding ARRAY<FLOAT>",
    )
    for kw in ({}, {"max_cluster": 2}):  # plain and refine-triggering
        out = {r["vec_id"]: r["kept"] for r in
               similarity.semantic_dedup(df, threshold=0.9, quantize=1000, **kw).collect()}
        assert out == {0: True, 1: True, 2: True, 3: False}, (kw, out)
    arrow = {r["vec_id"]: r["kept"] for r in
             similarity.semantic_dedup_arrow(df, threshold=0.9, quantize=1000).collect()}
    assert arrow == {0: True, 1: True, 2: True, 3: False}
    index = similarity.semantic_index(df, quantize=1000)
    new = spark.createDataFrame(
        [(100, z), (101, [5.0, 0.02, 0.0])], "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    for fn in (similarity.incremental_semantic_dedup, similarity.incremental_semantic_dedup_arrow):
        got = {r["vec_id"]: r["kept"] for r in
               fn(new, index, threshold=0.9, quantize=1000).collect()}
        assert got == {100: True, 101: False}, (fn.__name__, got)
    # top-k: a zero-norm corpus vector has NULL cosine, ranks LAST,
    # and both kernels agree row-for-row (the arrow path used to clamp
    # it to cosine 0, which outranked negative cosines)
    tk = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [-1.0, 0.0, 0.0]), (2, z), (3, [0.9, 0.1, 0.0])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    q = tk.where(F.col("vec_id") == 0)
    expr_tk = [(r["neighbor_id"], r["cosine"], r["rank"]) for r in
               similarity.cosine_topk(tk, q, k=3, quantize=1000)
               .orderBy("rank").collect()]
    arrow_tk = [(r["neighbor_id"], r["cosine"], r["rank"]) for r in
                similarity.cosine_topk_arrow(tk, q, k=3, quantize=1000)
                .orderBy("rank").collect()]
    assert expr_tk == arrow_tk, (expr_tk, arrow_tk)
    assert [n for n, _c, _r in expr_tk] == [3, 1, 2]  # zero-norm LAST
    assert expr_tk[2][1] is None  # with NULL cosine


def test_kmeans_cosine_recovers_separated_groups(spark):
    """Three orthogonal direction groups, k=3: after two passes every
    group lands in one cluster, regardless of the (id % k) seeding."""
    from orestes_spark.operators.similarity import kmeans_cosine

    rows = []
    dirs = {0: [10.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0], 2: [0.0, 0.0, 10.0]}
    vid = 0
    for g in range(3):
        for j in range(6):
            v = list(dirs[g])
            v[(g + 1) % 3] += 0.2 * j  # small within-group spread
            rows.append((vid, v))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = kmeans_cosine(df, k=3, iters=2, quantize=1000).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["vec_id"] // 6, set()).add(r["cluster"])
    assert all(len(cs) == 1 for cs in by_group.values()), by_group
    assert len({next(iter(cs)) for cs in by_group.values()}) == 3


def test_kmeans_cosine_iteration_moves_assignments(spark):
    """The second pass must re-assign against UPDATED centroids: a
    point nearer its group's mean than any seed flips between
    iters=1 and iters=2 on a seed-unfriendly layout."""
    from orestes_spark.operators.similarity import kmeans_cosine

    # ids 0,1 seed the two clusters (residue classes 0,1). Vectors:
    # seed 0 = x-axis, seed 1 = 45deg; the bulk sits near the y-axis,
    # so after one update cluster 1's centroid swings toward y and
    # captures the y-points more cleanly than the raw seeds do.
    rows = [
        (0, [10.0, 0.0]),
        (1, [7.0, 7.0]),
        (2, [1.0, 10.0]),
        (3, [0.5, 10.0]),
        (4, [0.0, 10.0]),
        (5, [9.0, 1.0]),
        # 30° point: nearer seed 1 (45°) than seed 0 (x-axis), but
        # once cluster 1's centroid swings toward y it flips to 0.
        (6, [8.66, 5.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    one = {r["vec_id"]: r["cluster"] for r in kmeans_cosine(df, k=2, iters=1, quantize=1000).collect()}
    two = {r["vec_id"]: r["cluster"] for r in kmeans_cosine(df, k=2, iters=2, quantize=1000).collect()}
    assert one != two, "second pass changed nothing — centroid update is dead code"


def test_semantic_decontaminate_flags_paraphrase_neighbors(spark):
    """A corpus vector colinear with an eval vector is flagged with
    that eval id as best match; orthogonal vectors pass; hit counts
    aggregate across multiple eval hits."""
    from orestes_spark.operators.similarity import semantic_decontaminate

    ddl = "vec_id LONG, embedding ARRAY<FLOAT>"
    eval_set = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.8, 0.6, 0.0, 0.0])], ddl
    )
    corpus = spark.createDataFrame(
        [
            (1, [2.0, 0.0, 0.0, 0.0]),   # colinear with eval 100, cos 0.8 vs 101
            (2, [0.0, 0.0, 0.0, 3.0]),   # orthogonal to both: clean
            (3, [0.0, 1.0, 0.0, 0.0]),   # cos 0.6 vs 101 only
        ],
        ddl,
    )
    rows = {
        r["vec_id"]: r
        for r in semantic_decontaminate(
            corpus, eval_set, threshold=0.5, quantize=1000
        ).collect()
    }
    assert set(rows) == {1, 3}
    assert rows[1]["n_eval_hits"] == 2 and rows[1]["eval_id"] == 100
    assert rows[1]["cosine"] == 1.0
    assert rows[3]["n_eval_hits"] == 1 and rows[3]["eval_id"] == 101
    assert abs(rows[3]["cosine"] - 0.6) < 1e-6


def test_semantic_decontaminate_id_collision_is_not_exempt(spark):
    """Round-10 ADVICE: corpus and eval ids come from DIFFERENT
    namespaces in real decontamination, so a coincidental id collision
    must still be scanned — the old inherited cid != qid filter
    silently exempted exactly the contaminated pair. eval_is_subset
    restores the self-search semantics when explicitly asked for."""
    from orestes_spark.operators.similarity import semantic_decontaminate

    ddl = "vec_id LONG, embedding ARRAY<FLOAT>"
    eval_set = spark.createDataFrame([(7, [1.0, 0.0, 0.0, 0.0])], ddl)
    corpus = spark.createDataFrame(
        [
            (7, [2.0, 0.0, 0.0, 0.0]),  # contaminated AND id-colliding
            (8, [0.0, 0.0, 0.0, 1.0]),  # clean
        ],
        ddl,
    )
    flagged = semantic_decontaminate(
        corpus, eval_set, threshold=0.9, quantize=1000
    ).collect()
    assert [(r["vec_id"], r["eval_id"]) for r in flagged] == [(7, 7)]
    # explicit subset mode: the collision is a self-match, exempt again
    assert (
        semantic_decontaminate(
            corpus, eval_set, threshold=0.9, quantize=1000, eval_is_subset=True
        ).count()
        == 0
    )


def test_semantic_decontaminate_arrow_equals_expression_path(spark):
    """Round-12 optimization: the GEMM kernel must reproduce the
    expression path row for row — hit set, hit counts, best-match
    eval id (raw-cosine tie broken by smallest eval id) and the
    emitted rounded cosine — including zero-norm corpus/eval vectors
    (NULL cosine ⇒ never a hit), id collisions (scanned by default,
    exempt under eval_is_subset) and multi-hit counting."""
    from orestes_spark.operators.similarity import (
        semantic_decontaminate,
        semantic_decontaminate_arrow,
    )

    ddl = "vec_id LONG, embedding ARRAY<FLOAT>"
    eval_set = spark.createDataFrame(
        [
            (100, [1.0, 0.0, 0.0, 0.0]),
            (101, [0.8, 0.6, 0.0, 0.0]),
            (102, [0.0, 0.0, 0.0, 0.0]),  # zero-norm eval: never hits
            (3, [0.0, 1.0, 0.0, 0.0]),    # id collides with corpus 3
        ],
        ddl,
    )
    corpus = spark.createDataFrame(
        [
            (1, [2.0, 0.0, 0.0, 0.0]),    # colinear with 100; ties 100 vs...
            (2, [0.0, 0.0, 0.0, 3.0]),    # orthogonal: clean
            (3, [0.0, 1.0, 0.0, 0.0]),    # exact match of eval 3 (collision)
            (4, [0.0, 0.0, 0.0, 0.0]),    # zero-norm corpus: never hits
            (5, [1.0, 0.0, 0.0, 0.0]),    # colinear with 100 AND eval 3? no
        ],
        ddl,
    )
    for subset in (False, True):
        expr = sorted(
            tuple(r) for r in semantic_decontaminate(
                corpus, eval_set, threshold=0.5, quantize=1000,
                eval_is_subset=subset,
            ).collect()
        )
        arrow = sorted(
            tuple(r) for r in semantic_decontaminate_arrow(
                corpus, eval_set, threshold=0.5, quantize=1000,
                eval_is_subset=subset,
            ).collect()
        )
        assert expr == arrow, (subset, expr, arrow)
    # raw-score tie → smallest eval id: vector equidistant from two evals
    tie_eval = spark.createDataFrame(
        [(200, [1.0, 0.0, 0.0, 0.0]), (150, [0.0, 1.0, 0.0, 0.0])], ddl
    )
    tie_corpus = spark.createDataFrame([(9, [1.0, 1.0, 0.0, 0.0])], ddl)
    for fn in (semantic_decontaminate, semantic_decontaminate_arrow):
        row = fn(tie_corpus, tie_eval, threshold=0.5, quantize=1000).collect()
        assert [(r["vec_id"], r["n_eval_hits"], r["eval_id"]) for r in row] == [
            (9, 2, 150)
        ]


def test_semantic_decontaminate_arrow_rejects_non_integer_ids(spark):
    from orestes_spark.operators.similarity import semantic_decontaminate_arrow

    ddl = "vec_id STRING, embedding ARRAY<FLOAT>"
    df = spark.createDataFrame([("a", [1.0, 0.0])], ddl)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="integer-castable"):
        semantic_decontaminate_arrow(df, df, threshold=0.5, quantize=1000)


def test_semantic_decontaminate_ivf_id_collision_is_not_exempt(spark):
    from orestes_spark.operators.similarity import semantic_decontaminate_ivf

    ddl = "vec_id LONG, embedding ARRAY<FLOAT>, cluster LONG"
    eval_set = spark.createDataFrame(
        [(7, [1.0, 0.0, 0.0, 0.0], 0)], ddl
    ).drop("cluster")
    corpus = spark.createDataFrame(
        [(7, [2.0, 0.0, 0.0, 0.0], 0), (8, [0.0, 0.0, 0.0, 1.0], 1)], ddl
    )
    flagged = semantic_decontaminate_ivf(
        corpus, eval_set, threshold=0.9, quantize=1000, nprobe=1
    ).collect()
    assert [(r["vec_id"], r["eval_id"]) for r in flagged] == [(7, 7)]
    assert (
        semantic_decontaminate_ivf(
            corpus, eval_set, threshold=0.9, quantize=1000, nprobe=1,
            eval_is_subset=True,
        ).count()
        == 0
    )


def test_semantic_decontaminate_ivf_is_probed_subset_of_exact(spark):
    """The IVF route can only UNDER-report relative to the exact scan
    (unprobed cells are unexamined): flagged ids are a subset, and per
    flagged id both the hit count and the best cosine are bounded by
    the exact operator's."""
    from orestes_spark.operators.similarity import (
        kmeans_cosine,
        semantic_decontaminate,
        semantic_decontaminate_ivf,
    )

    ddl = "vec_id LONG, embedding ARRAY<FLOAT>"
    rows = [
        (i, [1.0 + 0.01 * i, 0.1 * (i % 3), 0.0, 0.0]) for i in range(8)
    ] + [(i, [0.0, 0.0, 1.0 + 0.01 * i, 0.1 * (i % 2)]) for i in range(8, 16)]
    e = spark.createDataFrame(rows, ddl)
    eval_set = e.where(F.col("vec_id") % 8 == 0)   # one per natural cluster
    corpus = e.where(F.col("vec_id") % 8 != 0)
    cells = kmeans_cosine(e, k=2, iters=2, quantize=1000)
    exact = {
        r["vec_id"]: r
        for r in semantic_decontaminate(corpus, eval_set, threshold=0.9, quantize=1000).collect()
    }
    ivf = {
        r["vec_id"]: r
        for r in semantic_decontaminate_ivf(
            corpus.join(cells, "vec_id"), eval_set, threshold=0.9, quantize=1000, nprobe=1
        ).collect()
    }
    assert ivf and set(ivf) <= set(exact)
    for vid, r in ivf.items():
        assert r["n_eval_hits"] <= exact[vid]["n_eval_hits"]
        assert r["cosine"] <= exact[vid]["cosine"]


def test_pq_requantize_if_recall_floor_trigger(spark, tmp_path):
    """Round-10 verdict #9: the persisted PQ index gets a MEASURED
    drift trigger. Index trained on cluster A stays healthy (probe
    above floor, zero writes); after the corpus doubles with a
    different distribution the probe drops, the trigger retrains, and
    recall recovers. The auto-retrained index is content-identical to
    a manual pq_index_write over the same corpus (deterministic
    seeded training)."""
    from orestes_spark.operators.similarity import (
        pq_index_recall,
        pq_index_topk,
        pq_index_write,
        pq_requantize_if,
    )

    ddl = "vec_id LONG, embedding ARRAY<FLOAT>"
    base = spark.createDataFrame(
        [(i, [1.0 + 0.01 * (i % 7), 0.1 * (i % 3), 0.01 * i, 0.0]) for i in range(64)],
        ddl,
    ).localCheckpoint()
    path = str(tmp_path / "pq")
    pq_index_write(base, path, m=4, ks=8)
    healthy = pq_requantize_if(
        spark, path, base, recall_floor=0.4, probe_mod=7, m=4, ks=8
    )
    assert "retrained" not in healthy and healthy["recall"] >= 0.4

    # drift: a second, orthogonal cluster the old codebooks never saw
    drifted = base.unionByName(
        spark.createDataFrame(
            [(100 + i, [0.0, 0.01 * (i % 5), 1.0 + 0.02 * (i % 9), 2.0 + 0.03 * i]) for i in range(64)],
            ddl,
        )
    ).localCheckpoint()
    before = pq_index_recall(spark, path, drifted, k=5, probe_mod=7)
    res = pq_requantize_if(
        spark, path, drifted, recall_floor=0.95, probe_mod=7, m=4, ks=8
    )
    assert res.get("retrained") is True
    assert res["recall_after"] > res["recall_before"]
    assert abs(res["recall_before"] - before) < 1e-9

    # auto vs manual: content-identical codebooks and codes
    manual = str(tmp_path / "pq_manual")
    pq_index_write(drifted, manual, m=4, ks=8)
    for tree in ("codebooks", "codes"):
        a = {tuple(map(str, r)) for r in spark.read.parquet(f"{path}/{tree}").collect()}
        b = {tuple(map(str, r)) for r in spark.read.parquet(f"{manual}/{tree}").collect()}
        assert a == b, tree
    # and the two indexes answer identically
    q = drifted.where(F.col("vec_id") % 10 == 0)
    ra = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in pq_index_topk(spark, path, q, k=3).collect()}
    rb = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in pq_index_topk(spark, manual, q, k=3).collect()}
    assert ra == rb

    # the POSIX-path boundary (its crash windows are in
    # test_swap_set_crash.py)
    with pytest.raises(RuntimeError, match="POSIX"):
        pq_requantize_if(
            spark, "s3a://bucket/pq", drifted, recall_floor=1.1, probe_mod=7
        )


def test_centroid_drift_matches_numpy(vecs):
    df, data = vecs
    df2 = df.withColumn("label", (F.col("vec_id") % 3).cast("int"))
    got = {
        r["label"]: r
        for r in similarity.centroid_drift(
            df2.where("vec_id % 2 = 0"), df2.where("vec_id % 2 != 0"),
            "embedding", "label", quantize=1000,
        ).collect()
    }
    q = np.round(data.astype("float64") * 1000)
    for lbl in (0, 1, 2):
        ids_a = [i for i in range(40) if i % 2 == 0 and i % 3 == lbl]
        ids_b = [i for i in range(40) if i % 2 == 1 and i % 3 == lbl]
        ca = q[ids_a].sum(axis=0) / len(ids_a)
        cb = q[ids_b].sum(axis=0) / len(ids_b)
        exp = float(np.sqrt(((ca - cb) ** 2).sum())) / 1000
        r = got[lbl]
        assert r["n_a"] == len(ids_a) and r["n_b"] == len(ids_b)
        assert abs(r["drift"] - exp) < 1e-5


def test_centroid_drift_zero_for_identical_slices(spark):
    rows = [(i, [1.0, 2.0, 3.0], 0) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT")
    out = similarity.centroid_drift(
        df.where("vec_id % 2 = 0"), df.where("vec_id % 2 != 0"),
        "embedding", "label",
    ).collect()
    assert len(out) == 1 and out[0]["drift"] == 0.0


def test_dimension_stats_square_past_bigint_ceiling(spark):
    """Round-12 (ADVICE r11): the per-element square is computed IN
    decimal, not BIGINT-then-cast — components whose quantized value
    exceeds ~3.03e9 (|x_q|^2 > 2^63) must still produce exact stats.
    x_q = {5e9, 1e10}: n=2, Sx=1.5e10, Sxx=1.25e20 (overflows BIGINT),
    var_num = 2*1.25e20 - 2.25e20 = 2.5e19, sqrt = 5e9."""
    df = spark.createDataFrame(
        [(1, [0.5]), (2, [1.0])], "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    got = {
        r["dim"]: r
        for r in similarity.dimension_stats(
            df, "embedding", quantize=10_000_000_000
        ).collect()
    }
    r = got[1]
    assert r["n"] == 2
    assert r["mean"] == 0.75
    assert r["std"] == 0.25
    assert r["vmin"] == 0.5 and r["vmax"] == 1.0


def test_pca_power_direction_matches_numpy(spark):
    """Planted anisotropy: dim 1 carries most of the energy. The
    operator's two power steps must match the same two steps computed
    by numpy on the same quantized integers, bit-for-bit on the
    rounded shares, and the dominant dim must get |v_share| = 1."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(0, 0.05, size=(200, 8))
    base[:, 0] += rng.choice([-1.0, 1.0], size=200) * 0.9  # dominant dim
    rows = [(int(i), [float(v) for v in base[i]]) for i in range(200)]
    d = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    got = {
        r["dim"]: (r["v_share"], r["explained_share"])
        for r in similarity.pca_power_direction(
            d, "vec_id", "embedding", quantize=100
        ).collect()
    }
    x = np.array(
        [[round(float(np.float32(v)) * 100) for v in base[i]] for i in range(200)],
        dtype=object,
    )
    s = x.sum(axis=1)
    v1 = (x * s[:, None]).sum(axis=0)
    d2 = (x * v1[None, :]).sum(axis=1)
    v2 = (x * d2[:, None]).sum(axis=0)
    maxabs = max(abs(int(w)) for w in v2)
    tr = int((x * x).sum())
    dot12 = int(sum(int(a) * int(b) for a, b in zip(v1, v2)))
    dot11 = int(sum(int(a) * int(a) for a in v1))
    for j in range(8):
        assert got[j + 1][0] == round(float(int(v2[j])) / float(maxabs), 6)
        assert got[j + 1][1] == round(float(dot12) / float(dot11) / float(tr), 6)
    assert abs(got[1][0]) == 1.0  # the planted dominant dim
    assert got[1][1] > 0.5  # it explains most of the second moment

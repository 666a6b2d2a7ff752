"""Tests for the training-data pipeline operators (dedup, similarity,
text analysis) on the driver testdata tables."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from menelaus_spark.operators import dedup, similarity, text
from menelaus_spark.verdicts import DRIVER_ROW_CAPS


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").persist()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()


def test_token_counts_match_python(spark, docs):
    out = docs.select(
        "doc_id", "text",
        text.token_count(F.col("text")).alias("n_tok"),
        text.bpe_ish_token_count("text").alias("n_bpe"),
    ).limit(200).toPandas()
    import re

    for _, r in out.iterrows():
        t = (r["text"] or "").strip().lower()
        expected = len(t.split()) if t else 0
        assert r["n_tok"] == expected
        assert r["n_bpe"] == len(re.findall(text.BPE_ISH_REGEX, r["text"] or ""))


def test_quality_features(spark, docs):
    q = text.quality_features(docs).limit(100).toPandas()
    assert ((q["alpha_ratio"] >= 0) & (q["alpha_ratio"] <= 1)).all()
    assert ((q["quality_score"] >= 0) & (q["quality_score"] <= 1)).all()
    assert (q["n_chars"] == q["text"].fillna("").str.len()).all()


def test_lang_id(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                "the cat and the dog sat in that house for a while it was nice",
                "el perro y la casa de los vecinos en el parque",
                "der hund und die katze ist von den nachbarn mit ein",
                "le chat est dans les maisons et une belle ville que",
                "zzz qqq xxx",
            ],
        }
    )
    out = text.lang_id(spark.createDataFrame(pdf)).orderBy("doc_id").toPandas()
    assert out["lang_pred"].tolist() == ["en", "es", "de", "fr", "und"]


def test_doc_fingerprint_deterministic(spark, docs):
    a = text.doc_fingerprint(docs.limit(50), "doc_id").orderBy("doc_id").toPandas()
    b = text.doc_fingerprint(docs.limit(50).repartition(3), "doc_id").orderBy("doc_id").toPandas()
    assert a["fingerprint"].tolist() == b["fingerprint"].tolist()
    # identical normalized text -> identical fingerprint
    pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["Hello   World foo", "hello world foo"]})
    out = text.doc_fingerprint(spark.createDataFrame(pdf), "doc_id").toPandas()
    assert out["fingerprint"].nunique() == 1


def test_exact_duplicates(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": ["same  Doc", "same doc", "unique one", "SAME DOC", "other"],
        }
    )
    out = dedup.exact_duplicates(spark.createDataFrame(pdf), "doc_id").toPandas()
    assert len(out) == 1
    assert out.iloc[0]["n_dups"] == 3
    assert out.iloc[0]["keep_id"] == 1
    assert sorted(out.iloc[0]["dup_ids"]) == [1, 2, 4]


def test_shingles_and_jaccard(spark):
    pdf = pd.DataFrame({"doc_id": [1], "text": ["a b c d"]})
    sh = dedup.with_shingles(spark.createDataFrame(pdf), "doc_id", n=2).collect()[0]["shingles"]
    assert sorted(sh) == ["a b", "b c", "c d"]


def test_minhash_lsh_finds_neardups(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
    words = base.split()
    rows = [(0, base)]
    # near-dup: one word changed
    nd = words.copy()
    nd[5] = "leaps"
    rows.append((1, " ".join(nd)))
    # unrelated docs
    rng = np.random.default_rng(3)
    vocab = [f"w{i}" for i in range(200)]
    for i in range(2, 30):
        rows.append((i, " ".join(rng.choice(vocab, size=18))))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    # 16 bands x 2 rows: P(candidate | J=0.67) = 1-(1-0.67^2)^16 ~ 1-7e-5
    # (8x4 banding leaves a ~17% natural miss rate at this jaccard —
    # band parameters must match the target threshold)
    pairs = dedup.minhash_lsh_dedup(
        df, "doc_id", threshold=0.5, bands=16, rows=2
    ).toPandas()
    assert {(0, 1)} == set(zip(pairs["id_a"], pairs["id_b"]))
    # signature determinism across partitioning
    s1 = dedup.minhash_signatures(df, "doc_id").orderBy("doc_id").toPandas()
    s2 = dedup.minhash_signatures(df.repartition(5), "doc_id").orderBy("doc_id").toPandas()
    assert [list(x) for x in s1["sig"]] == [list(x) for x in s2["sig"]]


def test_ngram_jaccard_pairs_blocked(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["a b c d e f", "a b c d e g", "x y z w v u"],
            "blk": [0, 0, 0],
        }
    )
    out = dedup.ngram_jaccard_pairs(
        spark.createDataFrame(pdf), "doc_id", n=2, threshold=0.5, block_col="blk"
    ).toPandas()
    assert set(zip(out["id_a"], out["id_b"])) == {(1, 2)}


def test_repeated_ngram_pairs(spark):
    # docs 1/2: distinct documents sharing one verbatim 8-token span
    # buried mid-text (document-level Jaccard ~0.33 — below any dedup
    # threshold, exactly the case the substring signal exists for);
    # doc 3: fully distinct; docs 10..20: a boilerplate 8-token span
    # in >cap documents must NOT produce pairs (hot-span exclusion)
    span = "the quick brown fox jumps over the lazy"
    boiler = "all rights reserved by the example corp inc"
    rows = [
        (1, f"alpha beta gamma {span} delta epsilon zeta eta"),
        (2, f"one two three four {span} five six seven"),
        (3, "completely different words with no overlap at all here now"),
    ] + [(10 + i, f"doc{i} body text {boiler} tail{i} words here")
         for i in range(11)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = dedup.repeated_ngram_pairs(df, "doc_id", n=8, hot_cap=8).toPandas()
    got = set(zip(out["id_a"], out["id_b"]))
    assert (1, 2) in got
    assert all(a < 10 or b < 10 for a, b in got), got  # no boilerplate pairs
    assert int(out.loc[(out.id_a == 1) & (out.id_b == 2),
                       "shared_spans"].iloc[0]) == 1
    # raising the cap re-admits the boilerplate span: 11 docs -> 55 pairs
    out2 = dedup.repeated_ngram_pairs(df, "doc_id", n=8, hot_cap=64).toPandas()
    assert len(out2) == 1 + 55


def test_simhash_neardup(spark):
    # simhash stability needs doc length >> 1 changed token: at 200
    # tokens a single substitution flips ~1 fingerprint bit
    base = " ".join(f"tok{i}" for i in range(200))
    variant = base.replace("tok7 ", "tokX ")
    rng = np.random.default_rng(9)
    rows = [(0, base), (1, variant)] + [
        (i, " ".join(rng.choice([f"v{j}" for j in range(500)], size=200))) for i in range(2, 20)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    pairs = dedup.simhash_neardup_pairs(df, "doc_id", max_hamming=6, prefix_bits=8).toPandas()
    assert (0, 1) in set(zip(pairs["id_a"], pairs["id_b"]))


def test_embedding_neardup_and_topk(spark, emb):
    # plant an exact near-duplicate pair
    two = emb.limit(1).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label"
    )
    planted = emb.unionByName(two)
    pairs = dedup.embedding_neardup_pairs(
        planted, "vec_id", "embedding", threshold=0.9999, block_col="label"
    ).toPandas()
    assert len(pairs) >= 1

    # brute-force top-k: top-1 for a corpus vector's own embedding is itself
    row = emb.limit(1).collect()[0]
    topk = similarity.cosine_topk(
        emb, "vec_id", "embedding", [("q0", list(row["embedding"]))], k=5
    ).toPandas()
    assert topk.iloc[0]["vec_id"] == row["vec_id"]
    assert topk.iloc[0]["cosine"] == pytest.approx(1.0)
    assert len(topk) == 5


def test_lsh_ann_recall(spark, emb):
    rng = np.random.default_rng(4)
    rows = emb.limit(3).collect()
    queries = [(f"q{i}", list(r["embedding"])) for i, r in enumerate(rows)]
    exact = similarity.cosine_topk(emb, "vec_id", "embedding", queries, k=10).toPandas()
    ann = similarity.lsh_ann_topk(
        emb, "vec_id", "embedding", queries, k=10, n_planes=4, multiprobe_hamming=2
    ).toPandas()
    # recall@10 of the bucketed search vs exact
    recalls = []
    for qid in ("q0", "q1", "q2"):
        e = set(exact[exact["query_id"] == qid]["vec_id"])
        a = set(ann[ann["query_id"] == qid]["vec_id"])
        recalls.append(len(e & a) / len(e))
    assert np.mean(recalls) >= 0.5
    # the query vector itself is always found (same bucket)
    assert (ann[ann["rank"] == 1]["cosine"] > 0.999).all()


def test_kmeans_blocks_cap_and_determinism(spark, emb):
    # every generated block fits the cap (one block = one applyInPandas
    # group = one executor's memory), and the same seed reproduces the
    # same assignment regardless of partitioning
    b1 = dedup.kmeans_blocks(emb, "vec_id", "embedding",
                             n_blocks=4, max_block_size=60, seed=7)
    sizes = b1.groupBy("block").count().toPandas()
    assert (sizes["count"] <= 60).all()
    b2 = dedup.kmeans_blocks(emb.repartition(13), "vec_id", "embedding",
                             n_blocks=4, max_block_size=60, seed=7)
    a1 = {r["vec_id"]: r["block"] for r in b1.select("vec_id", "block").collect()}
    a2 = {r["vec_id"]: r["block"] for r in b2.select("vec_id", "block").collect()}
    assert a1 == a2
    b1.unpersist(); b2.unpersist()


def test_kmeans_blocks_point_mass_hash_fallback(spark):
    # a block of identical vectors cannot be split by spherical k-means;
    # the hash fallback must still enforce the memory bound
    pdf = pd.DataFrame({
        "vec_id": range(300),
        "embedding": [[1.0, 0.0, 0.0]] * 300,
    })
    df = spark.createDataFrame(pdf)
    out = dedup.kmeans_blocks(df, "vec_id", "embedding",
                              n_blocks=2, max_block_size=50, seed=3,
                              max_split_rounds=2)
    sizes = out.groupBy("block").count().toPandas()
    assert (sizes["count"] <= 50).all()
    assert out.count() == 300
    out.unpersist()


def test_kmeans_blocked_neardup_pairs_are_exact_within_blocks(spark, emb):
    # the blocked pipeline's output over generated blocks equals the
    # numpy ground truth restricted to intra-block pairs
    blocked = dedup.kmeans_blocks(emb, "vec_id", "embedding", n_blocks=6, seed=11)
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_neardup_pairs(
            blocked, "vec_id", "embedding", threshold=0.35, block_col="block"
        ).collect()
    }
    pdf = blocked.select("vec_id", "embedding", "block").toPandas()
    M = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
    n = np.linalg.norm(M, axis=1); n[n == 0] = 1.0
    U = M / n[:, None]
    cos = U @ U.T
    ids = pdf["vec_id"].to_numpy()
    blk = pdf["block"].to_numpy()
    want = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if blk[i] == blk[j] and round(cos[i, j] * 1e6) / 1e6 >= 0.35:
                a, b = sorted((int(ids[i]), int(ids[j])))
                want.add((a, b))
    assert got == want
    blocked.unpersist()


def test_repetition_stats(spark):
    import pandas as pd

    from menelaus_spark.operators.text import repetition_stats

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            "the cat sat on the mat",            # 6 tokens, 1 dup token, no dup 3-gram
            "spam spam spam spam spam",          # maximal repetition
            "one two",                           # < 3 tokens -> no trigrams
            None,                                # null -> zeros
        ],
    }))
    rows = {r["doc_id"]: r for r in repetition_stats(df, "doc_id").collect()}
    assert rows[1]["n_tokens"] == 6 and rows[1]["n_trigrams"] == 4
    assert abs(rows[1]["dup_token_frac"] - (1 - 5 / 6)) < 1e-12
    assert rows[1]["dup_trigram_frac"] == 0.0
    assert rows[2]["n_tokens"] == 5 and abs(rows[2]["dup_token_frac"] - 0.8) < 1e-12
    assert abs(rows[2]["dup_trigram_frac"] - (1 - 1 / 3)) < 1e-12
    assert rows[3]["n_trigrams"] == 0 and rows[3]["dup_trigram_frac"] == 0.0
    assert rows[4]["n_tokens"] == 0 and rows[4]["dup_token_frac"] == 0.0


def test_ivf_ann_recall_and_determinism(spark, emb):
    rows = emb.limit(3).collect()
    queries = [(f"q{i}", list(r["embedding"])) for i, r in enumerate(rows)]
    exact = similarity.cosine_topk(emb, "vec_id", "embedding", queries, k=10).toPandas()
    ivf = similarity.ivf_ann_topk(
        emb, "vec_id", "embedding", queries, k=10, n_lists=4, nprobe=2
    ).toPandas()
    recalls = []
    for qid in ("q0", "q1", "q2"):
        e = set(exact[exact["query_id"] == qid]["vec_id"])
        a = set(ivf[ivf["query_id"] == qid]["vec_id"])
        recalls.append(len(e & a) / len(e))
    # probing half the lists must recover most of the exact top-10
    assert np.mean(recalls) >= 0.5
    # the query vector itself lands in its own nearest list
    assert (ivf[ivf["rank"] == 1]["cosine"] > 0.999).all()
    # seeded quantizer + rounded-dot argmax -> bit-identical reruns,
    # partitioning-independent
    again = similarity.ivf_ann_topk(
        emb.repartition(7), "vec_id", "embedding", queries, k=10,
        n_lists=4, nprobe=2,
    ).toPandas()
    a1 = ivf.sort_values(["query_id", "rank"]).reset_index(drop=True)
    a2 = again.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert a1.equals(a2)


def test_ivf_assignment_paths_agree(spark, emb):
    # the JVM-literal and broadcast-centroid Arrow assignment paths are
    # semantically identical: forcing the Arrow kernel (literal_cutoff=0)
    # must reproduce the literal path's output bit-for-bit
    rows = emb.limit(2).collect()
    queries = [(f"q{i}", list(r["embedding"])) for i, r in enumerate(rows)]
    lit = similarity.ivf_ann_topk(
        emb, "vec_id", "embedding", queries, k=10, n_lists=4, nprobe=2
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    arrow = similarity.ivf_ann_topk(
        emb, "vec_id", "embedding", queries, k=10, n_lists=4, nprobe=2,
        literal_cutoff=0,
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert lit.equals(arrow)


def test_ivf_production_fanout(spark):
    # n_lists=256 x dim=64 = 16384 centroid components: over the literal
    # cutoff, so assignment runs the broadcast-centroid Arrow kernel —
    # the config whose inlined-literal plan would blow up Catalyst
    # compile (VERDICT r04 "what's wrong" #2). Checks it runs, stays
    # deterministic, and recalls the exact top-10 well at nprobe=32.
    rng = np.random.default_rng(11)
    n, dim = 4000, 64
    base = rng.standard_normal((32, dim))  # 32 latent directions
    vecs = base[rng.integers(0, 32, n)] + 0.15 * rng.standard_normal((n, dim))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        schema="vec_id long, embedding array<double>",
    ).persist()
    queries = [(f"q{i}", [float(x) for x in vecs[i * 701]]) for i in range(3)]
    exact = similarity.cosine_topk(df, "vec_id", "embedding", queries, k=10).toPandas()
    ivf = similarity.ivf_ann_topk(
        df, "vec_id", "embedding", queries, k=10, n_lists=256, nprobe=32,
        sample_cap=4000,
    ).toPandas()
    recalls = []
    for qid in ("q0", "q1", "q2"):
        e = set(exact[exact["query_id"] == qid]["vec_id"])
        a = set(ivf[ivf["query_id"] == qid]["vec_id"])
        recalls.append(len(e & a) / len(e))
    assert np.mean(recalls) >= 0.6
    assert (ivf[ivf["rank"] == 1]["cosine"] > 0.999).all()
    df.unpersist()


def test_ivf_degenerate_sample_fewer_centroids_than_lists(spark):
    # 3 distinct vectors but n_lists=8: _lloyd clamps the quantizer;
    # the probe loop must not IndexError (ADVICE r04) and every corpus
    # vector must still be findable
    rows = [(i, [1.0 * (i % 3 == 0), 1.0 * (i % 3 == 1), 1.0 * (i % 3 == 2)])
            for i in range(9)]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<double>")
    out = similarity.ivf_ann_topk(
        df, "vec_id", "embedding", [("q0", [1.0, 0.0, 0.0])], k=3,
        n_lists=8, nprobe=8,
    ).toPandas()
    assert len(out) == 3
    assert (out["cosine"] > 0.999).all()


def test_pq_train_shapes_and_determinism(spark, emb):
    cb1 = similarity.pq_train(emb, "vec_id", "embedding", m=8, n_codes=16)
    cb2 = similarity.pq_train(emb.repartition(5), "vec_id", "embedding",
                              m=8, n_codes=16)
    assert cb1.shape == (8, 16, 8)  # dim 64 / m 8
    assert np.array_equal(cb1, cb2)  # id-sorted sample -> identical books
    with pytest.raises(ValueError):
        similarity.pq_train(emb, "vec_id", "embedding", m=7)


def test_pq_ann_recall_and_determinism(spark, emb):
    rows = emb.limit(3).collect()
    queries = [(f"q{i}", list(r["embedding"])) for i, r in enumerate(rows)]
    exact = similarity.cosine_topk(emb, "vec_id", "embedding", queries,
                                   k=10).toPandas()
    # raw ADC shortlist: 8-byte codes + one stored norm per vector
    pq = similarity.pq_ann_topk(emb, "vec_id", "embedding", queries,
                                k=10).toPandas()
    # production shape: ADC shortlist of 100 + exact rerank
    rr = similarity.pq_ann_topk(emb, "vec_id", "embedding", queries,
                                k=10, rerank=100).toPandas()
    raw_rec, rr_rec = [], []
    for qid in ("q0", "q1", "q2"):
        e = set(exact[exact["query_id"] == qid]["vec_id"])
        raw_rec.append(len(e & set(pq[pq["query_id"] == qid]["vec_id"])) / len(e))
        rr_rec.append(len(e & set(rr[rr["query_id"] == qid]["vec_id"])) / len(e))
    # rerank must recover most of the exact top-10 and beat raw ADC
    assert np.mean(rr_rec) >= 0.7
    assert np.mean(rr_rec) >= np.mean(raw_rec)
    # the query itself survives: exact-reranked rank 1 is (near-)self
    assert (rr[rr["rank"] == 1]["cosine"] > 0.999).all()
    # rounded-surrogate everything -> bit-identical, partition-independent
    again = similarity.pq_ann_topk(emb.repartition(7), "vec_id", "embedding",
                                   queries, k=10, rerank=100).toPandas()
    a1 = rr.sort_values(["query_id", "rank"]).reset_index(drop=True)
    a2 = again.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert a1.equals(a2)


def test_pq_ann_clustered_ground_truth(spark):
    # planted clusters: PQ codes must send every query's own cluster to
    # the top — raw ADC (no rerank) already recovers it
    rng = np.random.default_rng(3)
    centers = rng.standard_normal((4, 16)) * 3.0
    rows = []
    for i in range(400):
        c = i % 4
        v = centers[c] + 0.05 * rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, schema="vec_id int, embedding array<double>")
    queries = [(f"q{c}", [float(x) for x in centers[c]]) for c in range(4)]
    out = similarity.pq_ann_topk(df, "vec_id", "embedding", queries,
                                 k=20, m=4, n_codes=8).toPandas()
    for c in range(4):
        got = out[out["query_id"] == f"q{c}"]["vec_id"]
        assert (got % 4 == c).all()  # every hit from the right cluster


def test_ivfpq_ann_composition(spark, emb):
    rows = emb.limit(3).collect()
    queries = [(f"q{i}", list(r["embedding"])) for i, r in enumerate(rows)]
    exact = similarity.cosine_topk(emb, "vec_id", "embedding", queries,
                                   k=10).toPandas()
    out = similarity.ivfpq_ann_topk(
        emb, "vec_id", "embedding", queries, k=10, n_lists=4, nprobe=2,
        rerank=100,
    ).toPandas()
    recalls = []
    for qid in ("q0", "q1", "q2"):
        e = set(exact[exact["query_id"] == qid]["vec_id"])
        recalls.append(len(e & set(out[out["query_id"] == qid]["vec_id"])) / len(e))
    # probing half the lists + PQ shortlist + exact rerank recovers most
    assert np.mean(recalls) >= 0.5
    # exact-reranked rank 1 is (near-)self
    assert (out[out["rank"] == 1]["cosine"] > 0.999).all()
    # full-probe + full-corpus rerank degenerates to the exact answer
    full = similarity.ivfpq_ann_topk(
        emb, "vec_id", "embedding", queries, k=10, n_lists=4, nprobe=4,
        rerank=emb.count(),
    ).toPandas()
    e1 = exact.sort_values(["query_id", "rank"]).reset_index(drop=True)
    f1 = full.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert e1[["query_id", "vec_id", "rank"]].equals(
        f1[["query_id", "vec_id", "rank"]])
    # partition independence
    again = similarity.ivfpq_ann_topk(
        emb.repartition(7), "vec_id", "embedding", queries, k=10,
        n_lists=4, nprobe=2, rerank=100,
    ).toPandas()
    a1 = out.sort_values(["query_id", "rank"]).reset_index(drop=True)
    a2 = again.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert a1.equals(a2)


def test_pq_production_fanout(spark):
    # production-ish quantizer sizes: m=16 subspaces x 64 codes = 1024
    # LUT doubles per query. Codebooks live in the Arrow encode closure
    # and LUTs ride a broadcast DataFrame column — NEITHER inlines into
    # the Catalyst tree (the IVF literal-blowup failure mode), so the
    # plan stays small and the query still answers correctly.
    rng = np.random.default_rng(9)
    centers = rng.standard_normal((8, 64)) * 2.0
    rows = [(i, [float(x) for x in centers[i % 8]
                 + 0.05 * rng.standard_normal(64)]) for i in range(2000)]
    df = spark.createDataFrame(rows, schema="vec_id int, embedding array<double>")
    queries = [(f"q{c}", [float(x) for x in centers[c]]) for c in range(3)]
    out = similarity.pq_ann_topk(df, "vec_id", "embedding", queries,
                                 k=10, m=16, n_codes=64, rerank=50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 200_000  # no codebook literal blow-up
    pdf = out.toPandas()
    for c in range(3):
        got = pdf[pdf["query_id"] == f"q{c}"]["vec_id"]
        assert len(got) == 10 and (got % 8 == c).all()


def test_ngram_jaccard_hybrid_paths_bit_equal(spark):
    """The r06 block-local intersection kernel and the AllPairs prefix
    pipeline must return the identical pair set with identical rounded
    jaccard values — the cap only picks the execution plan."""
    from pyspark.sql import functions as F

    rows = [
        (1, "a b c d e f g h", "x"), (2, "a b c d e f g z", "x"),
        (3, "p q r s t u v w", "x"), (4, "p q r s t u v w", "x"),
        (5, "one two three four five", "y"), (6, "one two three four six", "y"),
        (7, "", "y"), (8, "solo", "y"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, blk string")
    kernel = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=2, threshold=0.3, block_col="blk",
        kernel_block_rows=10_000).collect()))
    allpairs = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=2, threshold=0.3, block_col="blk",
        kernel_block_rows=0).collect()))
    assert kernel == allpairs and len(kernel) >= 2
    # string ids too (id_a < id_b ordering is by VALUE in both paths)
    sdocs = docs.select(F.concat(F.lit("d"), F.col("doc_id")).alias("doc_id"),
                        "text", "blk")
    k2 = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        sdocs, "doc_id", "text", n=2, threshold=0.3, block_col="blk",
        kernel_block_rows=10_000).collect()))
    a2 = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        sdocs, "doc_id", "text", n=2, threshold=0.3, block_col="blk",
        kernel_block_rows=0).collect()))
    assert k2 == a2 and len(k2) == len(kernel)


@pytest.mark.parametrize("blk_type", ["string", "long"])
def test_ngram_jaccard_mixed_split_matches_single_path(spark, blk_type):
    """A cap between the block sizes sends some blocks to the kernel and
    the rest to AllPairs through the broadcast (block, over) split; the
    union equals either single-path run."""
    texts = ["a b c d e f g h", "a b c d e f g z", "a b c d e f y z",
             "p q r s t u v w", "p q r s t u v x"]
    rows = [(10 * b + i, texts[(i + b) % len(texts)], b)
            for b, size in enumerate([5, 4, 2, 2, 1]) for i in range(size)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, blk long") \
        .withColumn("blk", F.col("blk").cast(blk_type))

    def pairs(cap):
        out = dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=2, threshold=0.3, block_col="blk",
            kernel_block_rows=cap)
        return out, sorted(map(tuple, out.collect()))

    mixed_df, mixed = pairs(3)
    assert mixed == pairs(10_000)[1] == pairs(0)[1]
    assert len(mixed) >= 5
    plan = mixed_df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_minhash_lsh_driver_cap_boundary(spark, monkeypatch):
    # a derived (non-scan) input of n documents: the limit(cap + 1)
    # probe picks the driver path at cap = n and the distributed one at
    # cap = n - 1, and both give the same pairs
    n = 140
    base = F.when(F.col("id") >= 120, F.col("id") - 120).otherwise(F.col("id"))
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("sentence number "), base % 7, F.lit(" about topic "),
                 base % 5, F.lit(" repeated words "),
                 F.repeat(F.lit("x "), (base % 11).cast("int"))).alias("text"))

    def run(cap):
        monkeypatch.setitem(DRIVER_ROW_CAPS, "text_lsh", cap)
        out = dedup.minhash_lsh_dedup(df, "doc_id", "text", n=3, k=8, bands=4,
                                      rows=2, threshold=0.1)
        local = "LocalRelation" in out._jdf.queryExecution().optimizedPlan().toString()
        return local, out.dtypes, sorted(map(tuple, out.collect()))

    at_cap, under_cap = run(n), run(n - 1)
    assert at_cap[0] and not under_cap[0]
    assert at_cap[1:] == under_cap[1:]
    assert len(at_cap[2]) >= 20  # the 20 exact copies pair up


def test_minhash_lsh_driver_fast_path_matches_distributed(spark, monkeypatch):
    # driver-side banding (the text_lsh cap) must be byte-equal to the
    # distributed bucket self-join — values AND dtypes
    rows = [(i, f"sentence number {i % 7} about topic {i % 5} repeated "
                f"words {'x ' * (i % 11)}") for i in range(120)]
    rows += [(1000 + i, rows[i][1]) for i in range(20)]  # exact copies
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def canon(d):
        return (d.dtypes, sorted(map(tuple, d.collect())))

    fast = canon(dedup.minhash_lsh_dedup(df, "doc_id", "text", n=3, k=8,
                                         bands=4, rows=2, threshold=0.1))
    monkeypatch.setitem(DRIVER_ROW_CAPS, "text_lsh", 0)
    slow = canon(dedup.minhash_lsh_dedup(df, "doc_id", "text", n=3, k=8,
                                         bands=4, rows=2, threshold=0.1))
    assert fast == slow
    assert fast[1]  # exact copies guarantee pairs


def test_repeated_ngram_driver_fast_path_matches_distributed(spark, monkeypatch):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, f"{base} doc {i} " + "filler word " * (i % 5)) for i in range(40)]
    rows += [(100 + i, rows[i][1] + " suffix") for i in range(10)]  # shared spans
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def canon(d):
        return (d.dtypes, sorted(map(tuple, d.collect())))

    fast = canon(dedup.repeated_ngram_pairs(df, "doc_id", "text", n=8))
    monkeypatch.setitem(DRIVER_ROW_CAPS, "ngram_spans", 0)
    slow = canon(dedup.repeated_ngram_pairs(df, "doc_id", "text", n=8))
    assert fast == slow
    assert fast[1]


def test_repeated_ngram_driver_cap_counts_span_rows(spark, monkeypatch):
    # four long documents: far fewer documents than the cap but more
    # (doc, span) rows than it. The gate must count the rows the driver
    # path collects, so cap+1 spans stay distributed and exactly cap
    # spans go to the driver — with the same rows either way
    shared = " ".join(f"shared{i}" for i in range(30))
    rows = [(d, " ".join(f"d{d}w{i}" for i in range(200)) + " " + shared)
            for d in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n_spans = dedup.with_shingles(df, "doc_id", "text", 8).select(
        F.explode("shingles")).count()
    assert n_spans == 4 * 223

    def canon(d):
        return (d.dtypes, sorted(map(tuple, d.collect())))

    def pairs(cap):
        monkeypatch.setitem(DRIVER_ROW_CAPS, "ngram_spans", cap)
        return dedup.repeated_ngram_pairs(df, "doc_id", "text", n=8)

    over, at = pairs(n_spans - 1), pairs(n_spans)
    assert not over.isLocal()
    assert at.isLocal()
    slow = canon(pairs(0))
    assert canon(over) == slow and canon(at) == slow
    assert slow[1] == [(a, b, 23) for a in range(4) for b in range(a + 1, 4)]

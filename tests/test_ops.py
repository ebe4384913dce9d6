"""Unit tests for the data-pipeline operators against Python references."""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from forex_feature_generator_spark.ops import dedup as D
from forex_feature_generator_spark.ops import multimodal as MM
from forex_feature_generator_spark.ops import similarity as SIM


@pytest.fixture(scope="module")
def docs(spark):
    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(50)]
    rows = []
    base = []
    for i in range(40):
        words = list(rng.choice(vocab, size=30))
        base.append(words)
        rows.append((i, " ".join(words)))
    # near-duplicates: copy docs 0-9 with 2 word substitutions
    for i in range(10):
        words = list(base[i])
        words[3] = "xsub"
        words[17] = "ysub"
        rows.append((100 + i, " ".join(words)))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def _py_jaccard(a: str, b: str, n=3):
    def sh(t):
        w = t.lower().split()
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}
    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_ngram_jaccard_exact(spark, docs):
    got = {(r.id_a, r.id_b): r.jaccard
           for r in D.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    pdf = docs.toPandas().set_index("doc_id")["text"]
    # planted near-dups must be found with the exact reference value
    for i in range(10):
        ref = _py_jaccard(pdf[i], pdf[100 + i])
        if ref >= 0.3:
            assert (i, 100 + i) in got
            assert abs(got[(i, 100 + i)] - round(ref, 6)) < 1e-9


def test_minhash_lsh_finds_planted_dups(spark, docs):
    # planted pairs have true J ~= 0.5 (50-word vocab, 2 substitutions in 30
    # words): 2-row bands give per-band hit ~0.25 -> P(hit) ~ 1-(0.75)^32 ~ 1
    pairs = {(r.id_a, r.id_b) for r in
             D.minhash_lsh_pairs(docs, num_hashes=64, bands=32,
                                 threshold=0.3).collect()}
    planted = {(i, 100 + i) for i in range(10)}
    assert len(planted & pairs) >= 8
    # est_jaccard should approximate the true jaccard
    est = {(r.id_a, r.id_b): r.est_jaccard for r in
           D.minhash_lsh_pairs(docs, num_hashes=64, bands=32,
                               threshold=0.3).collect()}
    pdf = docs.toPandas().set_index("doc_id")["text"]
    for (a, b), e in est.items():
        if (a, b) in planted:
            assert abs(e - _py_jaccard(pdf[a], pdf[b])) < 0.35


def test_dedup_clusters_union_find(spark):
    """Min-label propagation vs a plain union-find on a random pair graph
    (long chains force multiple propagation rounds)."""
    rng = np.random.default_rng(13)
    pairs = [(2 * i, 2 * i + 1) for i in range(20)]          # 20 islands
    pairs += [(i, i + 1) for i in range(100, 140)]           # 41-node chain
    extra = rng.integers(200, 260, size=(30, 2))
    pairs += [(int(a), int(b)) for a, b in extra if a != b]
    pdf = pd.DataFrame(pairs, columns=["id_a", "id_b"])

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in pairs:
        union(a, b)
    expected = {x: find(x) for x in parent}

    got = {r.id: r.comp for r in
           D.dedup_clusters(spark.createDataFrame(pdf)).collect()}
    assert got == expected


def test_simhash_near_dups_close(spark, docs):
    sigs = {r.id: r.simhash for r in D.simhash(docs).collect()}
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    planted = [ham(sigs[i], sigs[100 + i]) for i in range(10)]
    rng = np.random.default_rng(0)
    random_pairs = [ham(sigs[int(a)], sigs[int(b)])
                    for a, b in rng.integers(0, 40, size=(30, 2)) if a != b]
    assert np.mean(planted) < np.mean(random_pairs) - 5


def test_lsh_topk_recall(spark):
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(200, 16)).astype("float32")
    pdf = pd.DataFrame({"vec_id": range(200), "embedding": list(map(list, vecs))})
    emb = spark.createDataFrame(pdf)
    queries = emb.filter(F.col("vec_id") < 5)
    exact = SIM.brute_force_topk(emb, queries, k=5).toPandas()
    approx = SIM.lsh_topk(emb, queries, dim=16, k=5,
                          n_planes=16, n_bands=8).toPandas()
    recall = 0.0
    for q in range(5):
        e = set(exact[exact.query_id == q]["neighbor_id"])
        a = set(approx[approx.query_id == q]["neighbor_id"])
        recall += len(e & a) / len(e)
    assert recall / 5 >= 0.5   # 8 bands of 2 bits: generous candidate sets


def test_ivf_topk_recall(spark):
    """IVF cells from hash-sampled centroids: on clustered data a query's
    true neighbors live in its own cluster's cell, so 2-probe recall is
    high; the rerank is exact so every returned pair is correctly scored."""
    rng = np.random.default_rng(3)
    centers = rng.normal(size=(10, 32)) * 4
    vecs = np.vstack([c + rng.normal(scale=0.3, size=(20, 32)) for c in centers])
    pdf = pd.DataFrame({"vec_id": range(200), "embedding": vecs.tolist()})
    emb = spark.createDataFrame(pdf)
    q = emb.filter(F.col("vec_id") < 5)
    exact = SIM.brute_force_topk(emb, q, k=5).toPandas()
    ivf = SIM.ivf_topk(emb, q, k=5, n_cells=16, n_probe=2).toPandas()
    recall = np.mean([
        len(set(exact[exact.query_id == i].neighbor_id)
            & set(ivf[ivf.query_id == i].neighbor_id)) / 5 for i in range(5)])
    assert recall >= 0.8
    # precision: every returned cosine equals the exact pair cosine
    merged = ivf.merge(exact, on=["query_id", "neighbor_id"],
                       suffixes=("_i", "_e"))
    assert np.allclose(merged["cosine_i"], merged["cosine_e"])


def test_kmeans_centroids_matches_numpy_lloyd(spark):
    """kmeans_centroids (distributed Lloyd's over broadcast assignment +
    (cell,dim) partial-agg means) must replay bit-for-bit against a
    straight numpy Lloyd's with the same deterministic seed, tie-break,
    per-round rounding, and empty/zero-norm cell handling."""
    import hashlib

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(6, 16)) * 3
    vecs = np.vstack([c + rng.normal(scale=0.4, size=(25, 16))
                      for c in centers])          # 150 x 16, float64
    pdf = pd.DataFrame({"vec_id": range(150), "embedding": vecs.tolist()})
    emb = spark.createDataFrame(pdf)
    got = {int(r.cell): np.array(r.c_vec)
           for r in SIM.kmeans_centroids(emb, 8, iters=3).collect()}

    def r9(x):  # Java HALF_UP, not numpy's half-to-even
        return np.sign(x) * np.floor(np.abs(x) * 1e9 + 0.5) / 1e9

    seed_ids = sorted(range(150),
                      key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:8]
    C = vecs[seed_ids].copy()
    for _ in range(3):
        assign = np.argmax(vecs @ C.T, axis=1)   # first max = lowest cell
        for c in range(8):
            members = vecs[assign == c]
            if len(members) == 0:
                continue
            m = r9(members.mean(axis=0))
            n = np.sqrt((m * m).sum())
            if n > 0:
                C[c] = r9(m / n)
    for c in range(8):
        assert np.allclose(got[c + 1], C[c], atol=1e-8), f"cell {c + 1}"


def test_embedding_near_dups_lsh_recall(spark):
    """The banded-LSH near-dup path must find every genuine near-duplicate
    (planted at cosine ~0.9999) and never emit a pair the exact brute-force
    baseline would reject (the rerank is exact -> precision 1)."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=(100, 32))
    dups = base[:20] + rng.normal(scale=0.02, size=(20, 32))
    vecs = np.vstack([base, dups]).astype("float32")
    pdf = pd.DataFrame({"vec_id": range(120), "embedding": list(map(list, vecs))})
    emb = spark.createDataFrame(pdf)
    exact = {(r.id_a, r.id_b) for r in
             SIM.embedding_near_dups(emb, threshold=0.95).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           SIM.embedding_near_dups_lsh(emb, dim=32, threshold=0.95,
                                       n_planes=16, n_bands=8).collect()}
    planted = {(i, 100 + i) for i in range(20)}
    assert planted <= exact
    assert lsh <= exact       # precision 1: exact cosine rerank
    assert planted <= lsh     # recall 1 on genuine near-dups
    # miss probability per planted pair at cosine ~0.9999 with 8 bands of
    # 2 bits is (θ/π-collision) ~ 4e-17 — deterministic in practice


def test_multimodal_decode_deterministic(spark, docs):
    assets = MM.documents_as_assets(docs)
    out1 = MM.decode_assets(assets).orderBy("asset_id").toPandas()
    out2 = MM.decode_assets(assets).orderBy("asset_id").toPandas()
    pd.testing.assert_frame_equal(out1, out2)
    # sha256 matches a local reference for one row
    row = out1.iloc[0]
    src = docs.filter(F.col("doc_id").cast("string") == row["asset_id"]).first()
    digest = hashlib.sha256(src["text"].encode()).digest()
    assert row["sha256"] == digest.hex()
    assert row["n_bytes"] == len(src["text"].encode())
    assert row["width"] == 64 + digest[0] % 192
    assert row["height"] == 64 + digest[1] % 192


def test_multimodal_resize(spark, docs):
    assets = MM.documents_as_assets(docs)
    rs = MM.resize_assets(assets).orderBy("asset_id").toPandas()
    assert len(rs) == docs.count()
    # aspect-fit, never upscales, always inside the target box
    assert (rs["width"] <= 64).all() and (rs["height"] <= 64).all()
    # the larger dim lands on the target edge (floor + float can give 63)
    assert (np.maximum(rs["width"], rs["height"]) >= 63).all()
    ar_src = rs["src_width"] / rs["src_height"]
    ar_out = rs["width"] / rs["height"]
    assert np.allclose(ar_src, ar_out, rtol=0.05)   # floor() tolerance
    # one row cross-checked against the local stub
    row = rs.iloc[0]
    src = docs.filter(F.col("doc_id").cast("string") == row["asset_id"]).first()
    d = hashlib.sha256(src["text"].encode()).digest()
    key = d.hex() + f":{row['width']}x{row['height']}"
    assert row["resized_sha256"] == hashlib.sha256(key.encode()).hexdigest()


def test_multimodal_decoder_injection(spark):
    """A 'real' decoder (here: parses a WxH:F:R header out of the bytes)
    drops into decode/resize via decoder= without touching any other
    call-site code — the PIL/pyav integration seam."""
    import pandas as pd

    def header_decoder(content: bytes, modality: str) -> tuple:
        w, h, nf, sr = (int(x) for x in content.decode().split(":"))
        return (w if modality in ("image", "video") else None,
                h if modality in ("image", "video") else None,
                nf if modality == "video" else None,
                sr if modality == "audio" else None)

    pdf = pd.DataFrame({
        "asset_id": ["a", "b", "c"],
        "modality": ["image", "video", "audio"],
        "content": [b"640:480:0:0", b"1920:1080:10:0", b"0:0:0:44100"],
        "mime": ["x"] * 3})
    assets = spark.createDataFrame(pdf, schema=MM.ASSET_SCHEMA)

    dec = {r["asset_id"]: r for r in
           MM.decode_assets(assets, decoder=header_decoder).collect()}
    assert (dec["a"]["width"], dec["a"]["height"]) == (640, 480)
    assert dec["b"]["n_frames"] == 10
    assert dec["c"]["sample_rate"] == 44100

    rs = {r["asset_id"]: r for r in
          MM.resize_assets(assets, 64, 64, decoder=header_decoder).collect()}
    # 640x480 aspect-fit into 64x64 -> 64x48; never upscale
    assert (rs["a"]["width"], rs["a"]["height"]) == (64, 48)
    assert rs["c"]["width"] is None           # audio has no dims


def test_dedup_keep_best(spark):
    """Retention: highest score wins, id-asc tiebreak, singletons kept."""
    import pandas as pd
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5, 6, 7],
        "n_chars": [10, 50, 7, 9, 20, 20, 3]}))
    clusters = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 5, 6], "comp": [1, 1, 5, 5]}))
    got = {r["comp"]: r for r in
           D.dedup_keep_best(docs, clusters).collect()}
    assert got[1]["keeper_id"] == 2 and got[1]["n_members"] == 2 \
        and got[1]["best_score"] == 50
    assert got[5]["keeper_id"] == 5          # tie on 20 -> lower id
    for single in (3, 4, 7):
        assert got[single]["keeper_id"] == single
        assert got[single]["n_members"] == 1
    assert len(got) == 5


def test_contamination(spark):
    """Planted overlap fractions: exact copy -> 1.0 flagged; partial -> 1/3;
    disjoint -> 0.0."""
    import pandas as pd
    from forex_feature_generator_spark.ops.text import contamination
    bench = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [100], "text": ["alpha beta gamma delta"]}))
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["alpha beta gamma delta",          # exact benchmark copy
                 "alpha beta gamma nine ten",       # 1 of 3 shingles hit
                 "one two three four"]}))           # disjoint
    got = {r["doc_id"]: r for r in contamination(docs, bench).collect()}
    assert got[1]["contamination"] == 1.0 and got[1]["contaminated"]
    assert abs(got[2]["contamination"] - 1 / 3) < 1e-6
    assert not got[2]["contaminated"]
    assert got[3]["contamination"] == 0.0 and not got[3]["contaminated"]
    assert got[1]["n_shingles"] == 2 and got[2]["n_shingles"] == 3


def test_bigram_lm_scores(spark):
    """Spark bigram-LM scores vs an independent pure-Python LM on a tiny
    corpus exercising the <unk> path (vocab_size=2 over 4 distinct words)."""
    from collections import Counter
    import math
    from forex_feature_generator_spark.ops.lm import bigram_lm_scores
    texts = {1: "a b a b c", 2: "a b c x a", 3: "x", 4: "c c a b"}
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": list(texts), "text": list(texts.values())}))

    V, alpha = 2, 0.5
    toks = {i: t.split() for i, t in texts.items()}
    uni_raw = Counter(w for ws in toks.values() for w in ws)
    vocab = set(w for w, _ in sorted(uni_raw.items(),
                                     key=lambda kv: (-kv[1], kv[0]))[:V])
    m = lambda w: w if w in vocab else "<unk>"
    uni = Counter(m(w) for ws in toks.values() for w in ws)
    bi = Counter((m(a), m(b)) for ws in toks.values()
                 for a, b in zip(ws, ws[1:]))
    exp = {}
    for i, ws in toks.items():
        lps = [math.log((bi[(m(a), m(b))] + alpha)
                        / (uni[m(a)] + alpha * (V + 1)))
               for a, b in zip(ws, ws[1:])]
        exp[i] = (len(lps), -sum(lps) / len(lps) if lps else None)

    got = {r["doc_id"]: r for r in
           bigram_lm_scores(docs, vocab_size=V, alpha=alpha).collect()}
    assert len(got) == 4
    for i, (n_bg, ce) in exp.items():
        assert got[i]["n_bigrams"] == n_bg
        if ce is None:
            assert got[i]["cross_entropy"] is None
            assert got[i]["perplexity"] is None
        else:
            assert abs(got[i]["cross_entropy"] - round(ce, 6)) < 2e-6, i
            assert abs(got[i]["perplexity"] - math.exp(ce)) < 1e-4, i


def test_dup_span_coverage(spark):
    """Planted duplicated spans vs an independent interval-union reference:
    a shared 8-word run across two docs, an in-doc repeated run, a unique
    doc and a too-short doc."""
    rng = np.random.default_rng(3)
    vocab = [f"t{i}" for i in range(200)]
    uniq = lambda n: " ".join(rng.choice(vocab, size=n))
    shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    texts = {
        1: uniq(20) + " " + shared + " " + uniq(20),   # shares run with 2
        2: shared + " " + uniq(30),
        3: uniq(40),                                   # unique
        4: "a b c",                                    # < n words
        5: "r1 r2 r3 r4 r5 r6 r7 r8 " + uniq(12) + " r1 r2 r3 r4 r5 r6 r7 r8",
    }
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": list(texts), "text": list(texts.values())}))
    n = 8

    # independent reference
    grams = {}
    for i, t in texts.items():
        ws = t.split()
        for p in range(len(ws) - n + 1):
            grams.setdefault(" ".join(ws[p:p + n]), []).append((i, p))
    dup_starts = {}
    for g, occ in grams.items():
        if len(occ) >= 2:
            for i, p in occ:
                dup_starts.setdefault(i, set()).add(p)
    exp = {}
    for i, t in texts.items():
        ws = t.split()
        covered = set()
        for p in dup_starts.get(i, ()):
            covered.update(range(p, p + n))
        k = max(len(ws) - n + 1, 0)
        exp[i] = (len(ws), k, len(dup_starts.get(i, ())), len(covered))

    got = {r["doc_id"]: r for r in D.dup_span_coverage(docs, n=n).collect()}
    assert len(got) == len(texts)
    for i, (n_words, n_spans, n_dup, cov) in exp.items():
        r = got[i]
        assert (r["n_words"], r["n_spans"], r["n_dup_spans"],
                r["covered_words"]) == (n_words, n_spans, n_dup, cov), i
        assert abs(r["dup_coverage"] - round(cov / max(n_words, 1), 6)) < 1e-9
    assert exp[3][3] == 0 and exp[4][1] == 0    # sanity: plant held
    assert exp[1][3] == 8 and exp[5][3] == 16


def test_tfidf_topk(spark):
    """Spark tf-idf top-k vs an independent pure-Python reference (smooth
    idf, term-asc tiebreak) on a corpus with shared and unique terms."""
    import math
    from collections import Counter
    from forex_feature_generator_spark.ops.text import tfidf_topk
    texts = {1: "cat dog cat fish", 2: "dog dog bird", 3: "fish cat", 4: "zebra"}
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": list(texts), "text": list(texts.values())}))
    N = len(texts)
    tf = {i: Counter(t.split()) for i, t in texts.items()}
    dfc = Counter()
    for c in tf.values():
        dfc.update(c.keys())
    exp = {}
    for i, c in tf.items():
        nw = sum(c.values())
        rows = sorted(((-(cnt / nw) * (math.log((N + 1) / (dfc[w] + 1)) + 1), w, cnt)
                       for w, cnt in c.items()))
        exp[i] = [(w, cnt, dfc[w], round(-s, 6), r + 1)
                  for r, (s, w, cnt) in enumerate(rows[:2])]

    got = {}
    for r in tfidf_topk(docs, k=2).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["term"], r["tf"], r["df"], r["tfidf"], r["rank"]))
    for i in exp:
        assert sorted(got[i], key=lambda x: x[4]) == exp[i], i
    assert len(got[4]) == 1          # single-term doc -> single row


def test_bm25_topk(spark):
    """BM25 vs a pure-Python Okapi reference, plus relevance sanity: the
    doc sharing the query's rare terms outranks docs sharing only common
    terms, and length normalization demotes a padded copy."""
    import math
    from collections import Counter
    from forex_feature_generator_spark.ops.text import bm25_topk
    texts = {
        0: "quantum entanglement physics experiment",
        1: "quantum entanglement in a physics lab experiment",   # relevant
        2: "the stock market and the economy report " * 3,
        3: "physics " + "filler word padding " * 20,             # padded
        4: "cooking recipes and kitchen tips",
        5: "entanglement of quantum states experiment physics",  # relevant
    }
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": list(texts), "text": list(texts.values())}))
    got = bm25_topk(docs, docs.filter("doc_id = 0"), k=5).toPandas()

    k1, b = 1.2, 0.75
    tf = {i: Counter(t.lower().split()) for i, t in texts.items()}
    dfc = Counter()
    for c in tf.values():
        dfc.update(c.keys())
    N = len(texts)
    avgdl = sum(sum(c.values()) for c in tf.values()) / N
    exp = {}
    for i, c in tf.items():
        if i == 0:
            continue
        dl = sum(c.values())
        s = sum(math.log(1 + (N - dfc[w] + 0.5) / (dfc[w] + 0.5))
                * (c[w] * (k1 + 1)) / (c[w] + k1 * (1 - b + b * dl / avgdl))
                for w in tf[0] if w in c)
        if s > 0:
            exp[i] = round(s, 6)
    ranked = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [int(r) for r in got["doc_id"]] == [i for i, _ in ranked]
    assert [float(x) for x in got["score"]] == pytest.approx(
        [s for _, s in ranked], abs=1e-6)
    assert set(got["doc_id"][:2]) == {1, 5}      # rare-term docs on top
    top = dict(zip(got["doc_id"], got["score"]))
    assert top[3] < top[1]                       # padded doc demoted


def test_select_token_budget(spark):
    """Distributed cumsum (range repartition + offsets) vs a plain sorted
    reference; exercised across 4 range partitions so the offset path runs."""
    from forex_feature_generator_spark.ops.sampling import select_token_budget
    rng = np.random.default_rng(7)
    n = 200
    pri = np.round(rng.random(n), 3)
    toks = rng.integers(10, 100, size=n)
    pdf = pd.DataFrame({"doc_id": np.arange(n), "priority": pri,
                        "n_tokens": toks})
    budget = int(toks.sum() * 0.4)
    order = pdf.sort_values(["priority", "doc_id"],
                            ascending=[False, True]).reset_index(drop=True)
    order["cum"] = order["n_tokens"].cumsum()
    exp = {int(r.doc_id): (int(r.cum), bool(r.cum <= budget))
           for r in order.itertuples()}

    df = spark.createDataFrame(pdf)
    got = {r["doc_id"]: (r["cum_tokens"], r["selected"])
           for r in select_token_budget(df, budget, n_ranges=4).collect()}
    assert got == exp
    assert 0 < sum(1 for v in got.values() if v[1]) < n   # budget is interior


def test_mixture_weights(spark):
    """Token shares + uniform-target reweights on a 4-group frame:
    (a,en) (b,en) (b,de) (c,en) -> G = 4, uniform target share 0.25."""
    from forex_feature_generator_spark.ops.sampling import mixture_weights
    pdf = pd.DataFrame({
        "source": ["a", "a", "b", "b", "c"],
        "lang": ["en", "en", "en", "de", "en"],
        "n_tokens": [100, 300, 400, 100, 100]})
    df = spark.createDataFrame(pdf)
    got = {(r["source"], r["lang"]):
           (r["n_docs"], r["n_tokens"], r["token_share"], r["weight"])
           for r in mixture_weights(df, ["source", "lang"]).collect()}
    G = 4
    assert len(got) == G
    assert got[("a", "en")] == (2, 400, 0.4, round((1 / G) / 0.4, 6))
    assert got[("b", "en")] == (1, 400, 0.4, round((1 / G) / 0.4, 6))
    assert got[("b", "de")] == (1, 100, 0.1, round((1 / G) / 0.1, 6))
    assert got[("c", "en")] == (1, 100, 0.1, round((1 / G) / 0.1, 6))


def test_mixture_weights_targeted(spark):
    """Non-uniform target_shares: weight = target/actual; absent group -> 0."""
    from forex_feature_generator_spark.ops.sampling import mixture_weights
    pdf = pd.DataFrame({
        "source": ["a", "a", "b", "b", "c"],
        "lang": ["en", "en", "en", "de", "en"],
        "n_tokens": [100, 300, 400, 100, 100]})
    df = spark.createDataFrame(pdf)
    targets = {("a", "en"): 0.5, ("b", "en"): 0.3, ("b", "de"): 0.2}
    got = {(r["source"], r["lang"]): r["weight"]
           for r in mixture_weights(df, ["source", "lang"],
                                    target_shares=targets).collect()}
    assert got[("a", "en")] == round(0.5 / 0.4, 6)
    assert got[("b", "en")] == round(0.3 / 0.4, 6)
    assert got[("b", "de")] == round(0.2 / 0.1, 6)
    assert got[("c", "en")] == 0.0  # absent from targets -> dropped


def test_semantic_dedup_planted(spark):
    """SemDeDup keep-first rule on planted near-dups (n_cells=1 so the pair
    rule itself is isolated; cell bounding is covered by the q51 oracle and
    the IVF tests): exact + near duplicates flagged, originals kept."""
    from forex_feature_generator_spark.ops.similarity import semantic_dedup
    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.01]),   # 2 ~ 1 (cos ~ 0.99995)
            (3, [0.0, 1.0]), (4, [0.01, 1.0]),   # 4 ~ 3
            (5, [1.0, 0.0])]                      # 5 == 1 exactly
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    got = {r["vec_id"]: r["is_dup"]
           for r in semantic_dedup(df, threshold=0.99, n_cells=1).collect()}
    assert got == {1: False, 2: True, 3: False, 4: True, 5: True}


def test_unigram_kl_exact(spark):
    """KL(P_group || P_corpus) against a hand-computed value."""
    import math
    from forex_feature_generator_spark.ops.text import unigram_kl
    docs = spark.createDataFrame(
        [(1, "x x y", "a"), (2, "x y y z", "b")],
        "doc_id int, text string, source string")
    got = {r["group_key"]: r for r in unigram_kl(docs).collect()}
    # corpus: x=3, y=3, z=1, n=7
    pc = {"x": 3 / 7, "y": 3 / 7, "z": 1 / 7}
    ka = sum(p * math.log(p / pc[w])
             for w, p in {"x": 2 / 3, "y": 1 / 3}.items())
    kb = sum(p * math.log(p / pc[w])
             for w, p in {"x": 1 / 4, "y": 2 / 4, "z": 1 / 4}.items())
    assert got["a"]["n_words"] == 3 and got["a"]["vocab"] == 2
    assert got["b"]["n_words"] == 4 and got["b"]["vocab"] == 3
    assert abs(got["a"]["kl"] - ka) < 1e-6
    assert abs(got["b"]["kl"] - kb) < 1e-6


def test_shard_assign(spark):
    """Deterministic (order/partitioning-insensitive) shard+pos; pos dense
    0..k-1 within each shard."""
    from forex_feature_generator_spark.ops.sampling import shard_assign
    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id int")
    a = {r["doc_id"]: (r["shard"], r["pos"])
         for r in shard_assign(docs, 4).collect()}
    b = {r["doc_id"]: (r["shard"], r["pos"])
         for r in shard_assign(docs.repartition(7), 4).collect()}
    assert a == b                               # partitioning-insensitive
    by_shard = {}
    for s, p in a.values():
        assert 0 <= s < 4
        by_shard.setdefault(s, []).append(p)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(len(ps)))   # dense per shard


def test_incremental_dedup_planted(spark):
    """Batch-vs-seen semantics: seen hashes drop, within-batch dups collapse
    to min id, and re-running the batch against updated seen is idempotent
    (everything drops)."""
    from forex_feature_generator_spark.ops.dedup import (exact_dedup,
                                                         incremental_dedup)
    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id int, text string")
    seen = exact_dedup(old)
    batch = spark.createDataFrame(
        [(10, "ALPHA beta!"),          # dup of seen doc 1 -> dropped
         (11, "epsilon zeta"),         # fresh
         (12, "epsilon  zeta"),        # within-batch dup of 11
         (13, "eta theta")],           # fresh
        "doc_id int, text string")
    got = {r["kept_id"]: r["n_batch_dupes"]
           for r in incremental_dedup(batch, seen).collect()}
    assert got == {11: 2, 13: 1}
    # idempotence: append survivors to seen, re-run the same batch -> empty
    from pyspark.sql import functions as F
    seen2 = seen.select("text_hash").union(
        incremental_dedup(batch, seen).select("text_hash"))
    assert incremental_dedup(batch, seen2).count() == 0


def test_gopher_rules_planted(spark):
    """Each rule trips on a doc built to fail exactly it."""
    from forex_feature_generator_spark.ops.text import gopher_rules
    # 25 distinct words, stopwords present, mean len ~5: passes every rule
    good = " ".join(["the", "and", "for", "with", "on"]
                    + [f"word{i}" for i in range(20)])
    rows = [
        (1, good),                                        # passes all
        (2, "short text"),                                # too few words
        (3, " ".join(["supercalifragilistic"] * 30)),     # mean len + dup + stop
        (4, good.replace(" ", "!! ")),                    # symbol ratio
        (5, " ".join(["word"] * 40)),                     # dup fraction + stop
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: (r["reasons"], r["keep"])
           for r in gopher_rules(df, min_words=20).collect()}
    assert got[1] == (0, True)
    assert got[2][0] & 1 and not got[2][1]          # word count
    assert got[3][0] & 2 and got[3][0] & 16         # mean word len + dup
    assert got[4][0] & 4                            # symbol ratio
    assert got[5][0] & 16 and got[5][0] & 8         # dup + no stopwords


def test_fixed_size_sample(spark):
    """Exactly min(k, stratum) rows; deterministic; partitioning-blind."""
    from forex_feature_generator_spark.ops.sampling import fixed_size_sample
    rows = [(i, "en" if i < 60 else "de") for i in range(70)]
    df = spark.createDataFrame(rows, "doc_id int, lang string")
    a = sorted((r["lang"], r["doc_id"])
               for r in fixed_size_sample(df, "lang", k=15).collect())
    b = sorted((r["lang"], r["doc_id"]) for r in
               fixed_size_sample(df.repartition(5), "lang", k=15).collect())
    assert a == b
    from collections import Counter
    c = Counter(l for l, _ in a)
    assert c == {"en": 15, "de": 10}   # de has only 10 rows -> all kept


def test_ccnet_buckets_property(spark):
    """Per-language terciles: balanced sizes (ntile) and monotone
    perplexity ordering head <= middle <= tail."""
    from forex_feature_generator_spark.ops.lm import ccnet_buckets
    rng = np.random.default_rng(5)
    vocab = [f"t{i}" for i in range(30)]
    rows = []
    for i in range(12):
        # heavier tail of rare words as i grows -> increasing perplexity mix
        words = list(rng.choice(vocab[:6 + i * 2], size=40))
        rows.append((i, " ".join(words), "en"))
    for i in range(6):
        words = list(rng.choice(vocab, size=40))
        rows.append((100 + i, " ".join(words), "de"))
    df = spark.createDataFrame(rows, "doc_id int, text string, lang string")
    out = ccnet_buckets(df).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], {}).setdefault(r["bucket"], []) \
            .append(r["perplexity"])
    assert {len(v) for v in by_lang["en"].values()} == {4}   # 12 -> 4/4/4
    assert {len(v) for v in by_lang["de"].values()} == {2}   # 6 -> 2/2/2
    for lang in by_lang:
        b = by_lang[lang]
        assert max(b["head"]) <= min(b["middle"]) <= max(b["middle"]) \
            <= min(b["tail"])


def test_incremental_near_dedup_planted(spark, docs):
    """The planted near-dups (docs 100+i copy docs 0-9 with 2 substitutions,
    true J ~= 0.5) must be flagged when the seen/new split severs exactly
    those pairs; the best match must be the planted source doc, and clean
    new docs must not appear."""
    seen = docs.filter(F.col("doc_id") < 100)   # originals
    new = docs.filter(F.col("doc_id") >= 100)   # the 10 near-copies
    rows = {r.doc_id: r for r in D.incremental_near_dedup(
        new, seen, num_hashes=16, bands=8, threshold=0.3).collect()}
    hits = sum(1 for i in range(10)
               if 100 + i in rows and rows[100 + i].best_match_id == i)
    assert hits >= 8          # LSH recall on J~0.5 pairs with 8 bands of 2
    for did, r in rows.items():
        assert 100 <= did < 110 and r.n_seen_matches >= 1
        assert 0 <= r.best_est_jaccard <= 1


def test_passage_dedup_planted(spark):
    """passage_dedup vs a literal Python reference: consecutive W-word
    segments, earliest (doc, pos) keeper, corpus-wide occurrence counts —
    including a short trailing passage and a passage repeated both across
    docs and at different positions."""
    W = 4
    seg = "a b c d"          # one exact 4-word passage, planted 3 times
    texts = {
        1: f"{seg} e f g h tail one",          # pos 0 hit + short tail
        2: f"x y z w {seg}",                   # pos 1 hit
        3: "unique words only here now",
        4: "",                                  # no passages at all
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())}))
    rows = {r.passage_hash: r
            for r in D.passage_dedup(docs, passage_words=W).collect()}

    def py_passages(t):
        w = t.lower().split()
        return [" ".join(w[i:i + W]) for i in range(0, len(w), W)]

    import hashlib as _h
    ref = {}
    for did in sorted(texts):
        for pos, p in enumerate(py_passages(texts[did])):
            h = _h.md5(p.encode()).hexdigest()
            ref.setdefault(h, {"kept": (did, pos), "n": 0})
            ref[h]["n"] += 1
    assert set(rows) == set(ref)
    for h, r in ref.items():
        assert (rows[h].kept_id, rows[h].pos) == r["kept"]
        assert rows[h].n_dupes == r["n"]
    planted = _h.md5(seg.encode()).hexdigest()
    assert rows[planted].n_dupes == 2 and rows[planted].kept_id == 1


def test_remove_repeated_passages(spark):
    """The cleaning step vs a literal Python reference: later repeats of a
    passage (across docs AND within one doc) are dropped, first occurrence
    and unique passages survive in position order."""
    W = 3
    boiler = "x y z"
    texts = {
        1: f"{boiler} a b c {boiler}",      # keeper at pos 0; self-repeat pos 2 dropped
        2: f"{boiler} d e f",               # cross-doc repeat dropped
        3: "g h i j",                       # untouched (unique, short tail)
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())}))
    got = {r.doc_id: r for r in
           D.remove_repeated_passages(docs, passage_words=W).collect()}

    def py_clean(all_texts):
        first = {}
        for did in sorted(all_texts):
            w = all_texts[did].split()
            for pos in range(0, len(w), W):
                p = " ".join(w[pos:pos + W])
                first.setdefault(p, (did, pos // W))
        out = {}
        for did in sorted(all_texts):
            w = all_texts[did].split()
            kept, removed = [], 0
            for pos in range(0, len(w), W):
                p = " ".join(w[pos:pos + W])
                if first[p] == (did, pos // W):
                    kept.append(p)
                else:
                    removed += 1
            out[did] = (" ".join(kept), len(kept), removed)
        return out

    ref = py_clean(texts)
    assert set(got) == set(ref)
    for did, (ct, nk, nr) in ref.items():
        assert got[did].clean_text == ct, (did, got[did].clean_text, ct)
        assert (got[did].n_kept, got[did].n_removed) == (nk, nr)
    assert got[1].clean_text == f"{boiler} a b c"   # self-repeat dropped
    assert got[2].clean_text == "d e f"             # boilerplate stripped
    assert got[3].clean_text == "g h i j"


def test_shared_shingles_param(spark, docs):
    """Passing a precomputed shingles() frame must be result-identical to
    the ops deriving their own (the q15 union entry's shared upstream)."""
    sh = D.shingles(docs)
    a = sorted(map(tuple, D.ngram_jaccard_pairs(docs, threshold=0.3).collect()))
    b = sorted(map(tuple, D.ngram_jaccard_pairs(docs, threshold=0.3,
                                                shingles_df=sh).collect()))
    assert a == b
    c = sorted(map(tuple, D.minhash_lsh_pairs(docs, num_hashes=16, bands=8,
                                              threshold=0.05).collect()))
    d = sorted(map(tuple, D.minhash_lsh_pairs(docs, num_hashes=16, bands=8,
                                              threshold=0.05,
                                              shingles_df=sh).collect()))
    assert c == d


def test_dedup_keep_best_float_score(spark):
    """Round-4 review fix: a double score column must keep its fractional
    part — the old long cast tied 0.73 vs 0.68 at 0 and the id tiebreak
    silently picked the wrong (lower-id) keeper."""
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "quality": [0.68, 0.73, 0.50]}))
    clusters = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 3], "comp": [1, 1, 1]}))
    got = D.dedup_keep_best(docs, clusters, score_col="quality").collect()
    assert len(got) == 1
    assert got[0]["keeper_id"] == 2           # 0.73 beats 0.68
    assert abs(got[0]["best_score"] - 0.73) < 1e-12
    with pytest.raises(TypeError):
        D.dedup_keep_best(
            docs.withColumn("quality", F.col("quality").cast("string")),
            clusters, score_col="quality")


def test_semantic_dedup_autosize(spark):
    """The auto rule n_cells = ceil(N / target_cell_size) grows the cell
    count with the corpus (two corpus sizes -> different implied n_cells),
    and an explicit n_cells past the expected-pair bound warns."""
    import warnings as W

    from forex_feature_generator_spark.ops import similarity as S

    def emb(n):
        rng = np.random.default_rng(3)
        return spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=4)]) for i in range(n)],
            "vec_id int, embedding array<float>")

    # implied n_cells: ceil(30/8)=4 vs ceil(120/8)=15 -> distinct cell ids
    small = S.semantic_dedup(emb(30), threshold=0.999, target_cell_size=8)
    big = S.semantic_dedup(emb(120), threshold=0.999, target_cell_size=8)
    n_small = small.select("cell").distinct().count()
    n_big = big.select("cell").distinct().count()
    assert n_small <= 4 and n_big <= 15 and n_big > n_small
    assert small.count() == 30 and big.count() == 120

    # explicit n_cells that implies too many pairs warns (bound patched low)
    old = S.SEMDEDUP_MAX_EXPECTED_PAIRS
    S.SEMDEDUP_MAX_EXPECTED_PAIRS = 10.0
    try:
        with W.catch_warnings(record=True) as rec:
            W.simplefilter("always")
            S.semantic_dedup(emb(30), threshold=0.999, n_cells=2).count()
        assert any("expected candidate pairs" in str(w.message) for w in rec)
    finally:
        S.SEMDEDUP_MAX_EXPECTED_PAIRS = old


def test_ccnet_cutpoint_path_agrees(spark, monkeypatch):
    """The de-skewed cutpoint path (no per-language sort) must agree with
    the exact ntile path when per-language counts divide by 3 and
    perplexities are distinct — the regime the size gate hands over in."""
    from forex_feature_generator_spark.engine import normalize as N
    from forex_feature_generator_spark.ops.lm import ccnet_buckets
    rng = np.random.default_rng(5)
    vocab = [f"t{i}" for i in range(30)]
    rows = []
    for i in range(12):
        words = list(rng.choice(vocab[:6 + i * 2], size=40))
        rows.append((i, " ".join(words), "en"))
    for i in range(6):
        words = list(rng.choice(vocab, size=40))
        rows.append((100 + i, " ".join(words), "de"))
    df = spark.createDataFrame(rows, "doc_id int, text string, lang string")
    exact = {(r["doc_id"]): (r["lang"], r["perplexity"], r["bucket"])
             for r in ccnet_buckets(df).collect()}
    # a gate below the corpus size sends it down the cutpoint path
    monkeypatch.setattr(N, "EXACT_QUANTILE_MAX_ROWS", len(rows) - 1)
    cut = {(r["doc_id"]): (r["lang"], r["perplexity"], r["bucket"])
           for r in ccnet_buckets(df).collect()}
    # fixture sanity: distinct perplexities per language
    for lang in ("en", "de"):
        ppls = [v[1] for v in exact.values() if v[0] == lang]
        assert len(set(ppls)) == len(ppls)
    assert exact == cut
    # the large path's plan must not contain a per-language sort (ntile
    # window); its only window-free bucketing is a broadcast join + CASE
    import re
    plan = ccnet_buckets(df)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert not re.search(r"\bntile\(", plan)   # \b: don't match percentile(


def test_mixture_weights_validation(spark):
    """target_shares must sum to ~1 (raises) and absent keys warn."""
    import warnings as W

    from forex_feature_generator_spark.ops.sampling import mixture_weights
    df = spark.createDataFrame(
        pd.DataFrame({"source": ["a"] * 3 + ["b"] * 2,
                      "n_tokens": [10, 20, 30, 5, 5]}))
    with pytest.raises(ValueError, match="sum to 1"):
        mixture_weights(df, ["source"],
                        target_shares={("a",): 0.5, ("b",): 0.2})
    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        out = {r["source"]: r for r in
               mixture_weights(df, ["source"],
                               target_shares={("a",): 0.5, ("typo",): 0.5})
               .collect()}
    assert any("absent from observed groups" in str(w.message) for w in rec)
    assert out["b"]["weight"] == 0.0          # no target -> dropped
    assert out["a"]["weight"] > 0


def test_bpe_null_text_both_paths(spark, monkeypatch):
    """NULL text encodes as (0, []) on BOTH the codegen and the UDF path —
    crossing the size gate must not change NULL-row semantics (round-4
    review: codegen propagated NULL -> size(NULL) = -1)."""
    from forex_feature_generator_spark.ops import bpe
    df = spark.createDataFrame(
        [(1, "low lower"), (2, None), (3, "")],
        "doc_id int, text string")
    for gate in (len(bpe.MERGES), 0):    # codegen path, then UDF path
        monkeypatch.setattr(bpe, "CODEGEN_MAX_MERGES", gate)
        got = {r["doc_id"]: (r["n_bpe_tokens"], r["token_ids"]) for r in
               bpe.bpe_encode(df).collect()}
        assert got[2] == (0, []), f"gate={gate}"
        assert got[3] == (0, []), f"gate={gate}"
        assert got[1][0] > 0


def test_length_profile_exact(spark):
    """Hand-computed per-group length stats incl. interpolated quantiles."""
    from forex_feature_generator_spark.ops.text import length_profile
    docs = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "a b c d e", "s1"), (3, "a", "s1"),
         (4, "x y", "s2")],
        "doc_id int, text string, source string")
    got = {r["group_key"]: r for r in length_profile(docs).collect()}
    assert got["s1"]["n_docs"] == 3 and got["s1"]["n_tokens"] == 9
    assert abs(got["s1"]["mean_tok"] - 3.0) < 1e-9
    # sorted [1,3,5]: p50 = 3; p10 = 1 + 0.2*(3-1) = 1.4 (linear interp)
    assert abs(got["s1"]["p50"] - 3.0) < 1e-9
    assert abs(got["s1"]["p10"] - 1.4) < 1e-9
    assert got["s2"]["n_docs"] == 1 and got["s2"]["p50"] == 2.0


def test_cross_source_leakage_planted(spark):
    """Two sources sharing exactly one 3-gram; a third disjoint source."""
    from forex_feature_generator_spark.ops.text import cross_source_leakage
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "s1"),      # shingles: ab g, bg d
         (2, "alpha beta gamma zz qq", "s2"),      # shares 'alpha beta gamma'
         (3, "one two three four", "s3")],
        "doc_id int, text string, source string")
    out = {(r["source_a"], r["source_b"]): r
           for r in cross_source_leakage(docs, n=3).collect()}
    assert set(out) == {("s1", "s2")}              # disjoint pairs absent
    r = out[("s1", "s2")]
    assert r["n_shared"] == 1
    assert r["n_sh_a"] == 2 and r["n_sh_b"] == 3
    assert abs(r["leakage"] - 0.5) < 1e-9          # 1 / min(2, 3)


def test_ops_cache_release(spark, docs):
    """Round-5 review #2/#4: every op-persisted intermediate is registered
    in ops.cache; release_all() after the consuming action frees executor
    storage, so two ops back-to-back in one long-lived session do not
    accumulate caches (the bench session runs ~50 queries x 4 executions)."""
    from forex_feature_generator_spark.ops import cache as C
    from forex_feature_generator_spark.ops import text as TX
    C.release_all(blocking=True)             # clean slate for the baseline
    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    # two pin()-using ops, materialized (jaccard pins hashed shingles,
    # tfidf pins the tf table)
    D.ngram_jaccard_pairs(docs, threshold=0.3).count()
    TX.tfidf_topk(docs, k=2).count()
    assert C.pinned_count() >= 2
    assert sc._jsc.getPersistentRDDs().size() > before
    released = C.release_all(blocking=True)
    assert released >= 2
    assert C.pinned_count() == 0
    assert sc._jsc.getPersistentRDDs().size() == before
    # idempotent: a second release is a no-op, not an error
    assert C.release_all() == 0


def test_hot_shingle_stats_and_max_df(spark):
    """Planted hot-shingle corpus (VERDICT r6 #5): every doc shares one
    boilerplate 3-gram, so the exact-Jaccard self-join would touch
    n*(n-1)/2 pairs through that single key. The probe must report it, and
    the opt-in max_df guard must collapse the candidate set; the default
    path stays untouched."""
    n_docs = 30
    rows = [(i, f"shared boilerplate footer unique{i} filler{i} tail{i}")
            for i in range(n_docs)]
    docs = spark.createDataFrame(pd.DataFrame(rows,
                                              columns=["doc_id", "text"]))
    sh = D.shingles(docs)
    stats = D.hot_shingle_stats(sh, hot_df=10).collect()[0]
    # 'shared boilerplate footer' occurs once per doc -> df == n_docs
    assert stats["max_df"] == n_docs
    assert stats["n_hot"] == 1
    # candidate_pairs counts the quadratic blowup of the hot key
    assert stats["candidate_pairs"] >= n_docs * (n_docs - 1) // 2

    # default path: every pair shares the hot shingle (jaccard 1/7 ~ .143)
    dflt = D.ngram_jaccard_pairs(docs, threshold=0.01)
    assert dflt.count() == n_docs * (n_docs - 1) // 2
    # guard on: the hot shingle is dropped, docs share nothing
    capped = D.ngram_jaccard_pairs(docs, threshold=0.01, max_df=10)
    assert capped.count() == 0
    from forex_feature_generator_spark.ops.cache import release_all
    release_all()


def test_hot_shingle_stats_exact_integer_pairs(spark):
    """candidate_pairs is an exact integer sum of df*(df-1)/2: computed with
    integer `div`, never through a double (inexact past df ~1.3e8)."""
    rows = [(i, " ".join(f"w{(i * j) % 7}" for j in range(12)))
            for i in range(25)]
    docs = spark.createDataFrame(pd.DataFrame(rows,
                                              columns=["doc_id", "text"]))
    sh = D.shingles(docs)
    stats_df = D.hot_shingle_stats(sh, hot_df=3)
    df = sh.groupBy("shingle").count().toPandas()["count"].to_numpy("int64")
    got = stats_df.collect()[0]
    assert got["candidate_pairs"] == int((df * (df - 1) // 2).sum()) > 0
    top = stats_df._jdf.queryExecution().analyzed().toString().splitlines()[0]
    assert "double" not in top.lower(), top


def test_lit_doubles_rejects_non_finite(spark):
    """NaN/inf have no SQL double literal: a named ValueError, not the
    parser's opaque ParseException."""
    with pytest.raises(ValueError, match="nan"):
        SIM.lit_doubles([1.0, float("nan")])
    with pytest.raises(ValueError, match="inf"):
        SIM.lit_double_matrix([[float("inf")]])
    row = spark.range(1).select(SIM.lit_doubles([1.5, -0.1]).alias("a"),
                                SIM.lit_double_matrix([[2.0]]).alias("m")
                                ).collect()[0]
    assert row["a"] == [1.5, -0.1] and row["m"] == [[2.0]]

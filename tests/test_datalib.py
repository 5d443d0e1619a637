"""datalib tests — dedup/similarity/text against pure-Python oracles,
multimodal plumbing shape checks. Uses the real sf0.001 testdata tables."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from nifi_spark.datalib import (ann_topk, cosine_pairs, exact_dedup,
                                fingerprint, lang_id, lsh_ann_topk,
                                minhash_lsh_pairs, minhash_signatures,
                                ngram_jaccard_pairs, quality_score, shingle,
                                simhash, token_stats)
from nifi_spark.datalib.multimodal import (attach_media, extract_features,
                                           frame_sample)
from nifi_spark.functions.portable_hash import portable_hash64_py

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def docs_pd(docs):
    return docs.toPandas()


# ---------------- dedup ----------------

def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id long, text string")
    out = exact_dedup(df, "doc_id", "text").toPandas()
    assert len(out) == 2
    kept = out.set_index("doc_id")["dup_count"]
    assert kept[1] == 2 and kept[3] == 1


def test_shingle_matches_python(docs, docs_pd):
    got = shingle(docs.limit(5), "doc_id", "text", k=3).toPandas()
    for doc_id, grp in got.groupby("doc_id"):
        text = docs_pd.set_index("doc_id").loc[doc_id, "text"]
        words = [w for w in text.lower().split() if w]
        expect = {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}
        assert set(grp["shingle"]) == expect


def test_jaccard_pairs_match_python(spark):
    texts = {1: "a b c d e f g h", 2: "a b c d e f g x", 3: "z y x w v u t s",
             4: "a b c d e f g h"}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.3).toPandas()

    def jac(a, b):
        wa = [w for w in texts[a].split()]
        wb = [w for w in texts[b].split()]
        sa = {" ".join(wa[i:i + 3]) for i in range(len(wa) - 2)}
        sb = {" ".join(wb[i:i + 3]) for i in range(len(wb) - 2)}
        return len(sa & sb) / len(sa | sb)

    expect = {(a, b): jac(a, b) for a in texts for b in texts
              if a < b and jac(a, b) >= 0.3}
    got_pairs = {(r.id_a, r.id_b): r.jaccard for r in got.itertuples()}
    assert set(got_pairs) == set(expect)
    for p, j in expect.items():
        assert abs(got_pairs[p] - j) < 1e-6
    assert got_pairs[(1, 4)] == 1.0  # identical docs


def test_minhash_signature_matches_python(spark):
    from nifi_spark.datalib.dedup import MINHASH_PRIME, minhash_perm_params
    df = spark.createDataFrame([(1, "alpha beta gamma delta epsilon")],
                               "doc_id long, text string")
    sig = minhash_signatures(df, "doc_id", "text", k=3, num_perm=4).collect()[0]
    words = "alpha beta gamma delta epsilon".split()
    shingles = {" ".join(words[i:i + 3]) for i in range(3)}
    params = minhash_perm_params(4)
    for j, (a, b) in enumerate(params):
        expect = min((a * (portable_hash64_py(s) % (1 << 30)) + b)
                     % MINHASH_PRIME for s in shingles)
        assert sig[f"mh_{j}"] == expect


def test_minhash_lsh_finds_neardups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    texts = [(1, base), (2, base.replace("lazy", "sleepy")),
             (3, "completely different content about spark engines and data"),
             (4, base)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    pairs = minhash_lsh_pairs(df, "doc_id", "text", k=3, num_perm=12, bands=4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 4) in got        # identical must collide
    assert (1, 2) in got        # near-dup should collide in ≥1 band
    assert not any(3 in p for p in got)  # unrelated must not


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def test_minhash_lsh_viral_bucket_guard(spark):
    """Two-phase boilerplate guard: a bucket above max_bucket yields no
    pairs, AND the plan drops it BEFORE aggregating its id list — the
    semi-join on surviving buckets must sit below the collect_list agg
    (a post-collect filter would bound the pair explosion but still
    build a viral bucket's whole id list in one aggregation buffer)."""
    viral = [(i, "common boilerplate header text repeated on every page")
             for i in range(30)]
    pair = [(100, "one unique near duplicate document body alpha beta"),
            (101, "one unique near duplicate document body alpha beta")]
    df = spark.createDataFrame(viral + pair, "doc_id long, text string")
    pairs = minhash_lsh_pairs(df, "doc_id", "text", k=3, num_perm=12,
                              bands=4, max_bucket=10)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (100, 101) in got
    assert not any(a < 100 and b < 100 for a, b in got), got
    # the formatted plan's TREE section prints parents above children:
    # the ObjectHashAggregate (the collect_list agg) appearing above the
    # LeftSemi join means the join filters the rows the aggregation
    # consumes — viral buckets never reach the id-list buffer.
    tree = _plan(pairs).split("\n\n", 1)[0]
    assert "LeftSemi" in tree, tree
    assert "ObjectHashAggregate" in tree, tree
    assert tree.index("ObjectHashAggregate") < tree.index("LeftSemi"), tree


def test_ngram_jaccard_candidates_set_intersect_shape(spark):
    """candidates= is the production verify stage: results must equal
    the brute-force pairs restricted to the candidate set, and the plan
    must contain NO shingle self-join — the intersection comes from one
    array_intersect per candidate pair (no exchange keyed on shingle)."""
    texts = {1: "a b c d e f g h", 2: "a b c d e f g x",
             3: "z y x w v u t s", 4: "a b c d e f g h"}
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    cand = spark.createDataFrame([(1, 2), (1, 4), (1, 3)],
                                 "id_a long, id_b long")
    ver = ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.3,
                              candidates=cand)
    brute = ngram_jaccard_pairs(df, "doc_id", "text", k=3,
                                threshold=0.3).toPandas()
    got = {(r.id_a, r.id_b): (r.inter, r.n_a, r.n_b, r.jaccard)
           for r in ver.collect()}
    want = {(r.id_a, r.id_b): (r.inter, r.n_a, r.n_b, r.jaccard)
            for r in brute.itertuples() if (r.id_a, r.id_b) in
            {(1, 2), (1, 4), (1, 3)}}
    assert got == want
    p = _plan(ver)
    assert "array_intersect" in p, p
    assert "hashpartitioning(shingle" not in p, p


def test_ngram_jaccard_max_df_cap(spark):
    """Discovery-mode document-frequency cap: a shingle shared by more
    than max_df docs is dropped BEFORE the self-join (the quadratic
    boilerplate guard), while pairs built from rare shingles survive
    with sizes recomputed over the capped shingle space."""
    rows = [(i, f"a b c x{i} y{i} z{i}") for i in range(10)]  # share "a b c"
    rows += [(100, "p q r s t"), (101, "p q r s t")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.1)
    got_unc = {(r.id_a, r.id_b) for r in uncapped.collect()}
    assert (0, 1) in got_unc and (100, 101) in got_unc
    capped = ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.1,
                                 max_df=5)
    got_cap = {(r.id_a, r.id_b): r.jaccard for r in capped.collect()}
    assert got_cap == {(100, 101): 1.0}, got_cap
    assert "LeftSemi" in _plan(capped)


def test_simhash_properties(spark):
    df = spark.createDataFrame(
        [(1, "spark merge commit lsn batch"), (2, "spark merge commit lsn batch"),
         (3, "totally unrelated words entirely different")],
        "doc_id long, text string")
    out = {r.doc_id: r.simhash for r in simhash(df, "doc_id", "text").collect()}
    assert out[1] == out[2]                       # identical text, same fp
    assert 0 <= out[1] < (1 << 16)
    assert out[1] != out[3]


# ---------------- similarity ----------------

def _np_cosine(a, b):
    a, b = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_cosine_pairs_vs_numpy(embs):
    sub = embs.limit(30).cache()
    got = cosine_pairs(sub, "vec_id", "embedding", threshold=0.8).toPandas()
    pdf = sub.toPandas()
    vecs = {r.vec_id: r.embedding for r in pdf.itertuples()}
    expect = {}
    for a in vecs:
        for b in vecs:
            if a < b:
                c = _np_cosine(vecs[a], vecs[b])
                if round(c, 6) >= 0.8:
                    expect[(a, b)] = c
    got_pairs = {(r.id_a, r.id_b): r.cosine for r in got.itertuples()}
    assert set(got_pairs) == set(expect)
    for p in expect:
        assert abs(got_pairs[p] - expect[p]) < 1e-4


def test_ann_topk_vs_numpy(embs, spark):
    queries = embs.filter(F.col("vec_id") < 5)
    got = ann_topk(embs, "vec_id", "embedding", k=3, queries=queries).toPandas()
    pdf = embs.toPandas()
    vecs = {r.vec_id: r.embedding for r in pdf.itertuples()}
    for qid in range(5):
        scores = sorted(((round(_np_cosine(vecs[qid], v), 6), -nid)
                         for nid, v in vecs.items() if nid != qid), reverse=True)
        expect = [-s[1] for s in scores[:3]]
        mine = got[got["query_id"] == qid].sort_values("rank")["neighbor_id"].tolist()
        assert mine == expect, (qid, mine, expect)


def test_lsh_ann_recall(embs):
    """LSH ANN should recover most of the brute-force top-1 neighbors."""
    queries = embs.filter(F.col("vec_id") < 20)
    exact = ann_topk(embs, "vec_id", "embedding", k=1, queries=queries).toPandas()
    approx = lsh_ann_topk(embs, "vec_id", "embedding", dim=64, k=1, bits=4,
                          queries=queries).toPandas()
    top1_exact = exact.set_index("query_id")["neighbor_id"]
    top1_approx = approx[approx["rank"] == 1].set_index("query_id")["neighbor_id"]
    hits = sum(int(q in top1_approx.index and top1_approx[q] == top1_exact[q])
               for q in top1_exact.index)
    assert hits / len(top1_exact) >= 0.5, f"recall {hits}/{len(top1_exact)}"


def test_embedding_near_dup_planted(embs, spark):
    """Plant near-duplicates (tiny perturbations of base vectors) and
    check the LSH path finds them: at cosine ≈ 1 every hyperplane band
    matches, so planted recall should be ~100%; precision is exact by
    construction (candidates are re-filtered by true cosine)."""
    from nifi_spark.datalib import embedding_near_dup_pairs, near_dup_clusters
    base = embs.limit(40).toPandas()
    rows, planted = [], []
    for r in base.itertuples():
        rows.append((r.vec_id, [float(x) for x in r.embedding]))
        if r.vec_id % 4 == 0:  # plant a near-dup for every 4th vector
            dup_id = r.vec_id + 100000
            rows.append((dup_id,
                         [float(x) + 0.001 * ((i % 3) - 1)
                          for i, x in enumerate(r.embedding)]))
            planted.append((r.vec_id, dup_id))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = embedding_near_dup_pairs(df, "vec_id", "embedding", dim=64,
                                   threshold=0.999).toPandas()
    got_pairs = {(r.id_a, r.id_b) for r in got.itertuples()}
    assert set(planted) <= got_pairs, set(planted) - got_pairs
    # precision: brute force at the same threshold is the truth set
    bf = cosine_pairs(df, "vec_id", "embedding", threshold=0.999).toPandas()
    assert got_pairs <= {(r.id_a, r.id_b) for r in bf.itertuples()}
    # composition: clusters keep one canonical doc per planted pair
    cl = near_dup_clusters(df, "vec_id", "embedding",
                           pairs=embedding_near_dup_pairs(
                               df, "vec_id", "embedding", dim=64,
                               threshold=0.999)).toPandas()
    for orig, dup in planted:
        sub = cl[cl["cluster_id"] == orig]
        assert set(sub["vec_id"]) >= {orig, dup}
        assert sub[sub["keep"]]["vec_id"].tolist() == [orig]


# ---------------- text ----------------

def test_token_stats_vs_python(docs, docs_pd):
    got = token_stats(docs.limit(10)).toPandas().set_index("doc_id")
    for doc_id, row in got.iterrows():
        text = docs_pd.set_index("doc_id").loc[doc_id, "text"]
        toks = [t for t in text.split() if t]
        assert row["n_tokens"] == len(toks)
        assert row["n_distinct_tokens"] == len(set(toks))
        assert row["n_chars"] == len(text)


def test_bpe_pretoken_count_vs_python(spark):
    """n_pretokens matches Python re over the ASCII-equivalent of the
    GPT-2-style pattern on constructed strings (Unicode-class parity
    over the real mixed-lang corpus is proven bit-exact by the
    text_token_stats DuckDB gate row — Java regex vs RE2)."""
    import re as _re
    pat = _re.compile(
        r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+")
    samples = ["it's 2024, ok!!", "don't stop-believing 99 times...",
               "  leading space", "CamelCase42mix", "a", "", "!?!?"]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)],
                               "doc_id long, text string")
    got = token_stats(df).toPandas().set_index("doc_id")
    for i, s in enumerate(samples):
        assert got.loc[i, "n_pretokens"] == len(pat.findall(s)), (i, s)
    # known shape: it|'s| 2024|,| ok|!! → 6 pre-tokens
    assert got.loc[0, "n_pretokens"] == 6


def test_quality_and_langid(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and the dog ran to the park"),
         (2, "der hund ist gut und die katze ist auch gut"),
         (3, "le chat et la souris et les oiseaux"),
         (4, "xxxxx xxxxx xxxxx xxxxx xxxxx xxxxx")],
        "doc_id long, text string")
    q = quality_score(df).toPandas().set_index("doc_id")
    assert q.loc[1, "quality_score"] > q.loc[4, "quality_score"]
    assert q.loc[4, "stopword_ratio"] == 0.0
    lid = lang_id(df).toPandas().set_index("doc_id")["lang_pred"]
    assert lid[1] == "en" and lid[2] == "de" and lid[3] == "fr"


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta"), (3, "alpha beta delta")],
        "doc_id long, text string")
    fp = fingerprint(df).toPandas().set_index("doc_id")["fingerprint"]
    assert fp[1] == fp[2] != fp[3]
    expect = hashlib.md5("alpha beta gamma".encode()).hexdigest()
    assert fp[1] == expect  # sorted distinct words joined by space


# ---------------- multimodal ----------------

def test_multimodal_plumbing(docs):
    media = attach_media(docs.limit(20), "doc_id", "text", kind="image")
    assert dict(media.dtypes)["payload"] == "binary"
    feats = extract_features(media, dim=8).toPandas()
    assert len(feats) == 20
    assert all(len(f) == 8 for f in feats["feat"])
    # deterministic: features derive from payload sha
    row = feats.set_index("id").loc[feats["id"].iloc[0]]
    raw = media.filter(F.col("id") == feats["id"].iloc[0]).collect()[0]["payload"]
    assert row["sha256"] == hashlib.sha256(bytes(raw)).hexdigest()
    assert row["byte_len"] == len(raw)


def test_multimodal_decode_stub_gate(docs):
    media = attach_media(docs.limit(2), "doc_id", "text")
    with pytest.raises(Exception):  # NotImplementedError crosses the Py4J boundary
        extract_features(media, decode_stub=False).collect()


def test_frame_sample(docs):
    media = attach_media(docs.limit(5), "doc_id", "text", kind="video")
    frames = frame_sample(media, every_ms=1000).toPandas()
    per = frames.groupby("id").size()
    meta = media.toPandas().set_index("id")
    for mid, n in per.items():
        assert n == max(meta.loc[mid, "duration_ms"] // 1000, 1)
    assert frames["frame_sha256"].nunique() == len(frames)  # per-frame digest


# ---------------- clustering / IVF ----------------

def test_near_dup_clusters_chain(spark):
    """A chain a~b, b~c must collapse to ONE cluster keeping only the
    min id (pair-wise dropping would over/under-delete); docs with no
    pair stay their own cluster. String ids cluster the same way and
    keep their type."""
    from nifi_spark.datalib import near_dup_clusters
    for typ, ident in (("long", lambda i: i), ("string", lambda i: f"d{i}")):
        df = spark.createDataFrame(
            [(ident(i), f"doc {i}") for i in range(1, 8)],
            f"doc_id {typ}, text string")
        pairs = spark.createDataFrame(
            [(ident(a), ident(b)) for a, b in ((1, 2), (2, 3), (5, 6))],
            f"id_a {typ}, id_b {typ}")
        out = {r.doc_id: (r.cluster_id, r.keep)
               for r in near_dup_clusters(df, "doc_id", "text",
                                          pairs=pairs).collect()}
        exp = {1: (1, True), 2: (1, False), 3: (1, False), 4: (4, True),
               5: (5, True), 6: (5, False), 7: (7, True)}
        assert out == {ident(i): (ident(c), keep)
                       for i, (c, keep) in exp.items()}, typ


def test_near_dup_clusters_star_matches_label(spark):
    """The star-contraction clustering must match a driver-side
    min-label union-find over the same pairs, isolated docs included."""
    import random
    from nifi_spark.datalib import near_dup_clusters
    rng = random.Random(7)
    n = 40
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(25)]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    label = {i: (find(i), find(i) == i) for i in range(n)}
    df = spark.createDataFrame([(i, f"doc {i}") for i in range(n)],
                               "doc_id long, text string")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    star = {r.doc_id: (r.cluster_id, r.keep)
            for r in near_dup_clusters(df, "doc_id", "text",
                                       pairs=pairs).collect()}
    assert star == label


def test_near_dup_clusters_long_chain_converges(spark):
    """A 64-doc chain is one cluster with default arguments: its
    diameter is beyond any fixed budget of label-propagation rounds,
    but star contraction needs O(log n)."""
    from nifi_spark.datalib import near_dup_clusters
    n = 64
    df = spark.createDataFrame([(i, "x") for i in range(n)],
                               "doc_id long, text string")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "id_a long, id_b long")
    out = near_dup_clusters(df, "doc_id", "text", pairs=pairs).collect()
    assert len(out) == n
    assert {r.cluster_id for r in out} == {0}
    assert sum(r.keep for r in out) == 1


def test_near_dup_clusters_threshold_plan(spark):
    """threshold= picks the band count via lsh_band_plan instead of a raw
    bands=: exact duplicates (J=1) always collide in some band, distinct
    docs (J~0) never do, so the keep/drop sets are deterministic."""
    from nifi_spark.datalib import near_dup_clusters
    dup = "spark merge commit lsn batch watermark ledger snapshot store"
    docs = [(1, dup), (2, dup), (3, dup),
            (4, "completely different vocabulary about orbital telemetry"),
            (5, "yet another unrelated corpus of maritime navigation terms")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: (r.cluster_id, r.keep)
           for r in near_dup_clusters(df, "doc_id", "text", num_perm=12,
                                      threshold=0.8).collect()}
    assert out[1] == (1, True)
    assert out[2] == (1, False) and out[3] == (1, False)
    assert out[4] == (4, True) and out[5] == (5, True)


def test_near_dup_clusters_from_cosine_pairs(spark, embs):
    """Embedding-dedup composition: cosine_pairs candidates feed straight
    into near_dup_clusters (any id_a/id_b generator composes), so
    near-identical vectors collapse to one canonical id."""
    from nifi_spark.datalib import near_dup_clusters
    base = embs.filter(F.col("vec_id") < 40)
    dups = (base.filter(F.col("vec_id") < 3)
            .withColumn("vec_id", F.col("vec_id") + 100000))
    corpus = base.unionByName(dups).cache()
    pairs = cosine_pairs(corpus, "vec_id", "embedding", threshold=0.999)
    out = {r.vec_id: (r.cluster_id, r.keep)
           for r in near_dup_clusters(corpus, "vec_id", "text",
                                      pairs=pairs).collect()}
    for i in range(3):  # duplicated vectors cluster with the original
        assert out[100000 + i] == (i, False)
        assert out[i] == (i, True)


def test_ivf_ann_recall(embs):
    """IVF ANN recovers most brute-force top-1 neighbors."""
    from nifi_spark.datalib import ivf_ann_topk
    queries = embs.filter(F.col("vec_id") < 20)
    exact = ann_topk(embs, "vec_id", "embedding", k=1,
                     queries=queries).toPandas()
    # synthetic embeddings are near-uniform (worst case for ANN cell
    # locality): recall curve measured 0.3@nprobe4 -> 0.7@8 -> 0.9@12
    # with ~15 cells; pin a mid config and a floor under its measured
    # recall
    approx = ivf_ann_topk(embs, "vec_id", "embedding", k=1, sample_mod=32,
                          nprobe=8, queries=queries).toPandas()
    top1_exact = exact.set_index("query_id")["neighbor_id"]
    top1 = approx[approx["rank"] == 1].set_index("query_id")["neighbor_id"]
    hits = sum(int(q in top1.index and top1[q] == top1_exact[q])
               for q in top1_exact.index)
    assert hits / len(top1_exact) >= 0.6, f"recall {hits}/{len(top1_exact)}"


def test_lsh_ann_exact_mode_with_separate_queries(embs):
    """exact=True with a SEPARATE queries table must re-rank against the
    query vectors, not silently drop them (regression: the exact path
    used to look up query vectors only in the corpus df)."""
    queries = (embs.filter(F.col("vec_id") < 3)
               .withColumn("vec_id", F.col("vec_id") + 100000))
    out = lsh_ann_topk(embs, "vec_id", "embedding", dim=64, k=2, bits=4,
                       queries=queries, exact=True).toPandas()
    assert set(out["query_id"]) == {100000, 100001, 100002}
    assert (out["rank"] <= 2).all()


def test_simhash_pairs_hamming_banding(spark):
    from nifi_spark.datalib import simhash, simhash_pairs
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [(1, base), (2, base + " extra"), (3, "completely different "
            "vocabulary about spacecraft telemetry and orbital windows")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = {r.doc_id: r.simhash for r in simhash(df, "doc_id", "text").collect()}
    ham12 = bin(sigs[1] ^ sigs[2]).count("1")
    k = max(ham12, 1)
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in simhash_pairs(df, "doc_id", "text",
                                    max_hamming=k).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == ham12
    ham13 = bin(sigs[1] ^ sigs[3]).count("1")
    if ham13 > k:
        assert (1, 3) not in pairs


def test_simhash_pairs_matches_bruteforce(spark):
    """Banded candidates must find EVERY pair within max_hamming
    (pigeonhole guarantee), verified against an all-pairs check."""
    from nifi_spark.datalib import simhash, simhash_pairs
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120)
    k = 3
    sigs = {r.doc_id: r.simhash
            for r in simhash(docs, "doc_id", "text").collect()}
    expect = {(a, b): bin(sigs[a] ^ sigs[b]).count("1")
              for a in sigs for b in sigs
              if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= k}
    got = {(r.id_a, r.id_b): r.hamming
           for r in simhash_pairs(docs, "doc_id", "text",
                                  max_hamming=k).collect()}
    assert got == expect


def test_lsh_band_plan():
    from nifi_spark.datalib import lsh_band_plan
    hi = lsh_band_plan(12, 0.9)
    lo = lsh_band_plan(12, 0.2)
    assert hi["bands"] * hi["rows"] == 12 == lo["bands"] * lo["rows"]
    assert hi["rows"] > lo["rows"]  # high threshold -> longer bands
    assert lo["bands"] > hi["bands"]


def test_quality_classify_buckets(spark):
    """Perplexity-proxy classifier: natural stopword-rich text → good;
    degenerate repetition / tiny alphabet / too-short docs → junk;
    stopword-free word salad → mediocre."""
    from nifi_spark.datalib import quality_classify
    docs = [
        (1, "the quick brown fox jumps over the lazy dog and it was a "
            "good day for all of the animals in this forest to have fun"),
        (2, "spam spam spam spam spam spam spam spam spam spam"),   # repetition
        (3, "aaaa aaab aaba abaa baaa aaab aaba abaa baaa aaaa"),   # tiny alphabet
        (4, "too short"),                                           # < 5 tokens
        (5, "quantum flux resonator calibrates neutrino detector array "
            "spectrometer housing manifold"),                       # no stopwords
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in quality_classify(df, "text").collect()}
    assert out[1].quality_class == "good"
    assert out[1].stopword_ratio >= 0.05 and out[1].word_ppl > 10
    assert out[2].quality_class == "junk"      # top-token share 1.0
    assert out[2].repetition_ratio == 1.0 and out[2].word_ppl == 1.0
    assert out[3].quality_class == "junk"      # char PPL2 ~ 2-3 letters
    assert out[3].char_ppl < 10
    assert out[4].quality_class == "junk"
    assert out[5].quality_class == "mediocre"  # diverse but stopword-free


def test_quality_classify_empty_docs(spark):
    """split('', '') yields [''] — the phantom element must NOT count as
    a char run: empty and whitespace-only docs get char_ppl 0.0 (the
    regexp_extract_all('\\S') oracle semantics), class junk."""
    from nifi_spark.datalib import quality_classify
    df = spark.createDataFrame(
        [(1, ""), (2, "  \t \n "), (3, "x")], "doc_id long, text string")
    out = {r.doc_id: r for r in quality_classify(df, "text").collect()}
    assert out[1].char_ppl == 0.0 and out[1].n_tokens == 0
    assert out[2].char_ppl == 0.0 and out[2].n_tokens == 0
    assert out[3].char_ppl == 1.0  # one real char still counts
    assert {out[i].quality_class for i in (1, 2, 3)} == {"junk"}


def test_repetition_stats(spark):
    from nifi_spark.datalib import repetition_stats
    df = spark.createDataFrame(
        [(1, "spam spam spam spam eggs"), (2, "all words differ here"),
         (3, "")], "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.top_token_count, r.repetition_ratio)
           for r in repetition_stats(df).collect()}
    assert got[1] == (5, 4, 0.8)
    assert got[2] == (4, 1, 0.25)
    assert got[3] == (0, 0, 0.0)


# ---------------- curation ----------------


def test_benchmark_contamination_planted(spark):
    from nifi_spark.datalib import benchmark_contamination
    bench = spark.createDataFrame(
        [(100, "the capital of france is paris obviously")],
        "doc_id long, text string")
    docs = spark.createDataFrame([
        (1, "we know the capital of france is paris for sure"),  # overlap
        (2, "completely unrelated words about gardening tools"),
        (3, "capital of france appears here too"),               # overlap
    ], "doc_id long, text string")
    got = {r.doc_id: r.n_shared
           for r in benchmark_contamination(docs, bench, "doc_id", "text",
                                            k=3).collect()}
    assert 1 in got and 3 in got and 2 not in got
    # doc 1 shares 'the capital of', 'capital of france', 'of france is',
    # 'france is paris' = 4 distinct 3-grams
    assert got[1] == 4 and got[3] == 1  # doc 3: 'capital of france' only


def test_dataset_split_deterministic_and_total(spark, docs):
    from nifi_spark.datalib import dataset_split
    out = dataset_split(docs, "doc_id",
                        weights={"train": 90, "val": 5, "test": 5})
    counts = {r.split: r.n for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == docs.count()      # exactly one split each
    assert counts.get("train", 0) > counts.get("val", 0)
    # stable under re-run and re-partitioning
    again = dataset_split(docs.repartition(7), "doc_id",
                          weights={"train": 90, "val": 5, "test": 5})
    a = {r.doc_id: r.split for r in out.select("doc_id", "split").collect()}
    b = {r.doc_id: r.split for r in again.select("doc_id", "split").collect()}
    assert a == b
    # matches the portable-hash bucket arithmetic
    for did, split in list(a.items())[:20]:
        bucket = portable_hash64_py(str(did)) % 100
        assert split == ("train" if bucket < 90 else
                         "val" if bucket < 95 else "test")


def test_cap_per_group_quota_and_determinism(spark, docs):
    from nifi_spark.datalib import cap_per_group
    out = cap_per_group(docs, "source", "doc_id", n=3)
    per = {r.source: r.n for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(n <= 3 for n in per.values())
    full = {r.source: r.n for r in
            docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    for s, n in full.items():                        # quota binds exactly
        assert per.get(s, 0) == min(n, 3)
    kept1 = sorted(r.doc_id for r in out.select("doc_id").collect())
    kept2 = sorted(r.doc_id for r in
                   cap_per_group(docs.repartition(5), "source", "doc_id",
                                 n=3).select("doc_id").collect())
    assert kept1 == kept2


def test_url_stats(spark):
    from nifi_spark.datalib import url_stats
    df = spark.createDataFrame([
        (1, "plain text no links"),
        (2, "go to https://a.example/x and https://a.example/y"),
        (3, "http://b.org https://c.net/p?q=1 mid http://b.org/z"),
    ], "doc_id long, text string")
    got = {r.doc_id: (r.n_urls, r.n_domains)
           for r in url_stats(df).collect()}
    assert got[1] == (0, 0)
    assert got[2] == (2, 1)   # same domain twice
    assert got[3] == (3, 2)   # b.org twice + c.net


def test_quantize_int8_roundtrip(spark, embs):
    from nifi_spark.datalib import quantize_int8
    sub = embs.limit(50)
    got = quantize_int8(sub, "vec_id", "embedding").toPandas()
    src = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
           for r in sub.toPandas().itertuples()}
    for r in got.itertuples():
        x = src[r.vec_id]
        s = float(np.max(np.abs(x)))
        q = np.asarray(r.qvec, dtype=np.int64)
        assert abs(r.qscale - s) < 1e-12
        assert q.min() >= -127 and q.max() <= 127
        # numpy oracle: floor(x/s*127 + .5)
        expect = np.floor(x / s * 127.0 + 0.5).astype(np.int64)
        assert (q == expect).all()
        # dequant error bounded by s/254 (+ float slack)
        err = np.max(np.abs(q * s / 127.0 - x))
        assert err <= s / 254.0 + 1e-9


def test_quantize_int8_zero_vector(spark):
    from nifi_spark.datalib import quantize_int8
    df = spark.createDataFrame([(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
                               "vec_id long, embedding array<double>")
    got = {r.vec_id: (list(r.qvec), r.qscale)
           for r in quantize_int8(df, "vec_id", "embedding").collect()}
    assert got[1] == ([0, 0, 0], 0.0)
    assert got[2] == ([64, -127, 32], 2.0)  # floor(.5*127/2+.5)=floor(32.25)


def test_ann_topk_int8_recall_vs_exact(embs):
    """Quantized top-1 should almost always agree with the double-exact
    top-1 on 64-dim vectors (int8 error ~1/254 per component)."""
    from nifi_spark.datalib import ann_topk_int8
    queries = embs.filter(F.col("vec_id") < 20)
    exact = ann_topk(embs, "vec_id", "embedding", k=1,
                     queries=queries).toPandas()
    quant = ann_topk_int8(embs, "vec_id", "embedding", k=1,
                          queries=queries).toPandas()
    e1 = exact.set_index("query_id")["neighbor_id"]
    q1 = quant.set_index("query_id")["neighbor_id"]
    hits = sum(int(q1[q] == e1[q]) for q in e1.index)
    assert hits / len(e1) >= 0.9, f"quantized top-1 recall {hits}/{len(e1)}"


def test_ann_topk_int8_candidates_path(embs, spark):
    """candidates= restricts scoring to given pairs (the production
    re-rank shape over LSH/IVF candidates)."""
    from nifi_spark.datalib import ann_topk_int8
    cand = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 4)],
        "query_id long, neighbor_id long")
    got = ann_topk_int8(embs, "vec_id", "embedding", k=2,
                        candidates=cand).toPandas()
    assert set(got["query_id"]) == {0, 1}
    assert len(got[got["query_id"] == 0]) == 2   # top-2 of 3 candidates
    assert len(got[got["query_id"] == 1]) == 1
    assert set(got["neighbor_id"]).issubset({1, 2, 3, 4})


def test_lsh_int8_rerank_recall(embs):
    """Composed production ANN path (LSH bucket candidates → int8
    integer-dot re-rank) must match the recall of the plain LSH path at
    the same bits — same candidate set, only the scoring is quantized
    (int8 error ~1/254 per component rarely flips a top-1)."""
    from nifi_spark.datalib import ann_topk_int8, lsh_candidate_pairs
    queries = embs.filter(F.col("vec_id") < 20)
    exact = ann_topk(embs, "vec_id", "embedding", k=1,
                     queries=queries).toPandas()
    cand = lsh_candidate_pairs(embs, "vec_id", "embedding", dim=64, bits=4,
                               queries=queries)
    composed = ann_topk_int8(embs, "vec_id", "embedding", k=1,
                             queries=queries, candidates=cand).toPandas()
    lsh = lsh_ann_topk(embs, "vec_id", "embedding", dim=64, k=1, bits=4,
                       queries=queries).toPandas()
    e1 = exact.set_index("query_id")["neighbor_id"]
    c1 = composed[composed["rank"] == 1].set_index("query_id")["neighbor_id"]
    l1 = lsh[lsh["rank"] == 1].set_index("query_id")["neighbor_id"]
    rec = lambda s: sum(int(q in s.index and s[q] == e1[q])  # noqa: E731
                        for q in e1.index) / len(e1)
    assert rec(c1) >= 0.5, f"composed recall {rec(c1)}"
    assert rec(c1) >= rec(l1) - 0.05, (rec(c1), rec(l1))


def test_cap_per_group_hot_prefilter_exact_equivalence(spark):
    """The hot-group hash-cutoff prefilter must not change the result:
    kept sets identical with and without it on a skewed corpus."""
    from nifi_spark.datalib import cap_per_group
    rows = [(i, "hot") for i in range(5000)] + \
           [(100000 + i, f"cold{i % 7}") for i in range(70)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    plain = cap_per_group(df, "source", "doc_id", n=100)
    fast = cap_per_group(df, "source", "doc_id", n=100, hot_threshold=1000)
    a = sorted((r.source, r.doc_id) for r in plain.collect())
    b = sorted((r.source, r.doc_id) for r in fast.collect())
    assert a == b
    per = {}
    for s, _ in a:
        per[s] = per.get(s, 0) + 1
    assert per["hot"] == 100
    assert all(v == 10 for k, v in per.items() if k != "hot")


def test_paragraph_dedup_c4_style(spark):
    """Corpus-wide paragraph dedup: first (doc, pos) occurrence wins
    globally, short paragraphs are exempt, empties dropped, documents
    reassembled in original order."""
    from nifi_spark.datalib import paragraph_dedup
    boiler = "this license paragraph repeats everywhere verbatim"
    docs = spark.createDataFrame([
        (1, f"unique opening line of doc one\n{boiler}\nok"),
        (2, f"{boiler}\nunique middle of doc two\n{boiler}"),
        (3, f"ok\n\nonly doc three says this sentence"),
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in
           paragraph_dedup(docs, "doc_id", "text", min_chars=10).collect()}
    # doc 1 holds the first occurrence of the boilerplate -> keeps it;
    # 'ok' is under min_chars -> exempt everywhere.
    assert out[1].text_dedup == (
        f"unique opening line of doc one\n{boiler}\nok")
    assert (out[1].n_paras, out[1].n_kept) == (3, 3)
    # doc 2 loses BOTH copies (pos 0 loses to doc 1; pos 2 loses too).
    assert out[2].text_dedup == "unique middle of doc two"
    assert (out[2].n_paras, out[2].n_kept) == (3, 1)
    # doc 3: empty paragraph dropped from the count, short 'ok' kept.
    assert out[3].text_dedup == "ok\nonly doc three says this sentence"
    assert (out[3].n_paras, out[3].n_kept) == (2, 2)


def test_paragraph_dedup_within_doc(spark):
    """A paragraph repeated INSIDE one doc also dedups (min pos wins)."""
    from nifi_spark.datalib import paragraph_dedup
    docs = spark.createDataFrame(
        [(7, "repeated paragraph body\nmiddle text here\n"
             "repeated paragraph body")],
        "doc_id long, text string")
    r = paragraph_dedup(docs, "doc_id", "text", min_chars=5).collect()[0]
    assert r.text_dedup == "repeated paragraph body\nmiddle text here"
    assert (r.n_paras, r.n_kept) == (3, 2)


def test_canonical_url_rules(spark):
    """Each canonicalization rule in isolation: case, www, default
    ports, fragment, trailing slash, tracking params, param order."""
    from nifi_spark.datalib import canonical_url
    cases = [
        ("HTTP://WWW.Example.COM:80/A/", "http://example.com/A"),
        ("https://example.com:443/x?b=2&a=1", "https://example.com/x?a=1&b=2"),
        ("https://example.com:8443/x", "https://example.com:8443/x"),
        ("http://example.com/p?utm_source=a&utm_medium=b&fbclid=1&q=5#frag",
         "http://example.com/p?q=5"),
        ("http://example.com/p?utm_source=x", "http://example.com/p"),
        ("ftp://Example.com:80/f", "ftp://example.com:80/f"),
        ("http://example.com/", "http://example.com"),
        ("http://example.com/a//", "http://example.com/a"),
        # 'ref' strips only as a whole param name, not as a prefix
        ("http://example.com/p?ref=rss&refresh=1",
         "http://example.com/p?refresh=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(canonical_url("url").alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_url_dedup_first_id_wins(spark):
    from nifi_spark.datalib import url_dedup
    df = spark.createDataFrame([
        (3, "https://WWW.site.com/a/?utm_source=x"),
        (1, "https://site.com:443/a"),
        (2, "https://site.com/b"),
    ], "doc_id long, url string")
    got = {r.canonical_url: (r.doc_id, r.dup_count)
           for r in url_dedup(df, "doc_id", "url").collect()}
    assert got == {"https://site.com/a": (1, 2),
                   "https://site.com/b": (2, 1)}


def test_token_budget_sample_matches_naive_window(spark):
    """The bucket-prefiltered sampler must equal the naive per-group
    running-sum window exactly, on a skewed corpus that exercises all
    three bucket classes (all / edge / none)."""
    from pyspark.sql import functions as SF
    from pyspark.sql.window import Window as W
    from nifi_spark.datalib import token_budget_sample
    from nifi_spark.functions.portable_hash import portable_hash64
    rows = ([(i, "hot", 50 + i % 37) for i in range(4000)] +
            [(10_000 + i, "warm", 200 + i % 11) for i in range(60)] +
            [(20_000 + i, "tiny", 10_000) for i in range(5)] +
            [(30_000 + i, "unlisted", 1) for i in range(50)])
    df = spark.createDataFrame(rows, "doc_id long, source string, n long")
    budgets = {"hot": 20_000, "warm": 1_000_000, "tiny": 3}
    got = sorted((r.source, r.doc_id) for r in
                 token_budget_sample(df, "source", "doc_id", "n",
                                     budgets).collect())
    bmap = SF.create_map(*[SF.lit(x) for kv in sorted(budgets.items())
                           for x in kv])
    w = (W.partitionBy("source")
         .orderBy(portable_hash64(SF.col("doc_id").cast("string")),
                  "doc_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    naive = (df.withColumn("_b", bmap[SF.col("source")])
             .filter(SF.col("_b").isNotNull())
             .withColumn("_cum", SF.sum("n").over(w))
             .filter(SF.col("_cum") <= SF.col("_b")))
    want = sorted((r.source, r.doc_id) for r in naive.collect())
    assert got == want
    per = {}
    for s, _ in got:
        per[s] = per.get(s, 0) + 1
    assert per.get("warm") == 60          # generous budget keeps all
    assert "tiny" not in per              # first doc already over budget
    assert "unlisted" not in per          # absent from the mixture
    assert 0 < per["hot"] < 4000          # boundary lands mid-group
    hot_total = sum(n for d, s, n in rows
                    if s == "hot" and ("hot", d) in set(got))
    assert hot_total <= budgets["hot"]


def test_token_budget_sample_prefix_is_maximal(spark):
    """Adding the next doc in hash order would exceed the budget."""
    from nifi_spark.datalib import token_budget_sample
    from nifi_spark.functions.portable_hash import portable_hash64_py
    rows = [(i, "s", 7) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n long")
    kept = sorted(r.doc_id for r in
                  token_budget_sample(df, "source", "doc_id", "n",
                                      {"s": 100}).collect())
    assert len(kept) == 100 // 7
    order = sorted(range(200), key=lambda i: (portable_hash64_py(str(i)), i))
    assert sorted(order[:len(kept)]) == kept


def test_normalize_text_forms(spark):
    """NFC composes decomposed accents; NFKC also folds compatibility
    chars (ligature, fullwidth); control strip and ws collapse."""
    import unicodedata
    from nifi_spark.datalib import normalize_text
    raw = "cafe\u0301 \u0001 \ufb01ne  \uff24one"
    df = spark.createDataFrame([(raw,)], "text string")
    nfc = normalize_text(df, "text", form="NFC",
                         collapse_ws=True).collect()[0].text_norm
    assert nfc == "caf\u00e9 \ufb01ne \uff24one"
    assert nfc == unicodedata.normalize(
        "NFC", " ".join(raw.replace("\u0001", "").split()))
    nfkc = normalize_text(df, "text", form="NFKC",
                          collapse_ws=True).collect()[0].text_norm
    assert nfkc == "caf\u00e9 fine Done"
    # tab/newline survive control stripping when collapse_ws is off
    df2 = spark.createDataFrame([("a\tb\nc\x02d",)], "text string")
    got = normalize_text(df2, "text").collect()[0].text_norm
    assert got == "a\tb\ncd"


def test_scrub_pii_kinds_and_counts(spark):
    from nifi_spark.datalib import scrub_pii
    rows = [
        (1, "reach me at jo.doe+x@mail.example.org or 555-867-5309"),
        (2, "server 192.168.1.77 ssn 078-05-1120 card 4111 1111 1111 1111"),
        (3, "clean text with no identifiers at all"),
        (4, "double a@b.io c@d.co"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r for r in scrub_pii(df, "text").collect()}
    assert got[1].text_scrubbed == "reach me at [EMAIL] or [PHONE]"
    assert (got[1].n_email, got[1].n_phone) == (1, 1)
    assert got[2].text_scrubbed == "server [IP] ssn [SSN] card [CARD]"
    assert (got[2].n_ip, got[2].n_ssn, got[2].n_card) == (1, 1, 1)
    assert got[3].text_scrubbed == rows[2][1]
    assert sum([got[3].n_email, got[3].n_ip, got[3].n_ssn,
                got[3].n_card, got[3].n_phone]) == 0
    assert got[4].text_scrubbed == "double [EMAIL] [EMAIL]"
    assert got[4].n_email == 2
    # kinds= restricts the pass; counts reflect output placeholders
    only_ip = scrub_pii(df, "text", kinds=["IP"]).collect()
    r2 = next(r for r in only_ip if r.id == 2)
    assert "[IP]" in r2.text_scrubbed and "078-05-1120" in r2.text_scrubbed


def test_stratified_sample_nested_and_rates(spark):
    """Samples nest across rates (10% ⊂ 50%), rates are approximately
    honored, default applies to unlisted groups, None drops them."""
    from nifi_spark.datalib import stratified_sample
    rows = [(i, f"s{i % 3}") for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    lo = set(r.doc_id for r in stratified_sample(
        df, "source", "doc_id", {"s0": 0.1, "s1": 0.5}).collect())
    hi = set(r.doc_id for r in stratified_sample(
        df, "source", "doc_id", {"s0": 0.5, "s1": 0.5}).collect())
    assert {i for i in lo if i % 3 == 0} <= {i for i in hi if i % 3 == 0}
    n_s0 = sum(1 for i in hi if i % 3 == 0)
    assert 400 <= n_s0 <= 600          # ~50% of 1000
    assert not any(i % 3 == 2 for i in lo)   # unlisted dropped
    dflt = stratified_sample(df, "source", "doc_id", {"s0": 0.0},
                             default=1.0).collect()
    got = {r.source for r in dflt}
    assert got == {"s1", "s2"}         # s0 rate 0 drops all its rows
    assert sum(1 for r in dflt if r.source == "s1") == 1000
    # determinism: same call, same set
    again = set(r.doc_id for r in stratified_sample(
        df, "source", "doc_id", {"s0": 0.5, "s1": 0.5}).collect())
    assert again == hi


def _py_exact_substring(rows, k, min_count=2):
    """Pure-Python reference for exact_substring_spans."""
    import re
    toks = {i: [t for t in re.split(r"\s+", s) if t] for i, s in rows}
    counts = {}
    for i, w in toks.items():
        for p in range(max(len(w) - k + 1, 0)):
            counts[" ".join(w[p:p + k])] = counts.get(
                " ".join(w[p:p + k]), 0) + 1
    out = {}
    for i, w in toks.items():
        pos = [p for p in range(max(len(w) - k + 1, 0))
               if counts[" ".join(w[p:p + k])] >= min_count]
        spans, cur = [], None
        for p in pos:
            if cur is None or p >= cur[1]:
                if cur:
                    spans.append(cur)
                cur = [p, p + k]
            else:
                cur[1] = p + k
        if cur:
            spans.append(cur)
        out[i] = (len(w), len(spans), sum(e - s for s, e in spans), spans)
    return out


def test_exact_substring_spans_vs_python(spark):
    """Randomized corpus with planted shared runs: span stats match the
    pure-Python reference exactly, and the removal mode cuts exactly
    the covered token ranges."""
    import random

    from nifi_spark.datalib import (exact_substring_dedup,
                                    exact_substring_spans)
    rng = random.Random(11)
    vocab = [f"w{j}" for j in range(400)]
    shared = [[f"run{r}_{j}" for j in range(12)] for r in range(6)]
    rows = []
    for i in range(60):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 50))]
        for _ in range(rng.randint(0, 2)):
            run = rng.choice(shared)
            at = rng.randint(0, len(words))
            words[at:at] = run
        rows.append((i, " ".join(words)))
    k = 8
    ref = _py_exact_substring(rows, k)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.n_dup_spans, r.dup_tokens)
           for r in exact_substring_spans(df, "doc_id", "text", k=k).collect()}
    assert len(got) == len(rows)
    for i, (n, ns, dt, _) in ref.items():
        assert got[i] == (n, ns, dt), (i, got[i], (n, ns, dt))
    # removal mode: kept text == tokens outside the reference spans
    cleaned = {r.doc_id: (r.text_dedup, r.n_tokens, r.n_kept)
               for r in exact_substring_dedup(
                   df, "doc_id", "text", k=k).collect()}
    import re
    for i, s in rows:
        w = [t for t in re.split(r"\s+", s) if t]
        _, _, _, spans = ref[i]
        keep = [t for p, t in enumerate(w)
                if not any(a <= p < b for a, b in spans)]
        assert cleaned[i][0] == " ".join(keep), i
        assert cleaned[i][1] == len(w) and cleaned[i][2] == len(keep)


def test_exact_substring_within_doc_repeat(spark):
    """A run repeated inside ONE document is duplicated too (global
    window-hash counts include same-doc multiplicity)."""
    from nifi_spark.datalib import exact_substring_spans
    df = spark.createDataFrame(
        [(1, "a b c d e x1 x2 x3 a b c d e"),
         (2, "p q r s t u v w")],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_dup_spans, r.dup_tokens)
           for r in exact_substring_spans(df, "doc_id", "text",
                                          k=5).collect()}
    assert got[1] == (2, 10)
    assert got[2] == (0, 0)


def test_contaminated_spans_planted(spark):
    """A corpus doc embedding a benchmark passage verbatim gets exactly
    that region flagged; clean docs get zeros."""
    from nifi_spark.datalib import contaminated_spans
    bench_txt = " ".join(f"b{i}" for i in range(12))
    rows = [
        (1, "clean " + " ".join(f"c{i}" for i in range(20))),
        (2, " ".join(f"p{i}" for i in range(5)) + " " + bench_txt
            + " " + " ".join(f"s{i}" for i in range(4))),
        (3, bench_txt),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(bench_txt,)], "text string")
    got = {r.doc_id: (r.n_tokens, r.n_contam_spans, r.contam_tokens)
           for r in contaminated_spans(df, "doc_id", "text",
                                       bench, "text", k=8).collect()}
    assert got[1] == (21, 0, 0)
    # doc 2: windows fully inside the 12-token passage (positions 5..9
    # in doc coordinates) merge to one span of 12 tokens
    assert got[2] == (21, 1, 12)
    assert got[3] == (12, 1, 12)


def test_pack_sequences_matches_pandas_and_bounds(docs):
    """pack_sequences: packs match a pure-pandas greedy-contiguous
    replay (same hash, same order), and every pack respects the
    max_tokens + one-document bound."""
    from nifi_spark.datalib import pack_sequences
    out = pack_sequences(docs, "doc_id", "text", max_tokens=256,
                         n_shards=16).toPandas()
    pdf = docs.select("doc_id", "text").toPandas()
    pdf["tok"] = pdf["text"].map(lambda t: len(t.split()))
    pdf["shard"] = pdf["doc_id"].map(
        lambda i: portable_hash64_py(str(i)) % 16)
    expect = {}
    for shard, g in pdf.sort_values("doc_id").groupby("shard"):
        start = 0
        for _, r in g.iterrows():
            pack = start // 256
            key = (shard, pack)
            n, tot, texts = expect.get(key, (0, 0, []))
            expect[key] = (n + 1, tot + r["tok"], texts + [r["text"]])
            start += r["tok"]
    got = {(r["shard"], r["pack_id"]):
           (r["n_docs"], r["total_tokens"], r["packed_text"])
           for _, r in out.iterrows()}
    assert set(got) == set(expect)
    max_doc = pdf["tok"].max()
    for key, (n, tot, texts) in expect.items():
        gn, gtot, gtext = got[key]
        assert (gn, gtot) == (n, tot), key
        assert gtext == "\n\n".join(texts), key
        assert tot <= 256 + max_doc


def test_chunk_text_coverage_and_overlap(docs, spark):
    """chunk_text: every token covered, consecutive chunks share exactly
    `overlap` tokens (except the clipped tail), short/empty docs yield
    one chunk, and bad params raise."""
    from nifi_spark.datalib import chunk_text
    out = chunk_text(docs, "doc_id", "text", window_tokens=64,
                     overlap=16).toPandas()
    pdf = docs.select("doc_id", "text").toPandas()
    for _, r in pdf.iterrows():
        toks = r["text"].split()
        chunks = out[out["doc_id"] == r["doc_id"]].sort_values("chunk_index")
        assert (chunks["n_chunks"] == len(chunks)).all()
        rebuilt = []
        prev = None
        for _, c in chunks.iterrows():
            piece = c["chunk_text"].split() if c["chunk_text"] else []
            assert len(piece) == c["chunk_tokens"] <= 64
            if prev is not None and len(piece) >= 16:
                assert prev[-16:] == piece[:16]  # overlap region agrees
            rebuilt.extend(piece if prev is None else piece[16:])
            prev = piece
        if len(toks) <= 64:
            assert len(chunks) == 1 and rebuilt == toks
        else:
            assert rebuilt[:len(toks)] == toks  # full coverage in order
    empty = spark.createDataFrame([(1, ""), (2, "one two")],
                                  "doc_id long, text string")
    e = chunk_text(empty, "doc_id", "text", 8, 2).collect()
    assert {(r.doc_id, r.n_chunks, r.chunk_tokens) for r in e} == \
        {(1, 1, 0), (2, 1, 2)}
    import pytest as _pt
    with _pt.raises(ValueError):
        chunk_text(empty, "doc_id", "text", 8, 8)


def test_html_to_text_strips_boilerplate(spark):
    from nifi_spark.datalib import html_to_text
    page = ("<html><!-- hidden --><head><title>t</title>"
            "<style>p {a:b}</style><script>if (x<2) alert('hi')</script>"
            "</head><body><h1>Title</h1>"
            "<p>para one</p><p>two &amp; three&nbsp;&lt;ok&gt;</p>"
            "<div><ul><li>x</li><li>y</li></ul></div>"
            "<span>inline  stays</span></body></html>")
    df = spark.createDataFrame([(1, page)], "id long, page string")
    out = html_to_text(df, "page").collect()[0]["text_plain"]
    assert "hidden" not in out and "alert" not in out and "a:b" not in out
    assert "<" not in out.replace("<ok>", "") and "Title" in out
    assert "two & three <ok>" in out
    assert "\nx\ny\n" in out            # list items kept as lines
    assert "inline stays" in out        # spaces collapsed
    assert "  " not in out and "\n\n" not in out


class TestDsir:
    def test_planted_relevance(self, spark):
        """Docs sharing the target's vocabulary outrank unrelated docs."""
        from nifi_spark.datalib.curation import dsir_select, dsir_weights
        target = spark.createDataFrame(
            [(100 + i, "quantum entanglement decoherence qubit gate")
             for i in range(5)], "doc_id long, text string")
        corpus = spark.createDataFrame(
            [(1, "quantum gate fidelity and qubit decoherence rates"),
             (2, "entanglement swapping across a quantum network"),
             (3, "recipe for sourdough bread with rye flour"),
             (4, "football league standings after matchday nine"),
             (5, "")],
            "doc_id long, text string")
        w = {r.doc_id: r.weight for r in
             dsir_weights(corpus, target, "doc_id", "text",
                          n_buckets=256).collect()}
        assert len(w) == 5 and w[5] == 0  # empty doc present, weight 0
        # off-topic docs score NEGATIVE (log p/q < 0 where q dominates),
        # so the empty doc's 0 legitimately outranks them
        assert min(w[1], w[2]) > max(w[3], w[4])
        assert max(w[3], w[4]) < 0
        top = [r.doc_id for r in
               dsir_select(corpus.where("doc_id <> 5"), target,
                           "doc_id", "text", budget=2,
                           n_buckets=256).collect()]
        assert set(top) == {1, 2}

    def test_weights_deterministic(self, spark, docs):
        from nifi_spark.datalib.curation import dsir_weights
        sub = docs.limit(50)
        tgt = docs.where("doc_id % 17 = 0").limit(10)
        a = sorted(map(tuple, dsir_weights(sub, tgt, "doc_id", "text",
                                           n_buckets=128).collect()))
        b = sorted(map(tuple, dsir_weights(sub, tgt, "doc_id", "text",
                                           n_buckets=128).collect()))
        assert a == b
        assert all(isinstance(x[1], int) for x in a)  # integer contract


# --------------------------------------------------------------- perceptron

def _np_perceptron(X, y, iters):
    import numpy as np
    Xb = np.hstack([np.ones((len(X), 1), dtype=np.int64), X])
    w = np.zeros(Xb.shape[1], dtype=np.int64)
    for _ in range(iters):
        mis = y * (Xb @ w) <= 0
        w = w + (Xb[mis] * y[mis, None]).sum(axis=0)
    return w


def test_train_perceptron_matches_numpy_reference(spark):
    import numpy as np
    from nifi_spark.datalib.curation import train_perceptron
    rng = np.random.default_rng(3)
    X = rng.integers(0, 50, size=(300, 3)).astype(np.int64)
    # separable-ish labels with some noise flips
    y = np.where(X[:, 0] + 2 * X[:, 1] - 3 * X[:, 2] - 10 > 0, 1, -1)
    y[::37] = -y[::37]
    pdf = __import__("pandas").DataFrame(
        {"id": range(300), "a": X[:, 0], "b": X[:, 1], "c": X[:, 2], "y": y})
    w, scored = train_perceptron(spark.createDataFrame(pdf),
                                 ["a", "b", "c"], "y", iters=4)
    assert w == list(_np_perceptron(X, y, 4))
    rows = {r["id"]: r for r in scored.collect()}
    Xb = np.hstack([np.ones((300, 1), dtype=np.int64), X])
    exp_score = Xb @ np.array(w)
    for i in range(300):
        assert rows[i]["score"] == exp_score[i]
        assert rows[i]["pred"] == (1 if exp_score[i] >= 0 else -1)


def test_train_perceptron_converges_on_separable_data(spark):
    import numpy as np
    from nifi_spark.datalib.curation import train_perceptron
    rng = np.random.default_rng(5)
    X = rng.integers(1, 30, size=(200, 2)).astype(np.int64)
    y = np.where(X[:, 0] > X[:, 1], 1, -1)  # exactly separable, margin >= 1
    pdf = __import__("pandas").DataFrame(
        {"id": range(200), "a": X[:, 0], "b": X[:, 1], "y": y})
    # full-BATCH perceptron oscillates early then settles near the
    # separator (unlike the online variant it has no finite-mistake
    # bound); 12 steps reach ~0.95 on this data, asserted with slack
    _, scored = train_perceptron(spark.createDataFrame(pdf),
                                 ["a", "b"], "y", iters=12)
    acc = scored.where("pred = y").count() / 200
    assert acc >= 0.9


def test_perceptron_oracle_sql_replays_training(spark, tmp_path):
    """The generated SQL twin reproduces the Spark training run on DuckDB
    exactly (weights enter as nested scalar subqueries per iteration)."""
    import duckdb
    import numpy as np
    import pandas as pd
    from nifi_spark.datalib.curation import (perceptron_oracle_sql,
                                             train_perceptron)
    rng = np.random.default_rng(9)
    X = rng.integers(0, 20, size=(150, 2)).astype(np.int64)
    y = np.where(X.sum(axis=1) % 5 < 2, 1, -1)  # messy labels
    pdf = pd.DataFrame({"doc_id": range(150), "a": X[:, 0], "b": X[:, 1],
                        "y": y})
    _, scored = train_perceptron(spark.createDataFrame(pdf),
                                 ["a", "b"], "y", iters=3)
    got = scored.select("doc_id", "score", "pred").toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    con = duckdb.connect()
    con.register("t", pdf)
    sql = perceptron_oracle_sql(
        "SELECT doc_id, y, 1 AS x0, a AS x1, b AS x2 FROM t",
        n_features=3, iters=3)
    exp = con.execute(sql).df()[["doc_id", "score", "pred"]] \
        .sort_values("doc_id").reset_index(drop=True)
    assert (got["score"].to_numpy() == exp["score"].to_numpy()).all()
    assert (got["pred"].to_numpy() == exp["pred"].to_numpy()).all()


# ------------------------------------------------------- gopher rules


def test_gopher_rules_degenerate_and_passing_docs(spark):
    from nifi_spark.datalib import gopher_rules
    passing = ("the quick brown fox jumps over that lazy dog "
               "to be of and have with great energy ") * 6
    docs = spark.createDataFrame(
        [(1, ""),                                    # empty
         (2, "\n".join("• item" for _ in range(20))),  # bullet wall
         (3, "\n".join(f"line {i}..." for i in range(10))),  # ellipses
         (4, "### " * 80),                           # symbol soup
         (5, passing)],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_rules(docs).collect()}
    assert got[1]["n_words"] == 0 and not got[1]["gopher_keep"]
    assert not got[1]["r_word_count"] and not got[1]["r_mean_word_len"]
    # line rules are vacuous-true on the empty doc
    assert got[1]["r_bullet_lines"] and got[1]["r_ellipsis_lines"]
    assert got[2]["n_bullet_lines"] == 20 and not got[2]["r_bullet_lines"]
    assert got[3]["n_ellipsis_lines"] == 10 and not got[3]["r_ellipsis_lines"]
    assert not got[4]["r_symbol_ratio"] and not got[4]["r_alpha_words"]
    r5 = got[5]
    assert r5["gopher_keep"] and r5["n_words"] == 102
    assert r5["n_gopher_stopwords"] == 8
    assert all(r5[c] for c in
               ("r_word_count", "r_mean_word_len", "r_symbol_ratio",
                "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
                "r_stopwords"))


def test_gopher_rules_integer_thresholds_are_sharp(spark):
    """Exactly-at-threshold docs: 50 words passes, 49 fails; a 10%
    symbol ratio passes, just over fails."""
    from nifi_spark.datalib import gopher_rules
    base = ("the be to of and that have with " + "word " * 42).strip()
    w50 = base                                   # 8 + 42 = 50 words
    w49 = ("the be to of and that have with " + "word " * 41).strip()
    sym_ok = ("the be to of and that have with "
              + "word " * 32 + "# " * 4).strip()   # 44 words... fails count
    got = {r["doc_id"]: r for r in gopher_rules(spark.createDataFrame(
        [(1, w50), (2, w49), (3, sym_ok)],
        "doc_id long, text string")).collect()}
    assert got[1]["n_words"] == 50 and got[1]["r_word_count"]
    assert got[2]["n_words"] == 49 and not got[2]["r_word_count"]
    # 44 words, 4 '#' symbols -> 40 <= 44 passes the ratio rule
    assert got[3]["n_symbol"] == 4 and got[3]["r_symbol_ratio"]


def test_temperature_mix_flattens_and_is_deterministic(spark):
    """T=1 keeps natural proportions; higher T narrows the ratio
    between head and tail shares. Kept sets are deterministic and the
    rule hash(id) % n < k replays in python."""
    import math
    from nifi_spark.datalib.curation import temperature_mix
    from nifi_spark.functions.portable_hash import portable_hash64_py
    rows = [(f"d{i}", "head") for i in range(900)] + \
           [(f"t{i}", "tail") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id string, source string")

    def shares(temp):
        kept = temperature_mix(df, "source", "doc_id",
                               target_total=400, temperature=temp)
        c = {r["source"]: r["n"] for r in
             kept.groupBy("source").agg(F.count("*").alias("n"))
             .collect()}
        return c.get("head", 0), c.get("tail", 0)

    h1, t1 = shares(1)
    h4, t4 = shares(4)
    assert h1 / max(t1, 1) > h4 / max(t4, 1)       # T flattens
    # replay the exact rule for T=4
    n = {"head": 900, "tail": 100}
    w = {s: math.isqrt(math.isqrt(v)) for s, v in n.items()}
    W = sum(w.values())
    k = {s: 400 * w[s] // W for s in n}
    want = {(d, s) for d, s in rows
            if portable_hash64_py(d) % n[s] < k[s]}
    got = {(r["doc_id"], r["source"]) for r in
           temperature_mix(df, "source", "doc_id", target_total=400,
                           temperature=4).collect()}
    assert got == want


def test_temperature_mix_rejects_bad_temperature(spark):
    from nifi_spark.datalib.curation import temperature_mix
    df = spark.createDataFrame([("a", "s")],
                               "doc_id string, source string")
    with pytest.raises(ValueError, match="power of two"):
        temperature_mix(df, "source", "doc_id", target_total=1,
                        temperature=3)


def test_dedup_incremental_classification(spark):
    """Exact copy → exact_dup with min indexed id; band-sharing doc →
    near_dup; unrelated doc → novel (-1); short docs only exact-match."""
    from nifi_spark.datalib import build_dedup_index, dedup_incremental
    corpus = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "completely different content about spark partitions and joins"),
        (4, "hi"),  # < k words: exact row only
    ]
    idx = build_dedup_index(
        spark.createDataFrame(corpus, "doc_id long, text string"),
        "doc_id", "text")
    batch = [
        (10, "the quick brown fox jumps over the lazy dog again and again"),
        (11, "the quick brown fox jumps over the lazy dog again and even more"),
        (12, "nothing like anything indexed here whatsoever in any way"),
        (13, "hi"),
        (14, "yo"),
    ]
    out = {r["doc_id"]: (r["status"], r["matched_id"])
           for r in dedup_incremental(
               spark.createDataFrame(batch, "doc_id long, text string"),
               idx, "doc_id", "text").collect()}
    assert out[10] == ("exact_dup", 1)      # min of indexed {1,2}
    assert out[11][0] == "near_dup" and out[11][1] == 1
    assert out[12] == ("novel", -1)
    assert out[13] == ("exact_dup", 4)
    assert out[14] == ("novel", -1)


def test_dedup_incremental_multi_batch_ingest(spark):
    """The continuous-ingest loop: three daily drops classified against
    a growing index; novel docs' index rows append after each batch.
    An exact copy of a day-1 novel doc arriving on day 3 is caught."""
    from nifi_spark.datalib import build_dedup_index, dedup_incremental
    batches = [
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven")],
        [(10, "alpha beta gamma delta epsilon zeta"),   # dup of 1
         (11, "totally new content in the second batch")],
        [(20, "one two three four five six seven"),     # dup of 2
         (21, "totally new content in the second batch"),  # dup of 11
         (22, "never seen before text at day three")],
    ]
    index = build_dedup_index(
        spark.createDataFrame([(0, "seed document completely unlike "
                                   "anything else")],
                              "doc_id long, text string"),
        "doc_id", "text").localCheckpoint()
    seen = {}
    for day, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = dedup_incremental(df, index, "doc_id", "text")
        seen.update({r["doc_id"]: (r["status"], r["matched_id"])
                     for r in out.collect()})
        novel_ids = [r["doc_id"] for r in out.collect()
                     if r["status"] == "novel"]
        novel = df.join(
            spark.createDataFrame([(i,) for i in novel_ids] or
                                  [(None,)], "doc_id long"),
            "doc_id", "left_semi")
        index = index.unionByName(
            build_dedup_index(novel, "doc_id", "text")).localCheckpoint()
    assert seen[1][0] == "novel" and seen[2][0] == "novel"
    assert seen[10] == ("exact_dup", 1)
    assert seen[11][0] == "novel"
    assert seen[20] == ("exact_dup", 2)
    assert seen[21] == ("exact_dup", 11)
    assert seen[22][0] == "novel"

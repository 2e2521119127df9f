"""Tests for the dedup suite, text analysis, similarity search, and
multimodal plumbing (the training-data-pipeline operators)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),      # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog", "en"),      # near dup of 0
        (3, "der schnelle braune fuchs und der faule hund ist nicht da", "de"),
        (4, "completely unrelated text about spark shuffle partitions", "en"),
        (5, "", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(spark, docs):
    from ertransfer_spark.operators.dedup import exact_dedup, exact_dedup_stats

    groups = exact_dedup(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2
    assert groups[0]["canonical_id"] == 0

    stats = exact_dedup_stats(docs).collect()[0]
    assert stats["n_docs"] == 6 and stats["n_distinct"] == 5 and stats["n_dup_docs"] == 1


def test_ngram_jaccard_dedup_finds_near_dup(spark, docs):
    from ertransfer_spark.operators.dedup import ngram_jaccard_dedup

    pairs = {(r["a_id"], r["b_id"]): r["sim_r"] for r in ngram_jaccard_dedup(
        docs, threshold=0.5, max_gram_df=10
    ).collect()}
    assert pairs[(0, 1)] == 1.0            # exact dup
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5  # near dup
    assert all(a < b for a, b in pairs)    # canonical orientation


def test_shingle_jaccard_pairs_dense_equals_sparse(spark):
    """The adaptive operator's two kernels (dense block-matmul vs sparse
    posting join) must return the IDENTICAL pair set — including the df-cap
    overlap pruning and the a_id < b_id orientation — with the dense path
    forced through MULTIPLE triangular block cells (rows_per_block=7)."""
    from ertransfer_spark.functions.text import word_shingles
    from ertransfer_spark.operators.dedup import shingle_jaccard_pairs

    # 40 docs from a tiny template vocabulary: lots of shared shingles
    # (every "common base phrase" bigram goes hot), a few true near-dups
    rows = []
    for i in range(40):
        tail = f"variant token{i % 7} extra{i % 3}"
        rows.append((i, f"common base phrase shared by many documents {tail}"))
    rows.append((100, "common base phrase shared by many documents variant token0 extra0"))  # dup of 0
    docs = spark.createDataFrame(rows, "id long, text string")
    d = docs.select(
        "id", word_shingles("text", n=2).alias("s")
    ).withColumn("sz", F.size("s"))

    # max_gram_df=15 drops every "common base phrase ..." bigram (df=41),
    # so pairs can only be witnessed by the variant-tail bigrams: doc 0 and
    # doc 100 share the 2 kept grams "variant token0" / "token0 extra0" out
    # of 9 distinct bigrams each -> J = 2/(9+9-2) = 0.125 (denominator uses
    # FULL sizes; the cap prunes witnesses only — the operator's contract)
    kw = dict(gram_col="s", id_col="id", sz_col="sz", threshold=0.1, max_gram_df=15)
    dense = shingle_jaccard_pairs(d, dense_dict_max=100000, rows_per_block=7, **kw)
    sparse = shingle_jaccard_pairs(d, dense_dict_max=0, **kw)
    ds = sorted(tuple(r) for r in dense.collect())
    sp = sorted(tuple(r) for r in sparse.collect())
    assert ds == sp and len(ds) > 0
    assert all(a < b for a, b, _ in ds)
    assert (0, 100, 0.125) in ds  # the planted near-dup survives both kernels


def test_minhash_dedup_recall_vs_exact(spark, docs):
    """MinHash-LSH must recover every exact-jaccard pair ≥ its threshold
    (high banding collision prob at 0.5) — the engine-side check for the
    non-SQL-expressible operator."""
    from ertransfer_spark.operators.dedup import minhash_dedup

    got = {(r["a_id"], r["b_id"]) for r in minhash_dedup(docs, min_jaccard=0.5).collect()}
    assert (0, 1) in got
    # verification step guarantees precision wrt the threshold
    for r in minhash_dedup(docs, min_jaccard=0.5).collect():
        assert r["sim_r"] >= 0.5


def test_simhash_near_dups_close(spark, docs):
    from ertransfer_spark.operators.dedup import simhash

    sh = {r["doc_id"]: r["simhash32"] for r in simhash(docs).collect()}
    assert sh[0] == sh[1]  # identical text → identical fingerprint
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[3]).count("1")
    assert ham_near < ham_far  # near dup closer than unrelated text


def test_lang_id(spark, docs):
    from ertransfer_spark.functions.textstats import lang_id

    out = {r["doc_id"]: r["pred"] for r in docs.select(
        "doc_id", lang_id("text").alias("pred")
    ).collect()}
    assert out[0] == "en"
    assert out[3] == "de"
    assert out[5] == "und"


def test_quality_and_token_counts(spark, docs):
    from ertransfer_spark.functions.textstats import quality_features, token_counts

    qf = quality_features("text")
    tc = token_counts("text")
    row = docs.filter("doc_id = 0").select(
        qf["n_tokens"].alias("nt"), qf["mean_tok_len"].alias("mtl"),
        tc["n_ws_tokens"].alias("ws"), tc["n_bpe_tokens"].alias("bpe"),
    ).collect()[0]
    assert row["nt"] == 9 and row["ws"] == 9
    assert row["bpe"] == 9  # no punctuation → same as word count
    assert abs(row["mtl"] - (35 / 9)) < 1e-9


def test_doc_fingerprint_deterministic(spark, docs):
    from ertransfer_spark.functions.textstats import doc_fingerprint

    fp = {r["doc_id"]: r["fp"] for r in docs.select(
        "doc_id", doc_fingerprint("text").alias("fp")
    ).collect()}
    assert fp[0] == fp[1] != fp[2]
    assert fp[5] == 7  # empty → seed


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    rows = []
    for i in range(20):
        angle = (i % 5) * 0.5  # 5 direction groups, 4 members each
        rows.append((i, [math.cos(angle), math.sin(angle), float(i % 5) * 0.01]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk(spark, vectors):
    from ertransfer_spark.operators.simsearch import brute_force_topk

    out = brute_force_topk(vectors, vectors, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert all(len(v) == 3 for v in by_q.values())
    # same-direction vectors are each other's top neighbors
    top = sorted(by_q[0], key=lambda r: -r["sim_r"])[0]
    assert top["nbr_id"] in (5, 10, 15)
    assert top["sim_r"] == 1.0


def test_lsh_topk_recall(spark, vectors):
    """LSH must recover the exact top-1 for most queries on this easy set."""
    from ertransfer_spark.operators.simsearch import brute_force_topk, lsh_topk

    exact = {r["query_id"]: r["nbr_id"] for r in brute_force_topk(vectors, vectors, k=1).collect()}
    approx = lsh_topk(vectors, vectors, k=1, n_planes=4, n_tables=8).collect()
    got = {r["query_id"]: r["nbr_id"] for r in approx}
    hits = sum(1 for q, n in exact.items() if got.get(q) == n)
    assert hits >= len(exact) * 0.8


def test_vector_blocking_keeps_overlapping_raw_ids(spark):
    """A and B are DIFFERENT tables whose raw id spaces overlap (the
    reference's tabular datasets reuse integer ids on both sides): the
    cross-source pair (i, i) is legitimate and must NOT be dropped by the
    ANN self-match filter."""
    from ertransfer_spark.operators.simsearch import vector_blocking

    rows = [(i, [f"tok{i}a", f"tok{i}b", f"tok{i}c"]) for i in range(8)]
    schema = "conv_id long, token_set array<string>"
    ta = spark.createDataFrame(rows, schema)
    tb = spark.createDataFrame(rows, schema)  # identical content, same ids
    got = vector_blocking(ta, tb, k=2, dim=64)
    same = got.filter(F.col("a_id") == F.col("b_id")).collect()
    # identical token sets hash to identical embeddings → every record's
    # true nearest cross-source neighbour is its same-id twin (sim 1.0)
    assert len(same) == 8
    assert all(abs(r["sim"] - 1.0) < 1e-9 for r in same)


def test_lsh_topk_self_join_still_excludes_self(spark, vectors):
    from ertransfer_spark.operators.simsearch import lsh_topk

    out = lsh_topk(vectors, vectors, k=3, n_planes=4, n_tables=8)
    assert out.filter(F.col("query_id") == F.col("nbr_id")).count() == 0


def test_lsh_topk_portable_empty_corpus(spark, vectors):
    from ertransfer_spark.operators.simsearch import lsh_topk_portable

    empty = vectors.limit(0)
    out = lsh_topk_portable(vectors, empty, k=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["query_id", "nbr_id", "sim_r"]


def test_minhash_bands_divisibility_raises(spark, docs):
    import pytest as _pytest

    from ertransfer_spark.operators.blocking import minhash_band_keys
    from ertransfer_spark.operators.dedup import (
        minhash_dedup_portable,
        minhash_portable_duckdb_sql,
    )

    with _pytest.raises(ValueError, match="divisible"):
        minhash_dedup_portable(docs, n_hashes=100, bands=32)
    with _pytest.raises(ValueError, match="divisible"):
        minhash_portable_duckdb_sql(n_hashes=100, bands=32)
    with _pytest.raises(ValueError, match="divisible"):
        minhash_band_keys(
            docs.select(F.col("doc_id"), F.split("text", " ").alias("token_set")),
            "doc_id",
            "token_set",
            n_hashes=100,
            bands=32,
        )


def test_binary_meta_and_fake_decode(spark, docs):
    from ertransfer_spark.operators.multimodal import binary_meta, fake_decode

    meta = {r["doc_id"]: r for r in binary_meta(docs).collect()}
    assert meta[0]["n_bytes"] == len("the quick brown fox jumps over the lazy dog")
    assert meta[0]["byte_sum"] == sum(b"the quick brown fox jumps over the lazy dog")
    assert meta[5]["content_tag"] == "empty"

    blobs = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    feats = {r["doc_id"]: r for r in fake_decode(blobs, dim=4).collect()}
    assert len(feats[0]["features"]) == 4
    assert feats[0]["width"] == meta[0]["n_bytes"]
    assert feats[0]["features"] == feats[1]["features"]  # deterministic


def test_decode_image_is_stub(spark, docs):
    from ertransfer_spark.operators.multimodal import decode_image

    blobs = docs.limit(1).select("doc_id", F.encode("text", "utf-8").alias("payload"))
    with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
        decode_image(blobs).collect()


def test_minhash_portable_matches_fast(spark, docs):
    """The portable-hash and murmur3 MinHash variants must find the same
    verified pairs (verification is exact in both; only banding recall
    could differ, and at these sizes both recover everything)."""
    from ertransfer_spark.operators.dedup import minhash_dedup, minhash_dedup_portable

    fast = {(r["a_id"], r["b_id"]): r["sim_r"] for r in minhash_dedup(docs, min_jaccard=0.4).collect()}
    portable = {(r["a_id"], r["b_id"]): r["sim_r"] for r in minhash_dedup_portable(docs, min_jaccard=0.4).collect()}
    assert fast == portable
    assert (0, 1) in portable


def test_ivf_topk_recall(spark, vectors):
    """IVF ANN with n_probe covering most cells must recover the exact
    top-1 for nearly all queries on the clustered direction groups."""
    from ertransfer_spark.operators.simsearch import brute_force_topk, ivf_topk

    exact = {r["query_id"]: r["nbr_id"] for r in brute_force_topk(vectors, vectors, k=1).collect()}
    got = {r["query_id"]: r["nbr_id"] for r in ivf_topk(
        vectors, vectors, k=1, n_lists=4, n_probe=2
    ).collect()}
    hits = sum(1 for qid, n in exact.items() if got.get(qid) == n)
    assert hits >= len(exact) * 0.8


def test_ivf_seeded_recall_and_determinism(spark, vectors):
    """The deterministic 'seeded' IVF variant (portable id-hash seeds, the
    oracle-verifiable path) still recovers most exact top-1s, and two runs
    are identical."""
    from ertransfer_spark.operators.simsearch import brute_force_topk, ivf_topk

    exact = {r["query_id"]: r["nbr_id"] for r in brute_force_topk(vectors, vectors, k=1).collect()}
    r1 = ivf_topk(vectors, vectors, k=1, n_lists=4, n_probe=2, method="seeded").collect()
    r2 = ivf_topk(vectors, vectors, k=1, n_lists=4, n_probe=2, method="seeded").collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    got = {r["query_id"]: r["nbr_id"] for r in r1}
    hits = sum(1 for qid, n in exact.items() if got.get(qid) == n)
    assert hits >= len(exact) * 0.7


def test_block_grid_invariant_to_block_count(spark, vectors):
    """The exact block-matrix sweeps must return identical results for any
    block count (1 block ⟺ many small blocks) — the distribution strategy
    cannot change values, ranks, or pair coverage."""
    from ertransfer_spark.operators.simsearch import brute_force_topk, cosine_neardup_pairs

    one = sorted(map(tuple, brute_force_topk(vectors, vectors, k=3, rows_per_block=4096).collect()))
    many = sorted(map(tuple, brute_force_topk(vectors, vectors, k=3, rows_per_block=4).collect()))
    assert one == many

    nd1 = sorted(map(tuple, cosine_neardup_pairs(vectors, threshold=0.8, rows_per_block=4096).collect()))
    nd2 = sorted(map(tuple, cosine_neardup_pairs(vectors, threshold=0.8, rows_per_block=3).collect()))
    assert nd1 == nd2
    assert nd1  # the direction groups produce near-dup pairs
    # a_id < b_id orientation, no self pairs
    assert all(a < b for a, b, _ in nd1)


def test_neardup_zero_norm_guard(spark):
    """Zero-norm vectors must score 0.0 (dropped by the threshold), not
    divide-by-zero — including under ANSI sessions."""
    from ertransfer_spark.operators.simsearch import cosine_neardup_pairs, ivf_topk

    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 0.0])]
    vs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_neardup_pairs(vs, threshold=0.5).collect()
    assert {(r["a_id"], r["b_id"]) for r in out} == {(0, 1)}
    # ivf (both variants) with a zero-norm corpus vector must not throw
    for method in ("kmeans", "seeded"):
        ivf_topk(vs, vs, k=2, n_lists=2, n_probe=2, method=method).collect()


def test_string_ids_raise_type_error(spark, docs, vectors, count_jobs):
    """The operators that key on 64-bit ids refuse string conv_ids with a
    TypeError naming the column (a cast to long would null them and return
    zero rows), checked on the schema without running a job; integral ids
    of any width pass."""
    from ertransfer_spark.functions.text import word_shingles
    from ertransfer_spark.operators.dedup import minhash_dedup, shingle_jaccard_pairs
    from ertransfer_spark.operators.simsearch import brute_force_topk

    str_docs = docs.select(F.concat(F.lit("conv-"), "doc_id").alias("conv_id"), "text")
    grams = str_docs.select("conv_id", word_shingles("text", n=2).alias("s")).withColumn("sz", F.size("s"))
    str_vecs = vectors.select(F.col("vec_id").cast("string").alias("conv_id"), "embedding")
    calls = [
        lambda: shingle_jaccard_pairs(grams, id_col="conv_id"),
        lambda: minhash_dedup(str_docs, id_col="conv_id"),
        lambda: brute_force_topk(str_vecs, str_vecs, id_col="conv_id"),
    ]
    with count_jobs() as jobs:
        for call in calls:
            with pytest.raises(TypeError, match="'conv_id'"):
                call()
    assert jobs() == 0

    int_vecs = vectors.select(F.col("vec_id").cast("int").alias("vec_id"), "embedding")
    assert brute_force_topk(int_vecs, int_vecs, k=3).count() == 3 * vectors.count()

"""Tests for deduplication + similarity-search operators."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from sf_datalake_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dup_pairs,
)
from sf_datalake_spark.operators.similarity import (
    brute_force_topk,
    brute_force_topk_np,
    embedding_near_dup_pairs,
    lsh_topk,
)


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The quick  brown fox jumps over the lazy dog"),   # exact dup modulo ws/case
        (3, "the quick brown fox jumps over the lazy cat"),    # near dup
        (4, "completely different words entirely here now ok"),
        (5, "hi"),                                             # < 3 tokens, no shingles
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_dedup(docs):
    out = exact_dedup(docs, "doc_id", "text").collect()
    got = {r["doc_id"]: r["n_duplicates"] for r in out}
    assert got == {1: 2, 3: 1, 4: 1, 5: 1}


def test_minhash_signatures(spark, docs):
    sig = minhash_signature(docs, "doc_id", "text", num_hashes=8)
    got = {r["doc_id"]: r["signature"] for r in sig.collect()}
    # identical shingle sets → identical signatures (guaranteed)
    dup = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),
         (11, "the quick brown fox jumps over the lazy dog")],
        "doc_id int, text string",
    )
    dsig = {r["doc_id"]: r["signature"]
            for r in minhash_signature(dup, "doc_id", "text", num_hashes=8).collect()}
    assert dsig[10] == dsig[11]
    # docs 1/3 share 6 of 8 shingles (J=0.75) → most minima agree;
    # unrelated doc 4 shares none
    assert got[1] != got[4]
    assert 5 not in got  # too short for shingles
    shared_near = sum(a == b for a, b in zip(got[1], got[3]))
    shared_far = sum(a == b for a, b in zip(got[1], got[4]))
    assert shared_near >= 4
    assert shared_far == 0


def test_lsh_finds_near_dups(docs):
    sig = minhash_signature(docs, "doc_id", "text", num_hashes=8)
    pairs = {(r["id_1"], r["id_2"]) for r in
             lsh_candidate_pairs(sig, "doc_id", bands=4, rows_per_band=2).collect()}
    assert (1, 2) in pairs
    assert (1, 3) in pairs or (2, 3) in pairs   # near-dup caught by some band
    assert not any(4 in p for p in pairs)


def test_ngram_jaccard_values(docs):
    pairs = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.1).collect()
    }
    # doc 2 differs only in "The" casing → 1 of 7 shingles differs: 6/8
    assert pairs[(1, 2)] == 0.75
    # doc 3 differs only in the last token → shingle 7 differs: 6/8
    assert pairs[(1, 3)] == 0.75


def test_ngram_jaccard_hot_shingle_cap(spark):
    """Adversarial skew corpus: one boilerplate shingle in EVERY doc.
    Uncapped → every pair is a join candidate (quadratic in the hot
    shingle's doc count); capped → the hot shingle is stopworded and
    only genuinely-similar pairs survive."""
    n = 30
    rows = [(i, f"aa bb cc u{i} v{i} w{i}") for i in range(n)]
    rows.append((n, "aa bb cc u0 v0 w0 zz"))  # true near-dup of doc 0
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    uncapped = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.01)
    # hot shingle "aa bb cc" makes ALL C(31,2) pairs candidates
    assert uncapped.count() == n * (n + 1) // 2

    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.01, max_doc_frequency=5
    )
    got = {(r["id_1"], r["id_2"]): r["jaccard"] for r in capped.collect()}
    # only the true near-dup pair remains; jaccard over the FILTERED
    # space: doc0 keeps {bb cc u0, cc u0 v0, u0 v0 w0}, doc30 keeps
    # those 3 plus {v0 w0 zz} → 3/4
    assert got == {(0, n): 0.75}


def test_ngram_jaccard_cap_none_identical(docs):
    base = {(r["id_1"], r["id_2"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.1).collect()}
    huge_cap = {(r["id_1"], r["id_2"]): r["jaccard"]
                for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.1,
                                             max_doc_frequency=10**6).collect()}
    assert base == huge_cap


def test_simhash_near_dup(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # identical tokens
            (3, "totally unrelated text about spark engines"),
        ],
        "doc_id int, text string",
    )
    sims = simhash(df, "doc_id", "text")
    got = {r["doc_id"]: r["simhash"] for r in sims.collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]
    pairs = simhash_near_dup_pairs(sims, "doc_id", max_hamming=0).collect()
    assert {(r["id_1"], r["id_2"]) for r in pairs} == {(1, 2)}


def test_simhash_multiblock_finds_prefix_differing_pair(spark):
    """A pair whose 3 differing bits all sit in the TOP 16 bits: any
    single-prefix blocking misses it; 4-block rotation must find it
    (pigeonhole — 3 flips cannot touch all 4 blocks)."""
    base = 0x0123456789AB  # arbitrary 48-bit value
    flipped_top = base ^ (0b111 << 45)  # 3 flips within bits 45-47
    flipped_spread = base ^ (1 << 40) ^ (1 << 25) ^ (1 << 5)  # one per block
    far = base ^ ((1 << 20) - 1)  # hamming 20
    sims = spark.createDataFrame(
        [(1, base), (2, flipped_top), (3, far), (4, flipped_spread)],
        "doc_id int, simhash long",
    )
    got = {(r["id_1"], r["id_2"]): r["hamming"]
           for r in simhash_near_dup_pairs(sims, "doc_id", max_hamming=3).collect()}
    assert got[(1, 2)] == 3
    # 3 flips across 3 DIFFERENT blocks still share the 4th block
    assert got[(1, 4)] == 3
    assert not any(3 in p for p in got)


def test_simhash_fewer_blocks_loses_recall(spark):
    """Explicit num_blocks below max_hamming+1 documents the trade-off:
    a pair with one flip in each of the 2 blocks is no longer found."""
    base = 0x0123456789AB
    both_halves = base ^ (1 << 40) ^ (1 << 5)
    sims = spark.createDataFrame(
        [(1, base), (2, both_halves)], "doc_id int, simhash long"
    )
    full = simhash_near_dup_pairs(sims, "doc_id", max_hamming=2).collect()
    assert len(full) == 1
    partial = simhash_near_dup_pairs(sims, "doc_id", max_hamming=2, num_blocks=2).collect()
    assert partial == []


@pytest.fixture()
def vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),    # close to 1
        (3, [0.0, 1.0, 0.0, 0.0]),    # orthogonal to 1
        (4, [-1.0, 0.0, 0.0, 0.0]),   # opposite of 1
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def test_brute_force_topk_exact(vectors):
    out = brute_force_topk(vectors, vectors, k=1)
    got = {r["query_id"]: (r["neighbor_id"], r["cosine"]) for r in out.collect()}
    assert got[1][0] == 2
    assert abs(got[1][1] - 0.9 / math.hypot(0.9, 0.1)) < 1e-12
    assert got[2][0] == 1
    assert got[4][0] == 3  # cos=0 beats cos(1,4)=-1


def test_brute_force_excludes_self(vectors):
    out = brute_force_topk(vectors, vectors, k=3)
    assert all(r["query_id"] != r["neighbor_id"] for r in out.collect())


def test_blas_topk_matches_jvm_topk(spark, vectors):
    """The mapInPandas/BLAS path must reproduce the JVM plan exactly
    (ids, ranks; cosines to float tolerance)."""
    jvm = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
           for r in brute_force_topk(vectors, vectors, k=2).collect()}
    blas = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
            for r in brute_force_topk_np(vectors, vectors, k=2).collect()}
    assert jvm.keys() == blas.keys()
    for key, (nid, cos) in jvm.items():
        assert blas[key][0] == nid
        assert abs(blas[key][1] - cos) < 1e-12


def test_lsh_topk_agrees_on_close_pair(vectors):
    out = lsh_topk(vectors, vectors, k=1, n_planes=4, dim=4)
    got = {r["query_id"]: r["neighbor_id"] for r in out.collect()}
    # 1 and 2 are near-identical → always in the same hyperplane bucket
    assert got.get(1) == 2
    assert got.get(2) == 1


def test_ivf_topk_recall_vs_exact(spark):
    """IVF with full probing (n_probe == n_cells) equals brute force;
    partial probing keeps high recall on real embeddings."""
    from sf_datalake_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk_np(emb, emb, k=3).collect()}
    full = {(r["query_id"], r["neighbor_id"])
            for r in ivf_topk(emb, emb, k=3, n_cells=4, n_probe=4).collect()}
    assert full == exact
    partial = {(r["query_id"], r["neighbor_id"])
               for r in ivf_topk(emb, emb, k=3, n_cells=8, n_probe=3).collect()}
    recall = len(partial & exact) / len(exact)
    assert recall > 0.7


def test_sharded_topk_bit_identical_to_broadcast(spark):
    """Forced 4-shard split must reproduce the broadcast BLAS path:
    identical neighbor ids, ranks, and tie-breaks (both paths rank on
    round-12 quantized cosines, so shape-dependent BLAS ULP noise can't
    flip duplicate-vector ties), cosines equal to within one round-12
    quantum."""
    import numpy as np

    from sf_datalake_spark.operators.similarity import sharded_topk_np

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(60)]
    rows += [(100 + i, rows[i][1]) for i in range(5)]     # exact duplicates → ties
    rows.append((999, [0.0] * 16))                        # zero norm → dropped
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    base = sorted(map(tuple, brute_force_topk_np(df, df, k=3).collect()))
    shard = sorted(
        map(tuple, sharded_topk_np(df, df, k=3, n_shards=4, n_query_blocks=3).collect())
    )
    assert [(q, n, r) for q, n, c, r in base] == [(q, n, r) for q, n, c, r in shard]
    for (_, _, cb, _), (_, _, cs, _) in zip(base, shard):
        # both sides are round-12 quantized; a residual 1-quantum gap is
        # only possible when the raw ULP noise straddles a boundary
        assert abs(cb - cs) <= 1.1e-12

    # grid cells actually shrink the query side: with 3 blocks no cell
    # may see the full query set
    from pyspark.sql import functions as F

    q = (
        df.select(F.col("vec_id").alias("query_id"))
        .withColumn("__qb", F.pmod(F.hash("query_id"), F.lit(3)).cast("int"))
        .groupBy("__qb")
        .count()
    )
    assert all(r["count"] < df.count() for r in q.collect())


def test_sharded_topk_single_shard(vectors):
    from sf_datalake_spark.operators.similarity import sharded_topk_np

    base = sorted(map(tuple, brute_force_topk_np(vectors, vectors, k=2).collect()))
    shard = sorted(map(tuple, sharded_topk_np(vectors, vectors, k=2, n_shards=1).collect()))
    assert base == shard


def test_embedding_near_dup_pairs(vectors):
    pairs = embedding_near_dup_pairs(vectors, threshold=0.95, n_planes=4, dim=4)
    got = {(r["id_1"], r["id_2"]) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_lsh_multiprobe_raises_recall(spark):
    """Multi-probe recall is monotone in n_probes, and probing every
    bucket behind each plane plus the base covers at least what fewer
    probes cover; n_probes=1 equals the original single-probe result."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from sf_datalake_spark.operators.similarity import lsh_topk

    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk_np(emb, emb, k=3).collect()}

    def recall(n_probes):
        got = {(r["query_id"], r["neighbor_id"])
               for r in lsh_topk(emb, emb, k=3, n_planes=6, dim=64,
                                 n_probes=n_probes).collect()}
        return len(got & exact) / len(exact)

    r1, r3, r7 = recall(1), recall(3), recall(7)
    assert r1 <= r3 <= r7
    assert r7 > r1  # probing genuinely finds cross-bucket neighbors


def test_multiprobe_buckets_contract(spark):
    """n_probes=1 reproduces hyperplane_buckets_np exactly; probe j
    flips exactly one plane bit of the base bucket."""
    from sf_datalake_spark.operators.similarity import (
        hyperplane_buckets_multiprobe_np,
        hyperplane_buckets_np,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    base = {r["vec_id"]: r["__bkt"]
            for r in hyperplane_buckets_np(emb, "vec_id", "embedding",
                                           n_planes=5, dim=64).collect()}
    single = {r["vec_id"]: r["__bkt"]
              for r in hyperplane_buckets_multiprobe_np(
                  emb, "vec_id", "embedding", n_planes=5, dim=64, n_probes=1
              ).collect()}
    assert single == base
    multi = hyperplane_buckets_multiprobe_np(
        emb, "vec_id", "embedding", n_planes=5, dim=64, n_probes=3
    ).collect()
    per_id = {}
    for r in multi:
        per_id.setdefault(r["vec_id"], []).append(r["__bkt"])
    for vid, bkts in per_id.items():
        assert len(bkts) == 3
        assert bkts[0] == base[vid]
        for b in bkts[1:]:
            x = b ^ base[vid]
            assert x != 0 and (x & (x - 1)) == 0  # exactly one bit flipped


def test_pq_topk_matches_exact_on_separable_data(spark):
    """On well-separated clusters PQ + re-rank recovers the exact top-k,
    and the re-ranked cosines are the true ones."""
    import numpy as np

    from sf_datalake_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
    )

    rng = np.random.default_rng(7)
    rows = []
    for cl in range(4):
        center = rng.normal(size=16)
        center /= np.linalg.norm(center)
        for i in range(12):
            v = center + 0.05 * rng.normal(size=16)
            rows.append((cl * 100 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = brute_force_topk(df, df, k=2)
    approx = pq_topk(df, df, k=2, m=4, n_codes=8, train_sample=48,
                     n_candidates=16, seed=3)
    e = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in approx.collect()}
    hit = len(set(e) & set(a)) / len(e)
    assert hit >= 0.9, f"recall {hit} too low on separable clusters"
    for pair in set(e) & set(a):
        assert a[pair] == pytest.approx(e[pair], abs=1e-6)


def test_pq_topk_contract_edges(spark):
    import pytest as _pt

    from sf_datalake_spark.operators.similarity import pq_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0, 0.0]),
         (3, [0.0, 0.0, 0.0, 0.0]), (4, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = pq_topk(df, df, k=2, m=2, n_codes=4, train_sample=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    # zero-norm vector 3 is neither query nor neighbor
    assert 3 not in by_q
    assert all(r["neighbor_id"] != 3 for rs in by_q.values() for r in rs)
    # no self matches
    assert all(r["neighbor_id"] != q for q, rs in by_q.items() for r in rs)
    # dim not divisible by m rejected
    with _pt.raises(ValueError, match="divisible"):
        pq_topk(df, df, m=3)


def test_lsh_pairs_against_incremental_contract(spark):
    from sf_datalake_spark.operators.dedup import (
        lsh_pairs_against,
        minhash_signature,
    )

    base_rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "one two three four five six seven eight nine"),
    ]
    new_rows = [
        # near-copy of base doc 1 -> base match
        (10, "alpha beta gamma delta epsilon zeta eta theta iota"),
        # two identical new docs -> within-batch match
        (11, "red green blue cyan magenta yellow black white"),
        (12, "red green blue cyan magenta yellow black white"),
        # unrelated
        (13, "q w e r t y u i o p"),
    ]
    mk = lambda rows: minhash_signature(
        spark.createDataFrame(rows, "doc_id long, text string"),
        "doc_id", "text", num_hashes=8, shingle_n=3)
    out = lsh_pairs_against(mk(new_rows), mk(base_rows), "doc_id",
                            bands=4, rows_per_band=2, signature_length=8)
    rows = {(r["new_id"], r["match_id"]): r for r in out.collect()}
    assert (10, 1) in rows and rows[(10, 1)]["match_side"] == "base"
    assert rows[(10, 1)]["est_jaccard"] > 0.4
    assert (11, 12) in rows and rows[(11, 12)]["match_side"] == "new"
    assert rows[(11, 12)]["est_jaccard"] == 1.0  # identical docs
    # within-batch pairs emitted once, new_id < match_id
    assert (12, 11) not in rows
    assert all(nid != 13 and mid != 13 for nid, mid in rows)
    # flag off: only base matches remain
    only_base = lsh_pairs_against(mk(new_rows), mk(base_rows), "doc_id",
                                  bands=4, rows_per_band=2,
                                  signature_length=8,
                                  include_new_pairs=False)
    assert {r["match_side"] for r in only_base.collect()} == {"base"}


def test_semantic_dedup_pairs_recovers_planted_dups(spark):
    """SemDeDup blocking: two well-separated semantic groups, each with
    planted near-identical twins — every planted pair is recovered with
    cosine ≈ 1, no cross-group pair is emitted, and the census query
    shape (pairs → components → resolution) drops exactly the twins."""
    import numpy as np

    from sf_datalake_spark.operators.components import dedup_clusters
    from sf_datalake_spark.operators.similarity import semantic_dedup_pairs

    rng = np.random.RandomState(3)
    rows = []
    base_a = rng.rand(8) + np.array([10.0] + [0.0] * 7)   # group A direction
    base_b = rng.rand(8) + np.array([0.0] * 7 + [10.0])   # group B direction
    for i in range(20):
        v = base_a + rng.rand(8) * 0.5 if i < 10 else base_b + rng.rand(8) * 0.5
        rows.append((i, [float(x) for x in v]))
        if i % 5 == 0:  # plant a twin with tiny jitter
            rows.append((100 + i, [float(x + 1e-4) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semantic_dedup_pairs(
        df, "vec_id", "embedding", threshold=0.9999, n_clusters=2, seed=1
    ).collect()
    got = {(r["id_1"], r["id_2"]) for r in pairs}
    for i in (0, 5, 10, 15):
        assert (i, 100 + i) in got, f"planted twin {i} missed"
    for r in pairs:
        assert r["cosine"] >= 0.9999
    labeled = dedup_clusters(df.select("vec_id"), 
                             semantic_dedup_pairs(df, "vec_id", "embedding",
                                                  threshold=0.9999,
                                                  n_clusters=2, seed=1),
                             "vec_id")
    dropped = labeled.filter("is_canonical = 0").count()
    assert dropped == 4  # exactly the four twins


def test_nearest_centroid_exact(spark):
    from sf_datalake_spark.operators.similarity import nearest_centroid_exact

    rows = [
        (1, [0.0, 0.0], "a"), (2, [0.2, 0.0], "a"),   # centroid a = (0.1, 0)
        (3, [1.0, 1.0], "b"), (4, [0.8, 1.0], "b"),   # centroid b = (0.9, 1)
        (5, [0.15, 0.1], "b"),                          # mislabeled: nearer a
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>, label string")
    got = {r["vec_id"]: (r["assigned"], r["correct"])
           for r in nearest_centroid_exact(df, "vec_id", "embedding", "label").collect()}
    # centroid b shifts toward origin because of row 5, but stays far
    assert got[1] == ("a", 1) and got[2] == ("a", 1)
    assert got[3] == ("b", 1) and got[4] == ("b", 1)
    assert got[5] == ("a", 0)   # flagged: assigned != label


def test_nearest_centroid_deterministic_tie(spark):
    from sf_datalake_spark.operators.similarity import nearest_centroid_exact

    # two singleton labels, a probe equidistant from both -> tie breaks
    # to the smaller label name in BOTH engines
    rows = [(1, [0.0], "a"), (2, [1.0], "b"), (3, [0.5], "b")]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>, label string")
    got = {r["vec_id"]: r["assigned"]
           for r in nearest_centroid_exact(df, "vec_id", "embedding", "label").collect()}
    # centroid a = 0.0, centroid b = 0.75 -> probe 0.5 closer to b;
    # vec 2 at 1.0 closer to b; vec 1 at 0 -> a
    assert got == {1: "a", 2: "b", 3: "b"}


def test_lsh_whale_bucket_star_cap(spark):
    """max_bucket_size switches oversized buckets to star linking:
    O(n) pairs, same connected component as exact full pairs; small
    buckets keep exact pairs (capped == uncapped when nothing exceeds
    the cap)."""
    # 12-member whale family (identical signature -> one bucket per
    # band) plus an unrelated doc pair sharing their own bucket
    whale = [(i, [7, 7, 7, 7]) for i in range(1, 13)]
    other = [(100, [1, 2, 3, 4]), (101, [1, 2, 9, 9])]
    sig = spark.createDataFrame(
        whale + other, "doc_id int, signature array<bigint>"
    )
    capped = {
        (r["id_1"], r["id_2"])
        for r in lsh_candidate_pairs(
            sig, "doc_id", bands=2, rows_per_band=2,
            signature_length=4, max_bucket_size=5,
        ).collect()
    }
    # whale family: star on hub 1 — 11 pairs, not C(12,2) = 66
    whale_pairs = {p for p in capped if p[0] < 100}
    assert whale_pairs == {(1, j) for j in range(2, 13)}
    # the small bucket (100, 101) shares band 0 -> exact pair survives
    assert (100, 101) in capped
    # star keeps the family one connected component
    from sf_datalake_spark.operators.components import connected_components

    pairs_df = spark.createDataFrame(
        [p for p in capped if p[0] < 100], "id_1 int, id_2 int"
    )
    comp = connected_components(pairs_df, "id_1", "id_2")
    assert comp.select("component").distinct().count() == 1
    # nothing over the cap -> identical to the uncapped operator
    uncapped_small = {
        (r["id_1"], r["id_2"])
        for r in lsh_candidate_pairs(
            sig.filter("doc_id >= 100"), "doc_id", bands=2,
            rows_per_band=2, signature_length=4,
        ).collect()
    }
    capped_small = {
        (r["id_1"], r["id_2"])
        for r in lsh_candidate_pairs(
            sig.filter("doc_id >= 100"), "doc_id", bands=2,
            rows_per_band=2, signature_length=4, max_bucket_size=5,
        ).collect()
    }
    assert capped_small == uncapped_small

    import pytest as _pytest

    with _pytest.raises(ValueError):
        lsh_candidate_pairs(sig, "doc_id", bands=2, rows_per_band=2,
                            signature_length=4, max_bucket_size=1)


def test_exact_near_dup_pairs_q_matches_brute_force(spark):
    """exact_near_dup_pairs_q == numpy brute force with the identical
    quantized expression, bit-for-bit, and invariant to the grid
    decomposition (n_shards) — the exactness claim behind the
    embedding_near_dups oracle."""
    import numpy as np

    from sf_datalake_spark.operators.similarity import exact_near_dup_pairs_q

    rng = np.random.RandomState(11)
    base = rng.normal(0, 0.15, size=(40, 16))
    # plant near-dups + one zero vector (must be excluded, not NaN)
    base[7] = base[3] + rng.normal(0, 0.01, 16)
    base[21] = base[14] + rng.normal(0, 0.01, 16)
    base[30] = 0.0
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # brute force with the same spec
    Xq = np.round(base * 1000.0)
    nrm = (Xq * Xq).sum(axis=1)
    want = set()
    for i in range(40):
        for j in range(i + 1, 40):
            if nrm[i] > 0 and nrm[j] > 0:
                cos = (Xq[i] * Xq[j]).sum() / np.sqrt(nrm[i] * nrm[j])
                if cos >= 0.6:
                    want.add((i, j, float(cos)))

    for shards in (1, 3, 8):
        got = {
            (r["id_1"], r["id_2"], r["cosine"])
            for r in exact_near_dup_pairs_q(
                df, threshold=0.6, quant=1000, n_shards=shards
            ).collect()
        }
        assert got == want, (shards, got ^ want)
    assert any(p[:2] == (3, 7) for p in want)  # planted dup found
    assert not any(30 in p[:2] for p in want)  # zero vector excluded


def test_blocked_near_dups_contained_in_exact(spark):
    """The production blocked forms never invent pairs: every pair the
    LSH-bucketed and KMeans-celled operators emit is in the exact
    (unblocked) pair set at a slack threshold, with cosines within the
    quantization band — pins the approximations to the round-9 exact
    gold standard."""
    import numpy as np

    from sf_datalake_spark.operators.similarity import (
        embedding_near_dup_pairs,
        exact_near_dup_pairs_q,
        semantic_dedup_pairs,
    )

    rng = np.random.RandomState(5)
    base = rng.normal(0, 0.15, size=(60, 64))
    for a, b in ((2, 9), (17, 40), (33, 55)):
        base[b] = base[a] + rng.normal(0, 0.005, 64)
    rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # quant=1000 shifts a cosine by O(1e-3): exact set at threshold-0.01
    # strictly contains any true-cosine pair at 0.8
    exact = {
        (r["id_1"], r["id_2"]): r["cosine"]
        for r in exact_near_dup_pairs_q(
            df, threshold=0.79, quant=1000, n_shards=4
        ).collect()
    }
    lsh = embedding_near_dup_pairs(df, threshold=0.8, n_planes=6, dim=64).collect()
    km = semantic_dedup_pairs(df, threshold=0.8, n_clusters=4).collect()
    assert lsh and km  # blocking found the planted dups at all
    for r in lsh + km:
        key = (r["id_1"], r["id_2"])
        assert key in exact, key
        assert abs(exact[key] - r["cosine"]) < 5e-3, (key, exact[key], r["cosine"])

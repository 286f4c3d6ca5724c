"""Tests for the corpus-preparation operators (operators/corpus.py):
chunking, packing, stratified sampling, contamination, PII redaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sf_datalake_spark.operators.corpus import (
    chunk_documents,
    contamination_check,
    pack_sequences,
    redact_pii,
    stratified_sample,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_documents_windows_and_overlap(spark):
    # 10 tokens, chunk 4, overlap 1 -> stride 3 -> chunks at 0,3,6 + tail
    text = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    out = chunk_documents(
        _docs(spark, [(1, text)]), chunk_tokens=4, overlap=1
    ).orderBy("chunk_index").collect()
    got = [(r["chunk_index"], r["chunk_text"], r["n_tokens"]) for r in out]
    assert got == [
        (0, "t0 t1 t2 t3", 4),
        (1, "t3 t4 t5 t6", 4),
        (2, "t6 t7 t8 t9", 4),
    ]
    # consecutive chunks share exactly `overlap` boundary tokens
    assert got[0][1].split()[-1] == got[1][1].split()[0]


def test_chunk_documents_short_and_empty(spark):
    out = chunk_documents(
        _docs(spark, [(1, "a b"), (2, ""), (3, "   ")]),
        chunk_tokens=4, overlap=1,
    ).collect()
    # short doc -> one whole chunk; empty/whitespace docs -> no rows
    assert [(r["doc_id"], r["chunk_text"], r["n_tokens"]) for r in out] == [
        (1, "a b", 2)
    ]


def test_chunk_documents_ragged_tail(spark):
    # 6 tokens, chunk 4, overlap 2 -> stride 2 -> starts 0, 2 -> the
    # formula stops once the window covers the tail (no empty chunk)
    out = chunk_documents(
        _docs(spark, [(1, "a b c d e f")]), chunk_tokens=4, overlap=2
    ).orderBy("chunk_index").collect()
    assert [(r["chunk_text"], r["n_tokens"]) for r in out] == [
        ("a b c d", 4), ("c d e f", 4),
    ]


def test_chunk_documents_rejects_bad_overlap(spark):
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(_docs(spark, [(1, "a")]), chunk_tokens=4, overlap=4)


def test_pack_sequences_contiguous_bins(spark):
    rows = [(i, "g", w) for i, w in enumerate([30, 30, 30, 30, 50])]
    df = spark.createDataFrame(rows, "doc_id long, src string, w long")
    out = {r["doc_id"]: (r["bin_id"], r["bin_offset"])
           for r in pack_sequences(df, "w", budget=100,
                                   partition_col="src").collect()}
    # exclusive cumsums: 0,30,60,90,120 -> bins 0,0,0,0,1
    assert out == {0: (0, 0), 1: (0, 30), 2: (0, 60), 3: (0, 90), 4: (1, 20)}


def test_pack_sequences_parallel_per_partition(spark):
    rows = [(1, "a", 80), (2, "a", 80), (3, "b", 80), (4, "b", 80)]
    df = spark.createDataFrame(rows, "doc_id long, src string, w long")
    out = {r["doc_id"]: r["bin_id"]
           for r in pack_sequences(df, "w", budget=100,
                                   partition_col="src").collect()}
    # each source packs independently from bin 0
    assert out == {1: 0, 2: 0, 3: 0, 4: 0}


def test_stratified_sample_deterministic_and_exact_strata(spark):
    rows = [(i, "keep_all" if i % 2 else "thin") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = stratified_sample(df, "src", {"keep_all": 1.0, "thin": 0.2},
                            key_col="doc_id")
    got = out.groupBy("src").count().collect()
    counts = {r["src"]: r["count"] for r in got}
    assert counts["keep_all"] == 100          # fraction 1.0 keeps every row
    assert 5 <= counts.get("thin", 0) <= 40   # ~20 of 100, md5-spread
    # determinism: identical output on a second run
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(r["doc_id"] for r in out.collect())
    assert ids1 == ids2


def test_stratified_sample_default_fraction_drops_unlisted(spark):
    df = spark.createDataFrame([(i, "other") for i in range(50)],
                               "doc_id long, src string")
    assert stratified_sample(df, "src", {"x": 1.0}, key_col="doc_id").count() == 0


def test_contamination_check_finds_known_overlap(spark):
    corpus = _docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog"),  # contains bench trigram
        (2, "completely different words nothing shared here at all"),
    ])
    bench = _docs(spark, [(100, "quick brown fox runs away")])
    out = contamination_check(corpus, bench, min_common=1).collect()
    assert [r["doc_id"] for r in out] == [1]
    r = out[0]
    assert r["n_common"] == 1          # "quick brown fox"
    assert r["n_shingles"] == 7        # 9 tokens -> 7 distinct trigrams
    assert r["contamination"] == pytest.approx(1 / 7, abs=1e-6)


def test_redact_pii_counts_and_text(spark):
    df = _docs(spark, [
        (1, "mail alice@example.org or bob.smith@corp.co.uk, call 555-1234"),
        (2, "no pii here"),
    ])
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert out[1]["n_emails"] == 2
    assert out[1]["n_phones"] == 1
    assert out[1]["redacted"] == "mail <EMAIL> or <EMAIL>, call <PHONE>"
    assert out[2]["n_emails"] == 0 and out[2]["n_phones"] == 0
    assert out[2]["redacted"] == "no pii here"


def test_chunk_and_pack_plan_shapes(spark):
    """Chunking is narrow (no exchange); packing adds exactly one hash
    exchange for its per-group window."""
    from sf_datalake_spark.plans import plan_report

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rep = plan_report(chunk_documents(docs), execute=True)
    assert rep["n_exchanges"] == 0
    assert rep["n_python_evals"] == 0

    rep2 = plan_report(
        pack_sequences(docs, "n_chars", 2000, partition_col="source"),
        execute=True,
    )
    assert rep2["n_exchanges"] == 1
    assert rep2["n_python_evals"] == 0


def test_repetition_stats_hand_case(spark):
    from sf_datalake_spark.operators.corpus import repetition_stats

    # "a b a b c": tokens 5, distinct 3 -> dup_token_frac = 0.4
    # bigrams: "a b"(2) "b a"(1) "b c"(1) -> top 2/4 = 0.5
    # duplicated grams: "a b" count 2, len 3 -> 2*3=6; norm_len 9 -> 0.666667
    out = repetition_stats(_docs(spark, [(1, "a b a b c")])).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_tokens"] == 5
    assert r["dup_token_frac"] == pytest.approx(0.4, abs=1e-6)
    assert r["top_ngram_frac"] == pytest.approx(0.5, abs=1e-6)
    assert r["dup_ngram_char_frac"] == pytest.approx(6 / 9, abs=1e-6)


def test_repetition_stats_no_repeats_and_short(spark):
    from sf_datalake_spark.operators.corpus import repetition_stats

    out = {r["doc_id"]: r for r in repetition_stats(
        _docs(spark, [(1, "w x y z"), (2, "solo")])  # doc 2 has < 2 tokens
    ).collect()}
    assert set(out) == {1}
    assert out[1]["dup_token_frac"] == 0.0
    assert out[1]["top_ngram_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert out[1]["dup_ngram_char_frac"] == 0.0


def test_remove_boilerplate_lines(spark):
    from sf_datalake_spark.operators.corpus import remove_boilerplate_lines

    # "x y" appears as a full 2-token line in docs 1,2,3 -> boilerplate;
    # every other line is unique. Doc 4 is entirely boilerplate.
    df = _docs(spark, [
        (1, "x y a b c d"),
        (2, "x y e f"),
        (3, "p q x y"),
        (4, "x y"),
    ])
    out = {r["doc_id"]: r for r in remove_boilerplate_lines(
        df, line_tokens=2, min_docs=3
    ).collect()}
    assert out[1]["n_lines"] == 3 and out[1]["n_kept"] == 2
    assert out[1]["clean_text"] == "a b c d"
    assert out[2]["clean_text"] == "e f"
    assert out[3]["clean_text"] == "p q"          # "x y" dropped mid-doc
    assert out[4]["n_kept"] == 0 and out[4]["clean_text"] == ""


def test_remove_boilerplate_ragged_tail_distinct_docs(spark):
    from sf_datalake_spark.operators.corpus import remove_boilerplate_lines

    # "z" tail line repeated WITHIN doc 1 (via its two windows? no —
    # within-doc repeats must not count toward the distinct-doc
    # threshold): "m n z" -> lines "m n", "z"; doc 2 "z z z" -> "z z","z".
    # Line "z" occurs in 2 distinct docs < min_docs=3 -> everything kept.
    df = _docs(spark, [(1, "m n z"), (2, "z z z")])
    out = {r["doc_id"]: r for r in remove_boilerplate_lines(
        df, line_tokens=2, min_docs=3
    ).collect()}
    assert out[1]["clean_text"] == "m n z"
    assert out[2]["clean_text"] == "z z z"


def test_training_order_epochs_differ_and_reproduce(spark):
    from sf_datalake_spark.operators.corpus import training_order

    df = spark.createDataFrame(
        [(i, "web" if i % 2 else "curated") for i in range(200)],
        "doc_id long, source string",
    )
    kw = dict(source_col="source", weights={"curated": 1.0},
              default_weight=0.3, salt="t")
    e0 = training_order(df, "doc_id", epoch=0, **kw)
    e0b = training_order(df, "doc_id", epoch=0, **kw)
    e1 = training_order(df, "doc_id", epoch=1, **kw)
    rows0 = sorted((r["doc_id"], r["shuffle_key"]) for r in e0.collect())
    # bit-reproducible within an epoch
    assert rows0 == sorted((r["doc_id"], r["shuffle_key"]) for r in e0b.collect())
    # curated kept at 100% in every epoch
    assert e0.filter("source = 'curated'").count() == 100
    assert e1.filter("source = 'curated'").count() == 100
    # epochs draw different web subsets and different orders
    web0 = {r["doc_id"] for r in e0.filter("source = 'web'").collect()}
    web1 = {r["doc_id"] for r in e1.filter("source = 'web'").collect()}
    assert web0 != web1
    k0 = {r["doc_id"]: r["shuffle_key"] for r in e0.collect()}
    k1 = {r["doc_id"]: r["shuffle_key"] for r in e1.collect()}
    common = web0 & web1
    assert any(k0[d] != k1[d] for d in common)


def test_training_order_requires_source_col(spark):
    from sf_datalake_spark.operators.corpus import training_order

    with pytest.raises(ValueError, match="source_col"):
        training_order(_docs(spark, [(1, "x")]), "doc_id", weights={"a": 1.0})


def test_exact_k_sample_exact_and_scalable_plan(spark):
    from sf_datalake_spark.operators.corpus import exact_k_sample

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    out = exact_k_sample(df, 37, "doc_id", salt="z")
    assert out.count() == 37
    # deterministic across runs
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in exact_k_sample(df, 37, "doc_id", salt="z").collect())
    assert a == b
    # different salt -> different sample
    c = sorted(r["doc_id"] for r in exact_k_sample(df, 37, "doc_id", salt="y").collect())
    assert a != c
    # global-sort-free plan: TakeOrderedAndProject, no range Exchange
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_bias_and_exactness(spark):
    from sf_datalake_spark.operators.corpus import weighted_sample

    # 500 light docs (w=1) + 500 heavy (w=100): heavy docs should
    # dominate the sample; zero/negative weights never win.
    rows = [(i, 1) for i in range(500)] + [(i, 100) for i in range(500, 1000)]
    rows += [(1000, 0), (1001, -5)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    out = [r["doc_id"] for r in weighted_sample(df, 50, "w", "doc_id", salt="b").collect()]
    assert len(out) == 50 and len(set(out)) == 50
    assert 1000 not in out and 1001 not in out
    heavy = sum(1 for d in out if 500 <= d < 1000)
    # E[heavy] ≈ 49.5 under w=100:1 odds; even 3 sigma keeps it > 40
    assert heavy > 40, f"only {heavy}/50 heavy docs sampled"
    # deterministic
    again = [r["doc_id"] for r in weighted_sample(df, 50, "w", "doc_id", salt="b").collect()]
    assert out == again


def test_split_by_cluster_never_splits_a_cluster(spark):
    from sf_datalake_spark.operators.split import split_by_cluster

    labeled = spark.createDataFrame(
        [(i, i % 17) for i in range(200)], "doc_id long, cluster_id long"
    )
    out = split_by_cluster(labeled, "cluster_id", 0.3, salt="t").collect()
    sides = {}
    for r in out:
        sides.setdefault(r["cluster_id"], set()).add(r["is_test"])
    assert all(len(s) == 1 for s in sides.values()), "cluster straddles split"
    test_clusters = {c for c, s in sides.items() if s == {1}}
    assert 0 < len(test_clusters) < 17


def test_text_entropy_hand_cases(spark):
    import math

    from sf_datalake_spark.functions.text import text_entropy

    df = _docs(spark, [
        (1, "a a a a"),            # degenerate: H = 0
        (2, "a b c d"),            # uniform over 4: H = 2 bits
        (3, "a a b"),              # H = -(2/3)lg(2/3) - (1/3)lg(1/3)
    ])
    out = {r["doc_id"]: r for r in text_entropy(df).collect()}
    assert out[1]["entropy"] == 0.0 and out[1]["n_distinct"] == 1
    assert out[2]["entropy"] == pytest.approx(2.0, abs=1e-6)
    expect = -(2 / 3) * math.log2(2 / 3) - (1 / 3) * math.log2(1 / 3)
    assert out[3]["entropy"] == pytest.approx(expect, abs=1e-6)
    # char mode counts characters, not tokens (spaces excluded by split)
    ch = {r["doc_id"]: r for r in text_entropy(df, unit="char").collect()}
    assert ch[1]["n_units"] == 7  # "a a a a" = 4 a's + 3 spaces
    with pytest.raises(ValueError, match="unit"):
        text_entropy(df, unit="word")


def test_compression_ratio_signal_direction(spark):
    from sf_datalake_spark.functions.text import compression_ratio

    import random
    rng = random.Random(5)
    junk = " ".join(
        "".join(chr(rng.randrange(33, 127)) for _ in range(8)) for _ in range(100)
    )
    df = _docs(spark, [
        (1, "spam " * 500),        # boilerplate: compresses hard
        (2, junk),                 # high-entropy: barely compresses
        (3, ""),                   # empty: skipped
    ])
    out = {r["doc_id"]: r for r in compression_ratio(df).collect()}
    assert set(out) == {1, 2}
    assert out[1]["ratio"] < 0.05 < out[2]["ratio"]
    assert out[1]["n_bytes"] == 2500
    # deterministic across runs (fixed level)
    again = {r["doc_id"]: r["n_compressed"]
             for r in compression_ratio(df).collect()}
    assert again == {k: v["n_compressed"] for k, v in out.items()}


def test_gopher_quality_filter_rules(spark):
    from sf_datalake_spark.operators.corpus import gopher_quality_filter

    df = _docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog near town"),  # passes
        (2, "spam spam spam spam spam spam spam spam spam spam"),      # dup
        (3, "a b c d e f g h i j"),                                    # word len
        (4, "short text here"),                                        # too few
        (5, "qqq www eee rrr ttt yyy uuu iii ooo ppp"),                # stopwords
    ])
    out = {r["doc_id"]: r for r in gopher_quality_filter(
        df, min_tokens=10, max_tokens=20,
        min_mean_word_len=2.0, max_mean_word_len=6.0,
        max_dup_token_frac=0.5, min_stopword_hits=1,
    ).collect()}
    assert out[1]["keep"] == 1
    assert out[2]["keep"] == 0 and out[2]["r_dup_tokens"] == 0
    assert out[3]["keep"] == 0 and out[3]["r_word_len"] == 0
    assert out[4]["keep"] == 0 and out[4]["r_token_count"] == 0
    assert out[5]["keep"] == 0 and out[5]["r_stopwords"] == 0
    # each failing doc fails for exactly the expected rule(s)
    assert out[2]["r_token_count"] == 1 and out[2]["r_stopwords"] == 0


def test_gopher_quality_filter_zero_shuffle_plan(spark):
    from sf_datalake_spark.operators.corpus import gopher_quality_filter
    from sf_datalake_spark.plans import plan_report

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rep = plan_report(gopher_quality_filter(docs), execute=True)
    assert rep["n_exchanges"] == 0
    assert rep["n_python_evals"] == 0


def test_quality_prune_per_group_cut(spark):
    from sf_datalake_spark.operators.corpus import quality_prune

    rows = [(i, "a", i) for i in range(10)] + [(100 + i, "b", i) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, src string, score long")
    out = quality_prune(df, "score", 0.3, "doc_id", by="src").collect()
    got = {r["src"]: sorted(r2["doc_id"] for r2 in out if r2["src"] == r["src"])
           for r in out}
    # ceil(10*0.3)=3 best of a; ceil(4*0.3)=2 best of b
    assert got["a"] == [7, 8, 9]
    assert got["b"] == [102, 103]
    # non-empty group always keeps at least one row
    tiny = spark.createDataFrame([(1, "x", 5)], "doc_id long, src string, score long")
    assert quality_prune(tiny, "score", 0.01, "doc_id", by="src").count() == 1
    with pytest.raises(ValueError, match="keep_fraction"):
        quality_prune(df, "score", 0.0, "doc_id")


def test_hashed_linear_score_dict_weights_and_plan(spark):
    """Dict-weight path: score equals the hand-computed sigmoid of the
    summed bucket weights; unknown buckets contribute 0; empty text
    scores sigmoid(bias). The whole scorer is scan-stage: zero
    exchanges, zero Python stages."""
    import hashlib
    import math

    from sf_datalake_spark.operators.corpus import hashed_linear_score
    from sf_datalake_spark.plans import plan_report

    n_buckets = 64

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % n_buckets

    weights = {bucket("good"): 2.0, bucket("bad"): -3.0}
    df = spark.createDataFrame(
        [(1, "good good neutral"), (2, "bad"), (3, "")],
        "doc_id long, text string",
    )
    out = hashed_linear_score(
        df, "text", weights=weights, n_buckets=n_buckets, bias=0.5
    )
    got = {r["doc_id"]: r["model_score"] for r in out.collect()}
    sig = lambda x: 1.0 / (1.0 + math.exp(-x))
    assert abs(got[1] - sig(2.0 + 2.0 + 0.0 + 0.5)) < 1e-12
    assert abs(got[2] - sig(-3.0 + 0.5)) < 1e-12
    assert abs(got[3] - sig(0.5)) < 1e-12

    rep = plan_report(out, execute=True)
    assert rep["n_exchanges"] == 0
    assert rep["n_python_evals"] == 0


def test_mixture_schedule_prefix_ratios(spark):
    """Weighted-fair-queueing invariant: at every prefix of the
    mix_position order, each source has served floor/ceil of
    weight-proportional items — no long single-source runs."""
    from sf_datalake_spark.operators.corpus import mixture_schedule

    rows = [(i, "a") for i in range(40)] + [(100 + i, "b") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mixture_schedule(df, "source", "doc_id", {"a": 3.0, "b": 1.0})
    ordered = [r["source"] for r in out.orderBy("mix_position", "doc_id").collect()]
    # weight 3:1 -> in any prefix, a-count ~= 3 * b-count (within the
    # rounding slack of one service quantum per source)
    na = nb = 0
    for s in ordered[:40]:
        na += s == "a"
        nb += s == "b"
        assert na >= 3 * nb - 3, (na, nb)
        assert na <= 3 * nb + 3, (na, nb)
    # deterministic: same schedule twice
    again = [r["source"] for r in
             mixture_schedule(df, "source", "doc_id", {"a": 3.0, "b": 1.0})
             .orderBy("mix_position", "doc_id").collect()]
    assert ordered == again


def test_bpe_oracle_delimiter_absent_from_corpus():
    """The bpe_merges DuckDB oracle encodes symbol lists as
    \\x1f-wrapped strings (queries_corpus._BPE_MERGES_SQL); its
    boundary-safety requires \\x1f never to appear inside a token.
    Assert the testdata corpus is clean at every committed scale — if
    a future corpus regeneration ever introduces it, this fails before
    the oracle silently mis-splits."""
    import glob
    import os

    import duckdb

    dirs = sorted(glob.glob("/root/testdata/sf*/documents.parquet"))
    assert dirs, "no testdata documents found"
    for path in dirs:
        n = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{path}')"
            " WHERE contains(text, chr(31))"
        ).fetchone()[0]
        assert n == 0, f"{os.path.dirname(path)}: {n} docs contain \\x1f"


def test_bpe_merge_fold_matches_string_replace(spark):
    """Pin the overlap rule the oracle's replace() relies on: the JVM
    left-fold merges 'x x x' once at the LEFT, same as leftmost
    non-overlapping string replacement — exercised through the full
    train_bpe on a corpus crafted so the top pair is self-adjacent."""
    import duckdb

    from sf_datalake_spark.operators.bpe import train_bpe
    from sf_datalake_spark.queries_corpus import _BPE_MERGES_SQL

    rows = [(1, "xxx xxx xx yy"), (2, "xxxx yy zz"), (3, "xy yx xxx")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["freq"])
        for r in train_bpe(df, "text", num_merges=4, min_pair_count=2)
        .orderBy("rank").collect()
    ]
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    want = con.execute(
        _BPE_MERGES_SQL.replace("st.it < 12", "st.it < 4")
        .replace("it < 12", "it < 4") + " ORDER BY rank"
    ).fetchall()
    assert got == [tuple(w) for w in want], (got, want)


def test_kgram_compressibility_signal_direction(spark):
    """The registry's distinct-8-gram compressibility (round-9 oracled
    form of compression_ratio) must preserve the zlib signal direction:
    repetitive boilerplate scores LOWER (fewer novel grams) than
    diverse text of the same length."""
    from pyspark.sql import functions as F

    rep = "spam and eggs " * 20
    div = ("the quick brown fox jumps over a lazy dog while ninety-two "
           "quaint zephyrs vexed bold jim and his black quartz sphinx ju")
    df = spark.createDataFrame(
        [(1, rep[:120]), (2, div[:120])], "doc_id long, text string"
    )
    grams = F.expr(
        "transform(sequence(1, length(text) - 7), i -> substring(text, i, 8))"
    )
    out = {
        r["doc_id"]: r["ratio"]
        for r in df.select(
            "doc_id",
            (F.size(F.array_distinct(grams))
             / (F.length("text") - 7)).alias("ratio"),
        ).collect()
    }
    assert out[1] < 0.3 < 0.9 < out[2], out

"""BPE vocabulary induction (operators/bpe.py) vs a reference
implementation of Sennrich et al. 2016 (word-type weighted pair counts,
greedy left-to-right merge application, deterministic tie-break)."""

from __future__ import annotations

from collections import Counter

from sf_datalake_spark.operators.bpe import train_bpe


def _reference_bpe(texts, num_merges, min_pair_count=2):
    vocab = Counter()
    for t in texts:
        vocab.update(t.split())
    types = {w: list(w) for w in vocab}
    merges = []
    for rank in range(1, num_merges + 1):
        pairs = Counter()
        for w, sym in types.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += vocab[w]
        if not pairs:
            break
        # max freq, ties -> lexicographically smallest pair
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), freq = best
        if freq < min_pair_count:
            break
        merges.append((rank, l, r, l + r, freq))
        for w, sym in types.items():
            out = []
            for x in sym:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            types[w] = out
    return merges, types


_TEXTS = [
    "low lower lowest low low",
    "new newer newest new newer",
    "wide wider widest new low",
]


def test_merge_table_matches_reference(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(_TEXTS)],
                               "doc_id int, text string")
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["freq"])
        for r in train_bpe(df, "text", num_merges=10).orderBy("rank").collect()
    ]
    want, _ = _reference_bpe(_TEXTS, 10)
    assert got == want


def test_overlapping_pair_merges_left_to_right(spark):
    # "xxx" with merge (x,x): greedy left fold -> [xx, x], never [x, xx],
    # so the second merge is (xx, x) on both the driver and the
    # distributed path
    df = spark.createDataFrame([(0, "xxx xxx xx")], "doc_id int, text string")
    want = [(1, "x", "x", "xx", 5), (2, "xx", "x", "xxx", 2)]
    assert _reference_bpe(["xxx xxx xx"], 2)[0] == want
    for budget in ({}, {"driver_type_budget": 0}):
        got = [
            tuple(r)
            for r in train_bpe(df, "text", num_merges=2, **budget)
            .orderBy("rank").collect()
        ]
        assert got == want


def test_min_pair_count_stops_training(spark):
    df = spark.createDataFrame([(0, "ab cd ef")], "doc_id int, text string")
    # every pair occurs once -> below min_pair_count=2, no merges
    assert train_bpe(df, "text", num_merges=5).count() == 0


def test_no_cached_state_leaks(spark):
    df = spark.createDataFrame([(0, "aa bb aa bb aa")], "doc_id int, text string")
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    train_bpe(df, "text", num_merges=3).collect()
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert after == before


def test_distributed_path_matches_driver_path(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(_TEXTS)],
                               "doc_id int, text string")
    driver = [tuple(r) for r in
              train_bpe(df, "text", num_merges=6).orderBy("rank").collect()]
    dist = [tuple(r) for r in
            train_bpe(df, "text", num_merges=6, driver_type_budget=0)
            .orderBy("rank").collect()]
    assert driver == dist and len(driver) == 6

"""Distributed BPE vocabulary induction (Sennrich, Haddow, Birch 2016).

Byte-pair-encoding merge training re-expressed for Spark: the corpus
collapses to the WORD-TYPE table (one ``explode`` + ``groupBy`` — the
classic trick that makes BPE tractable, since merge statistics only
need types weighted by frequency, never the token stream), and each
merge round is

1. one map-side-combined ``groupBy`` over adjacent symbol pairs of the
   cached type table (pairs come from ``arrays_zip`` of two shifted
   slices — O(symbols) per row, no quadratic lambda), and
2. a single-ROW collect of the argmax pair (count desc, pair asc — the
   deterministic tie-break), then
3. a JVM ``aggregate`` left-fold that greedily merges that pair inside
   every type (left-to-right, the standard BPE application order —
   overlapping occurrences like ``x x x`` merge once, at the left).

Driver traffic is one row per round (the iterative-algorithm pattern
the repo's KMeans/PageRank paths use), the type table is ~|vocabulary|
regardless of corpus size, and every fold is whole-stage-JVM.  At
100 TB the only corpus-sized job is the initial word count.

No end-of-word marker is added (merges act within whitespace tokens);
``min_pair_count`` stops training when the best pair drops below it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sf_datalake_spark.functions.text import tokenize


def _chars(col):
    return F.filter(F.split(col, ""), lambda c: c != F.lit(""))


def _pair_counts(types: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the symbol arrays."""
    pairs = F.expr(
        "transform(sequence(1, size(sym) - 1),"
        " i -> struct(sym[i - 1] AS l, sym[i] AS r))"
    )
    return (
        types.filter(F.size("sym") >= 2)
        .select(F.explode(pairs).alias("p"), "cnt")
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("cnt").alias("freq"))
    )


def _apply_merge(types: DataFrame, left: str, right: str) -> DataFrame:
    """Greedy left-to-right merge of (left, right) inside every type."""
    merged = types.withColumn(
        "sym",
        F.expr(
            """
            aggregate(
                sym,
                cast(array() as array<string>),
                (acc, x) -> IF(
                    size(acc) > 0 AND element_at(acc, -1) = {l} AND x = {r},
                    concat(slice(acc, 1, size(acc) - 1),
                           array(concat({l}, {r}))),
                    concat(acc, array(x))
                )
            )
            """.format(l=_sql_str(left), r=_sql_str(right))
        ),
    )
    return merged


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


#: word types collected for the driver-exact path; ~50 B/type → <=10 MB
DRIVER_TYPE_BUDGET = 200_000

_MERGES_SCHEMA = "rank int, left string, right string, merged string, freq bigint"


def train_bpe(
    df: DataFrame,
    text_col: str,
    num_merges: int = 12,
    min_pair_count: int = 2,
    driver_type_budget: int = DRIVER_TYPE_BUDGET,
) -> DataFrame:
    """Learn the BPE merge table; returns (rank, left, right, merged, freq).

    ``rank`` is the merge order (1-based).  Deterministic: ties on
    frequency break on the lexicographically smallest (left, right).

    Adaptive, like the repo's components/PageRank operators: the
    corpus-sized work is always the ONE distributed word-count groupBy;
    the merge loop then runs driver-side when the type table fits
    ``driver_type_budget`` rows (<=10 MB heap — merge statistics need
    only types, and 12 sequential rounds of tiny Spark jobs cost more
    in scheduler latency than the whole computation), and as a
    distributed pair-count/fold loop (one aggregation + one-ROW collect
    per round) when it does not.  Both paths produce the identical
    table (tie-break and greedy fold are the same; unit-tested)."""
    spark = df.sparkSession
    types = (
        df.select(F.explode(tokenize(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    head = types.limit(driver_type_budget + 1).collect()
    if len(head) <= driver_type_budget:
        merges = _driver_merge_loop(
            {r["w"]: r["cnt"] for r in head}, num_merges, min_pair_count
        )
        return spark.createDataFrame(merges, _MERGES_SCHEMA)
    return _distributed_merge_loop(
        types.select(_chars(F.col("w")).alias("sym"), "cnt"),
        num_merges,
        min_pair_count,
    )


def _driver_merge_loop(
    vocab: dict[str, int], num_merges: int, min_pair_count: int
) -> list[tuple]:
    """Exact merge loop over a collected (word -> count) vocabulary."""
    from collections import Counter

    types = {w: list(w) for w in vocab}
    merges: list[tuple] = []
    for rank in range(1, num_merges + 1):
        pairs: Counter = Counter()
        for w, sym in types.items():
            cnt = vocab[w]
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += cnt
        if not pairs:
            break
        (l, r), freq = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if freq < min_pair_count:
            break
        merges.append((rank, l, r, l + r, int(freq)))
        for w, sym in types.items():
            out: list[str] = []
            for x in sym:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            types[w] = out
    return merges


def _distributed_merge_loop(
    types: DataFrame, num_merges: int, min_pair_count: int
) -> DataFrame:
    spark = types.sparkSession
    # Direct pins, not session.pinned: each round pins its successor
    # before releasing its input, a rolling handover no with-block nests.
    types = types.persist()
    try:
        merges = []
        for rank in range(1, num_merges + 1):
            best = (
                _pair_counts(types)
                .orderBy(F.desc("freq"), F.asc("left"), F.asc("right"))
                .limit(1)
                .collect()
            )
            if not best or best[0]["freq"] < min_pair_count:
                break
            l, r, freq = best[0]["left"], best[0]["right"], int(best[0]["freq"])
            merges.append((rank, l, r, l + r, freq))
            nxt = _apply_merge(types, l, r).persist()
            types.unpersist()
            types = nxt
    finally:
        types.unpersist()
    return spark.createDataFrame(merges, _MERGES_SCHEMA)

"""Corpus-preparation operators for LLM training data: chunking,
sequence packing, deterministic stratified sampling, benchmark
contamination screening, PII redaction.

These extend the reference's surface (it has no corpus layer; SURVEY.md
§2's training-data addendum) with the operations a 100 TB text pipeline
runs between raw ingest and tokenization.  Every operator is pure
Column arithmetic — zero Python in the row path — and every one has a
DuckDB-expressible twin so the cross-engine oracle gate covers them.

Scale notes per operator are in each docstring; the common theme: the
only shuffle anywhere is (a) packing's per-group window and (b) the
contamination join on hashed shingles — chunking, sampling, and
redaction are narrow (pipelined, no exchange), so they compose with
scans and filters for free.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sf_datalake_spark.functions.text import tokenize, word_shingles
from sf_datalake_spark.operators.split import hash_bucket
from sf_datalake_spark.session import pinned


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
    keep: list[str] | None = None,
) -> DataFrame:
    """Split documents into overlapping fixed-size token windows —
    (id, chunk_index, chunk_text, n_tokens), the standard pre-embedding
    / pre-tokenization chunking pass.

    Chunk ``i`` covers tokens ``[i·stride, i·stride + chunk_tokens)``
    with ``stride = chunk_tokens − overlap``; the last chunk is short
    rather than padded; empty documents yield no rows.  All JVM: one
    tokenize, one ``sequence``+``explode`` (row explosion inside the
    scan stage, no shuffle), slices + ``concat_ws`` — whole-stage
    codegen end to end, linear in output tokens.  At 100 TB this is
    the shape you want: chunking parallelism equals scan parallelism
    and Catalyst pushes any post-chunk filter into the same stage.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}")
    stride = chunk_tokens - overlap
    toks = tokenize(text_col)
    n = F.size(toks)
    # ceil((n - chunk)/stride) + 1 for n > chunk, else 1 (integer form)
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        (n - F.lit(chunk_tokens) + F.lit(2 * stride - 1)).cast("bigint") / F.lit(stride)
    ).cast("bigint")
    out = (
        df.filter(n > 0)
        .select(
            *(keep or []),
            F.col(id_col),
            toks.alias("__toks"),
            F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias(
                "chunk_index"
            ),
        )
    )
    piece = F.slice(
        F.col("__toks"), (F.col("chunk_index") * stride + 1).cast("int"), chunk_tokens
    )
    return out.select(
        *(keep or []),
        id_col,
        F.col("chunk_index").cast("int").alias("chunk_index"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).alias("n_tokens"),
    )


def pack_sequences(
    df: DataFrame,
    weight_col: str,
    budget: int,
    partition_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign documents to fixed-budget bins for training-sequence
    packing: contiguous streaming packing in deterministic ``id_col``
    order — bin = ⌊exclusive-cumsum(weight) / budget⌋, offset =
    exclusive-cumsum mod budget.

    This is the STREAMING approximation of bin packing (a document may
    straddle its bin's boundary by less than its own length — the
    consumer truncates or spills to the next sequence), chosen because
    it is a single window expression: exact first-fit-decreasing is
    inherently sequential and cannot scale past one core.

    Scale: the window partitions by ``partition_col`` (shard/source) so
    packing parallelizes across groups — one hash exchange total.  A
    ``partition_col=None`` call packs GLOBALLY through a single
    partition: correct, but a driver-style bottleneck — only for small
    curated sets (the docstring is the warning; the operator refuses
    nothing).
    """
    part = [partition_col] if partition_col else []
    w = Window.partitionBy(*part).orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum_excl = F.coalesce(F.sum(weight_col).over(w), F.lit(0)).cast("bigint")
    return df.select(
        *part,
        id_col,
        F.col(weight_col).alias("weight"),
        F.floor(cum_excl / budget).cast("bigint").alias("bin_id"),
        (cum_excl % budget).alias("bin_offset"),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    key_col: str,
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its key's
    md5 bucket (basis points, :func:`operators.split.hash_bucket`)
    falls below its stratum's fraction — the corpus-mixing primitive
    (e.g. keep 100% of curated sources, 10% of web crawl).

    Unlike ``df.sampleBy`` (seeded RNG, resample on every retry, not
    reproducible across engines) this is a PURE FILTER: zero shuffle,
    composes with pushdown, bit-reproducible anywhere md5 exists —
    which is what makes it oracle-checkable and re-runnable on 100 TB
    without a materialized sample table.
    """
    bucket = hash_bucket(key_col, 10_000, salt)
    expr: Column = F.lit(int(round(default_fraction * 10_000)))
    for stratum, frac in fractions.items():
        expr = F.when(
            F.col(strata_col) == stratum, F.lit(int(round(frac * 10_000)))
        ).otherwise(expr)
    return df.filter(bucket < expr)


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_common: int = 1,
) -> DataFrame:
    """Benchmark-contamination screen: which corpus documents share ≥
    ``min_common`` distinct word n-grams with ANY benchmark document
    (the standard train/test decontamination pass before LLM training).

    Returns (id, n_common, n_shingles, contamination) where
    ``contamination = n_common / n_shingles`` is the fraction of the
    document's shingle set that appears anywhere in the benchmark.

    Plan: both sides shingle → hash to a 60-bit key → distinct;
    benchmark shingles collapse to ONE small distinct set joined on the
    hashed key (never text), then one groupBy(doc).  Corpus side
    shuffles (sh, id) pairs only; the benchmark side is tiny by
    construction (benchmarks are KBs against a 100 TB corpus) so AQE
    broadcasts it.  No all-pairs anything.
    """
    def sh(d: DataFrame) -> DataFrame:
        return (
            d.select(
                F.col(id_col),
                F.explode(word_shingles(text_col, shingle_n)).alias("__s"),
            )
            .select(
                id_col,
                F.conv(F.substring(F.md5("__s"), 1, 15), 16, 10)
                .cast("bigint")
                .alias("sh"),
            )
            .distinct()
        )

    corpus_sh = sh(corpus)
    bench_sh = sh(benchmark).select("sh").distinct()
    sizes = corpus_sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    common = (
        corpus_sh.join(bench_sh, "sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_common"))
    )
    return (
        sizes.join(common, id_col)
        .filter(F.col("n_common") >= min_common)
        .select(
            id_col,
            "n_common",
            "n_shingles",
            F.round(F.col("n_common") / F.col("n_shingles"), 6).alias("contamination"),
        )
    )


def gopher_quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_dup_token_frac: float = 0.5,
    min_stopword_hits: int = 2,
    stopwords: list[str] | None = None,
) -> DataFrame:
    """The Gopher rule battery (Rae et al. 2021 §A1.1) as a ZERO-SHUFFLE
    quality gate: every rule is a higher-order-function expression over
    the token array, so the whole battery runs inside the scan stage
    and composes with parquet pushdown — the cheapest possible first
    pass before any shuffling filter (repetition n-grams, dedup).

    Output: (id, n_tokens, mean_word_len, dup_token_frac,
    stopword_hits, r_token_count, r_word_len, r_dup_tokens,
    r_stopwords, keep) — one 0/1 column per rule so downstream can
    report WHY documents were dropped, plus the conjunction ``keep``.
    """
    stopwords = stopwords or ["the", "a", "and", "of", "to", "in", "is"]
    toks = tokenize(text_col)
    n = F.size("__t")
    sum_len = F.aggregate(
        F.transform(F.col("__t"), F.length),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    base = df.select(F.col(id_col), toks.alias("__t")).filter(n > 0).select(
        id_col,
        n.cast("int").alias("n_tokens"),
        F.round(sum_len / n, 6).alias("mean_word_len"),
        F.round(F.lit(1.0) - F.size(F.array_distinct("__t")) / n, 6).alias(
            "dup_token_frac"
        ),
        F.size(
            F.filter(F.col("__t"), lambda t: F.lower(t).isin(stopwords))
        ).cast("int").alias("stopword_hits"),
    )
    rules = {
        "r_token_count": F.col("n_tokens").between(min_tokens, max_tokens),
        "r_word_len": F.col("mean_word_len").between(
            min_mean_word_len, max_mean_word_len
        ),
        "r_dup_tokens": F.col("dup_token_frac") <= max_dup_token_frac,
        "r_stopwords": F.col("stopword_hits") >= min_stopword_hits,
    }
    out = base
    for name, cond in rules.items():
        out = out.withColumn(name, cond.cast("int"))
    keep = F.lit(True)
    for name in rules:
        keep = keep & (F.col(name) == 1)
    return out.withColumn("keep", keep.cast("int"))


def quality_prune(
    df: DataFrame,
    score_col: str,
    keep_fraction: float,
    id_col: str = "doc_id",
    by: str | None = None,
) -> DataFrame:
    """Keep the top ``keep_fraction`` of rows by ``score_col`` within
    each ``by`` group (or globally) — relative pruning, the curation
    step after scoring: "keep the best 30% of each source" survives
    distribution shift between sources where an absolute threshold
    does not.

    Deterministic: rank is ``row_number`` over (score desc, id), the
    cut is ``ceil(keep_fraction · group_size)`` so a non-empty group
    always keeps ≥ 1 row.  One window exchange on the group key; the
    global form (``by=None``) is a single-partition window — documented
    small-set-only, like global ``pack_sequences``.
    """
    if not 0 < keep_fraction <= 1:
        raise ValueError(f"keep_fraction must be in (0, 1], got {keep_fraction}")
    part = [by] if by else []
    w = Window.partitionBy(*part).orderBy(F.desc(score_col), id_col)
    wc = Window.partitionBy(*part)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count("*").over(wc))
        .filter(F.col("__rn") <= F.ceil(F.col("__n") * keep_fraction))
        .drop("__rn", "__n")
    )


def hashed_linear_score(
    df: DataFrame,
    text_col: str,
    weights: dict[int, float] | None = None,
    n_buckets: int = 1 << 18,
    bias: float = 0.0,
    bucket_weight: "Callable[[Column], Column] | None" = None,
    out_col: str = "model_score",
    id_weight_scale: float = 1.0,
) -> DataFrame:
    """Learned-model quality scoring, fasttext-style, ZERO-shuffle: each
    token is feature-hashed to a bucket, bucket weights are summed over
    the document, and the sigmoid of (bias + sum) is the score — the
    standard hashed linear/fasttext text classifier, evaluated entirely
    as scan-stage JVM expressions (``F.aggregate`` over the token
    array; no explode, no groupBy, no Python).

    The model rides along as either a ``weights`` dict (bucket → weight
    — a trained model's nonzero buckets, embedded as a map literal;
    fine up to ~10⁵ entries, the closure-size bound any broadcast
    scorer has) or a ``bucket_weight`` expression (a Column function of
    the bucket id — closed-form weights, e.g. for cross-engine
    oracles).  Buckets are md5-derived (first 8 hex chars → bigint mod
    ``n_buckets``), deterministic across engines/partitionings like
    every hash family in this engine.

    At 100 TB this is the cheapest possible model inference: the score
    is computed inside the same whole-stage-codegen span as the scan,
    so "score the corpus and prune" is one pass with predicate
    pushdown intact.  For wide models (embedding classifiers), switch
    to the Arrow path (:mod:`operators.similarity`); this operator is
    for the hashed-n-gram regime where fasttext lives.
    """
    if weights is None and bucket_weight is None:
        raise ValueError("pass weights= or bucket_weight=")
    mapping = (
        F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
        if weights is not None
        else None
    )

    def _fold(acc, t):
        b = (
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
            % F.lit(n_buckets)
        )
        if bucket_weight is not None:
            # closed-form weights: integer-valued columns sum exactly in
            # any order (cross-engine oracle safe); scale applied once
            # below keeps the fold in the exact-integer regime
            return acc + bucket_weight(b)
        return acc + F.coalesce(mapping[b], F.lit(0.0))

    s = (
        F.aggregate(tokenize(text_col), F.lit(0.0).cast("double"), _fold)
        * F.lit(id_weight_scale)
        + F.lit(bias)
    )
    return df.withColumn(out_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-s)))


def shuffle_key(
    col: Column | str, salt: str = "", epoch: int = 0
) -> Column:
    """Deterministic 60-bit shuffle key: md5 of ``salt:epoch:key``.

    Ordering a corpus by this key IS the training-data shuffle — bit
    reproducible across engines and re-runs (unlike ``F.rand``), and a
    new ``epoch`` value re-derives an independent permutation without
    materializing anything.  Sorting by it is a Spark range exchange
    (sampled range partitioning), the scalable global sort.
    """
    c = F.col(col) if isinstance(col, str) else col
    key = F.concat(
        F.lit(f"{salt}:{epoch}:"), F.coalesce(c.cast("string"), F.lit("__null__"))
    )
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")


def training_order(
    df: DataFrame,
    key_col: str,
    epoch: int = 0,
    source_col: str | None = None,
    weights: Mapping[str, float] | None = None,
    default_weight: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """One training epoch's view of the corpus: per-source subsampling
    at ``weights`` (epoch-salted, so each epoch sees an independent
    draw of the downweighted sources) plus a deterministic shuffle key.

    This is the corpus-mixing schedule of large LLM runs (e.g. weight
    curated sources at 1.0 and keep web crawl under-sampled per epoch)
    expressed as a PURE FILTER + key derivation: no shuffle at all
    until the consumer sorts by ``shuffle_key`` — and that sort is a
    range exchange, the one unavoidable cost of a global order.  Epoch
    reproducibility needs no stored state: the (salt, epoch) pair fully
    determines membership and order.
    """
    out = df
    if weights:
        if source_col is None:
            raise ValueError("weights given but source_col is None")
        out = stratified_sample(
            out, source_col, weights, key_col=key_col,
            default_fraction=default_weight, salt=f"{salt}:{epoch}",
        )
    return out.withColumn("shuffle_key", shuffle_key(key_col, salt, epoch))


def mixture_schedule(
    df: DataFrame,
    source_col: str,
    key_col: str,
    weights: Mapping[str, float],
    default_weight: float = 1.0,
) -> DataFrame:
    """Deterministic proportional INTERLEAVE of sources — the mixing
    schedule that feeds a trainer a steady per-batch domain ratio
    instead of long single-source runs (which
    :func:`training_order`'s pure random shuffle only achieves in
    expectation).

    Every document gets ``mix_position = mix_rank / weight(source)``
    where ``mix_rank`` is its deterministic (md5-keyed) rank within its
    source; streaming the corpus in ``mix_position`` order serves
    sources at exactly their weight ratios at every prefix (the classic
    weighted-fair-queueing virtual-finish-time schedule, applied to
    corpus mixing).  A source with weight 2 appears twice as often as a
    weight-1 source at every point in the stream, and within each
    source the order is a reproducible shuffle.

    Cost: one window exchange on ``source_col`` (rank within source);
    the consumer's sort by ``mix_position`` is the same range exchange
    any global training order pays.  All arithmetic is engine-portable
    (md5 rank key, one double division) — the oracle replays it
    exactly.
    """
    rank_key = shuffle_key(key_col, salt="mix", epoch=0)
    w = Window.partitionBy(source_col).orderBy(rank_key, key_col)
    weight_expr = F.lit(float(default_weight))
    for s, wt in weights.items():
        if wt <= 0:
            raise ValueError(f"weight for {s!r} must be > 0, got {wt}")
        weight_expr = F.when(
            F.col(source_col) == s, F.lit(float(wt))
        ).otherwise(weight_expr)
    return df.withColumn(
        "mix_position",
        F.row_number().over(w).cast("double") / weight_expr,
    )


def exact_k_sample(
    df: DataFrame, k: int, key_col: str, salt: str = ""
) -> DataFrame:
    """Exactly-k uniform sample: the k smallest ``shuffle_key`` values.

    ``df.sample(fraction)`` returns a BINOMIAL row count and resamples
    per retry; this is exact, deterministic, and engine-portable.  The
    plan is orderBy+limit, which Spark executes as TakeOrderedAndProject
    — each partition keeps its local top-k and only k·n_partitions rows
    reach the driver-side merge, so it scales to any corpus for the
    k ≪ corpus sizes a sample means.  Ties are impossible at distinct
    keys (the key includes ``key_col``); duplicate ``key_col`` values
    share a hash and are disambiguated by the secondary sort on the raw
    key, keeping the result set deterministic.
    """
    return (
        df.withColumn("__sk", shuffle_key(key_col, salt))
        .orderBy("__sk", key_col)
        .limit(k)
        .drop("__sk")
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Exactly-k sample with probability proportional to ``weight_col``
    — Efraimidis–Spirakis (2006) weighted reservoir sampling, made
    deterministic: each row's exponential race key is ``−ln(u)/w`` with
    ``u`` derived from the md5 of the row key instead of an RNG, and
    the k smallest keys win.

    Same plan shape as :func:`exact_k_sample` (TakeOrderedAndProject,
    per-partition local top-k — never a global sort), same
    reproducibility story (no RNG state, bit-stable across engines).
    The race key is rounded at 9 decimals before ranking with a
    ``key_col`` tie-break, so cross-engine ``ln`` ULP drift cannot flip
    the selection boundary.  Rows with non-positive or null weight
    never win (they get an infinite race key), matching the w=0
    semantics of the paper.
    """
    u = (shuffle_key(key_col, salt).cast("double") + 1.0) / float((1 << 60) + 1)
    w = F.col(weight_col).cast("double")
    race = F.when(w > 0, F.round(-F.log(u) / w, 9))
    return (
        df.withColumn("__race", race)
        .filter(F.col("__race").isNotNull())
        .orderBy("__race", key_col)
        .limit(k)
        .drop("__race")
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 2,
) -> DataFrame:
    """Per-document repetition metrics in the style of the Gopher /
    MassiveText quality filters (Rae et al. 2021, §A1.1): documents
    dominated by repeated lines or n-grams are boilerplate / spam and
    get filtered before training.

    Returns (id, n_tokens, dup_token_frac, top_ngram_frac,
    dup_ngram_char_frac):

    - ``dup_token_frac``   = 1 − distinct_tokens / n_tokens (pure
      higher-order-function arithmetic, computed inside the scan stage);
    - ``top_ngram_frac``   = count of the modal word n-gram / total
      n-grams (count-based, so ties in the modal gram cannot make the
      metric nondeterministic);
    - ``dup_ngram_char_frac`` = Σ count·len(gram) over grams with
      count > 1, divided by the normalized text length.  Overlapping
      grams can push this past 1.0 on degenerate documents — it is a
      filter signal, not a probability; threshold accordingly.

    Plan: one explode + one groupBy(id, gram) with map-side combine +
    one groupBy(id) — keys are (doc, gram) pairs so cardinality grows
    with corpus size, never quadratically; per-doc skew is bounded by
    document length.  The token-level stats ride along on the base scan
    and join back on ``id`` (AQE broadcasts the small aggregated side
    at test scale; at 100 TB both sides hash-partition on ``id``).
    """
    if ngram_n < 1:
        raise ValueError(f"ngram_n must be >= 1, got {ngram_n}")
    from sf_datalake_spark.operators.skew import spread_narrow_scan

    toks = tokenize(text_col)
    base = (
        # tokenize + array_distinct + per-gram concat all run in the
        # scan stage; spread a narrow single-file scan across the
        # cluster first (no-op at real scale — measured −14% at sf0.1)
        spread_narrow_scan(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), toks.alias("__t"))
        .filter(F.size("__t") >= ngram_n)
        .select(
            id_col,
            F.size("__t").cast("int").alias("n_tokens"),
            F.round(
                F.lit(1.0) - F.size(F.array_distinct("__t")) / F.size("__t"), 6
            ).alias("dup_token_frac"),
            F.length(F.concat_ws(" ", "__t")).cast("bigint").alias("__norm_len"),
            F.col("__t"),
        )
    )
    grams = base.select(
        id_col,
        "n_tokens",
        "dup_token_frac",
        "__norm_len",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__t") - (ngram_n - 1)),
                lambda i: F.concat_ws(" ", F.slice("__t", i, ngram_n)),
            )
        ).alias("__g"),
    )
    counts = grams.groupBy(id_col, "n_tokens", "dup_token_frac", "__norm_len",
                           "__g").agg(F.count("*").alias("__c"))
    return counts.groupBy(id_col, "n_tokens", "dup_token_frac").agg(
        F.round(F.max("__c") / F.sum("__c"), 6).alias("top_ngram_frac"),
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("__c") > 1, F.col("__c") * F.length("__g"))),
                F.lit(0),
            )
            / F.first("__norm_len"),
            6,
        ).alias("dup_ngram_char_frac"),
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_tokens: int = 3,
    min_docs: int = 3,
) -> DataFrame:
    """Corpus-level boilerplate removal in the style of C4 (Raffel et
    al. 2020, §2.2): drop every "line" that occurs in at least
    ``min_docs`` DISTINCT documents (navigation chrome, cookie notices,
    license footers), then reassemble each document from its surviving
    lines in order.

    The synthetic corpus has no newlines, so a "line" here is a
    non-overlapping window of ``line_tokens`` tokens (the ragged tail
    window included) — swap the line splitter for ``split(text, '\\n')``
    on real text; the plan shape is identical.

    Returns (id, n_lines, n_kept, clean_text); documents whose every
    line was boilerplate keep a row with ``n_kept = 0`` and an empty
    ``clean_text``.

    Plan, 100 TB shape: lines explode inside the scan stage; the
    document-frequency count groups by a 60-bit md5 line key (text
    never shuffles into the count), the boilerplate set — tiny by
    definition, lines repeated across ≥ ``min_docs`` docs — broadcasts
    back as a left-anti join, and one final groupBy(id) restores
    per-document order via sort_array over (index, line) structs.  Net:
    two shuffles of (key, count) pairs plus one of the surviving lines.
    """
    if line_tokens < 1:
        raise ValueError(f"line_tokens must be >= 1, got {line_tokens}")
    toks = tokenize(text_col)
    lines = (
        df.select(F.col(id_col), toks.alias("__t"))
        .filter(F.size("__t") > 0)
        .select(
            id_col,
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("__t") / F.lit(line_tokens)).cast("int") - 1,
                )
            ).alias("line_index"),
            F.col("__t"),
        )
        .select(
            id_col,
            "line_index",
            F.concat_ws(
                " ", F.slice("__t", F.col("line_index") * line_tokens + 1, line_tokens)
            ).alias("__line"),
        )
        .withColumn(
            "__lh",
            F.conv(F.substring(F.md5("__line"), 1, 15), 16, 10).cast("bigint"),
        )
    )
    boiler = (
        lines.groupBy("__lh")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__lh")
    )
    kept = lines.join(F.broadcast(boiler), "__lh", "left_anti")
    n_lines = lines.groupBy(id_col).agg(F.count("*").cast("int").alias("n_lines"))
    reassembled = kept.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("line_index", "__line"))),
                lambda s: s["__line"],
            ),
        ).alias("clean_text"),
    )
    return (
        n_lines.join(reassembled, id_col, "left")
        .select(
            id_col,
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


#: Email / simple phone patterns shared verbatim by Java regex (Spark)
#: and RE2 (DuckDB) — no lookarounds, no shorthand classes that diverge.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\b555-[0-9]{4}\b"


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    output_col: str = "redacted",
) -> DataFrame:
    """Redact e-mail addresses and (toy-pattern) phone numbers from a
    text column, counting both — the minimal PII-scrub pass every
    training corpus gets.  Pure ``regexp_replace``/``regexp_count``
    Column expressions: narrow, codegen'd, zero shuffle; patterns are
    the lookaround-free subset shared by Java regex and RE2 so the
    DuckDB oracle replays them bit-for-bit.  Swap/extend the pattern
    list for production (SSNs, credit cards, addresses) — the plan
    shape does not change.
    """
    c = F.col(text_col)
    return (
        df.withColumn("n_emails", F.regexp_count(c, F.lit(EMAIL_PATTERN)))
        .withColumn("n_phones", F.regexp_count(c, F.lit(PHONE_PATTERN)))
        .withColumn(
            output_col,
            F.regexp_replace(
                F.regexp_replace(c, EMAIL_PATTERN, "<EMAIL>"),
                PHONE_PATTERN,
                "<PHONE>",
            ),
        )
    )


def greedy_coverage_select(
    tokens: DataFrame,
    k: int,
    id_col: str = "doc_id",
    token_col: str = "tok",
) -> DataFrame:
    """Greedy maximum-coverage selection of ``k`` documents: each round
    picks the document adding the most NOT-YET-COVERED tokens (ties to
    the smallest id) — the classic (1−1/e)-approximate submodular
    data-selection primitive (diverse corpus subsetting, benchmark
    seed picking).

    ``tokens`` is the (id, token) incidence — pre-DISTINCT it if raw.
    Returns one row per pick: ``(rank, doc_id, new_tokens,
    cumulative_coverage)``; stops early when no document adds anything.

    Execution: k rounds; each round is one anti-join against the
    covered-token set + one count aggregation + a 1-ROW argmax collect
    (count desc, id asc). The per-round driver traffic is one scalar —
    the selection is inherently sequential (each pick conditions on
    all previous), the scoring is fully distributed.  The covered set
    is DERIVED from the cached incidence each round (tokens of the
    taken ids, ``filter(isin)``): a left-anti probe ignores duplicate
    build rows, so no union/distinct materialization and no per-round
    localCheckpoint job — the lineage stays two ops deep off the
    persisted frame no matter how many rounds run (r10, guide §2.4).

    At 100 TB: scoring shuffles (id, token) once per round — same as
    any distinct-count; with k in the tens this is k scans of a
    2-column frame. For large k switch to the streaming sieve
    algorithms; this operator is the exact greedy the sieve
    approximates.
    """
    picks = []
    taken: list = []
    with pinned(tokens.select(
        F.col(id_col).alias("id"), F.col(token_col).alias("tok")
    ).distinct()) as toks:
        for rank in range(1, k + 1):
            cand = toks
            if taken:
                # covered tokens = tokens of the taken docs, read from
                # the SAME cached frame (duplicates are harmless to a
                # left-anti probe — no distinct needed)
                covered = toks.filter(F.col("id").isin(taken)).select("tok")
                cand = cand.filter(~F.col("id").isin(taken)).join(
                    covered, "tok", "left_anti"
                )
            scores = cand.groupBy("id").agg(F.count("*").alias("m"))
            top = scores.orderBy(
                F.col("m").desc(), F.col("id").asc()
            ).take(1)
            if not top or top[0]["m"] <= 0:
                break
            winner, marginal = top[0]["id"], top[0]["m"]
            taken.append(winner)
            picks.append((rank, winner, marginal))
        spark = tokens.sparkSession
        out = spark.createDataFrame(
            [
                (r, d, m, sum(p[2] for p in picks[:i + 1]))
                for i, (r, d, m) in enumerate(picks)
            ],
            f"rank int, doc_id {dict(toks.dtypes)['id']}, "
            "new_tokens bigint, cumulative_coverage bigint",
        )
        return out

"""Corpus-preparation queries (operators/corpus.py) with DuckDB oracles.

Each query drives one corpus operator on the synthetic ``documents``
table; the oracle replays the exact semantics in ANSI-ish DuckDB SQL —
including the md5 arithmetic for the deterministic sampler, so even the
"random" sampling is value-hash-comparable across engines.

Rounding/typing conventions follow ``queries.py``'s docstring: every
aggregate/derived column is aliased identically in both engines and
cast to a stable type (BIGINT counts, INT indexes, DOUBLE ratios
rounded at 6).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sf_datalake_spark.queries import _t
from sf_datalake_spark.queries_ext import _LSH_PAIRS_SQL

# Whitespace tokens, as the shingle oracle builds them (queries.py
# _SHINGLE_SQL): split on \s+, drop empties.
_TOKS_SQL = r"""
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
    FROM documents
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-token chunks with 16-token overlap over every document —
    1 doc → ceil-ish rows, all inside the scan stage (no shuffle)."""
    from sf_datalake_spark.operators.corpus import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=64, overlap=16)


# stride = 48; n_chunks = 1 for n <= 64 else (n - 64 + 95) // 48
_CHUNK_SQL = rf"""
    WITH toks AS ({_TOKS_SQL}),
    sized AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
    idx AS (
        SELECT doc_id, t, n,
               unnest(generate_series(0,
                   CASE WHEN n <= 64 THEN 0
                        ELSE (n - 64 + 95) // 48 - 1 END)) AS i
        FROM sized
    )
    SELECT doc_id, CAST(i AS INT) AS chunk_index,
           array_to_string(list_slice(t, i * 48 + 1, least(i * 48 + 64, n)), ' ')
               AS chunk_text,
           CAST(least(i * 48 + 64, n) - i * 48 AS INT) AS n_tokens
    FROM idx
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sequence packing of documents into 2000-char bins,
    parallel per source shard (one window exchange)."""
    from sf_datalake_spark.operators.corpus import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, "n_chars", budget=2000,
                          partition_col="source", id_col="doc_id")


_PACK_SQL = """
    WITH c AS (
        SELECT source, doc_id, n_chars,
               CAST(coalesce(sum(n_chars) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS ce
        FROM documents
    )
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS weight,
           CAST(ce // 2000 AS BIGINT) AS bin_id,
           CAST(ce % 2000 AS BIGINT) AS bin_offset
    FROM c
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixing: keep 100% of src0, 25% of src1,
    10% of everything else — a pure md5-bucket filter, zero shuffle,
    reproduced bit-for-bit by the oracle."""
    from sf_datalake_spark.operators.corpus import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, "source", {"src0": 1.0, "src1": 0.25},
        key_col="doc_id", default_fraction=0.10,
    )
    return out.select("doc_id", "source", "lang")


_STRATIFIED_SQL = """
    SELECT doc_id, source, lang
    FROM documents
    WHERE CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000
          AS INT)
          < CASE source WHEN 'src0' THEN 10000
                        WHEN 'src1' THEN 2500
                        ELSE 1000 END
"""


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination screen: non-src0 documents sharing any word
    3-gram with the src0 'benchmark' set, scored by overlap fraction
    (min_common=5 ≈ the p75 of the shared-vocab noise floor, so the
    screen actually discriminates on this corpus)."""
    from sf_datalake_spark.operators.corpus import contamination_check

    docs = _t(spark, sf_dir, "documents")
    return contamination_check(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        id_col="doc_id", text_col="text", shingle_n=3, min_common=5,
    )


_CONTAMINATION_SQL = r"""
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, source, sh FROM (
            SELECT doc_id, source,
                   unnest(CASE WHEN len(t) < 3 THEN []::varchar[]
                          ELSE list_transform(generate_series(1, len(t) - 2),
                               i -> concat_ws(' ', t[i], t[i+1], t[i+2])) END) AS sh
            FROM toks
        )
    ),
    bench AS (SELECT DISTINCT sh FROM sh WHERE source = 'src0'),
    corpus AS (SELECT doc_id, sh FROM sh WHERE source <> 'src0'),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY 1),
    common AS (
        SELECT doc_id, count(*) AS n_common
        FROM corpus JOIN bench USING (sh) GROUP BY 1
    )
    SELECT doc_id, CAST(n_common AS BIGINT) AS n_common,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           round(CAST(n_common AS DOUBLE) / n_shingles, 6) AS contamination
    FROM sizes JOIN common USING (doc_id)
    WHERE n_common >= 5
"""


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction parity: inject a deterministic e-mail + phone into
    each document (the synthetic corpus has none), redact, and compare
    counts plus the md5 of the redacted text across engines."""
    from sf_datalake_spark.operators.corpus import redact_pii

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )
    out = redact_pii(docs, "text", output_col="redacted")
    return out.select(
        "doc_id",
        F.col("n_emails").cast("int").alias("n_emails"),
        F.col("n_phones").cast("int").alias("n_phones"),
        F.md5("redacted").alias("redacted_md5"),
    )


_REDACT_SQL = r"""
    WITH injected AS (
        SELECT doc_id,
               text || ' contact user' || doc_id::VARCHAR
                    || '@example.com or call 555-'
                    || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
               AS n_emails,
           CAST(len(regexp_extract_all(text, '\b555-[0-9]{4}\b')) AS INT)
               AS n_phones,
           md5(regexp_replace(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                   '\b555-[0-9]{4}\b', '<PHONE>', 'g')) AS redacted_md5
    FROM injected
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document repetition metrics (duplicate-token
    fraction, modal-bigram fraction, duplicated-bigram char fraction) —
    one explode + two grouped aggregations, nothing quadratic."""
    from sf_datalake_spark.operators.corpus import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text", ngram_n=2)


_REPETITION_SQL = r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM documents
    ),
    base AS (
        SELECT doc_id, len(t) AS n_tokens,
               round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
                   AS dup_token_frac,
               length(array_to_string(t, ' ')) AS norm_len, t
        FROM toks WHERE len(t) >= 2
    ),
    grams AS (
        SELECT doc_id, n_tokens, dup_token_frac, norm_len,
               unnest(list_transform(generate_series(1, len(t) - 1),
                      i -> concat_ws(' ', t[i], t[i+1]))) AS g
        FROM base
    ),
    cnt AS (
        SELECT doc_id, n_tokens, dup_token_frac, norm_len, g, count(*) AS c
        FROM grams GROUP BY ALL
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, dup_token_frac,
           round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
               AS top_ngram_frac,
           round(CAST(coalesce(sum(CASE WHEN c > 1 THEN c * length(g) END), 0)
                 AS DOUBLE) / CAST(any_value(norm_len) AS DOUBLE), 6)
               AS dup_ngram_char_frac
    FROM cnt GROUP BY doc_id, n_tokens, dup_token_frac
"""


def q_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al. 2022 ExactSubstr detection, distributed: maximal
    cross-document verbatim runs of >= 8 tokens per document (union of
    overlapping duplicated windows — a shared L-token run reports as
    ONE span of L tokens). Window hashes shuffle as (md5, doc, pos) —
    never text; span merge is one gaps-and-islands window per doc."""
    from sf_datalake_spark.operators.substrings import duplicated_span_stats

    docs = _t(spark, sf_dir, "documents")
    return duplicated_span_stats(docs, "doc_id", "text", window=8, min_docs=2)


_SUBSTR_W = 8

_SUBSTRING_SPANS_SQL = rf"""
    WITH toks AS ({_TOKS_SQL}),
    g AS (SELECT doc_id, unnest(generate_series(1, len(t) - {_SUBSTR_W - 1}))
              AS pos, t
          FROM toks WHERE len(t) >= {_SUBSTR_W}),
    hh AS (SELECT doc_id, pos,
               md5(array_to_string(list_slice(t, pos, pos + {_SUBSTR_W - 1}),
                                   ' ')) AS h
           FROM g),
    shared AS (SELECT h FROM hh GROUP BY h
               HAVING count(DISTINCT doc_id) >= 2),
    dup AS (SELECT doc_id, pos, pos + {_SUBSTR_W - 1} AS e
            FROM hh JOIN shared USING (h)),
    w AS (SELECT doc_id, pos, e,
            max(e) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS pmax
          FROM dup),
    isl AS (SELECT doc_id, pos, e,
            sum(CASE WHEN pmax IS NULL OR pos > pmax + 1 THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM w),
    spans AS (SELECT doc_id, island, min(pos) AS s, max(e) AS e
              FROM isl GROUP BY doc_id, island),
    sized AS (SELECT doc_id, len(t) AS n FROM toks)
    SELECT spans.doc_id, CAST(any_value(n) AS INT) AS n_tokens,
           CAST(count(*) AS INT) AS n_spans,
           CAST(sum(e - s + 1) AS INT) AS dup_tokens,
           CAST(max(e - s + 1) AS INT) AS max_span,
           round(CAST(sum(e - s + 1) AS DOUBLE) / any_value(n), 6) AS dup_frac
    FROM spans JOIN sized ON spans.doc_id = sized.doc_id
    GROUP BY spans.doc_id
"""


def q_exact_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal: every duplicated >= 8-token window keeps its
    smallest-(doc,pos) canonical occurrence; tokens covered only by
    non-canonical occurrences are dropped and each document is
    reassembled in order. Output is md5(clean_text) so the cross-engine
    hash certifies byte-identical reconstruction, not just counts."""
    from sf_datalake_spark.operators.substrings import remove_duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    cleaned = remove_duplicated_spans(docs, "doc_id", "text", window=8, min_docs=2)
    return cleaned.select(
        "doc_id",
        F.md5(F.col("clean_text")).alias("clean_md5"),
        F.col("n_kept").cast("int").alias("n_kept"),
    )


_SUBSTRING_REMOVAL_SQL = rf"""
    WITH toks AS ({_TOKS_SQL}),
    g AS (SELECT doc_id, unnest(generate_series(1, len(t) - {_SUBSTR_W - 1}))
              AS pos, t
          FROM toks WHERE len(t) >= {_SUBSTR_W}),
    hh AS (SELECT doc_id, pos,
               md5(array_to_string(list_slice(t, pos, pos + {_SUBSTR_W - 1}),
                                   ' ')) AS h
           FROM g),
    shared AS (SELECT h FROM hh GROUP BY h
               HAVING count(DISTINCT doc_id) >= 2),
    dup AS (SELECT hh.doc_id, hh.pos, hh.h FROM hh JOIN shared USING (h)),
    canon AS (SELECT doc_id, pos,
              row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
              FROM dup),
    expand AS (SELECT doc_id, unnest(generate_series(pos, pos + {_SUBSTR_W - 1}))
                   AS p
               FROM canon WHERE rk > 1),
    droppos AS (SELECT DISTINCT doc_id, p FROM expand),
    tokpos AS (SELECT doc_id, unnest(t) AS tok,
               unnest(generate_series(1, len(t))) AS p FROM toks),
    kept AS (SELECT tp.doc_id, tp.p, tp.tok FROM tokpos tp
             WHERE NOT EXISTS (SELECT 1 FROM droppos d
                               WHERE d.doc_id = tp.doc_id AND d.p = tp.p)),
    rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                count(*) AS n_kept FROM kept GROUP BY doc_id)
    SELECT d.doc_id, md5(coalesce(r.clean_text, '')) AS clean_md5,
           CAST(coalesce(r.n_kept, 0) AS INT) AS n_kept
    FROM documents d LEFT JOIN rebuilt r USING (doc_id)
"""


def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter admission gate for incremental dedup: docs 0-449
    are the stored corpus (md5 fingerprints -> 2048-bit / 3-hash Bloom
    sketch, deliberately small so false positives occur and the
    cross-engine hash certifies the exact FP set); docs 350+ are the incoming
    batch (the 350-449 overlap exercises the true-member path). Output per batch doc: the Bloom verdict, the exact
    membership, and the false-positive flag — with zero false
    negatives by construction (the oracle would catch one)."""
    from sf_datalake_spark.operators.bloom import bloom_prefilter

    docs = _t(spark, sf_dir, "documents")
    fp = docs.select("doc_id", F.md5("text").alias("fp"))
    corpus = fp.filter(F.col("doc_id") < 450).select("fp")
    batch = fp.filter(F.col("doc_id") >= 350)
    out = bloom_prefilter(batch, corpus, "fp", m_bits=2048, num_hashes=3)
    return out.select(
        "doc_id",
        F.col("maybe_member").cast("int").alias("maybe_member"),
        F.col("is_member").cast("int").alias("is_member"),
        (F.col("maybe_member") & ~F.col("is_member"))
        .cast("int")
        .alias("false_positive"),
    )


def _bloom_pos_sql(expr: str, j: int, m: int) -> str:
    return (
        f"CAST(('0x' || substr(md5({expr} || ';bloom{j}'), 1, 15)) AS BIGINT)"
        f" % {m}"
    )


_BLOOM_SQL = rf"""
    WITH corpus AS (
        SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id < 450
    ),
    batch AS (
        SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id >= 350
    ),
    build_pos AS (
        SELECT {_bloom_pos_sql('fp', 0, 2048)} AS pos FROM corpus
        UNION ALL
        SELECT {_bloom_pos_sql('fp', 1, 2048)} FROM corpus
        UNION ALL
        SELECT {_bloom_pos_sql('fp', 2, 2048)} FROM corpus
    ),
    build AS (
        SELECT CAST(pos // 32 AS INT) AS word_idx,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS word
        FROM build_pos GROUP BY 1
    ),
    probe AS (
        SELECT doc_id, {_bloom_pos_sql('fp', 0, 2048)} AS pos FROM batch
        UNION ALL
        SELECT doc_id, {_bloom_pos_sql('fp', 1, 2048)} FROM batch
        UNION ALL
        SELECT doc_id, {_bloom_pos_sql('fp', 2, 2048)} FROM batch
    ),
    hit AS (
        SELECT p.doc_id,
               CASE WHEN (coalesce(b.word, 0)
                          & (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INT)))
                    <> 0 THEN 1 ELSE 0 END AS s
        FROM probe p LEFT JOIN build b ON CAST(p.pos // 32 AS INT) = b.word_idx
    ),
    verdict AS (
        SELECT doc_id, CAST(sum(s) AS BIGINT) = 3 AS maybe FROM hit
        GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(v.maybe AS INT) AS maybe_member,
           CAST(EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp) AS INT)
               AS is_member,
           CAST(v.maybe AND NOT EXISTS
                (SELECT 1 FROM corpus c WHERE c.fp = b.fp) AS INT)
               AS false_positive
    FROM batch b JOIN verdict v USING (doc_id)
"""


def q_incremental_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental winnowing screen: docs 250+ (the incoming batch,
    fingerprinted fresh) against the STORED fingerprint index of docs
    0-249 — per-batch cost ∝ batch; the corpus is touched only through
    its persisted index. Fingerprints are per-document, so the oracle
    computes the full-index SQL once and joins the two halves."""
    from sf_datalake_spark.operators.winnow import (
        winnow_fingerprints,
        winnow_pairs_against,
    )

    docs = _t(spark, sf_dir, "documents")
    stored_idx = winnow_fingerprints(
        docs.filter(F.col("doc_id") < 250), "doc_id", "text", k=5, w=4
    )
    batch = docs.filter(F.col("doc_id") >= 250)
    return winnow_pairs_against(
        batch, stored_idx, "doc_id", "text", k=5, w=4, min_shared=2
    )


_INCR_WINNOW_SQL = rf"""
    WITH fp AS ({{winnow_fp}}),
    u AS (SELECT DISTINCT doc_id, h32 FROM fp)
    SELECT b.doc_id AS batch_id, s.doc_id AS stored_id,
           CAST(count(*) AS INT) AS n_shared
    FROM u b JOIN u s ON b.h32 = s.h32
    WHERE b.doc_id >= 250 AND s.doc_id < 250
    GROUP BY 1, 2
    HAVING count(*) >= 2
"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary induction (Sennrich et al. 2016):
    12 merge rounds over the word-TYPE table (corpus collapses to types
    after one groupBy; each round = one weighted pair-count aggregation
    + a 1-row argmax collect + a JVM left-fold merge). Deterministic
    tie-break (freq desc, pair asc) makes the merge table engine-exact.

    ORACLED since round 9 (r08 verdict #2): pair counts are exact
    integers and the argmax tie-break is total, so a DuckDB recursive
    CTE replays the merge sequence exactly — per round, the frontier
    state is re-counted, the argmax picked with the same (freq desc,
    pair asc) order, and the greedy left-fold merge applied as a
    boundary-wrapped string replace (leftmost non-overlapping — the
    same "x x x merges once at the left" semantics as the JVM
    aggregate fold; see _BPE_MERGES_SQL)."""
    from sf_datalake_spark.operators.bpe import train_bpe

    docs = _t(spark, sf_dir, "documents")
    return train_bpe(docs, "text", num_merges=12, min_pair_count=2)


#: DuckDB replay of train_bpe (12 merges, min_pair_count=2).  State per
#: word type is the symbol list encoded as a \x1f-wrapped string
#: ("\x1f a \x1f\x1f b \x1f" without the spaces): every symbol is
#: delimited on BOTH sides, so replacing "\x1f l \x1f\x1f r \x1f" with
#: "\x1f lr \x1f" is exactly the greedy left-to-right pair merge —
#: replace() is leftmost non-overlapping, which matches the training
#: fold's overlap rule.  \x1f never occurs in the documents corpus
#: (asserted in tests/test_corpus.py::
#: test_bpe_oracle_delimiter_absent_from_corpus) and can never be produced
#: by a merge.  The recursive term sees only the FRONTIER rows (DuckDB
#: working-table semantics), so the argmax subquery naturally scores
#: the current state; a best pair under min_pair_count freezes the
#: state, so later rounds repeat the same sub-threshold argmax and the
#: final extraction's freq >= 2 filter drops them — the same early
#: stop as the training loop's break.
_BPE_MERGES_SQL = r"""
    WITH RECURSIVE toks AS (
        SELECT w, count(*) AS cnt
        FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                                        x -> x <> '')) AS w
              FROM documents)
        GROUP BY 1
    ),
    st(it, state, cnt) AS (
        SELECT 0,
               chr(31) || array_to_string(string_split(w, ''),
                                          chr(31) || chr(31)) || chr(31),
               cnt
        FROM toks
        UNION ALL
        SELECT it + 1,
               CASE WHEN b.freq >= 2 THEN replace(state,
                        chr(31) || b.l || chr(31) || chr(31) || b.r || chr(31),
                        chr(31) || b.l || b.r || chr(31))
                    ELSE state END,
               cnt
        FROM st CROSS JOIN (
            SELECT l, r, freq FROM (
                SELECT l, r, freq,
                       row_number() OVER (ORDER BY freq DESC, l, r) AS rn
                FROM (
                    SELECT syms[i] AS l, syms[i + 1] AS r,
                           sum(cnt) AS freq
                    FROM (
                        SELECT syms, cnt,
                               unnest(generate_series(1, len(syms) - 1)) AS i
                        FROM (SELECT list_filter(string_split(state, chr(31)),
                                                 x -> x <> '') AS syms, cnt
                              FROM st)
                        WHERE len(syms) >= 2
                    )
                    GROUP BY 1, 2
                )
            ) WHERE rn = 1
        ) b(l, r, freq)
        WHERE st.it < 12
    ),
    rounds AS (
        SELECT it, syms[i] AS l, syms[i + 1] AS r, sum(cnt) AS freq
        FROM (
            SELECT it, syms, cnt,
                   unnest(generate_series(1, len(syms) - 1)) AS i
            FROM (SELECT it, cnt,
                         list_filter(string_split(state, chr(31)),
                                     x -> x <> '') AS syms
                  FROM st WHERE it < 12)
            WHERE len(syms) >= 2
        )
        GROUP BY 1, 2, 3
    ),
    best AS (
        SELECT it, l, r, freq,
               row_number() OVER (PARTITION BY it
                                  ORDER BY freq DESC, l, r) AS rn
        FROM rounds
    )
    SELECT CAST(it + 1 AS INT) AS rank, l AS "left", r AS "right",
           l || r AS merged, CAST(freq AS BIGINT) AS freq
    FROM best WHERE rn = 1 AND freq >= 2
"""


def q_lm_perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter: add-0.5-smoothed bigram model
    trained on the src0 reference slice, scoring EVERY document by
    average negative log2 probability (monotone in perplexity). Each
    bigram's -log2 P rounds to integer micro-units before summation —
    the exact-cents discipline — so both engines hash identically."""
    from sf_datalake_spark.operators.lm import score_documents, train_bigram_lm

    docs = _t(spark, sf_dir, "documents")
    bc, uc, v = train_bigram_lm(docs.filter(F.col("source") == "src0"), "text")
    return score_documents(docs, "doc_id", "text", bc, uc, v, k=0.5)


_LM_SCORE_SQL = r"""
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM documents
    ),
    refbi AS (
        SELECT t[i] AS v, t[i + 1] AS w
        FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
              FROM toks WHERE source = 'src0' AND len(t) >= 2)
    ),
    bc AS (SELECT v, w, count(*) AS c_vw FROM refbi GROUP BY 1, 2),
    uc AS (SELECT v, count(*) AS c_v FROM refbi GROUP BY 1),
    vsz AS (SELECT count(DISTINCT x) AS vsize
            FROM (SELECT unnest(t) AS x FROM toks WHERE source = 'src0')),
    docbi AS (
        SELECT doc_id, t[i] AS v, t[i + 1] AS w
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
              FROM toks WHERE len(t) >= 2)
    ),
    coll AS (
        SELECT doc_id,
               CASE WHEN v IN (SELECT v FROM uc) THEN v
                    ELSE '<unk>' END AS v,
               CASE WHEN w IN (SELECT v FROM uc) THEN w
                    ELSE '<unk>' END AS w
        FROM docbi
    ),
    sc AS (
        SELECT doc_id,
               CAST(round(-log2((coalesce(c_vw, 0) + 0.5)
                       / (coalesce(c_v, 0) + 0.5 * (vsize + 1))) * 1e6)
                    AS BIGINT) AS nll_mu
        FROM coll
        LEFT JOIN bc USING (v, w)
        LEFT JOIN uc USING (v)
        CROSS JOIN vsz
    )
    SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
           CAST(sum(nll_mu) AS BIGINT) AS nll_micro,
           round(sum(nll_mu) / count(*) / 1e6, 6) AS avg_nll
    FROM sc GROUP BY doc_id
"""


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing (Schleimer et al. 2003): min-hash-of-window
    fingerprint selection (rightmost on ties) over 5-gram hashes,
    window 4 — density-bounded ~2/(w+1) sparsification with the
    guaranteed-detection property for runs >= w+k-1 tokens. The
    (min-hash, rightmost) rule is one framed integer min both engines
    replay exactly."""
    from sf_datalake_spark.operators.winnow import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, "doc_id", "text", k=5, w=4)


_WINNOW_K = 5
_WINNOW_W = 4

_WINNOW_FP_SQL = rf"""
    WITH toks AS ({_TOKS_SQL}),
    g AS (SELECT doc_id, unnest(generate_series(1, len(t) - {_WINNOW_K - 1}))
              AS pos, t
          FROM toks WHERE len(t) >= {_WINNOW_K}),
    h AS (SELECT doc_id, pos,
              CAST(('0x' || substr(md5(array_to_string(
                  list_slice(t, pos, pos + {_WINNOW_K - 1}), ' ')), 1, 8))
                  AS BIGINT) AS h32
          FROM g),
    keyed AS (SELECT doc_id, pos,
                  h32 * 16777216 + (16777215 - pos) AS sel_key
              FROM h),
    win AS (SELECT doc_id, pos,
                min(sel_key) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN {_WINNOW_W - 1} PRECEDING AND CURRENT ROW)
                    AS win_min,
                count(*) OVER (PARTITION BY doc_id) AS n_grams
            FROM keyed),
    sel AS (SELECT DISTINCT doc_id, win_min FROM win
            WHERE pos >= least({_WINNOW_W}, n_grams))
    SELECT doc_id,
           CAST(16777215 - win_min % 16777216 AS INT) AS pos,
           CAST(win_min // 16777216 AS BIGINT) AS h32
    FROM sel
"""


def q_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-join near-dup screen: document pairs sharing >= 2
    winnowing fingerprints — candidate generation is an equi-join on
    the sparse fingerprint index (~2/(w+1) of the k-gram hashes), never
    all-pairs, and the winnowing guarantee admits every pair sharing a
    run of >= w+k-1 tokens."""
    from sf_datalake_spark.operators.winnow import winnow_overlap_pairs

    docs = _t(spark, sf_dir, "documents")
    return winnow_overlap_pairs(docs, "doc_id", "text", k=5, w=4, min_shared=2)


_WINNOW_PAIRS_SQL = rf"""
    WITH fp AS ({_WINNOW_FP_SQL}),
    u AS (SELECT DISTINCT doc_id, h32 FROM fp)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS INT) AS n_shared
    FROM u a JOIN u b ON a.h32 = b.h32 AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 2
"""


def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus boilerplate removal: drop 3-token 'lines' present
    in >= 3 distinct documents, reassemble the survivors in order;
    compared across engines by md5 of the cleaned text."""
    from sf_datalake_spark.operators.corpus import remove_boilerplate_lines

    docs = _t(spark, sf_dir, "documents")
    out = remove_boilerplate_lines(docs, "doc_id", "text",
                                   line_tokens=3, min_docs=3)
    return out.select(
        "doc_id", "n_lines", "n_kept", F.md5("clean_text").alias("clean_md5")
    )


_BOILERPLATE_SQL = r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM documents
    ),
    lines AS (
        SELECT doc_id, i AS line_index,
               array_to_string(
                   list_slice(t, i * 3 + 1, least(i * 3 + 3, len(t))), ' ')
                   AS line
        FROM toks, unnest(generate_series(0,
                 CAST(ceil(len(t) / 3.0) AS INT) - 1)) AS g(i)
        WHERE len(t) > 0
    ),
    hashed AS (
        SELECT doc_id, line_index, line,
               ('0x' || substr(md5(line), 1, 15))::BIGINT AS lh
        FROM lines
    ),
    boiler AS (
        SELECT lh FROM hashed GROUP BY lh
        HAVING count(DISTINCT doc_id) >= 3
    ),
    kept AS (
        SELECT h.* FROM hashed h ANTI JOIN boiler b ON h.lh = b.lh
    ),
    n_all AS (SELECT doc_id, count(*) AS n_lines FROM hashed GROUP BY 1),
    reass AS (
        SELECT doc_id, count(*) AS n_kept,
               string_agg(line, ' ' ORDER BY line_index) AS clean_text
        FROM kept GROUP BY 1
    )
    SELECT a.doc_id, CAST(a.n_lines AS INT) AS n_lines,
           CAST(coalesce(r.n_kept, 0) AS INT) AS n_kept,
           md5(coalesce(r.clean_text, '')) AS clean_md5
    FROM n_all a LEFT JOIN reass r ON a.doc_id = r.doc_id
"""


def q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-1 corpus mixture (100% src0, 50% src1, 20% rest) with the
    deterministic per-epoch shuffle key — membership and order fully
    determined by (salt, epoch), no RNG state anywhere."""
    from sf_datalake_spark.operators.corpus import training_order

    docs = _t(spark, sf_dir, "documents")
    out = training_order(
        docs, "doc_id", epoch=1, source_col="source",
        weights={"src0": 1.0, "src1": 0.5}, default_weight=0.2, salt="mix",
    )
    return out.select("doc_id", "source", "shuffle_key")


_TRAINING_ORDER_SQL = """
    SELECT doc_id, source,
           ('0x' || substr(md5('mix:1:' || doc_id::VARCHAR), 1, 15))::BIGINT
               AS shuffle_key
    FROM documents
    WHERE ('0x' || substr(md5(doc_id::VARCHAR || 'mix:1'), 1, 8))::BIGINT
          % 10000
          < CASE source WHEN 'src0' THEN 10000
                        WHEN 'src1' THEN 5000
                        ELSE 2000 END
"""


def q_mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-fair-queueing corpus interleave: src0 at weight 2,
    src1 at ½, everything else at 1 — streaming in ``mix_position``
    order serves sources at exactly those ratios at every prefix.
    Weights are powers of two so the position division is exact in
    both engines."""
    from sf_datalake_spark.operators.corpus import mixture_schedule

    docs = _t(spark, sf_dir, "documents")
    out = mixture_schedule(
        docs, "source", "doc_id", {"src0": 2.0, "src1": 0.5},
        default_weight=1.0,
    )
    return out.select("doc_id", "source", "mix_position")


_MIXTURE_SQL = """
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY ('0x' || substr(md5('mix:0:' || doc_id::VARCHAR),
                                            1, 15))::BIGINT, doc_id
               ) AS rn
        FROM documents
    )
    SELECT doc_id, source,
           CAST(rn AS DOUBLE)
               / CASE source WHEN 'src0' THEN 2.0
                             WHEN 'src1' THEN 0.5
                             ELSE 1.0 END AS mix_position
    FROM ranked
"""


def q_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-100-document uniform sample via the k smallest shuffle
    keys — executed as TakeOrderedAndProject (per-partition local
    top-k), never a global sort of the corpus."""
    from sf_datalake_spark.operators.corpus import exact_k_sample

    docs = _t(spark, sf_dir, "documents")
    return exact_k_sample(docs, 100, "doc_id", salt="s").select(
        "doc_id", "source", "lang"
    )


_EXACT_K_SQL = """
    SELECT doc_id, source, lang
    FROM documents
    ORDER BY ('0x' || substr(md5('s:0:' || doc_id::VARCHAR), 1, 15))::BIGINT,
             doc_id
    LIMIT 100
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-100 sample with probability ∝ n_chars — deterministic
    Efraimidis–Spirakis race keys from md5, TakeOrderedAndProject plan."""
    from sf_datalake_spark.operators.corpus import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(docs, 100, "n_chars", "doc_id", salt="ws").select(
        "doc_id", "source", "n_chars"
    )


_WEIGHTED_SAMPLE_SQL = """
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE n_chars > 0
    ORDER BY round(
        -ln((('0x' || substr(md5('ws:0:' || doc_id::VARCHAR), 1, 15))::BIGINT
             + 1.0) / 1152921504606846977.0)
        / CAST(n_chars AS DOUBLE), 9), doc_id
    LIMIT 100
"""


def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-safe train/test split: hash-split on the near-dup
    cluster label so duplicates never straddle the boundary — the
    dedup pipeline's labels feeding the ML layer's grouped split."""
    from sf_datalake_spark.operators.components import dedup_clusters
    from sf_datalake_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )
    from sf_datalake_spark.operators.split import split_by_cluster

    docs = _t(spark, sf_dir, "documents")
    sig = minhash_signature(docs, "doc_id", "text", num_hashes=8, shingle_n=3)
    pairs = lsh_candidate_pairs(
        sig, "doc_id", bands=4, rows_per_band=2, signature_length=8
    )
    labeled = dedup_clusters(docs, pairs, "doc_id").drop("is_canonical")
    return split_by_cluster(labeled, "cluster_id", 0.25, salt="cs")


_CLUSTER_SPLIT_SQL = rf"""
    WITH RECURSIVE pairs AS ({_LSH_PAIRS_SQL}),
    edges AS (
        SELECT id_1 AS src, id_2 AS dst FROM pairs
        UNION
        SELECT id_2, id_1 FROM pairs
    ),
    reach(id, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst
    ),
    comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
    labeled AS (
        SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, cluster_id,
           CAST(('0x' || substr(md5(cluster_id::VARCHAR || 'cs'), 1, 8))::BIGINT
                % 10000 < 2500 AS INT) AS is_test
    FROM labeled
"""


def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per document (bits) — the
    information-density quality filter."""
    from sf_datalake_spark.functions.text import text_entropy

    docs = _t(spark, sf_dir, "documents")
    return text_entropy(docs, "doc_id", "text", unit="token")


_ENTROPY_SQL = r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> '')) AS u
        FROM documents
    ),
    cnt AS (SELECT doc_id, u, count(*) AS c FROM toks GROUP BY 1, 2)
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_units,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(log2(CAST(sum(c) AS DOUBLE))
                 - sum(c * log2(CAST(c AS DOUBLE)))
                   / CAST(sum(c) AS DOUBLE), 6) AS entropy
    FROM cnt GROUP BY doc_id
"""


def q_model_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fasttext-style hashed-linear model inference as a ZERO-shuffle
    scan-stage expression (``hashed_linear_score``): tokens feature-hash
    to 2¹⁸ buckets, closed-form integer bucket weights sum per document
    (exact in any order — cross-engine safe), sigmoid → score.  The
    cheapest model-inference shape a 100 TB curation pass can run:
    score + prune in one codegen span with pushdown intact."""
    from sf_datalake_spark.operators.corpus import hashed_linear_score

    docs = _t(spark, sf_dir, "documents")
    scored = hashed_linear_score(
        docs,
        "text",
        bucket_weight=lambda b: (b % F.lit(997) - F.lit(498)).cast("double"),
        n_buckets=1 << 18,
        bias=0.0,
        id_weight_scale=1e-3,
    )
    return scored.select("doc_id", F.round("model_score", 6).alias("model_score"))


_MODEL_SCORE_SQL = r"""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        FROM documents
    ),
    scored AS (
        SELECT doc_id,
               CAST(coalesce(list_sum(list_transform(toks,
                   t -> (CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)
                         % 262144) % 997 - 498)), 0) AS BIGINT) AS raw
        FROM tok
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-(raw * 0.001))), 6) AS model_score
    FROM scored
"""


def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document compressibility — the Gopher-style quality signal
    (repetitive boilerplate compresses; binary junk doesn't).

    ORACLED since round 9 (r08 verdict #8): the registry entry measures
    compressibility as the DISTINCT-8-GRAM ratio — the LZ78 dictionary
    growth rate (each novel k-gram is a dictionary emission; repetitive
    text re-uses entries) — because it is exact integer arithmetic both
    engines replay, where DEFLATE is a codec only the Spark side can
    run.  Same conversion pattern as pagerank→pagerank_ppm: the zlib
    operator (``functions/text.compression_ratio``, level pinned,
    round-trip-tested) remains the production form for users who want
    actual DEFLATE sizes; docs shorter than 8 chars are skipped (the
    ratio is undefined), mirroring the zlib form's empty-doc skip."""
    from sf_datalake_spark.operators.skew import spread_narrow_scan

    # The per-row work (an interpreted HOF materializing ~|text| 8-gram
    # slices + array_distinct) is heavy per input byte, and the
    # documents file arrives as ONE scan partition — the whole stage
    # ran on a single core (census r10: 2 tasks total).  Spread it
    # (no-op at real scale — see spread_narrow_scan).  Guide §2.5/§2.6.
    docs = spread_narrow_scan(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    grams = F.expr(
        "transform(sequence(1, length(text) - 7), i -> substring(text, i, 8))"
    )
    return (
        docs.filter(F.length("text") >= 8)
        .select(
            "doc_id",
            (F.length("text") - 7).cast("bigint").alias("n_grams"),
            F.size(F.array_distinct(grams)).cast("bigint").alias("n_distinct"),
        )
        .select(
            "doc_id", "n_grams", "n_distinct",
            F.round(F.col("n_distinct") / F.col("n_grams"), 6).alias("ratio"),
        )
    )


_COMPRESSION_RATIO_SQL = """
    SELECT doc_id,
           CAST(length(text) - 7 AS BIGINT) AS n_grams,
           CAST(len(list_distinct(
               [substr(text, i, 8)
                FOR i IN generate_series(1, length(text) - 7)]
           )) AS BIGINT) AS n_distinct,
           round(CAST(len(list_distinct(
               [substr(text, i, 8)
                FOR i IN generate_series(1, length(text) - 7)]
           )) AS DOUBLE) / (length(text) - 7), 6) AS ratio
    FROM documents WHERE length(text) >= 8
"""


def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule battery as a zero-shuffle scan-stage gate: per-rule
    0/1 verdicts plus the conjunction — the first pass of corpus
    curation, before any shuffling filter runs."""
    from sf_datalake_spark.operators.corpus import gopher_quality_filter

    docs = _t(spark, sf_dir, "documents")
    return gopher_quality_filter(
        docs, "doc_id", "text",
        min_tokens=40, max_tokens=90,
        min_mean_word_len=3.0, max_mean_word_len=6.0,
        max_dup_token_frac=0.8, min_stopword_hits=1,
    )


_QUALITY_GATE_SQL = r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM documents
    ),
    base AS (
        SELECT doc_id, len(t) AS n_tokens,
               round(CAST(list_sum(list_transform(t, x -> length(x)))
                     AS DOUBLE) / len(t), 6) AS mean_word_len,
               round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
                   AS dup_token_frac,
               len(list_filter(t, x -> list_contains(
                   ['the', 'a', 'and', 'of', 'to', 'in', 'is'], lower(x))))
                   AS stopword_hits
        FROM toks WHERE len(t) > 0
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, mean_word_len,
           dup_token_frac, CAST(stopword_hits AS INT) AS stopword_hits,
           CAST(n_tokens BETWEEN 40 AND 90 AS INT) AS r_token_count,
           CAST(mean_word_len BETWEEN 3.0 AND 6.0 AS INT) AS r_word_len,
           CAST(dup_token_frac <= 0.8 AS INT) AS r_dup_tokens,
           CAST(stopword_hits >= 1 AS INT) AS r_stopwords,
           CAST(n_tokens BETWEEN 40 AND 90
                AND mean_word_len BETWEEN 3.0 AND 6.0
                AND dup_token_frac <= 0.8
                AND stopword_hits >= 1 AS INT) AS keep
    FROM base
"""


def q_streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The zero-shuffle Gopher gate running UNCHANGED on a document
    file stream (stateless Column expressions stream for free) —
    streaming corpus ingest, oracled against the batch twin: the
    availableNow drain must equal the batch gate exactly."""
    from sf_datalake_spark.operators.corpus import gopher_quality_filter
    from sf_datalake_spark.streaming import run_to_memory

    # the file source wants a directory; glob-filter to the one table
    stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint"
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    gated = gopher_quality_filter(
        stream, "doc_id", "text",
        min_tokens=40, max_tokens=90,
        min_mean_word_len=3.0, max_mean_word_len=6.0,
        max_dup_token_frac=0.8, min_stopword_hits=1,
    ).select("doc_id", "n_tokens", "keep")
    return run_to_memory(gated, "q_streaming_quality", output_mode="append",
                         final_watermark_batch=False)


_STREAMING_QUALITY_SQL = r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM documents
    ),
    base AS (
        SELECT doc_id, len(t) AS n_tokens,
               round(CAST(list_sum(list_transform(t, x -> length(x)))
                     AS DOUBLE) / len(t), 6) AS mean_word_len,
               round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
                   AS dup_token_frac,
               len(list_filter(t, x -> list_contains(
                   ['the', 'a', 'and', 'of', 'to', 'in', 'is'], lower(x))))
                   AS stopword_hits
        FROM toks WHERE len(t) > 0
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
           CAST(n_tokens BETWEEN 40 AND 90
                AND mean_word_len BETWEEN 3.0 AND 6.0
                AND dup_token_frac <= 0.8
                AND stopword_hits >= 1 AS INT) AS keep
    FROM base
"""


def q_quality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the longest 30% of documents per source — relative pruning
    that survives per-source distribution shift (one window exchange)."""
    from sf_datalake_spark.operators.corpus import quality_prune

    docs = _t(spark, sf_dir, "documents")
    return quality_prune(docs, "n_chars", 0.3, "doc_id", by="source").select(
        "doc_id", "source", "n_chars"
    )


_QUALITY_PRUNE_SQL = """
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS rn,
               count(*) OVER (PARTITION BY source) AS n
        FROM documents
    )
    SELECT doc_id, source, n_chars
    FROM ranked WHERE rn <= ceil(n * 0.3)
"""


def q_recordlog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-source round-trip: documents serialized into per-source
    recordlog containers (the TFRecord/WARC-ish shape), read back
    through the registered Python DataSource (one partition per file),
    and verified by byte length + md5 — the oracle recomputes both from
    the source table, so the container format and the Python reader are
    value-hash-attested end to end."""
    import os
    import shutil
    import tempfile
    from collections import defaultdict

    from sf_datalake_spark.sources import register_recordlog, write_recordlog

    docs = _t(spark, sf_dir, "documents")
    # producer side: shard by source into one .rlog per shard (the
    # demo collect is bounded: this is a format round-trip, not an
    # export path — a production converter writes shards from
    # foreachPartition)
    by_src: dict[str, list] = defaultdict(list)
    for r in docs.select("doc_id", "source", "text").collect():
        by_src[r["source"]].append((str(r["doc_id"]), r["text"].encode("utf-8")))
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"rlog_{os.path.basename(sf_dir)}_{os.getpid()}",
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for src, records in sorted(by_src.items()):
        write_recordlog(os.path.join(out_dir, f"{src}.rlog"), sorted(records))
    register_recordlog(spark)
    df = spark.read.format("recordlog").load(out_dir)
    return df.select(
        F.col("key").cast("bigint").alias("doc_id"),
        F.length("payload").cast("int").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
        F.regexp_replace("file", r"\.rlog$", "").alias("source"),
    )


_RECORDLOG_SQL = """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           md5(text) AS payload_md5,
           source
    FROM documents
"""


# ---------------------------------------------------------------------------
# RAKE keyword extraction (Rose et al. 2010): candidate phrases are
# maximal stopword/punctuation-free token runs; word score = deg/freq
# over ALL phrase occurrences corpus-wide (deg = sum of lengths of
# phrases containing the word, freq = occurrences); a phrase scores
# the sum of its words' scores.  Scores are exact ppm integers
# (truncating div per word, BIGINT sum), tie-break lexicographic —
# engine-exact end to end.
# ---------------------------------------------------------------------------

_RAKE_STOP = (
    "the", "and", "of", "to", "a", "in", "is", "for", "on", "with",
    "as", "by", "at", "an", "be", "are", "was", "or", "it", "that",
    "this", "from",
)
_RAKE_STOP_RE = r"\b(" + "|".join(_RAKE_STOP) + r")\b"


def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top RAKE keyword phrase per document (score desc, phrase asc):
    phrase splitting and word stats as scan-stage JVM expressions, one
    shuffle for the corpus word stats (broadcast back), one for the
    per-phrase score."""
    docs = _t(spark, sf_dir, "documents")
    s = F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 \t\n\r]", "|")
    s = F.regexp_replace(s, _RAKE_STOP_RE, "|")
    phrases = F.filter(
        F.transform(
            F.split(s, r"\|"),
            lambda p: F.filter(
                F.split(p, r"\s+"), lambda w: w != F.lit("")
            ),
        ),
        lambda ws: F.size(ws) > 0,
    )
    ph = docs.select("doc_id", F.explode(phrases).alias("words"))
    occ = ph.select(
        F.size("words").alias("plen"), F.explode("words").alias("w")
    )
    wstats = occ.groupBy("w").agg(
        F.count("*").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    cand = ph.select(
        "doc_id", F.array_join("words", " ").alias("phrase")
    ).distinct()
    cw = cand.select(
        "doc_id", "phrase", F.explode(F.split("phrase", " ")).alias("w")
    )
    scored = (
        cw.join(F.broadcast(wstats), "w")
        .groupBy("doc_id", "phrase")
        .agg(
            F.sum(F.expr("deg * 1000000L div freq")).alias("score_ppm"),
            F.count("*").cast("bigint").alias("n_words"),
        )
    )
    from pyspark.sql import Window

    w_top = Window.partitionBy("doc_id").orderBy(
        F.col("score_ppm").desc(), F.col("phrase").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("phrase").alias("top_phrase"),
            "score_ppm",
            "n_words",
        )
    )


_RAKE_SQL = r"""
    WITH cleaned AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 \t\n\r]', '|', 'g'),
                   '\b(STOPWORDS)\b', '|', 'g') AS s
        FROM documents
    ),
    raw AS (SELECT doc_id, unnest(string_split(s, '|')) AS p FROM cleaned),
    ph AS (
        SELECT doc_id,
               list_filter(string_split_regex(p, '\s+'), w -> w <> '')
                   AS words
        FROM raw
    ),
    ph2 AS (SELECT * FROM ph WHERE len(words) > 0),
    occ AS (SELECT len(words) AS plen, unnest(words) AS w FROM ph2),
    wstats AS (
        SELECT w, CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(plen) AS BIGINT) AS deg
        FROM occ GROUP BY 1
    ),
    cand AS (
        SELECT DISTINCT doc_id, array_to_string(words, ' ') AS phrase
        FROM ph2
    ),
    cw AS (
        SELECT doc_id, phrase, unnest(string_split(phrase, ' ')) AS w
        FROM cand
    ),
    scored AS (
        SELECT doc_id, phrase,
               CAST(sum(deg * 1000000 // freq) AS BIGINT) AS score_ppm,
               CAST(count(*) AS BIGINT) AS n_words
        FROM cw JOIN wstats USING (w) GROUP BY 1, 2
    )
    SELECT doc_id, phrase AS top_phrase, score_ppm, n_words FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score_ppm DESC, phrase ASC)
                      AS rn
        FROM scored
    ) WHERE rn = 1
""".replace("STOPWORDS", "|".join(_RAKE_STOP))


# ---------------------------------------------------------------------------
# Greedy max-coverage selection: 3 documents covering the most distinct
# tokens (diverse-subset data selection, (1-1/e) greedy).  The oracle
# unrolls the 3 greedy rounds as CTEs — same engine-vs-unroll contrast
# as label_propagation.
# ---------------------------------------------------------------------------


def q_coverage_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3 documents a greedy max-coverage pass selects (marginal
    new-shingle count desc, doc_id asc per round), with per-pick
    marginal and cumulative coverage (operators/corpus.
    greedy_coverage_select).

    Coverage universe = word BIGRAMS, not unigrams: the synthetic
    corpus draws from a ~31-word pool, so a single document covers the
    whole unigram vocabulary and greedy selection degenerates to one
    pick; bigrams (~900 realized at sf0.01) make the submodular
    trade-off real — the same reason shingle-based dedup uses n-grams."""
    from sf_datalake_spark.functions.text import tokenize
    from sf_datalake_spark.operators.corpus import greedy_coverage_select

    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", tokenize("text").alias("ws"))
        .select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("ws") >= 2,
                    F.expr(
                        "zip_with(slice(ws, 1, size(ws) - 1),"
                        "         slice(ws, 2, size(ws) - 1),"
                        "         (a, b) -> concat(a, ' ', b))"
                    ),
                ).otherwise(F.expr("array()"))
            ).alias("tok"),
        )
    )
    return greedy_coverage_select(toks, 3)


_COVERAGE_SELECT_SQL = r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\s+'),
                           w -> w <> '') AS ws
        FROM documents
    ),
    toks AS (
        SELECT DISTINCT doc_id, z[1] || ' ' || z[2] AS tok
        FROM (SELECT doc_id,
                     unnest(list_zip(ws[1:len(ws) - 1],
                                     ws[2:len(ws)])) AS z
              FROM t WHERE len(ws) >= 2)
    ),
    s1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m FROM toks GROUP BY 1),
    w1 AS (SELECT doc_id, m FROM s1 ORDER BY m DESC, doc_id LIMIT 1),
    c1 AS (SELECT DISTINCT tok FROM toks
           WHERE doc_id IN (SELECT doc_id FROM w1)),
    s2 AS (
        SELECT t.doc_id, CAST(count(*) AS BIGINT) AS m
        FROM toks t ANTI JOIN c1 ON t.tok = c1.tok
        WHERE t.doc_id NOT IN (SELECT doc_id FROM w1)
        GROUP BY 1
    ),
    w2 AS (SELECT doc_id, m FROM s2 WHERE m > 0
           ORDER BY m DESC, doc_id LIMIT 1),
    c2 AS (SELECT tok FROM c1
           UNION
           SELECT tok FROM toks WHERE doc_id IN (SELECT doc_id FROM w2)),
    s3 AS (
        SELECT t.doc_id, CAST(count(*) AS BIGINT) AS m
        FROM toks t ANTI JOIN c2 ON t.tok = c2.tok
        WHERE t.doc_id NOT IN (SELECT doc_id FROM w1
                               UNION SELECT doc_id FROM w2)
        GROUP BY 1
    ),
    w3 AS (SELECT doc_id, m FROM s3 WHERE m > 0
           ORDER BY m DESC, doc_id LIMIT 1)
    SELECT CAST(r AS INT) AS rank, doc_id, m AS new_tokens,
           CAST(sum(m) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cumulative_coverage
    FROM (
        SELECT 1 AS r, doc_id, m FROM w1
        UNION ALL SELECT 2 AS r, doc_id, m FROM w2
        UNION ALL SELECT 3 AS r, doc_id, m FROM w3
    )
"""


# ---------------------------------------------------------------------------
# NCD near-dup rerank (rows-only: DuckDB has no zlib; deterministic —
# fixed zlib level, exact integer ppm)
# ---------------------------------------------------------------------------


def q_ncd_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-distance rerank of length-blocked candidates: docs
    in the doc_id % 16 == 0 slice pair up only within the same
    200-char length bucket (an EQUI-join — similar raw length is a
    necessary condition for low NCD, so the block is also a filter),
    the 20 most-compressible-together pairs by exact-ppm NCD (ties
    broken by ids).

    ORACLED since round 9 (r08 verdict #8): C(·) is the DISTINCT-8-GRAM
    dictionary size (the same LZ78-growth compressor as
    q_compression_ratio; the joint text is separated by \\x1f — absent
    from the corpus, asserted in tests — so C(xy) cannot manufacture
    spanning grams), making NCD exact integer arithmetic both engines
    replay.  The zlib form (``operators/dedup.ncd_scores``, pinned
    level) remains the production DEFLATE-based variant."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 16 == 0) & (F.length("text") >= 8))
        .select(
            "doc_id", "text", F.expr("n_chars div 200").alias("len_bucket")
        )
    )
    # Decomposed joint count (the perf-load-bearing identity): the
    # separator \x1f appears exactly once in xy and never inside a
    # document, so the 8 boundary-spanning grams are pairwise distinct
    # (the separator sits at a different offset in each) and distinct
    # from every document gram — hence
    #     C(xy) = C(x) + C(y) − |grams(x) ∩ grams(y)| + 8.
    # The intersection comes from ONE inverted-index equi-join on the
    # distinct-gram table (the ngram_jaccard shape: JVM codegen, no
    # per-pair text scans — the direct per-pair HOF recount cost 34 s
    # at sf0.1 where this costs ~1 s), and the DuckDB oracle computes
    # C(xy) from the actual concatenation, so the driver's hash check
    # independently validates the identity cross-engine.  100 TB note:
    # the gram join inherits the hot-shingle caveat — apply the
    # ngram_jaccard_capped document-frequency guard when boilerplate
    # grams make a join key quadratic.
    grams = docs.select(
        "doc_id", "len_bucket",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, length(text) - 7),"
                    " i -> substring(text, i, 8))"
                )
            )
        ).alias("gram"),
    )
    c_doc = grams.groupBy("doc_id", "len_bucket").agg(
        F.count("*").cast("bigint").alias("c_doc")
    )
    inter = (
        grams.select(F.col("doc_id").alias("id_a"), "len_bucket", "gram")
        .join(
            grams.select(F.col("doc_id").alias("id_b"), "len_bucket", "gram"),
            ["len_bucket", "gram"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    a = c_doc.select(
        F.col("doc_id").alias("id_a"), "len_bucket",
        F.col("c_doc").alias("c_a"),
    )
    b = c_doc.select(
        F.col("doc_id").alias("id_b"), "len_bucket",
        F.col("c_doc").alias("c_b"),
    )
    pairs = (
        a.join(b, "len_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .join(inter, ["id_a", "id_b"], "left")
        .selectExpr(
            "id_a", "id_b", "c_a", "c_b",
            "c_a + c_b - coalesce(n_common, 0) + 8 AS c_ab",
        )
        .selectExpr(
            "id_a", "id_b", "c_a", "c_b", "c_ab",
            "(c_ab - least(c_a, c_b)) * 1000000 div greatest(c_a, c_b)"
            " AS ncd_ppm",
        )
    )
    return pairs.orderBy("ncd_ppm", "id_a", "id_b").limit(20)


_NCD_PAIRS_SQL = r"""
    WITH sliced AS (
        SELECT doc_id, text, n_chars // 200 AS len_bucket,
               len(list_distinct(
                   [substr(text, i, 8)
                    FOR i IN generate_series(1, length(text) - 7)]
               )) AS c_doc
        FROM documents
        WHERE doc_id % 16 = 0 AND length(text) >= 8
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(a.c_doc AS BIGINT) AS c_a, CAST(b.c_doc AS BIGINT) AS c_b,
               a.text || chr(31) || b.text AS xy
        FROM sliced a JOIN sliced b
          ON a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT id_a, id_b, c_a, c_b,
               CAST(len(list_distinct(
                   [substr(xy, i, 8)
                    FOR i IN generate_series(1, length(xy) - 7)]
               )) AS BIGINT) AS c_ab
        FROM pairs
    )
    SELECT id_a, id_b, c_a, c_b, c_ab,
           (c_ab - least(c_a, c_b)) * 1000000 // greatest(c_a, c_b)
               AS ncd_ppm
    FROM scored
    ORDER BY ncd_ppm, id_a, id_b
    LIMIT 20
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "chunk_documents": (q_chunk_documents, _CHUNK_SQL),
    "pack_sequences": (q_pack_sequences, _PACK_SQL),
    "stratified_sample": (q_stratified_sample, _STRATIFIED_SQL),
    "contamination_check": (q_contamination_check, _CONTAMINATION_SQL),
    "redact_pii": (q_redact_pii, _REDACT_SQL),
    "repetition_stats": (q_repetition_stats, _REPETITION_SQL),
    "exact_substring_spans": (q_exact_substring_spans, _SUBSTRING_SPANS_SQL),
    "exact_substring_removal": (q_exact_substring_removal, _SUBSTRING_REMOVAL_SQL),
    "bloom_prefilter": (q_bloom_prefilter, _BLOOM_SQL),
    "winnowing_fingerprints": (q_winnowing_fingerprints, _WINNOW_FP_SQL),
    "winnow_overlap_pairs": (q_winnow_overlap_pairs, _WINNOW_PAIRS_SQL),
    "incremental_winnow": (q_incremental_winnow,
                           _INCR_WINNOW_SQL.format(winnow_fp=_WINNOW_FP_SQL)),
    "bpe_merges": (q_bpe_merges, _BPE_MERGES_SQL),
    "lm_perplexity_score": (q_lm_perplexity_score, _LM_SCORE_SQL),
    "boilerplate_removal": (q_boilerplate_removal, _BOILERPLATE_SQL),
    "training_order": (q_training_order, _TRAINING_ORDER_SQL),
    "mixture_schedule": (q_mixture_schedule, _MIXTURE_SQL),
    "exact_k_sample": (q_exact_k_sample, _EXACT_K_SQL),
    "weighted_sample": (q_weighted_sample, _WEIGHTED_SAMPLE_SQL),
    "cluster_safe_split": (q_cluster_safe_split, _CLUSTER_SPLIT_SQL),
    "text_entropy": (q_text_entropy, _ENTROPY_SQL),
    "model_quality_score": (q_model_quality_score, _MODEL_SCORE_SQL),
    "compression_ratio": (q_compression_ratio, _COMPRESSION_RATIO_SQL),
    "quality_gate": (q_quality_gate, _QUALITY_GATE_SQL),
    "streaming_quality_gate": (q_streaming_quality_gate, _STREAMING_QUALITY_SQL),
    "quality_prune": (q_quality_prune, _QUALITY_PRUNE_SQL),
    "recordlog_roundtrip": (q_recordlog_roundtrip, _RECORDLOG_SQL),
    "rake_keywords": (q_rake_keywords, _RAKE_SQL),
    "coverage_select": (q_coverage_select, _COVERAGE_SELECT_SQL),
    "ncd_pairs": (q_ncd_pairs, _NCD_PAIRS_SQL),
}

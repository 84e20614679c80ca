"""Text-analysis queries over the documents corpus: language ID, quality
scoring, token counting, fingerprinting, and binary-column plumbing.
North-star operator family (BASELINE.json §north_star).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airquality_data_pipeline_spark.operators.text import (
    LANG_MARKERS,
    boilerplate_ngram_stats,
    fingerprint,
    language_id,
    ngram_contamination,
    quality_features,
    repetition_features,
    term_stats,
    tfidf_vectors,
    token_counts,
)
from airquality_data_pipeline_spark.queries.common import (
    roundq,
    sql_roundq,
    table,
)
from airquality_data_pipeline_spark.queries.registry import register

# DuckDB regexp_count equivalent: len(regexp_extract_all(...))
def _rc(expr: str, pattern: str) -> str:
    return f"len(regexp_extract_all({expr}, '{pattern}'))"


# --------------------------------------------------------------------------
# q48: heuristic language ID — per-language stopword-marker counts,
# argmax with fixed priority tiebreak ('und' when all zero).
# --------------------------------------------------------------------------
_LANG_SCORES_SQL = ",\n           ".join(
    f"{_rc('lower(text)', LANG_MARKERS[lang])} AS score_{lang}"
    for lang in ("en", "es", "de", "fr")
)

@register(
    "q48_language_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
           {_LANG_SCORES_SQL}
      FROM documents
    )
    SELECT doc_id, score_en, score_es, score_de, score_fr,
           CASE
             WHEN score_en > 0 AND score_en >= greatest(score_es, score_de, score_fr) THEN 'en'
             WHEN score_es > 0 AND score_es >= greatest(score_en, score_de, score_fr) THEN 'es'
             WHEN score_de > 0 AND score_de >= greatest(score_en, score_es, score_fr) THEN 'de'
             WHEN score_fr > 0 AND score_fr >= greatest(score_en, score_es, score_de) THEN 'fr'
             ELSE 'und'
           END AS pred_lang
    FROM scored
    """,
)
def q48_language_id(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return language_id(docs, text_col="text", id_col="doc_id")


# --------------------------------------------------------------------------
# q49: quality features + composite score (length, punctuation, digit,
# stopword ratios) — double arithmetic with a fixed expression tree.
# --------------------------------------------------------------------------
@register(
    "q49_quality_score",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             length(text) AS n_chars_calc,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
             {_rc('text', '[.,;:!?]')} AS n_punct,
             {_rc('text', '[0-9]')} AS n_digit,
             {_rc('lower(text)', LANG_MARKERS['en'])} AS n_stop
      FROM documents
    )
    SELECT doc_id, n_chars_calc, n_tokens,
           CAST(n_chars_calc - (n_tokens - 1) AS DOUBLE)
             / CAST(greatest(n_tokens, 1) AS DOUBLE) AS avg_tok_len,
           CAST(n_punct AS DOUBLE) / CAST(greatest(n_chars_calc, 1) AS DOUBLE) AS punct_ratio,
           CAST(n_digit AS DOUBLE) / CAST(greatest(n_chars_calc, 1) AS DOUBLE) AS digit_ratio,
           CAST(n_stop AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) AS stop_ratio,
           least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
             + least((CAST(n_stop AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE)) * 5.0, 1.0) * 0.3
             + (1.0 - least((CAST(n_punct AS DOUBLE) / CAST(greatest(n_chars_calc, 1) AS DOUBLE)) * 10.0, 1.0)) * 0.2
             + (1.0 - least((CAST(n_digit AS DOUBLE) / CAST(greatest(n_chars_calc, 1) AS DOUBLE)) * 10.0, 1.0)) * 0.1
             AS quality
    FROM m
    """,
)
def q49_quality_score(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return quality_features(docs, text_col="text", id_col="doc_id")


# --------------------------------------------------------------------------
# q50: token counting — whitespace tokens + BPE-ish subword proxy
# (alpha runs / single digits / single punctuation).
# --------------------------------------------------------------------------
_BPE_COUNT = _rc("lower(text)", "[a-z]+|[0-9]|[^a-z0-9\\s]")

@register(
    "q50_token_counts",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END AS ws_tokens,
           {_BPE_COUNT} AS bpe_ish_tokens
    FROM documents
    """,
)
def q50_token_counts(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return token_counts(docs, text_col="text", id_col="doc_id")


# --------------------------------------------------------------------------
# q51: order-insensitive document fingerprint (md5 of sorted distinct
# token set) + vocabulary size.
# --------------------------------------------------------------------------
@register(
    "q51_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
             string_split_regex(lower(trim(text)), '\\s+'))), ' ')) AS fingerprint,
           len(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS vocab_size
    FROM documents
    """,
)
def q51_fingerprint(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return fingerprint(docs, text_col="text", id_col="doc_id")


# --------------------------------------------------------------------------
# q52: binary-column plumbing — text payload as an opaque binary column
# with byte length + digest (the multimodal column pattern; DuckDB lacks
# md5(BLOB) so the oracle digests the identical UTF-8 text directly).
# --------------------------------------------------------------------------
@register(
    "q52_binary_columns",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS digest,
           source AS modality_tag
    FROM documents
    """,
)
def q52_binary_columns(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        F.md5(payload).alias("digest"),
        F.col("source").alias("modality_tag"),
    )


# --------------------------------------------------------------------------
# q54: corpus term statistics — the exact-integer substrate of TF-IDF
# (df / total tf / max tf per term).
# --------------------------------------------------------------------------
@register(
    "q54_term_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY id, term)
    -- CAST: DuckDB SUM(BIGINT) -> HUGEINT (float64 in pandas) vs Spark int64
    SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf, max(tf) AS max_tf
    FROM tf GROUP BY term
    """,
)
def q54_term_stats(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return term_stats(docs, text_col="text", id_col="doc_id")


# --------------------------------------------------------------------------
# q62: smoothed TF-IDF weights. The integer substrate (tf/df) is exact
# on both engines; the weight itself passes through ln(), whose last
# ulp is libm-dependent, so the checked column is round(tfidf, 6) —
# the two engines' ln() agree to ~1e-16 relative, 10 orders of
# magnitude inside the rounding grain. q54 pins the raw integers.
# --------------------------------------------------------------------------
@register(
    "q62_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
    SELECT id, term, tf, df,
           round(tf * (ln((n + 1) / (df + 1)) + 1), 6) AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
    WHERE df >= 2
    """,
)
def q62_tfidf(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    vec = tfidf_vectors(docs, text_col="text", id_col="doc_id", min_df=2)
    return vec.withColumn("tfidf", F.round("tfidf", 6))


# --------------------------------------------------------------------------
# q95: within-document n-gram repetition filter — the Gopher-style
# repetition quality rule: total vs distinct word 3-grams per doc and
# the duplicate ratio, plus the keep/drop verdict at a 0.5 ratio.
# Pure per-row array arithmetic: zero shuffle at any scale.
# --------------------------------------------------------------------------
@register(
    "q95_repetition_filter",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_transform(range(1, len(w) - 1),
                                      i -> array_to_string(w[i:i+2], ' '))
                  ELSE [] END AS sh
      FROM t
    )
    SELECT doc_id,
           len(sh) AS n_ngrams,
           len(list_distinct(sh)) AS n_distinct_ngrams,
           CASE WHEN len(sh) > 0
                THEN round(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE)
                                 / CAST(len(sh) AS DOUBLE), 6)
                ELSE 0.0 END AS dup_ratio,
           CASE WHEN len(sh) > 0
                THEN round(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE)
                                 / CAST(len(sh) AS DOUBLE), 6)
                ELSE 0.0 END <= 0.5 AS keep
    FROM g
    """,
)
def q95_repetition_filter(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    feats = repetition_features(docs, text_col="text", id_col="doc_id", n=3)
    return feats.withColumn("keep", F.col("dup_ratio") <= 0.5)


# --------------------------------------------------------------------------
# q97: corpus-wide boilerplate n-grams — a 3-gram present in >= 10
# distinct documents is boilerplate (template/navigation text); each doc
# reports its contamination count + ratio (the C4/RefinedWeb shared-text
# removal signal at n-gram granularity).
# --------------------------------------------------------------------------
@register(
    "q97_boilerplate_ngrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id AS id, array_to_string(t[i:i+2], ' ') AS shingle
      FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
      WHERE len(t) >= 3
    ),
    dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
    SELECT id, count(*) AS n_shingles,
           CAST(SUM(CASE WHEN df >= 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boiler,
           round(CAST(SUM(CASE WHEN df >= 10 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS boiler_ratio
    FROM sh JOIN dfreq USING (shingle)
    GROUP BY id
    """,
)
def q97_boilerplate_ngrams(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return boilerplate_ngram_stats(
        docs, text_col="text", id_col="doc_id", n=3, min_df=10
    )


# --------------------------------------------------------------------------
# q99: benchmark decontamination — per TRAIN document (md5 bucket < 80,
# the q86 split), how many of its distinct 8-grams also occur in the
# held-out TEST split (bucket >= 90). The n-gram-collision test-set-leak
# check used when curating LLM corpora. Benchmark shingle set is small
# and broadcasts; train side aggregates without an extra shuffle.
# --------------------------------------------------------------------------
@register(
    "q99_decontamination",
    oracle="""
    WITH b AS (
      SELECT doc_id, text,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
               AS bucket
      FROM documents
    ),
    toks AS (
      SELECT doc_id, bucket,
             string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM b WHERE bucket < 80 OR bucket >= 90
    ),
    sh AS (
      SELECT DISTINCT doc_id, bucket,
             array_to_string(t[i:i+7], ' ') AS shingle
      FROM toks, UNNEST(generate_series(1, greatest(len(t) - 7, 0))) AS g(i)
      WHERE len(t) >= 8
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE bucket >= 90),
    per_doc AS (
      SELECT s.doc_id,
             count(*) AS n_ngrams,
             CAST(SUM(CASE WHEN bench.shingle IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_contaminated
      FROM sh s LEFT JOIN bench USING (shingle)
      WHERE s.bucket < 80
      GROUP BY s.doc_id
    )
    SELECT b.doc_id AS id,
           CAST(coalesce(p.n_ngrams, 0) AS BIGINT) AS n_ngrams,
           CAST(coalesce(p.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           coalesce(p.n_contaminated, 0) > 0 AS contaminated
    FROM b LEFT JOIN per_doc p USING (doc_id)
    WHERE b.bucket < 80
    """,
)
def q99_decontamination(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    tagged = docs.withColumn("_bucket", bucket)
    train = tagged.where(F.col("_bucket") < 80)
    bench = tagged.where(F.col("_bucket") >= 90)
    return ngram_contamination(
        train, bench, text_col="text", id_col="doc_id", n=8
    )


# --------------------------------------------------------------------------
# q100: temperature-weighted language sampling — the multilingual
# corpus-balancing rule (sample language l proportional to p_l^alpha,
# alpha=0.3 upsamples the tail; cf. multilingual LM data recipes). Two
# tiny aggregates over a 5-row frame; the token-count scan is the only
# real work. Decimal quantization keeps the weight normalization
# order-independent and engine-exact.
# --------------------------------------------------------------------------
@register(
    "q100_language_sampling",
    oracle="""
    WITH per_lang AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN len(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+'))
                      END) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    w AS (
      SELECT *,
             CAST(round(pow(CAST(n_tokens AS DOUBLE)
                            / SUM(CAST(n_tokens AS DOUBLE)) OVER (),
                            0.3), 6) AS DECIMAL(18,6)) AS pw
      FROM per_lang
    )
    SELECT lang, n_docs, n_tokens,
           {w_rq} AS sample_weight
    FROM w
    """.format(
        # ratio of 6-dp grid weights is a rational (.5-tie class):
        # guarded floor grid (r10 q225 class)
        w_rq=sql_roundq(
            "CAST(pw AS DOUBLE) / CAST(SUM(pw) OVER () AS DOUBLE)"
        ),
    ),
)
def q100_language_sampling(spark, sf_dir):
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    t = F.trim(F.col("text"))
    ws = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ws).cast("long").alias("n_tokens"),
    )
    # global (single-partition) window is safe here: it runs over the
    # per-language AGGREGATE (a handful of rows at any corpus size),
    # never the document table — the WindowExec warning is expected
    everything = Window.partitionBy()
    p = F.col("n_tokens").cast("double") / F.sum(
        F.col("n_tokens").cast("double")
    ).over(everything)
    # round the power through decimal so the normalizing sum is exact
    # (order-independent) on both engines; divide as double at the end
    pw = F.round(F.pow(p, F.lit(0.3)), 6).cast("decimal(18,6)")
    return per_lang.withColumn("_pw", pw).select(
        "lang",
        "n_docs",
        "n_tokens",
        roundq(
            F.col("_pw").cast("double")
            / F.sum("_pw").over(everything).cast("double")
        ).alias("sample_weight"),
    )


# --------------------------------------------------------------------------
# q101: PII scrub — emails / IPv4 / phone-like runs counted and redacted
# with typed placeholders (sequential rule chain, each count on the text
# as redacted by the previous rules). PII is planted deterministically
# from doc_id so the detection paths actually fire on the fixture.
# Per-row regexp work only: zero shuffle at any scale.
# --------------------------------------------------------------------------
from airquality_data_pipeline_spark.operators.text import (  # noqa: E402
    PII_RULES,
    chunk_fingerprints,
    pii_scrub,
)

_PII_E, _PII_I, _PII_P = (r[1] for r in PII_RULES)

@register(
    "q101_pii_scrub",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                     ELSE '' END
             || CASE WHEN doc_id % 11 = 0 THEN ' call +1 555 0100 321' ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' host 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
                     ELSE '' END
             AS t0
      FROM documents
    ),
    s1 AS (SELECT doc_id, t0,
                  regexp_replace(t0, '{_PII_E}', '<EMAIL>', 'g') AS t1
           FROM planted),
    s2 AS (SELECT *, regexp_replace(t1, '{_PII_I}', '<IP>', 'g') AS t2 FROM s1),
    s3 AS (SELECT *, regexp_replace(t2, '{_PII_P}', '<PHONE>', 'g') AS t3 FROM s2)
    SELECT doc_id,
           len(regexp_extract_all(t0, '{_PII_E}')) AS n_email,
           len(regexp_extract_all(t1, '{_PII_I}')) AS n_ip,
           len(regexp_extract_all(t2, '{_PII_P}')) AS n_phone,
           length(t3) AS n_chars_redacted,
           md5(t3) AS redacted_digest
    FROM s3
    """,
)
def q101_pii_scrub(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" call +1 555 0100 321"))
        .otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit(" host 10.0.0."), (F.col("doc_id") % 256).cast("string")
            ),
        ).otherwise(F.lit("")),
    )
    return pii_scrub(
        docs.select("doc_id", planted.alias("text")),
        text_col="text",
        id_col="doc_id",
    )


# --------------------------------------------------------------------------
# q102: content-chunk fingerprints — a 60-bit md5-derived key per
# 64-char chunk; per doc, how many of its chunks also appear (same hash)
# in at least one other document: the partial-overlap / shared-passage
# signal that exact-doc dedup misses. The only shuffle keys are the
# 8-byte chunk hash and the doc id (hash_hex_len=32 upgrades to the full
# 128-bit digest for 100 TB corpora — see operators/text.py docstring).
# --------------------------------------------------------------------------
@register(
    "q102_chunk_fingerprints",
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
    ch AS (
      SELECT doc_id, i AS chunk_idx, substring(text, i*64+1, 64) AS chunk
      FROM d, UNNEST(generate_series(0, CAST((length(text)-1) // 64 AS INT))) AS g(i)
    ),
    h AS (
      SELECT doc_id, chunk_idx,
             ('0x' || substring(md5(chunk), 1, 15))::BIGINT AS chunk_hash
      FROM ch
    ),
    freq AS (
      SELECT chunk_hash, count(DISTINCT doc_id) AS nd FROM h GROUP BY chunk_hash
    )
    SELECT h.doc_id AS id,
           count(*) AS n_chunks,
           CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           {ratio_rq} AS shared_ratio
    FROM h JOIN freq USING (chunk_hash)
    GROUP BY h.doc_id
    """.format(
        # k/n count ratio (.5-tie class): guarded floor grid (r10 q225)
        ratio_rq=sql_roundq(
            "CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)"
            " / CAST(count(*) AS DOUBLE)"
        ),
    ),
)
def q102_chunk_fingerprints(spark, sf_dir):
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    ch = chunk_fingerprints(docs, text_col="text", id_col="doc_id", chunk_size=64)
    # "hash seen in >= 2 distinct docs" == min(id) != max(id) over the
    # hash partition: ONE shuffle and one scan, vs the groupBy+join form
    # which recomputes the chunk-hash subtree on both join sides (branch
    # pruning defeats ReuseExchange) and shuffles it twice — measured
    # 2.6x faster at sf0.1, same results.
    w = Window.partitionBy("chunk_hash")
    shared = (F.min("id").over(w) != F.max("id").over(w)).cast("long")
    agg_shared = F.sum("_sh")
    return (
        ch.withColumn("_sh", shared)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            agg_shared.alias("n_shared"),
            roundq(
                agg_shared.cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("shared_ratio"),
        )
    )


# --------------------------------------------------------------------------
# q103: end-to-end corpus curation — the flagship LLM-data-pipeline
# composition: every document gets a verdict from the first matching
# rule (exact_dup -> too_short -> repetitive -> low_quality ->
# contaminated -> kept), composing the oracle-checked building blocks
# q40/q49/q95/q99 over a train/held-out split. Every stage is per-row
# array/regex arithmetic or a key-partitioned window/join — the plan is
# a handful of doc_id-keyed shuffles regardless of corpus size.
# --------------------------------------------------------------------------
@register(
    "q103_curation_pipeline",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, text,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
               AS bucket
      FROM documents
    ),
    train AS (SELECT doc_id, text FROM b WHERE bucket < 95),
    m AS (
      SELECT doc_id,
             length(text) AS nc,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
             len(regexp_extract_all(text, '[.,;:!?]')) AS np,
             len(regexp_extract_all(text, '[0-9]')) AS ndg,
             len(regexp_extract_all(lower(text), '{LANG_MARKERS["en"]}')) AS ns
      FROM train
    ),
    qual AS (
      SELECT doc_id, n_tokens,
             least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
               + least((CAST(ns AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE)) * 5.0, 1.0) * 0.3
               + (1.0 - least((CAST(np AS DOUBLE) / CAST(greatest(nc, 1) AS DOUBLE)) * 10.0, 1.0)) * 0.2
               + (1.0 - least((CAST(ndg AS DOUBLE) / CAST(greatest(nc, 1) AS DOUBLE)) * 10.0, 1.0)) * 0.1
               AS quality
      FROM m
    ),
    rep AS (
      SELECT doc_id,
             CASE WHEN len(sh) > 0
                  THEN round(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE)
                                   / CAST(len(sh) AS DOUBLE), 6)
                  ELSE 0.0 END AS dup_ratio
      FROM (
        SELECT doc_id,
               CASE WHEN len(w) >= 3
                    THEN list_transform(range(1, len(w) - 1),
                                        i -> array_to_string(w[i:i+2], ' '))
                    ELSE [] END AS sh
        FROM (SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS w
              FROM train)
      )
    ),
    rk AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM train
    ),
    sh AS (
      SELECT DISTINCT doc_id, bucket, array_to_string(t[i:i+7], ' ') AS shingle
      FROM (SELECT doc_id, bucket,
                   string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM b) toks,
           UNNEST(generate_series(1, greatest(len(t) - 7, 0))) AS g(i)
      WHERE len(t) >= 8
    ),
    benchsh AS (SELECT DISTINCT shingle FROM sh WHERE bucket >= 95),
    cont AS (
      SELECT s.doc_id,
             SUM(CASE WHEN benchsh.shingle IS NOT NULL THEN 1 ELSE 0 END) > 0
               AS contaminated
      FROM sh s LEFT JOIN benchsh USING (shingle)
      WHERE s.bucket < 95
      GROUP BY s.doc_id
    )
    SELECT doc_id, n_tokens, quality, dup_ratio, verdict,
           verdict = 'kept' AS kept
    FROM (
      SELECT q.doc_id, q.n_tokens, q.quality, r.dup_ratio,
             CASE WHEN rk.rn > 1 THEN 'exact_dup'
                  WHEN q.n_tokens < 15 THEN 'too_short'
                  WHEN r.dup_ratio > 0.05 THEN 'repetitive'
                  WHEN q.quality < 0.6 THEN 'low_quality'
                  WHEN coalesce(cont.contaminated, false) THEN 'contaminated'
                  ELSE 'kept' END AS verdict
      FROM qual q
      JOIN rep r USING (doc_id)
      JOIN rk USING (doc_id)
      LEFT JOIN cont USING (doc_id)
    )
    """,
)
def q103_curation_pipeline(spark, sf_dir):
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    tagged = docs.withColumn("_bucket", bucket)
    train = tagged.where(F.col("_bucket") < 95)
    bench = tagged.where(F.col("_bucket") >= 95)
    # both feature families are per-row projections: compose them in ONE
    # scan via the keep-passthrough instead of joining parallel scans
    feats = repetition_features(
        quality_features(train, text_col="text", id_col="doc_id", keep=["text"]),
        text_col="text",
        id_col="doc_id",
        n=3,
        keep=["n_tokens", "quality", "text"],
    )
    # exact-dup rank as a window ON the feature frame (digest computed
    # pre-shuffle, text dropped from the projection): one narrow
    # (digest, id, 3 numerics) exchange replaces the former separate
    # rk scan + doc_id self-join — one fewer parquet scan and two fewer
    # doc_id exchanges of the fact rows.
    ranked = (
        feats.withColumn("_dg", F.md5("text"))
        .select("doc_id", "n_tokens", "quality", "dup_ratio", "_dg")
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("_dg").orderBy("doc_id")),
        )
        .drop("_dg")
    )
    # contamination aggregate left-joined straight onto the ranked rows
    # (coalesce false = the oracle's LEFT JOIN): skips the operator's
    # third train scan for the id spine — inner-join-on-spine and
    # left-join-with-coalesce are equivalent here because every train
    # doc appears in ranked.
    cont = ngram_contamination(
        train, bench, text_col="text", id_col="doc_id", n=8, spine=False
    ).select(F.col("id").alias("doc_id"), "contaminated")
    verdict = (
        F.when(F.col("rn") > 1, F.lit("exact_dup"))
        .when(F.col("n_tokens") < 15, F.lit("too_short"))
        .when(F.col("dup_ratio") > 0.05, F.lit("repetitive"))
        .when(F.col("quality") < 0.6, F.lit("low_quality"))
        .when(F.coalesce(F.col("contaminated"), F.lit(False)), F.lit("contaminated"))
        .otherwise(F.lit("kept"))
    )
    return (
        ranked.join(cont, "doc_id", "left")
        .withColumn("verdict", verdict)
        .select(
            "doc_id",
            "n_tokens",
            "quality",
            "dup_ratio",
            "verdict",
            (F.col("verdict") == "kept").alias("kept"),
        )
    )


# --------------------------------------------------------------------------
# q105: length-band filtering — keep documents whose whitespace token
# count sits within the per-language discrete [p05, p95] band (the
# outlier-length trim step of corpus curation; discrete percentiles via
# cume_dist are engine-exact, no interpolation). The threshold frame is
# 5 rows and broadcasts; the doc scan never shuffles for the verdict.
# --------------------------------------------------------------------------
@register(
    "q105_length_filter",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
      FROM documents WHERE text IS NOT NULL
    ),
    cd AS (
      SELECT *, cume_dist() OVER (PARTITION BY lang ORDER BY n_tokens) AS c
      FROM base
    ),
    th AS (
      SELECT lang,
             MIN(CASE WHEN c >= 0.05 THEN n_tokens END) AS lo,
             MIN(CASE WHEN c >= 0.95 THEN n_tokens END) AS hi
      FROM cd GROUP BY lang
    )
    SELECT b.doc_id, b.lang, b.n_tokens, th.lo, th.hi,
           b.n_tokens >= th.lo AND b.n_tokens <= th.hi AS keep
    FROM base b JOIN th USING (lang)
    """,
)
def q105_length_filter(spark, sf_dir):
    from pyspark.sql import Window

    # a NULL text has no token count — its NULL n_tokens would shift
    # the cume_dist band edges oppositely on the two engines
    # (null_text axis); excluded on BOTH
    docs = table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    t = F.trim(F.col("text"))
    nt = F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))
    base = docs.select("doc_id", "lang", nt.alias("n_tokens"))
    cd = base.withColumn(
        "c", F.cume_dist().over(Window.partitionBy("lang").orderBy("n_tokens"))
    )
    th = cd.groupBy("lang").agg(
        F.min(F.when(F.col("c") >= 0.05, F.col("n_tokens"))).alias("lo"),
        F.min(F.when(F.col("c") >= 0.95, F.col("n_tokens"))).alias("hi"),
    )
    return base.join(F.broadcast(th), "lang").select(
        "doc_id",
        "lang",
        "n_tokens",
        "lo",
        "hi",
        ((F.col("n_tokens") >= F.col("lo")) & (F.col("n_tokens") <= F.col("hi"))).alias(
            "keep"
        ),
    )


# --------------------------------------------------------------------------
# q106: per-source corpus mix — docs, tokens, mean quality, and each
# source's token share of the corpus (the domain-mixing table a data
# recipe starts from). One map-side-partial aggregate; the share
# normalization is a window over the 20-row aggregate.
# --------------------------------------------------------------------------
@register(
    "q106_source_mix",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, source,
             length(text) AS nc,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
             len(regexp_extract_all(text, '[.,;:!?]')) AS np,
             len(regexp_extract_all(text, '[0-9]')) AS ndg,
             len(regexp_extract_all(lower(text), '{LANG_MARKERS["en"]}')) AS ns
      FROM documents
    ),
    q AS (
      SELECT source, n_tokens,
             least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
               + least((CAST(ns AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE)) * 5.0, 1.0) * 0.3
               + (1.0 - least((CAST(np AS DOUBLE) / CAST(greatest(nc, 1) AS DOUBLE)) * 10.0, 1.0)) * 0.2
               + (1.0 - least((CAST(ndg AS DOUBLE) / CAST(greatest(nc, 1) AS DOUBLE)) * 10.0, 1.0)) * 0.1
               AS quality
      FROM m
    ),
    agg AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             {sql_roundq(
                 "CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)"
                 " / count(*)"
             )} AS mean_quality
      FROM q GROUP BY source
    )
    SELECT source, n_docs, n_tokens, mean_quality,
           {sql_roundq(
               "CAST(n_tokens AS DOUBLE)"
               " / CAST(SUM(n_tokens) OVER () AS DOUBLE)"
           )} AS token_share
    FROM agg
    """,
)
def q106_source_mix(spark, sf_dir):
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    qf = quality_features(
        docs, text_col="text", id_col="doc_id", keep=["source"]
    ).select("doc_id", "source", "n_tokens", "quality")
    agg = (
        qf.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            # micro-unit mean and k/n share (.5-tie class): guarded
            # floor grid (r10 q225 class)
            roundq(
                F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_quality"),
        )
    )
    share = roundq(
        F.col("n_tokens").cast("double")
        / F.sum("n_tokens").over(Window.partitionBy()).cast("double")
    )
    return agg.select(
        "source", "n_docs", "n_tokens", "mean_quality", share.alias("token_share")
    )


# --------------------------------------------------------------------------
# q108: deterministic shard export — the last step of a training-data
# pipeline: every document gets a shard (md5 bucket), a stable position
# within its shard (ordered by content-independent digest = a
# deterministic global shuffle), and the cumulative token offset where
# it starts in the packed shard file. Shuffle keys are the shard id;
# the per-shard window sorts only that shard's rows — embarrassingly
# parallel across shards at any corpus size.
# --------------------------------------------------------------------------
@register(
    "q108_shard_export",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS digest
      FROM documents
    ),
    sh AS (
      SELECT *, ('0x' || substr(digest, 1, 8))::BIGINT % 8 AS shard FROM d
    )
    SELECT doc_id, shard,
           ROW_NUMBER() OVER (PARTITION BY shard ORDER BY digest) AS pos,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(SUM(n_tokens) OVER (
             PARTITION BY shard ORDER BY digest
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS token_offset
    FROM sh
    """,
)
def q108_shard_export(spark, sf_dir):
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    t = F.trim(F.col("text"))
    nt = F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))
    d = docs.select(
        "doc_id",
        nt.alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("digest"),
    ).withColumn(
        "shard",
        F.conv(F.substring("digest", 1, 8), 16, 10).cast("long") % 8,
    )
    w = Window.partitionBy("shard").orderBy("digest")
    woff = w.rowsBetween(Window.unboundedPreceding, -1)
    return d.select(
        "doc_id",
        "shard",
        F.row_number().over(w).alias("pos"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce(F.sum("n_tokens").over(woff), F.lit(0))
        .cast("long")
        .alias("token_offset"),
    )


# --------------------------------------------------------------------------
# q109: corpus-wide duplicated-chunk REMOVAL (CCNet-style shared-passage
# scrub) — q102 measures chunk sharing; this one acts on it: every
# 64-char chunk keeps only its first occurrence (by doc id, position)
# and documents are reassembled from surviving chunks. The fixture has
# no cross-doc duplicate chunks, so the corpus unions a shifted replica
# of every 10th doc (q40's pattern) to exercise real removal.
# --------------------------------------------------------------------------
from airquality_data_pipeline_spark.operators.text import chunk_dedup  # noqa: E402

_CHUNK_HASH_SQL = """
    d AS (SELECT doc_id, text FROM corpus WHERE length(text) > 0),
    ch AS (
      SELECT doc_id, i AS chunk_idx, substring(text, i*64+1, 64) AS chunk
      FROM d, UNNEST(generate_series(0, CAST((length(text)-1) // 64 AS INT))) AS g(i)
    ),
    h AS (
      SELECT doc_id, chunk_idx, chunk,
             ('0x' || substring(md5(chunk), 1, 15))::BIGINT AS chunk_hash
      FROM ch
    )
"""


@register(
    "q109_chunk_dedup",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    ),
    {_CHUNK_HASH_SQL},
    rk AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY chunk_hash ORDER BY doc_id, chunk_idx
      ) AS rn
      FROM h
    )
    SELECT doc_id AS id,
           count(*) AS n_chunks,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(length(string_agg(CASE WHEN rn = 1 THEN chunk ELSE '' END,
                                  '' ORDER BY chunk_idx)) AS BIGINT) AS cleaned_len,
           md5(string_agg(CASE WHEN rn = 1 THEN chunk ELSE '' END,
                          '' ORDER BY chunk_idx)) AS cleaned_md5
    FROM rk GROUP BY doc_id
    """,
)
def q109_chunk_dedup(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return chunk_dedup(corpus, text_col="text", id_col="doc_id", chunk_size=64)


# --------------------------------------------------------------------------
# q111: token-length histogram on power-of-two buckets (the corpus
# length profile used to choose packing/truncation lengths). Bucket id =
# number of binary digits of n_tokens (integer-exact on both engines:
# string length of the base-2 rendering — no float log2 at bucket
# boundaries). The cumulative shares run over the ~12-row aggregate, so
# the global window is trivially safe at any corpus size.
# --------------------------------------------------------------------------
@register(
    "q111_length_histogram",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
      FROM documents WHERE text IS NOT NULL
    ),
    bucketed AS (
      SELECT doc_id, n_tokens,
             CASE WHEN n_tokens = 0 THEN 0
                  ELSE length(bin(n_tokens)) END AS bucket
      FROM base
    ),
    agg AS (
      SELECT bucket,
             CASE WHEN bucket = 0 THEN 0 ELSE (1 << (bucket - 1)) END AS lo,
             CASE WHEN bucket = 0 THEN 0 ELSE (1 << bucket) - 1 END AS hi,
             count(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      FROM bucketed GROUP BY bucket
    )
    SELECT bucket, lo, hi, n_docs, total_tokens,
           {share_rq} AS doc_share,
           {cum_rq} AS cum_doc_share
    FROM agg
    """.format(
        # k/n count ratios (.5-tie class): guarded floor grid (r10
        # q225 class)
        share_rq=sql_roundq(
            "CAST(n_docs AS DOUBLE)"
            " / CAST(SUM(n_docs) OVER () AS DOUBLE)"
        ),
        cum_rq=sql_roundq(
            "CAST(SUM(n_docs) OVER (ORDER BY bucket) AS DOUBLE)"
            " / CAST(SUM(n_docs) OVER () AS DOUBLE)"
        ),
    ),
)
def q111_length_histogram(spark, sf_dir):
    from pyspark.sql import Window

    # NULL texts are unmeasurable — their NULL bucket sits at opposite
    # ends of the cumulative-share window on the two engines
    # (null_text axis); excluded on BOTH
    docs = table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    t = F.trim(F.col("text"))
    nt = F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))
    bucket = F.when(nt == 0, F.lit(0)).otherwise(
        F.length(F.conv(nt.cast("string"), 10, 2))
    )
    agg = (
        docs.select(nt.alias("n_tokens"), bucket.cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .withColumn(
            "lo",
            F.when(F.col("bucket") == 0, F.lit(0))
            .otherwise(F.expr("shiftleft(1, bucket - 1)"))
            .cast("long"),
        )
        .withColumn(
            "hi",
            F.when(F.col("bucket") == 0, F.lit(0))
            .otherwise(F.expr("shiftleft(1, bucket) - 1"))
            .cast("long"),
        )
    )
    everything = Window.partitionBy()
    cum = Window.partitionBy().orderBy("bucket")
    total = F.sum("n_docs").over(everything).cast("double")
    return agg.select(
        "bucket",
        "lo",
        "hi",
        "n_docs",
        "total_tokens",
        roundq(F.col("n_docs").cast("double") / total).alias("doc_share"),
        roundq(F.sum("n_docs").over(cum).cast("double") / total).alias(
            "cum_doc_share"
        ),
    )


# --------------------------------------------------------------------------
# q113: Bloom-filter decontamination gate — the 100 TB fast path for
# q99: the benchmark's distinct md5-derived bit positions broadcast-
# hash-join against the train side's k per-shingle positions (one
# BroadcastExchange, reused k-1 times; `bitmap[p]==1` IS `p IN
# positions`, so false-positive behavior is bloom-identical) + per-doc
# count — zero shuffle before the aggregate, zero plan-build jobs,
# zero Python UDFs. False positives possible by design (docs flagged
# that share no real 8-gram; exact q99 re-checks the flagged subset at
# scale), false negatives impossible — pinned in tests. The
# positions are md5-derived, so the oracle reproduces the
# membership set bit-for-bit and this probabilistic operator still
# gets a full value-hash correctness row.
# --------------------------------------------------------------------------
from airquality_data_pipeline_spark.operators.text import bloom_contamination  # noqa: E402

# position j = 24-bit slice [6j+1, 6j+6] of ONE md5(shingle), mirroring
# operators/text._bloom_pos
_BPOS = "('0x' || substring(md5(shingle), {lo}, 6))::BIGINT % 4194304"


@register(
    "q113_bloom_decontamination",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, text,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
               AS bucket
      FROM documents
    ),
    toks AS (
      SELECT doc_id, bucket, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM b
    ),
    sh AS (
      SELECT DISTINCT doc_id AS id, bucket, array_to_string(t[i:i+7], ' ') AS shingle
      FROM toks, UNNEST(generate_series(1, greatest(len(t) - 7, 0))) AS g(i)
      WHERE len(t) >= 8
    ),
    bpos AS (
      SELECT DISTINCT
             ('0x' || substring(md5(shingle), lo, 6))::BIGINT
               % 4194304 AS pos
      FROM (SELECT DISTINCT shingle FROM sh WHERE bucket >= 95),
           UNNEST([1, 7, 13]) AS g(lo)
    ),
    tsh AS (
      SELECT id,
             {_BPOS.format(lo=1)} AS p0,
             {_BPOS.format(lo=7)} AS p1,
             {_BPOS.format(lo=13)} AS p2
      FROM sh WHERE bucket < 95
    ),
    per AS (
      SELECT id, count(*) AS n_ngrams,
             CAST(SUM(CASE WHEN p0 IN (SELECT pos FROM bpos)
                            AND p1 IN (SELECT pos FROM bpos)
                            AND p2 IN (SELECT pos FROM bpos)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
      FROM tsh GROUP BY id
    )
    SELECT t.doc_id AS id,
           CAST(coalesce(per.n_ngrams, 0) AS BIGINT) AS n_ngrams,
           CAST(coalesce(per.n_flagged, 0) AS BIGINT) AS n_flagged,
           coalesce(per.n_flagged, 0) > 0 AS maybe_contaminated
    FROM (SELECT doc_id FROM b WHERE bucket < 95) t
    LEFT JOIN per ON t.doc_id = per.id
    """,
)
def q113_bloom_decontamination(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    tagged = docs.withColumn("_bucket", bucket)
    train = tagged.where(F.col("_bucket") < 95)
    bench = tagged.where(F.col("_bucket") >= 95)
    return bloom_contamination(
        train, bench, text_col="text", id_col="doc_id", n=8
    )


# --------------------------------------------------------------------------
# q114: unicode/accent normalization — the text-cleanup step that runs
# before tokenization in corpus curation: NFC-ish accent folding via an
# explicit translate map (identical table on both engines — no reliance
# on engine-specific strip_accents), lowercasing, and whitespace
# collapse. Accented runs are planted deterministically from doc_id so
# the fold actually fires on the fixture. Per-row expression work only:
# zero shuffle at any scale.
# --------------------------------------------------------------------------
_ACCENT_FROM = "àáâäåçèéêëìíîïñòóôöøùúûüýÀÁÂÄÅÇÈÉÊËÌÍÎÏÑÒÓÔÖØÙÚÛÜÝ"
_ACCENT_TO = "aaaaaceeeeiiiinooooouuuuyAAAAACEEEEIIIINOOOOOUUUUY"


@register(
    "q114_unicode_normalize",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 4 = 0 THEN '  Café  naïve  Ångström ' ELSE '' END
                  || CASE WHEN doc_id % 9 = 0 THEN ' àéîõü crème  brûlée' ELSE '' END
               AS text
      FROM documents
    ),
    folded AS (
      SELECT doc_id,
             length(text) AS raw_len,
             len(regexp_extract_all(text, '[{_ACCENT_FROM}]')) AS n_accented,
             trim(regexp_replace(
               lower(translate(text, '{_ACCENT_FROM}', '{_ACCENT_TO}')),
               '\\s+', ' ', 'g')) AS norm
      FROM planted
    )
    SELECT doc_id, raw_len, n_accented,
           CAST(length(norm) AS BIGINT) AS norm_len,
           md5(norm) AS norm_md5
    FROM folded
    """,
)
def q114_unicode_normalize(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("  Café  naïve  Ångström "))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 9 == 0, F.lit(" àéîõü crème  brûlée"))
        .otherwise(F.lit("")),
    )
    norm = F.trim(
        F.regexp_replace(
            F.lower(F.translate(planted, _ACCENT_FROM, _ACCENT_TO)),
            r"\s+",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.length(planted).alias("raw_len"),
        F.regexp_count(planted, F.lit(f"[{_ACCENT_FROM}]")).alias("n_accented"),
        F.length(norm).cast("long").alias("norm_len"),
        F.md5(norm).alias("norm_md5"),
    )


# --------------------------------------------------------------------------
# q118: corpus-frequent span scrub — the C4 line-dedup rule re-based on
# 8-token tiles (the fixture has no newline/sentence structure): a tile
# occurring in >= 2 distinct docs is boilerplate and is removed from
# EVERY doc (chunk_dedup q109 keeps first occurrences instead); docs
# reassemble from surviving tiles. Replicas of every 10th doc are
# planted so corpus-frequent tiles actually exist. One window shuffle
# on the tile text + one groupBy(id) — the q102/q109 scale shape.
# --------------------------------------------------------------------------
@register(
    "q118_span_scrub",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
    ),
    d AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM corpus WHERE length(trim(text)) > 0
    ),
    tiles AS (
      SELECT doc_id, i AS tile_idx,
             array_to_string(toks[i*8+1 : i*8+8], ' ') AS tile
      FROM d, UNNEST(generate_series(0, CAST((len(toks)-1) // 8 AS INT))) AS g(i)
    ),
    freq AS (
      SELECT tile, count(DISTINCT doc_id) AS nd FROM tiles GROUP BY tile
    )
    SELECT t.doc_id AS id,
           count(*) AS n_tiles,
           CAST(SUM(CASE WHEN nd < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(length(coalesce(string_agg(CASE WHEN nd < 2 THEN tile END,
                                           ' ' ORDER BY tile_idx), ''))
                AS BIGINT) AS cleaned_len,
           md5(coalesce(string_agg(CASE WHEN nd < 2 THEN tile END,
                                   ' ' ORDER BY tile_idx), '')) AS cleaned_md5
    FROM tiles t JOIN freq USING (tile)
    GROUP BY t.doc_id
    """,
)
def q118_span_scrub(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.text import (
        boilerplate_span_scrub,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return boilerplate_span_scrub(corpus, text_col="text", id_col="doc_id",
                                  span=8)


# --------------------------------------------------------------------------
# q119: BM25 top-10 retrieval for a fixed 3-query set — the
# lexical-search sibling of q44's cosine top-k, built on q54's exact
# integer substrate. The scoring expression is ONE string (bm25_expr)
# evaluated by both engines; per-term contributions quantize to
# DECIMAL(18,6) before the per-(query, doc) sum (the dsum pattern) so
# partition order can't move the score; ranking ties break on doc id.
# --------------------------------------------------------------------------
BM25_QUERIES: list[tuple[int, str]] = [
    (1, "hash"), (1, "join"),
    (2, "table"), (2, "scan"), (2, "fast"),
    (3, "vector"), (3, "batch"), (3, "merge"),
]
from airquality_data_pipeline_spark.operators.text import bm25_expr  # noqa: E402

_BM25_VALUES = ", ".join(f"({qid}, '{term}')" for qid, term in BM25_QUERIES)


@register(
    "q119_bm25_topk",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END AS dl,
             lower(trim(text)) AS t
      FROM documents
    ),
    toks AS (
      SELECT doc_id, unnest(string_split_regex(t, '\\s+')) AS term
      FROM d WHERE dl > 0
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    stats AS (
      SELECT count(*) AS n, CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl FROM d
    ),
    q(query_id, term) AS (VALUES {_BM25_VALUES}),
    scored AS (
      SELECT q.query_id, tf.doc_id,
             CAST(SUM(CAST({bm25_expr()} AS DECIMAL(18,6))) AS DOUBLE) AS score
      FROM tf
      JOIN q ON tf.term = q.term
      JOIN dfreq ON tf.term = dfreq.term
      JOIN d ON tf.doc_id = d.doc_id
      CROSS JOIN stats
      GROUP BY q.query_id, tf.doc_id
    )
    SELECT query_id, doc_id, score, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id
      ) AS rank FROM scored
    ) WHERE rank <= 10
    """,
)
def q119_bm25_topk(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.text import bm25_topk

    docs = table(spark, sf_dir, "documents")
    queries = docs.sparkSession.createDataFrame(
        BM25_QUERIES, "query_id int, term string"
    )
    return bm25_topk(docs, queries, text_col="text", id_col="doc_id", k=10)


# --------------------------------------------------------------------------
# q122: per-doc vocabulary coverage vs the corpus top-20 vocab (count
# desc, term asc — a total order, so the top-k is tie-deterministic on
# both engines). The OOV-rate QA gate every corpus build runs before
# training; vocab derives in-query via TakeOrdered and broadcasts onto
# the token stream — one doc-keyed shuffle, no global sort.
# --------------------------------------------------------------------------
@register(
    "q122_vocab_coverage",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
      FROM documents
    ),
    counts AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
    vocab AS (SELECT term FROM counts ORDER BY cnt DESC, term LIMIT 20),
    per AS (
      SELECT id, count(*) AS n_tokens,
             CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov
      FROM toks LEFT JOIN vocab v USING (term)
      GROUP BY id
    )
    SELECT id, n_tokens, n_oov,
           round(CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
             AS oov_ratio
    FROM per
    """,
)
def q122_vocab_coverage(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.text import vocab_coverage

    docs = table(spark, sf_dir, "documents")
    return vocab_coverage(docs, text_col="text", id_col="doc_id", k=20)


# --------------------------------------------------------------------------
# q123: per-source quality calibration — the source-RELATIVE filtering
# step real curation pipelines use instead of one global threshold
# (sources differ systematically in style; a global cut would empty the
# weakest source): each doc's quality percentile WITHIN its source
# (cume_dist, tie-inclusive on both engines over identical doubles),
# keep = top 60% per source. One source-keyed window — scale-safe.
# --------------------------------------------------------------------------
from airquality_data_pipeline_spark.queries.dedup import (  # noqa: E402
    _QUALITY_SQL,
)


@register(
    "q123_source_calibration",
    oracle=f"""
    WITH {_QUALITY_SQL}
    SELECT doc_id, source,
           {sql_roundq("quality")} AS quality,
           {sql_roundq("q_pct")} AS q_pct,
           q_pct >= 0.4 AS keep
    FROM (
      SELECT q.doc_id, d.source, q.quality,
             cume_dist() OVER (
               PARTITION BY d.source ORDER BY q.quality
             ) AS q_pct
      FROM q JOIN documents d ON q.doc_id = d.doc_id
    )
    """,
)
def q123_source_calibration(spark, sf_dir):
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    feats = quality_features(
        docs, text_col="text", id_col="doc_id", keep=["source"]
    ).select("doc_id", "source", "quality")
    w = Window.partitionBy("source").orderBy("quality")
    pct = F.cume_dist().over(w)
    return feats.select(
        "doc_id",
        "source",
        # quality (weighted ratio mix) and cume_dist (k/n) are
        # rationals (.5-tie class): guarded floor grid (r10 q225)
        roundq(F.col("quality")).alias("quality"),
        roundq(pct).alias("q_pct"),
        (pct >= 0.4).alias("keep"),
    )


# --------------------------------------------------------------------------
# q125: token-budget corpus selection — the data-mixing primitive:
# per source, take documents greedily by quality (ties by doc id)
# until a per-source token budget is exhausted (running token sum,
# explicit ROWS frame so both engines agree even under value ties).
# The cumulative window is source-keyed — one shuffle, scale-safe; at
# deploy scale the budget comes from the mixture-weight table instead
# of a constant.
# --------------------------------------------------------------------------
@register(
    "q125_token_budget_selection",
    oracle=f"""
    WITH {_QUALITY_SQL},
    m AS (
      -- plain split length, matching quality_features' n_tokens
      -- exactly (an empty doc counts 1 — the split yields [''])
      SELECT q.doc_id, d.source, q.quality,
             len(string_split_regex(lower(trim(d.text)), '\\s+')) AS n_tokens
      FROM q JOIN documents d ON q.doc_id = d.doc_id
    ),
    r AS (
      SELECT doc_id, source, n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY quality DESC, doc_id
             ) AS rank,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM m
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           rank, cum_tokens, cum_tokens <= 2000 AS selected
    FROM r
    """,
)
def q125_token_budget_selection(spark, sf_dir):
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    feats = quality_features(
        docs, text_col="text", id_col="doc_id", keep=["source"]
    ).select("doc_id", "source", "quality", "n_tokens")
    w = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    cum = (
        F.sum("n_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
    )
    return feats.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.row_number().over(w).alias("rank"),
        cum.alias("cum_tokens"),
        (cum <= 2000).alias("selected"),
    )


# --------------------------------------------------------------------------
# q126: token-distribution drift between the train and held-out hash
# splits (q103/q113's md5 doc-id bucketing) — the distribution-shift QA
# that catches a skewed split or a contaminated ingest batch: per-term
# occurrence rates on each side, ranked by absolute rate difference
# (rounded-diff desc, term — a total order both engines share). Exact
# integer counts; the only doubles are two divisions of identical
# integers and their difference. Top-20 via TakeOrdered, no global
# sort.
# --------------------------------------------------------------------------
@register(
    "q126_token_drift",
    oracle="""
    WITH b AS (
      SELECT doc_id, text,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
               AS bucket
      FROM documents
    ),
    toks AS (
      SELECT bucket,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
      FROM b
    ),
    per AS (
      SELECT term,
             CAST(SUM(CASE WHEN bucket < 95 THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt_train,
             CAST(SUM(CASE WHEN bucket >= 95 THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt_held
      FROM toks GROUP BY term
    ),
    tot AS (
      SELECT CAST(SUM(cnt_train) AS DOUBLE) AS tot_train,
             CAST(SUM(cnt_held) AS DOUBLE) AS tot_held
      FROM per
    ),
    scored AS (
      SELECT term, cnt_train, cnt_held,
             {rt_rq} AS rate_train,
             {rh_rq} AS rate_held,
             {rd_rq} AS rate_diff
      FROM per, tot
    )
    SELECT term, cnt_train, cnt_held, rate_train, rate_held, rate_diff
    FROM scored ORDER BY rate_diff DESC, term LIMIT 20
    """.format(
        # k/n rates and their gaps are rationals (.5-tie class), and
        # rate_diff ORDERS the top-20: guarded floor grid (r10 q225)
        rt_rq=sql_roundq("cnt_train / tot_train"),
        rh_rq=sql_roundq("cnt_held / tot_held"),
        rd_rq=sql_roundq(
            "abs(cnt_train / tot_train - cnt_held / tot_held)"
        ),
    ),
)
def q126_token_drift(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    toks = docs.select(
        bucket.alias("bucket"),
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("term"),
    )
    per = toks.groupBy("term").agg(
        F.sum(F.when(F.col("bucket") < 95, 1).otherwise(0))
        .cast("long")
        .alias("cnt_train"),
        F.sum(F.when(F.col("bucket") >= 95, 1).otherwise(0))
        .cast("long")
        .alias("cnt_held"),
    )
    tot = per.agg(
        F.sum("cnt_train").cast("double").alias("tot_train"),
        F.sum("cnt_held").cast("double").alias("tot_held"),
    )
    # try_divide: a sparse corpus can leave one split EMPTY (no doc
    # hashes into the 5% held-out bucket) — DuckDB's x/0 is NULL and
    # both engines then order the all-NULL rate_diff by term
    # (minimal-scale robustness sweep catch)
    scored = per.crossJoin(F.broadcast(tot)).select(
        "term",
        "cnt_train",
        "cnt_held",
        roundq(
            F.try_divide(F.col("cnt_train"), F.col("tot_train"))
        ).alias("rate_train"),
        roundq(
            F.try_divide(F.col("cnt_held"), F.col("tot_held"))
        ).alias("rate_held"),
        roundq(
            F.abs(
                F.try_divide(F.col("cnt_train"), F.col("tot_train"))
                - F.try_divide(F.col("cnt_held"), F.col("tot_held"))
            )
        ).alias("rate_diff"),
    )
    return scored.orderBy(F.desc("rate_diff"), F.asc("term")).limit(20)

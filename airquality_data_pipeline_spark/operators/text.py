"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All built from JVM-side string/regex functions (regexp_count, split,
array ops) — vectorized, codegen-friendly, no Python UDFs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.functions.strings import (
    md5_int,
    tokens,
    tokens_sql,
)
from airquality_data_pipeline_spark.operators import fan_out

# Stopword marker sets per language (word-boundary regexes). Deliberately
# tiny: the operator demonstrates the n-gram/stopword-scoring shape;
# swap in real profiles (e.g. fastText-style char n-grams) for production.
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|a|in|is|it|that|for)\b",
    "es": r"\b(el|la|de|que|y|los|las|un|una|por)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein|eine|mit|von)\b",
    "fr": r"\b(le|la|les|et|un|une|est|pour|dans|que)\b",
}
_LANG_ORDER = ("en", "es", "de", "fr")
# the punctuation and digit classes quality_features counts
_PUNCT = r"[.,;:!?]"
_DIGIT = r"[0-9]"


def regexp_count_sql(expr: str, pattern: str) -> str:
    """DuckDB twin of F.regexp_count: the number of matches."""
    return f"len(regexp_extract_all({expr}, '{pattern}'))"


def lang_scores(text: Column) -> list[Column]:
    low = F.lower(text)
    return [
        F.regexp_count(low, F.lit(LANG_MARKERS[lang])).alias(f"score_{lang}")
        for lang in _LANG_ORDER
    ]


def predict_lang() -> Column:
    """Argmax over score columns with fixed priority-order tiebreak;
    'und' (undetermined) when every score is zero."""
    s = {lang: F.col(f"score_{lang}") for lang in _LANG_ORDER}
    pred = F.lit("und")
    # build the CASE chain back-to-front so earlier langs win ties
    for lang in reversed(_LANG_ORDER):
        others = [s[o] for o in _LANG_ORDER if o != lang]
        cond = (s[lang] > 0) & (s[lang] >= F.greatest(*others))
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return pred.alias("pred_lang")


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    scored = df.select(F.col(id_col), *lang_scores(F.col(text_col)))
    return scored.select(id_col, *[f"score_{lang}" for lang in _LANG_ORDER],
                         predict_lang())


def quality_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    keep: list[str] | None = None,
) -> DataFrame:
    """Length / punctuation / digit / stopword-ratio features + a
    composite quality score in [0, 1]. Pure double arithmetic with a
    fixed expression tree (engine-portable bit-exact).

    keep: extra input columns carried through the projection — lets a
    pipeline compose several per-row feature operators in ONE scan
    instead of joining parallel scans on the id (q103)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    toks = tokens(t)
    n_tokens = F.size(toks)
    denom_t = F.greatest(n_tokens, F.lit(1)).cast("double")
    denom_c = F.greatest(n_chars, F.lit(1)).cast("double")
    n_punct = F.regexp_count(t, F.lit(_PUNCT))
    n_digit = F.regexp_count(t, F.lit(_DIGIT))
    n_stop = F.regexp_count(F.lower(t), F.lit(LANG_MARKERS["en"]))
    avg_tok_len = (n_chars - (n_tokens - 1)).cast("double") / denom_t
    punct_ratio = n_punct.cast("double") / denom_c
    digit_ratio = n_digit.cast("double") / denom_c
    stop_ratio = n_stop.cast("double") / denom_t
    quality = (
        F.least(n_tokens.cast("double") / F.lit(50.0), F.lit(1.0)) * F.lit(0.4)
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * F.lit(0.3)
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(10.0), F.lit(1.0))) * F.lit(0.2)
        + (F.lit(1.0) - F.least(digit_ratio * F.lit(10.0), F.lit(1.0))) * F.lit(0.1)
    )
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        avg_tok_len.alias("avg_tok_len"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality"),
        *(keep or []),
    )


def quality_features_sql(src: str, carry: tuple[str, ...]) -> str:
    """DuckDB twin of quality_features: the CTE `q` over the relation
    src(doc_id, text, *carry), with quality_features' columns and then
    carry. The same expression tree on the same doubles, so both
    engines score each document bit-identically."""
    c = "".join(f", {x}" for x in carry)
    return f"""
    q AS (
      SELECT doc_id, n_chars_calc, n_tokens, avg_tok_len, punct_ratio,
             digit_ratio, stop_ratio,
             least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
               + least(stop_ratio * 5.0, 1.0) * 0.3
               + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2
               + (1.0 - least(digit_ratio * 10.0, 1.0)) * 0.1 AS quality{c}
      FROM (
        SELECT doc_id{c}, n_chars_calc, n_tokens,
               CAST(n_chars_calc - (n_tokens - 1) AS DOUBLE)
                 / CAST(greatest(n_tokens, 1) AS DOUBLE) AS avg_tok_len,
               CAST(n_punct AS DOUBLE)
                 / CAST(greatest(n_chars_calc, 1) AS DOUBLE) AS punct_ratio,
               CAST(n_digit AS DOUBLE)
                 / CAST(greatest(n_chars_calc, 1) AS DOUBLE) AS digit_ratio,
               CAST(n_stop AS DOUBLE)
                 / CAST(greatest(n_tokens, 1) AS DOUBLE) AS stop_ratio
        FROM (
          SELECT doc_id{c}, length(text) AS n_chars_calc,
                 len({tokens_sql("text")}) AS n_tokens,
                 {regexp_count_sql("text", _PUNCT)} AS n_punct,
                 {regexp_count_sql("text", _DIGIT)} AS n_digit,
                 {regexp_count_sql("lower(text)", LANG_MARKERS["en"])} AS n_stop
          FROM {src}
        )
      )
    )"""


def token_counts(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Whitespace token count + a BPE-ish subword proxy: alpha runs,
    single digits, and single punctuation marks counted separately
    (greedy left-to-right, identical across regex engines)."""
    t = F.col(text_col)
    ws = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(t), r"\s+"))
    )
    bpe = F.regexp_count(F.lower(t), F.lit(r"[a-z]+|[0-9]|[^a-z0-9\s]"))
    return df.select(
        F.col(id_col),
        ws.alias("ws_tokens"),
        bpe.alias("bpe_ish_tokens"),
    )


def term_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Corpus term statistics — the integer substrate of TF-IDF:
    per-term document frequency, total term frequency, max in-doc tf.
    The input goes through fan_out before the explode; both
    aggregations are map-side partial. The idf-weighted vectors (which
    need log()) build on this in tfidf_vectors()."""
    df = fan_out(df)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(text_col)).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("total_tf"),
        F.max("tf").alias("max_tf"),
    )


def tfidf_vectors(
    df: DataFrame, text_col: str, id_col: str, min_df: int = 2
) -> DataFrame:
    """Sparse TF-IDF weights per (doc, term):
    tfidf = tf * (ln((N+1)/(df+1)) + 1)  (smoothed idf).
    ln()'s last ulp is libm-dependent, so the oracle-checked query
    (q62) rounds the weight to 6 decimals — engines agree to ~1e-16
    relative, far inside that grain; the exact-integer substrate is
    separately oracle-checked via term_stats (q54)."""
    df = fan_out(df)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(text_col)).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.countDistinct(id_col).alias("n"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf.join(F.broadcast(dfreq.where(F.col("df") >= min_df)), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (F.log((F.col("n") + 1) / (F.col("df") + 1)) + F.lit(1.0)),
        )
        .select("id", "term", "tf", "df", "tfidf")
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Order-insensitive document fingerprint: md5 over the sorted
    distinct token set (the classic 'fingerprint' clustering key —
    robust to word reordering, whitespace, and duplication)."""
    toks = tokens(text_col)
    canon = F.array_join(F.array_sort(F.array_distinct(toks)), " ")
    return df.select(
        F.col(id_col),
        F.md5(canon).alias("fingerprint"),
        F.size(F.array_distinct(toks)).alias("vocab_size"),
    )


def repetition_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    keep: list[str] | None = None,
) -> DataFrame:
    """Within-document n-gram repetition: total vs distinct word
    n-grams and the duplicate ratio — the standard repetition quality
    filter for LLM corpora (a doc whose n-grams repeat heavily is
    boilerplate/spam; cf. Gopher/MassiveText repetition rules).

    Pure per-row array arithmetic: no shuffle at any scale. The token
    split and shingle array are bound with let() (evaluated once per
    row) and the two counts exit through a Generate boundary so the
    ratio columns read attributes — the naive inlined form re-built the
    shingle array per output column and re-split per shingle position
    (measured 10.7 s -> 0.6 s at sf0.1).
    """
    from airquality_data_pipeline_spark.functions.expr import let, materialize
    from airquality_data_pipeline_spark.operators.dedup import shingle_array

    toks = tokens(text_col)
    stats = let(
        toks,
        lambda w: let(
            shingle_array(w, n),
            lambda s: F.struct(
                F.size(s).alias("t"),
                F.size(F.array_distinct(s)).alias("d"),
            ),
        ),
    )
    bound = materialize(df, [id_col, *(keep or [])], stats, "_s")
    total = F.col("_s.t")
    distinct = F.col("_s.d")
    dup_ratio = F.when(
        total > 0,
        F.round(
            F.lit(1.0) - distinct.cast("double") / total.cast("double"), 6
        ),
    ).otherwise(F.lit(0.0))
    return bound.select(
        F.col(id_col),
        total.alias("n_ngrams"),
        distinct.alias("n_distinct_ngrams"),
        dup_ratio.alias("dup_ratio"),
        *(keep or []),
    )


def ngram_contamination(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    spine: bool = True,
) -> DataFrame:
    """Benchmark decontamination: per training document, how many of
    its distinct word n-grams also occur anywhere in the benchmark set
    (the n-gram-collision test-set-leak check used when curating LLM
    training corpora; n=8..13 is the usual window).

    Scale shape: both sides shingle with one narrow explode each; the
    benchmark's distinct-shingle set is tiny relative to the corpus
    (benchmarks are fixed-size), so Spark broadcasts it and the train
    side never shuffles before the per-doc count; docs shorter than n
    tokens have no n-grams and are reported with zero counts via the
    right join back to the doc list.

    spine=False skips that join back (and its extra scan of `train`):
    the caller gets only docs with >= n tokens and must treat missing
    ids as zero-count — the right call when the result is left-joined
    onto a frame that already spans every doc (q103).
    """
    from airquality_data_pipeline_spark.operators.dedup import word_shingles

    train_sh = word_shingles(train, text_col=text_col, id_col=id_col, n=n)
    bench_sh = (
        word_shingles(benchmark, text_col=text_col, id_col=id_col, n=n)
        .select("shingle")
        .distinct()
    )
    # left-join marks shingles present in the benchmark; a semi-join
    # would lose the total-count denominator
    hits = train_sh.join(
        bench_sh.withColumn("_hit", F.lit(True)), "shingle", "left"
    )
    per_doc = hits.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        F.sum(F.when(F.col("_hit"), 1).otherwise(0)).alias("n_contaminated"),
    )
    if not spine:
        return per_doc.select(
            "id",
            F.col("n_ngrams").cast("long").alias("n_ngrams"),
            F.col("n_contaminated").cast("long").alias("n_contaminated"),
            (F.col("n_contaminated") > 0).alias("contaminated"),
        )
    return (
        train.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_ngrams", F.lit(0)).cast("long").alias("n_ngrams"),
            F.coalesce("n_contaminated", F.lit(0))
            .cast("long")
            .alias("n_contaminated"),
            (F.coalesce("n_contaminated", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# PII scrub rules, applied SEQUENTIALLY (each count runs on the text as
# redacted by the previous rules, so the three counts partition the
# matches unambiguously). Patterns are deliberately in the common subset
# of Java regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround.
PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
]


def pii_scrub(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """PII detection + redaction — the scrub pass every training-corpus
    pipeline runs before release: emails, IPv4 addresses, and phone-like
    digit runs are counted and replaced with typed placeholder tokens.

    Pure per-row regexp work (regexp_count / regexp_replace chains, no
    UDF): embarrassingly parallel, zero shuffle at any scale. The
    redacted text is returned as an md5 digest + length so the output
    stays narrow (the full redacted column would be the same width as
    the corpus)."""
    cur = F.col(text_col)
    counts = []
    for name, pat, _repl in PII_RULES:
        counts.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, _repl)
    return df.select(
        F.col(id_col),
        *counts,
        F.length(cur).alias("n_chars_redacted"),
        F.md5(cur).alias("redacted_digest"),
    )


def chunk_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_size: int = 64,
    keep_chunk: bool = False,
) -> DataFrame:
    """Content-chunk document fingerprinting: the text is cut into
    fixed-size character chunks and each chunk is keyed by an
    md5-derived fingerprint — two docs sharing a run of >= chunk_size
    chars at the same alignment share a chunk hash (the
    partial-overlap / shared-passage signal exact-doc dedup misses).

    The key is the leading 15 hex digits (60 bits, the widest
    signed-bigint-safe cut) of md5(chunk) as a BIGINT: 8-byte shuffle
    rows. Birthday bound ~ n^2 / 2^61 collisions among n distinct
    chunks — negligible below ~10^8 chunks (p < 0.5% at 10^8), which
    covers any single-corpus audit; a collision makes downstream dedup
    silently drop a unique chunk. The earlier 31-bit Rabin-Karp fold
    collided at ~10^5 chunks and is gone; md5 is also what a SQL oracle
    reproduces bit-exactly.

    All per-row JVM-side work (substring + md5, whole-stage codegen):
    the only wide operation a consumer adds is the groupBy on
    chunk_hash. Empty documents produce zero chunks.
    """
    t = F.col(text_col)
    n_chunks = (F.floor((F.length(t) - 1) / F.lit(chunk_size)) + 1).cast("int")
    chunks = F.when(
        F.length(t) > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.substring(t, i * chunk_size + 1, chunk_size),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(chunks).alias("chunk_idx", "chunk"),
    )
    hashed = md5_int("chunk", 1, 15)
    return exploded.select(
        "id",
        "chunk_idx",
        hashed.alias("chunk_hash"),
        F.length("chunk").alias("chunk_len"),
        # keep_chunk rides the chunk text along for consumers that
        # reassemble documents (chunk-level dedup) — off by default so
        # fingerprint-only consumers shuffle narrow rows
        *(["chunk"] if keep_chunk else []),
    )


BLOOM_K = 3
BLOOM_M = 1 << 22  # 4 Mi bits = 512 KiB bitmap


def _bloom_pos(shingle: Column, j: int) -> Column:
    """Bit position j for a shingle: hex digits [6j+1, 6j+6] (24 bits)
    of ONE md5(shingle), mod BLOOM_M. All k positions slice the same digest
    (the standard one-hash/k-slices bloom construction — stronger than
    Kirsch-Mitzenmacher double hashing), so the k probes cost ONE md5
    per shingle: the identical subexpressions are eliminated by
    whole-stage codegen (was k salted digests = k md5s). md5-derived so
    ANY engine computes the identical position — the whole bloom gate
    is hash-match checkable against a SQL oracle, unlike an
    engine-internal sketch format. 24 bits per slice covers BLOOM_M up
    to 2^24; md5's 32 hex chars bound k * 6 <= 32 (k <= 5)."""
    assert BLOOM_M <= 1 << 24 and 6 * j + 6 <= 32
    return md5_int(shingle, 6 * j + 1, 6) % BLOOM_M


def bloom_contamination(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
) -> DataFrame:
    """Bloom-style decontamination gate — the broadcast-only fast path
    for `ngram_contamination` at corpus scale, expressed ENTIRELY
    in-plan (zero driver-side jobs at build, zero Python UDFs): the
    benchmark's distinct k bit positions per n-gram (md5-derived,
    `_bloom_pos`) form a small distinct frame that broadcast-hash-joins
    against the train side's k per-shingle positions. `bitmap[p] == 1`
    is exactly `p IN (distinct positions)` — the hash relation IS the
    bloom membership test (same false-positive behavior: collisions
    happen in position space, mod m), so results are bit-identical to
    the SQL oracle's `IN (SELECT pos ...)`.

    Scale shape: the k probes are k broadcast LEFT joins over the SAME
    build plan (one BroadcastExchange, k-1 ReusedExchange — verified in
    the executed plan), so NO shuffle touches the train shingles before
    the per-doc aggregate. Broadcast size is min(k * |bench n-grams|,
    m) distinct longs — benchmark-bounded, never train-bounded, and
    never more than 2^24 (`_bloom_pos` asserts m <= 2^24). Here
    k = BLOOM_K and m = BLOOM_M.

    Guarantee: no false negatives (every truly contaminated doc is
    flagged); false positives at ~(1-e^{{-kn/m}})^k. The production
    pattern is bloom-gate first, exact `ngram_contamination` re-check
    on the (tiny) flagged subset. No-false-negative containment vs the
    exact operator and full cross-engine value parity are pinned in
    tests.
    """
    from airquality_data_pipeline_spark.operators.dedup import word_shingles

    bench_sh = word_shingles(
        benchmark, text_col=text_col, id_col=id_col, n=n
    )
    bpos = (
        bench_sh.select(
            F.explode(
                F.array(*[_bloom_pos(F.col("shingle"), j) for j in range(BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
    )

    train_sh = word_shingles(train, text_col=text_col, id_col=id_col, n=n)
    t = train_sh.select(
        "id",
        *[_bloom_pos(F.col("shingle"), j).alias(f"_p{j}") for j in range(BLOOM_K)],
    )
    # k broadcast left joins against the SAME distinct-position build
    # plan (aliases canonicalize away -> one exchange, reused k-1
    # times); `pos` is non-null exactly when the probe hits, renamed
    # per probe so later joins stay unambiguous. bpos is distinct, so
    # a left join can never duplicate train rows.
    for j in range(BLOOM_K):
        b = bpos.alias(f"_b{j}")
        t = t.join(
            F.broadcast(b), F.col(f"_p{j}") == b["pos"], "left"
        ).withColumnRenamed("pos", f"_hit{j}")
    maybe = reduce(
        lambda a, c: a & c,
        [F.col(f"_hit{j}").isNotNull() for j in range(BLOOM_K)],
    )
    per_doc = t.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        F.sum(F.when(maybe, 1).otherwise(0)).cast("long").alias("n_flagged"),
    )
    return (
        train.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_ngrams", F.lit(0)).cast("long").alias("n_ngrams"),
            F.coalesce("n_flagged", F.lit(0)).cast("long").alias("n_flagged"),
            (F.coalesce("n_flagged", F.lit(0)) > 0).alias("maybe_contaminated"),
        )
    )


def chunk_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_size: int = 64,
) -> DataFrame:
    """Corpus-wide duplicated-chunk removal (the CCNet-style shared-
    passage scrub): every fixed-size chunk keeps only its FIRST
    occurrence across the whole corpus (ordered by (doc id, position)),
    and each document is reassembled from its surviving chunks.

    Scale shape: one window shuffle on the 8-byte chunk hash decides
    keep/drop (row_number over (hash) ordered by (id, idx) — no
    collect, no join back), then one groupBy(id) reassembles. Rows
    crossing the exchanges carry at most chunk_size chars of text.
    Returns (id, n_chunks, n_kept, cleaned_len, cleaned_md5) — the
    cleaned text is concat-in-position-order of kept chunks; emitting
    its md5/length keeps the output row narrow."""
    from pyspark.sql import Window

    ch = chunk_fingerprints(
        df, text_col, id_col, chunk_size=chunk_size, keep_chunk=True
    )
    w = Window.partitionBy("chunk_hash").orderBy("id", "chunk_idx")
    flagged = ch.withColumn("_keep", F.row_number().over(w) == 1)
    kept_struct = F.when(
        F.col("_keep"), F.struct("chunk_idx", "chunk")
    )  # null when dropped -> skipped by collect_list
    cleaned = F.concat_ws(
        "",
        F.transform(
            F.array_sort(F.collect_list(kept_struct)), lambda s: s["chunk"]
        ),
    )
    return flagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        F.length(cleaned).cast("long").alias("cleaned_len"),
        F.md5(cleaned).alias("cleaned_md5"),
    )


def boilerplate_ngram_stats(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, min_df: int = 10
) -> DataFrame:
    """Corpus-wide boilerplate contamination per document: an n-gram
    appearing in >= min_df distinct documents is 'boilerplate'
    (navigation chrome, license headers, templates — the C4/RefinedWeb
    line-dedup signal at n-gram granularity); each document reports how
    many of its distinct n-grams are boilerplate and the ratio.

    Scale shape: shingle doc-frequencies are one map-side-partial
    groupBy on the shingle; the join back to per-doc shingles reuses
    that hash partitioning; the per-doc rollup is a second partial agg.
    No broadcast of the (large) shingle-frequency side is attempted.
    """
    from airquality_data_pipeline_spark.operators.dedup import word_shingles

    sh = word_shingles(df, text_col=text_col, id_col=id_col, n=n)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(dfreq, "shingle")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") >= min_df).cast("long")).alias("n_boiler"),
            F.round(
                F.sum((F.col("df") >= min_df).cast("long")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("boiler_ratio"),
        )
    )


def boilerplate_span_scrub(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span: int = 8,
) -> DataFrame:
    """Corpus-frequent span removal — the C4 line-dedup rule re-based on
    token tiles for corpora with no line structure: documents tile into
    fixed `span`-token windows (stride = span), and a tile whose
    normalized text occurs in >= 2 DISTINCT documents is boilerplate,
    removed from EVERY document (unlike chunk_dedup, which keeps the
    first occurrence); documents reassemble from surviving tiles in
    position order.

    Scale shape: one window shuffle on the tile text decides
    boilerplate ("in >= 2 docs" == min(id) != max(id) over the tile
    partition — one shuffle + one scan, the q102 pattern; a groupBy +
    join back would recompute and reshuffle the tile subtree), then one
    groupBy(id) reassembles. Rows crossing the exchange carry at most
    `span` tokens of text. Empty documents are excluded (zero tiles),
    matching chunk_dedup.

    Output: (id, n_tiles, n_kept, cleaned_len, cleaned_md5) where the
    cleaned text is the space-join of surviving normalized tiles.
    """
    from pyspark.sql import Window

    toks = tokens(text_col)
    n_tiles = (F.floor((F.size(toks) - 1) / F.lit(span)) + 1).cast("int")
    tiles = F.transform(
        F.sequence(F.lit(0), n_tiles - 1),
        lambda i: F.array_join(F.slice(toks, i * span + 1, span), " "),
    )
    exploded = df.where(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col).alias("id"),
        F.posexplode(tiles).alias("tile_idx", "tile"),
    )
    w = Window.partitionBy("tile")
    keep = F.min("id").over(w) == F.max("id").over(w)
    kept_struct = F.when(F.col("_keep"), F.struct("tile_idx", "tile"))
    cleaned = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(kept_struct)), lambda s: s["tile"]
        ),
        " ",
    )
    return (
        exploded.withColumn("_keep", keep)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum(F.col("_keep").cast("long")).alias("n_kept"),
            F.length(cleaned).cast("long").alias("cleaned_len"),
            F.md5(cleaned).alias("cleaned_md5"),
        )
    )


# BM25 constants shared by the Spark plan and the SQL oracle: formatted
# into BOTH expression texts via repr so each engine parses the
# identical double literal (k1 + 1 computed once here — re-deriving it
# per engine could round differently from a parsed "2.2").
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_expr() -> str:
    """The per-(query-term, doc) BM25 contribution as ANSI SQL text over
    columns (tf, df, dl, n, avgdl) — one string, two engines: Spark
    evaluates it via F.expr, DuckDB verbatim. Identical expression tree
    + identical double literals => identical IEEE ops => identical
    doubles (up to ln()'s last ulp, absorbed by the DECIMAL(18,6)
    quantization in the caller's sum)."""
    return (
        f"ln(1 + (n - df + 0.5) / (df + 0.5))"
        f" * (tf * {BM25_K1 + 1.0!r})"
        f" / (tf + {BM25_K1!r} * (1 - {BM25_B!r} + {BM25_B!r} * dl / avgdl))"
    )


def bm25_scores_sql(src: str) -> str:
    """DuckDB twin of bm25_topk's statistics and scoring, before the
    top-k: the CTEs d, toks, tf, dfreq and stats over src(doc_id, text),
    then scored(query_id, doc_id, score) for the query relation
    q(query_id, term), which the caller defines first. dfreq counts
    every term, not only the query terms; over a query term it equals
    bm25_topk's pruned count."""
    # function-level: queries/ imports this module
    from airquality_data_pipeline_spark.queries.common import sql_dsum

    return f"""
    d AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len({tokens_sql("text")}) END AS dl,
             lower(trim(text)) AS t
      FROM {src}
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
    scored AS (
      SELECT q.query_id, tf.doc_id, {sql_dsum(bm25_expr())} AS score
      FROM tf
      JOIN q ON tf.term = q.term
      JOIN dfreq ON tf.term = dfreq.term
      JOIN d ON tf.doc_id = d.doc_id
      CROSS JOIN stats
      GROUP BY q.query_id, tf.doc_id
    )"""


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """BM25 top-k retrieval over the corpus for a bounded query set —
    the lexical-search sibling of cosine_topk (q44), and the retrieval
    primitive a training-data pipeline uses for decontamination probes
    and eval-set mining.

    Scale shape: the broadcast query-term set filters the exploded
    token stream BEFORE any aggregate, so tf/df shuffle only matched
    postings (proportional to query hits, not corpus tokens) — df for a
    query term over the filtered stream equals its corpus-wide df.
    Only the cheap scalar (N, avgdl) aggregate scans the full corpus,
    with no explode, and rides a broadcast single-row frame. Per-term
    contributions are quantized to DECIMAL(18,6) before the
    per-(query, doc) sum so the score is independent of partition
    summation order (the repo-wide dsum pattern), and ranking orders by
    that exact decimal-derived double with doc id tie-break.

    queries: (query_id int, term string). Output: (query_id, doc_id,
    score, rank) with rank <= k per query.
    """
    from pyspark.sql import Window

    # function-level: queries/ imports this module
    from airquality_data_pipeline_spark.queries.common import dsum

    t = F.trim(F.col(text_col))
    dl_col = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.lower(t), r"\s+"))
    )
    d = df.select(F.col(id_col).alias("doc_id"), dl_col.alias("dl"),
                  F.lower(t).alias("_t"))
    terms = queries.select("term").distinct()
    toks = (
        d.where(F.col("dl") > 0)
        .select("doc_id", F.explode(F.split(F.col("_t"), r"\s+")).alias("term"))
        .join(F.broadcast(terms), "term")  # prune postings pre-aggregate
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = d.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    contrib = F.expr(bm25_expr())
    scored = (
        tf.join(F.broadcast(queries), "term")
        .join(F.broadcast(dfreq), "term")
        .join(d.select("doc_id", "dl"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(dsum(contrib).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def vocab_coverage(
    df: DataFrame, text_col: str, id_col: str, k: int = 20
) -> DataFrame:
    """Per-document vocabulary coverage against the corpus top-k
    vocabulary — the tokenizer-coverage QA every corpus build runs
    before training (docs dominated by out-of-vocabulary tokens are
    encoding noise, OCR garbage, or the wrong language).

    The vocabulary is derived IN-QUERY as the k most frequent tokens
    under the total order (count desc, term asc) — deterministic under
    ties, and the top-k is a TakeOrdered (map-side partial top-k per
    partition, no global sort). The vocab then broadcasts onto the
    token stream; per-doc aggregation is one shuffle on doc id.

    Output: (id, n_tokens, n_oov, oov_ratio). Tokenization matches
    term_stats (whitespace split of lower(trim(text)); an empty doc
    contributes one '' token, so n_tokens >= 1).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(text_col)).alias("term"),
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(k)
        .select("term", F.lit(True).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_oov"),
        )
        .withColumn(
            "oov_ratio",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"),
                6,
            ),
        )
    )

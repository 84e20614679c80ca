"""Second LLM-curation batch (round 5, session 5): epoch-capped token
allocation (the waterfilling mixture solver), template-prefix
detection, tokenizer fertility statistics, and curriculum interleave
ordering.

These extend the llmops family (A-ES sampling, perplexity filters,
token budgets, leakage audits) with the remaining mixture-design and
tokenizer-QA primitives a training-data pipeline runs before packing:
how many epochs of each language fit a token budget under per-source
caps, which documents share templated boilerplate prefixes, how a
tokenizer's fertility varies by language, and what order the packed
curriculum should emit difficulty strata in. Design rules as
elsewhere: integer token counts, closed-form waterfilling over the
per-group AGGREGATE (never a driver loop), md5-derived ordering, and
double arithmetic only in shared final expressions. No reference
analog (SURVEY.md §2.5 extension).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.functions.strings import (
    md5_int,
    md5_int_sql,
    md5_unit,
)
from airquality_data_pipeline_spark.io import table
from airquality_data_pipeline_spark.operators.similarity import cosine_sql
from airquality_data_pipeline_spark.queries.common import (
    dsum,
    epoch_day,
    finite,
    roundq,
    sql_dec,
    sql_double,
    sql_dsum,
    sql_epoch_day,
    sql_finite,
    sql_roundq,
)
from airquality_data_pipeline_spark.queries.registry import register


# --------------------------------------------------------------------------
# q214: epoch-capped token allocation — waterfilling the mixture.
# Budget B = 2.5x the corpus's whitespace tokens; each language may
# contribute at most cap = epochs_cap x its own tokens (1 epoch for
# 'en', 4 for low-resource languages — the upsampling asymmetry that
# makes the cap bind). The classic waterfill: sort languages by cap
# ascending, find the first k where the level
# lambda_k = (B - sum(caps below)) / (n - k + 1) fits under cap_k;
# everything below k is capped, everything from k on gets lambda_k.
# Closed form from one cumulative-sum window over the |languages|-row
# aggregate — no iteration, no driver loop; at 100 TB only the token
# groupBy touches the corpus. Integer caps; lambda is the only double
# and is assembled identically on both engines.
# --------------------------------------------------------------------------
@register(
    "q214_epoch_capped_mixture",
    oracle="""
    WITH toks AS (
      SELECT lang,
             CAST(SUM(CASE WHEN len(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+'))
                      END) AS BIGINT) AS c
      FROM documents GROUP BY lang
    ),
    capped AS (
      SELECT lang, c,
             c * CASE WHEN lang = 'en' THEN 1 ELSE 4 END AS cap
      FROM toks
    ),
    anchor AS (
      SELECT CAST(SUM(c) AS BIGINT) * 2.5 AS b,
             CAST(count(*) AS BIGINT) AS n
      FROM capped
    ),
    ranked AS (
      SELECT lang, c, cap, b, n,
             CAST(row_number() OVER (ORDER BY cap, lang) AS BIGINT) AS i,
             CAST(COALESCE(SUM(cap) OVER (ORDER BY cap, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_below
      FROM capped, anchor
    ),
    lam AS (
      SELECT min(i) AS k
      FROM ranked
      WHERE (b - cum_below) / (n - i + 1) <= cap
    ),
    level AS (
      SELECT r.b, (r.b - r.cum_below) / (r.n - r.i + 1) AS lambda_
      FROM ranked r JOIN lam ON r.i = lam.k
    )
    SELECT r.lang, r.c AS lang_tokens, r.cap,
           {alloc_rq} AS alloc_tokens,
           {epochs_rq} AS epochs
    FROM ranked r LEFT JOIN level l ON TRUE
    """.format(
        # waterfilling levels and epoch ratios are integer rationals
        # (.5-tie class): guarded floor grid (r10 q225 class)
        alloc_rq=sql_roundq(
            "CASE WHEN l.lambda_ IS NULL"
            " OR (l.lambda_ IS NOT NULL AND r.i < (SELECT k FROM lam))"
            " THEN CAST(r.cap AS DOUBLE)"
            " ELSE l.lambda_ END", 3
        ),
        epochs_rq=sql_roundq(
            "CASE WHEN l.lambda_ IS NULL"
            " OR (l.lambda_ IS NOT NULL AND r.i < (SELECT k FROM lam))"
            " THEN CAST(r.cap AS DOUBLE)"
            " ELSE l.lambda_ END / r.c"
        ),
    ),
)
def q214_epoch_capped_mixture(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("lang", "text")
    t = F.trim(F.col("text"))
    ws = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )
    toks = docs.groupBy("lang").agg(F.sum(ws).alias("c"))
    capped = toks.withColumn(
        "cap",
        F.col("c") * F.when(F.col("lang") == "en", 1).otherwise(4),
    )
    anchor = capped.agg(
        (F.sum("c") * 2.5).alias("b"), F.count(F.lit(1)).alias("n")
    )
    wr = W.orderBy("cap", "lang")
    ranked = capped.crossJoin(F.broadcast(anchor)).select(
        "lang",
        "c",
        "cap",
        "b",
        "n",
        F.row_number().over(wr).cast("long").alias("i"),
        F.coalesce(
            F.sum("cap").over(wr.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("cum_below"),
    )
    lam_i = (F.col("b") - F.col("cum_below")) / (
        F.col("n") - F.col("i") + 1
    )
    lam = (
        ranked.where(lam_i <= F.col("cap"))
        .agg(F.min("i").alias("k"))
    )
    # level must ALWAYS be exactly one row, mirroring the oracle's
    # LEFT JOIN level ON TRUE: when no rank is feasible (B exceeds the
    # total cap, e.g. an en-heavy corpus) k is NULL, the old inner
    # join produced ZERO rows, and the crossJoin silently emptied the
    # whole allocation. A left join from the 1-row lam frame keeps the
    # row with lambda_ NULL, so every language falls into the
    # alloc=cap branch exactly like the oracle.
    level = (
        lam.join(F.broadcast(ranked), lam.k == ranked.i, "left")
        .select(lam_i.alias("lambda_"), F.col("k").alias("k2"))
    )
    j = ranked.crossJoin(F.broadcast(level))
    alloc = F.when(
        F.col("lambda_").isNull() | (F.col("i") < F.col("k2")),
        F.col("cap").cast("double"),
    ).otherwise(F.col("lambda_"))
    return j.select(
        "lang",
        F.col("c").alias("lang_tokens"),
        "cap",
        roundq(alloc, 3).alias("alloc_tokens"),
        roundq(alloc / F.col("c")).alias("epochs"),
    )


# --------------------------------------------------------------------------
# q215: template-prefix detection — documents sharing a long common
# prefix are templated boilerplate (auto-generated intros, scraped
# headers); dedup misses them when bodies differ. The fixture corpus
# is organically prefix-free, so every 11th doc is planted with a
# shared header (the same corpus-union construction both engines
# derive). One row-local prefix projection + one groupBy; flagged
# prefixes need >= 3 docs from >= 2 sources.
# --------------------------------------------------------------------------
@register(
    "q215_template_prefix",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 500000, source,
             'TEMPLATE HEADER v1: all rights reserved. ' || text
      FROM documents WHERE doc_id % 11 = 0
    ),
    pre AS (
      SELECT doc_id, source, substr(text, 1, 32) AS prefix
      FROM corpus WHERE len(text) >= 32
    )
    SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM pre
    GROUP BY prefix
    HAVING count(*) >= 3 AND count(DISTINCT source) >= 2
    """,
)
def q215_template_prefix(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    planted = docs.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        "source",
        F.concat(
            F.lit("TEMPLATE HEADER v1: all rights reserved. "),
            F.col("text"),
        ).alias("text"),
    )
    corpus = docs.unionByName(planted)
    pre = corpus.where(F.length("text") >= 32).select(
        "doc_id", "source", F.substring("text", 1, 32).alias("prefix")
    )
    g = pre.groupBy("prefix").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
    )
    return g.where((F.col("n_docs") >= 3) & (F.col("n_sources") >= 2))


# --------------------------------------------------------------------------
# q216: tokenizer fertility — per language, subword-per-word fertility
# and chars-per-subword for the catalog's BPE-ish proxy tokenizer
# (operators/text.token_counts: alpha runs, single digits, single
# punctuation). High-fertility languages cost more sequence length per
# word — the tokenizer-QA table read before setting packing lengths
# (q98). Pure integer sums; ratios are single divisions of exact
# integers.
# --------------------------------------------------------------------------
@register(
    "q216_tokenizer_fertility",
    oracle="""
    WITH per_doc AS (
      SELECT lang,
             CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+'))
             END AS words,
             len(regexp_extract_all(lower(text),
                 '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS subwords,
             len(text) AS chars
      FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(words) AS BIGINT) AS words,
           CAST(SUM(subwords) AS BIGINT) AS subwords,
           {fert_rq} AS fertility,
           {cps_rq} AS chars_per_subword
    FROM per_doc GROUP BY lang
    """.format(
        # k/n count ratios (.5-tie class): guarded floor grid (r10
        # q225 class)
        fert_rq=sql_roundq("CAST(SUM(subwords) AS DOUBLE) / SUM(words)"),
        cps_rq=sql_roundq("CAST(SUM(chars) AS DOUBLE) / SUM(subwords)"),
    ),
)
def q216_tokenizer_fertility(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("lang", "text")
    t = F.trim(F.col("text"))
    words = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )
    subwords = F.regexp_count(
        F.lower(F.col("text")), F.lit(r"[a-z]+|[0-9]|[^a-z0-9\s]")
    )
    per_doc = docs.select(
        "lang",
        words.alias("words"),
        subwords.alias("subwords"),
        F.length("text").alias("chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("words").alias("words"),
        F.sum("subwords").alias("subwords"),
        roundq(
            F.sum("subwords").cast("double") / F.sum("words")
        ).alias("fertility"),
        roundq(
            F.sum("chars").cast("double") / F.sum("subwords")
        ).alias("chars_per_subword"),
    )


# --------------------------------------------------------------------------
# q217: curriculum interleave — order the corpus so difficulty strata
# (length deciles as the deterministic difficulty proxy) are emitted
# round-robin: position r of stratum d trains before position r+1 of
# any stratum (easy->hard within each round, full coverage across
# rounds). Decile assignment uses the q196 integer formula over a
# (n_chars, doc_id) rank; intra-stratum order is md5-derived (the
# catalog's seedless shuffle). Emits the first 30 curriculum slots.
# The oracle states the ranks as plain window statements; the Spark
# side keeps every window off the full corpus: (1) the decile rank
# decomposes via the q190 pattern (n_chars has a value-bounded
# distinct domain — 523 values at sf0.1, capped by max doc length at
# any corpus size — so distinct-domain prefix counts + a keyed
# within-length rank replace the global sort); (2) the per-stratum
# slot only matters for slot <= 30, so a local top-30 per
# (stratum, scan-partition) window prunes the corpus to <= 30*10*P
# candidate rows before the exact per-stratum slot window (the
# candidate superset provably contains the true top-30, whose ranks
# are unchanged under subsetting); (3) the final interleave position
# window runs over <= 300 rows because slot > 30 implies
# position > 30 unconditionally (a row's same-stratum smaller slots
# alone push it past 30).
# --------------------------------------------------------------------------
@register(
    "q217_curriculum_interleave",
    oracle="""
    WITH ranked AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY n_chars, doc_id)
               AS BIGINT) AS r,
             CAST((SELECT count(*) FROM documents
                   WHERE n_chars IS NOT NULL) AS BIGINT) AS n
      FROM documents WHERE n_chars IS NOT NULL
    ),
    strata AS (
      SELECT doc_id, CAST(((r - 1) * 10) // n AS BIGINT) AS stratum
      FROM ranked
    ),
    ordered AS (
      SELECT doc_id, stratum,
             CAST(row_number() OVER (PARTITION BY stratum
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS BIGINT) AS slot
      FROM strata
    ),
    pos AS (
      SELECT doc_id, stratum, slot,
             CAST(row_number() OVER (ORDER BY slot, stratum)
               AS BIGINT) AS position
      FROM ordered
    )
    SELECT position, stratum, slot, doc_id
    FROM pos WHERE position <= 30
    """,
)
def q217_curriculum_interleave(spark, sf_dir):
    # docs with no difficulty proxy (NULL n_chars) can't be curriculum
    # -ranked — excluded on BOTH engines (null_text axis; the two-phase
    # rank's equi-join on n_chars would otherwise drop them on the
    # Spark side only, the q196 mechanism)
    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("n_chars").isNotNull())
        .select("doc_id", "n_chars")
    )
    # two-phase decile rank: distinct-length prefix counts (bounded
    # domain) + keyed within-length rank.
    byc = docs.groupBy("n_chars").agg(F.count(F.lit(1)).alias("cnt"))
    offs = byc.select(
        "n_chars",
        F.coalesce(
            F.sum("cnt").over(
                W.orderBy("n_chars").rowsBetween(
                    W.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("off"),
        F.sum("cnt").over(
            W.orderBy("n_chars").rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).alias("n"),
    )
    lrn = F.row_number().over(W.partitionBy("n_chars").orderBy("doc_id"))
    ranked = docs.join(offs, "n_chars").select(
        "doc_id",
        (F.col("off") + lrn).cast("long").alias("r"),
        F.col("n").cast("long").alias("n"),
    )
    strata = ranked.select(
        "doc_id",
        F.expr("((r - 1) * 10) div n").alias("stratum"),
    )
    # two-level top-30 per stratum: local prune per scan partition,
    # exact slot over the bounded candidate union.
    shuffle_key = (F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    local = strata.withColumn("pid", F.spark_partition_id())
    cand = (
        local.withColumn(
            "ls",
            F.row_number().over(
                W.partitionBy("stratum", "pid").orderBy(*shuffle_key)
            ),
        )
        .where(F.col("ls") <= 30)
        .select("doc_id", "stratum")
    )
    slot = F.row_number().over(
        W.partitionBy("stratum").orderBy(*shuffle_key)
    ).cast("long")
    ordered = cand.select("doc_id", "stratum", slot.alias("slot")).where(
        F.col("slot") <= 30
    )
    pos = F.row_number().over(W.orderBy("slot", "stratum")).cast("long")
    return (
        ordered.select("doc_id", "stratum", "slot", pos.alias("position"))
        .where(F.col("position") <= 30)
        .select("position", "stratum", "slot", "doc_id")
    )


# --------------------------------------------------------------------------
# q218: Matryoshka truncation recall — how much top-k neighbor quality
# survives truncating embeddings to their first 32 of 64 dimensions
# (the MRL deploy question: can the cheap prefix slice serve
# retrieval?). Exact top-5 at full width vs exact top-5 on the
# row-local slice, per-query overlap count — both sides reuse the
# q44 broadcast-query pattern (bounded query set, candidate scan stays
# partition-local; no quadratic blowup). Cosines round to 6 before
# ranking (the operators/similarity determinism grid).
# --------------------------------------------------------------------------
@register(
    "q218_matryoshka_recall",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS nrm,
             embedding[1:32]::DOUBLE[] AS tv,
             sqrt(list_dot_product(embedding[1:32]::DOUBLE[],
                                   embedding[1:32]::DOUBLE[])) AS tnrm
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, tv AS qtv,
                 tnrm AS qtn
          FROM n WHERE vec_id < 10),
    full_k AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.qid AS query_id, n.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 {cosine_sql("q.qv", "q.qn", "n.v", "n.nrm")}
                   DESC, n.vec_id) AS rank
        FROM n, q WHERE n.vec_id <> q.qid AND n.nrm > 0 AND q.qn > 0
      ) WHERE rank <= 5
    ),
    trunc_k AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.qid AS query_id, n.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 {cosine_sql("q.qtv", "q.qtn", "n.tv", "n.tnrm")} DESC, n.vec_id) AS rank
        FROM n, q WHERE n.vec_id <> q.qid AND n.tnrm > 0 AND q.qtn > 0
      ) WHERE rank <= 5
    )
    SELECT f.query_id,
           CAST(count(t.neighbor_id) AS BIGINT) AS n_hits,
           round(CAST(count(t.neighbor_id) AS DOUBLE) / 5, 6) AS recall
    FROM full_k f
    LEFT JOIN trunc_k t
      ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
    GROUP BY f.query_id
    """,
)
def q218_matryoshka_recall(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.similarity import (
        cosine_topk,
    )

    # NULL vectors excluded on BOTH engines (null_text axis)
    emb = table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    full_k = cosine_topk(emb, query_pred=F.col("id") < 10, k=5).select(
        "query_id", "neighbor_id"
    )
    trunc = emb.withColumn("embedding", F.slice("embedding", 1, 32))
    trunc_k = cosine_topk(trunc, query_pred=F.col("id") < 10, k=5).select(
        F.col("query_id").alias("tq"), F.col("neighbor_id").alias("tn")
    )
    j = full_k.join(
        F.broadcast(trunc_k),
        (F.col("query_id") == F.col("tq"))
        & (F.col("neighbor_id") == F.col("tn")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("tn").alias("n_hits"),
        F.round(F.count("tn").cast("double") / 5, 6).alias("recall"),
    )


# --------------------------------------------------------------------------
# q219: Fisher class-separation per embedding dimension — which of the
# 64 dimensions actually separate the labels (between-class variance /
# within-class variance; the supervised companion to q178's
# unsupervised collapse screen). posexplode fans each vector into
# (dim, value, label) — a BOUNDED 64x fanout — then ONE groupBy
# collects per-(dim, label) decimal-exact moments and per-dim algebra
# assembles the ratio. Top-10 dims by score with a deterministic
# tiebreak.
# --------------------------------------------------------------------------
@register(
    "q219_fisher_dims",
    oracle="""
    WITH flat AS (
      SELECT label, u.dim, u.x
      FROM embeddings,
           LATERAL (SELECT generate_subscripts(embedding, 1) AS dim,
                           unnest(embedding::DOUBLE[]) AS x) u
    ),
    bylab AS (
      SELECT dim, label, CAST(count(*) AS BIGINT) AS n,
             {s} AS s,
             {ss} AS ss
      FROM flat GROUP BY dim, label
    ),
    bydim AS (
      SELECT dim,
             CAST(SUM(n) AS BIGINT) AS nt,
             {st} AS st,
             {within_ss} AS within_ss,
             CAST(count(*) AS BIGINT) AS n_classes
      FROM bylab GROUP BY dim
    ),
    fisher AS (
      SELECT b.dim,
             {between_ss} AS between_ss,
             any_value(d.within_ss) AS within_ss,
             any_value(d.n_classes) AS n_classes
      FROM bylab b JOIN bydim d ON b.dim = d.dim
      GROUP BY b.dim
    )
    SELECT CAST(dim AS BIGINT) AS dim, n_classes,
           {fisher_rq} AS fisher
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        ORDER BY {fisher_rq} DESC, dim) AS rk
      FROM fisher
    ) WHERE rk <= 10
    """.format(
        s=sql_dsum("x"),
        ss=sql_dsum("x * x"),
        st=sql_dsum("s"),
        within_ss=sql_double(f"SUM({sql_dec('ss - s * s / n', 10, precision=28)})"),
        between_ss=sql_double(
            "SUM({})".format(
                sql_dec(
                    "b.n * (b.s / b.n - d.st / d.nt) * (b.s / b.n - d.st / d.nt)",
                    10,
                    precision=28,
                )
            )
        ),
        # fisher score is a rational of decimal-exact SSes, and it
        # ORDERS the top-10 rank (.5-tie class): guarded floor grid
        fisher_rq=sql_roundq("between_ss / within_ss"),
    ),
)
def q219_fisher_dims(spark, sf_dir):
    # cast to array<double> BEFORE exploding: float32 x*x is a
    # single-precision product and its DECIMAL(18,6) quantization can
    # land one quantum away from DuckDB's embedding::DOUBLE[] path
    # (caught by the alt-seed robustness sweep, r6)
    emb = table(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("embedding")
    )
    flat = emb.select(
        "label",
        F.posexplode("embedding").alias("dim0", "x"),
    ).select("label", (F.col("dim0") + 1).alias("dim"), "x")
    bylab = flat.groupBy("dim", "label").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("x").alias("s"),
        dsum(F.col("x") * F.col("x")).alias("ss"),
    )
    bydim = bylab.groupBy("dim").agg(
        F.sum("n").alias("nt"),
        dsum("s").alias("st"),
        F.sum(
            (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
            .cast("decimal(28,10)")
        )
        .cast("double")
        .alias("within_ss"),
        F.count(F.lit(1)).alias("n_classes"),
    )
    joined = bylab.join(F.broadcast(bydim), "dim")
    dev = F.col("s") / F.col("n") - F.col("st") / F.col("nt")
    fisher = joined.groupBy("dim").agg(
        F.sum((F.col("n") * dev * dev).cast("decimal(28,10)"))
        .cast("double")
        .alias("between_ss"),
        F.expr("any_value(within_ss)").alias("within_ss"),
        F.expr("any_value(n_classes)").alias("n_classes"),
    )
    score = roundq(F.col("between_ss") / F.col("within_ss"))
    rk = F.row_number().over(W.orderBy(score.desc(), F.col("dim")))
    return (
        fisher.withColumn("rk", rk)
        .where(F.col("rk") <= 10)
        .select(
            F.col("dim").cast("long").alias("dim"),
            "n_classes",
            score.alias("fisher"),
        )
    )


# --------------------------------------------------------------------------
# q233: LIX readability per language — words/sentence + share of long
# words (>= 7 chars), the syllable-free readability index, plus the
# fraction of hard documents (LIX > 44). The corpus-difficulty screen
# that complements q135's character entropy and q128's perplexity on
# the quality ladder. Everything is row-local integer counting (both
# splits filter whitespace-only fragments identically on both
# engines); the per-language rollup decimal-quantizes the per-doc
# index.
# --------------------------------------------------------------------------
@register(
    "q233_readability_lix",
    oracle="""
    WITH per_doc AS (
      SELECT lang,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             w -> len(trim(w)) > 0)) AS words,
             greatest(len(list_filter(
               string_split_regex(text, '[.!?]+'),
               x -> len(trim(x)) > 0)), 1) AS sentences,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             w -> len(w) >= 7)) AS long_words
      FROM documents WHERE len(trim(text)) > 0
    ),
    scored AS (
      SELECT lang, words, sentences, long_words,
             CAST(words AS DOUBLE) / sentences
               + 100.0 * long_words / words AS lix
      FROM per_doc WHERE words > 0
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(words) AS BIGINT) AS words,
           CAST(SUM(long_words) AS BIGINT) AS long_words,
           {lix_rq} AS mean_lix,
           {hard_rq} AS hard_share
    FROM scored GROUP BY lang
    """.format(
        # micro-unit mean and k/n share (.5-tie class): guarded floor
        # grid (r10 q225 class)
        lix_rq=sql_roundq(
            sql_dsum("lix") + " / count(*)"
        ),
        hard_rq=sql_roundq(
            "CAST(SUM(CASE WHEN lix > 44 THEN 1 ELSE 0 END)"
            " AS DOUBLE) / count(*)"
        ),
    ),
)
def q233_readability_lix(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("lang", "text")
    ws = F.split(F.trim(F.col("text")), r"\s+")
    words = F.size(F.filter(ws, lambda w: F.length(F.trim(w)) > 0))
    sentences = F.greatest(
        F.size(
            F.filter(
                F.split(F.col("text"), r"[.!?]+"),
                lambda x: F.length(F.trim(x)) > 0,
            )
        ),
        F.lit(1),
    )
    long_words = F.size(F.filter(ws, lambda w: F.length(w) >= 7))
    per_doc = docs.where(F.length(F.trim("text")) > 0).select(
        "lang",
        words.alias("words"),
        sentences.alias("sentences"),
        long_words.alias("long_words"),
    )
    lix = (
        F.col("words").cast("double") / F.col("sentences")
        + 100.0 * F.col("long_words") / F.col("words")
    )
    scored = per_doc.where(F.col("words") > 0).withColumn("lix", lix)
    n = F.count(F.lit(1))
    return scored.groupBy("lang").agg(
        n.alias("n_docs"),
        F.sum("words").alias("words"),
        F.sum("long_words").alias("long_words"),
        roundq(
            dsum("lix") / n
        ).alias("mean_lix"),
        roundq(
            F.sum(F.when(F.col("lix") > 44, 1).otherwise(0)).cast("double")
            / n
        ).alias("hard_share"),
    )


# --------------------------------------------------------------------------
# q234: code-vs-prose screen — the curation classifier that keeps code
# out of prose corpora (and vice versa): symbol density, brace/
# semicolon rate, and digit share vote on each document. The fixture
# corpus is pure prose, so code-shaped docs are PLANTED (every 13th
# doc gains a code block — same corpus union both engines derive);
# those must be the flagged rows. Row-local regexp counting only —
# shuffle-free until the per-source rollup.
# --------------------------------------------------------------------------
@register(
    "q234_code_screen",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 900000, source,
             text || ' def f(x) { return x[i] += 1; } ;; () {} [] == != '
      FROM documents WHERE doc_id % 13 = 0
    ),
    feat AS (
      SELECT doc_id, source,
             len(regexp_extract_all(text, '[{}()\\[\\];=<>+*/]')) AS syms,
             len(regexp_extract_all(text, '[0-9]')) AS digits,
             len(text) AS chars
      FROM corpus WHERE len(text) > 0
    ),
    flagged AS (
      SELECT doc_id, source,
             CASE WHEN syms * 50 >= chars THEN 1 ELSE 0 END AS is_code
      FROM feat
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_code) AS BIGINT) AS n_code,
           CAST(SUM(CASE WHEN is_code = 1 AND doc_id >= 900000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_planted_caught
    FROM flagged GROUP BY source
    """,
)
def q234_code_screen(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    planted = docs.where(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 900000).alias("doc_id"),
        "source",
        F.concat(
            F.col("text"),
            F.lit(" def f(x) { return x[i] += 1; } ;; () {} [] == != "),
        ).alias("text"),
    )
    corpus = docs.unionByName(planted).where(F.length("text") > 0)
    syms = F.regexp_count(F.col("text"), F.lit(r"[{}()\[\];=<>+*/]"))
    feat = corpus.select(
        "doc_id",
        "source",
        syms.alias("syms"),
        F.length("text").alias("chars"),
    )
    flagged = feat.select(
        "doc_id",
        "source",
        F.when(F.col("syms") * 50 >= F.col("chars"), 1)
        .otherwise(0)
        .alias("is_code"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_code").alias("n_code"),
        F.sum(
            F.when(
                (F.col("is_code") == 1) & (F.col("doc_id") >= 900000), 1
            ).otherwise(0)
        ).alias("n_planted_caught"),
    )


# --------------------------------------------------------------------------
# q235: DP-shaped noisy release — per-event-type counts with Laplace
# (b = 1/epsilon) noise from the md5-uniform inverse CDF. The
# MECHANISM is the production shape (sensitivity-1 count, per-cell
# noise, post-processing rounding); the noise SOURCE here is the
# catalog's deterministic md5 uniform so both engines release the
# same values — real differential privacy requires a true RNG, which
# a cross-engine-reproducible catalog cannot have (stated honestly;
# swap the uniform for rand() in deployment). epsilon = 1.
# --------------------------------------------------------------------------
@register(
    "q235_dp_noisy_counts",
    oracle=f"""
    WITH counts AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type
    ),
    noised AS (
      SELECT event_type, c,
             {md5_int_sql("'dp:' || event_type", 1, 8)}
               / 4294967296.0 AS u
      FROM counts
    )
    SELECT event_type, c AS true_count,
           round(c - CASE WHEN u < 0.5
                     THEN -ln(2.0 * u)
                     ELSE ln(2.0 * (1.0 - u)) END, 6) AS noisy_count
    FROM noised
    """,
)
def q235_dp_noisy_counts(spark, sf_dir):
    counts = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    u = md5_unit(F.concat(F.lit("dp:"), F.col("event_type")))
    lap = F.when(u < 0.5, -F.log(2.0 * u)).otherwise(
        F.log(2.0 * (1.0 - u))
    )
    return counts.select(
        "event_type",
        F.col("c").alias("true_count"),
        F.round(F.col("c") - lap, 6).alias("noisy_count"),
    )


# --------------------------------------------------------------------------
# q236: k-anonymity audit — group sizes over the quasi-identifier
# (user-id bucket, active day): how many equivalence classes fall
# below k=5, and how many rows they expose (the re-identification
# risk screen run before any data release; q101's PII scrub is the
# column-level sibling, this is the row-level one). One keyed
# groupBy + a histogram rollup.
# --------------------------------------------------------------------------
@register(
    "q236_k_anonymity",
    oracle="""
    WITH classes AS (
      SELECT user_id // 10 AS user_bucket,
             {ts_day} AS day,
             CAST(count(*) AS BIGINT) AS class_size
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_below_k,
           CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
                AS BIGINT) AS rows_at_risk,
           CAST(min(class_size) AS BIGINT) AS min_class,
           {risk_rq} AS risk_share
    FROM classes
    """.format(
        ts_day=sql_epoch_day("ts"),
        # k/n count ratio (.5-tie class): guarded floor grid (r10 q225)
        risk_rq=sql_roundq(
            "CAST(SUM(CASE WHEN class_size < 5 THEN class_size"
            " ELSE 0 END) AS DOUBLE) / SUM(class_size)"
        ),
    ),
)
def q236_k_anonymity(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    classes = ev.groupBy(
        F.expr("user_id div 10").alias("user_bucket"),
        epoch_day("ts").alias("day"),
    ).agg(F.count(F.lit(1)).alias("class_size"))
    below = F.when(F.col("class_size") < 5, F.col("class_size")).otherwise(
        0
    )
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(F.col("class_size") < 5, 1).otherwise(0)).alias(
            "n_below_k"
        ),
        F.sum(below).alias("rows_at_risk"),
        F.min("class_size").alias("min_class"),
        roundq(
            F.sum(below).cast("double") / F.sum("class_size")
        ).alias("risk_share"),
    )


# --------------------------------------------------------------------------
# q239: compaction plan — the small-file maintenance pass every lake
# table needs: simulate the current file population (md5-sharded
# document groups per source, sized by their text bytes), then plan a
# sequential coalesce into target-sized output files (a new bin starts
# whenever accumulated bytes cross a target boundary — the streaming
# next-fit rule OPTIMIZE-style compactors use). Reports input/output
# file counts and fill ratios per source. Integer byte arithmetic end
# to end; the plan windows are keyed by source over |shards| rows.
# --------------------------------------------------------------------------
@register(
    "q239_compaction_plan",
    oracle="""
    WITH files AS (
      SELECT source,
             {h} % 64 AS shard,
             CAST(SUM(len(text)) AS BIGINT) AS bytes
      FROM documents GROUP BY 1, 2
    ),
    ordered AS (
      SELECT source, shard, bytes,
             CAST(COALESCE(SUM(bytes) OVER (PARTITION BY source
               ORDER BY bytes DESC, shard
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
      FROM files
    ),
    binned AS (
      SELECT source, shard, bytes, cum_before // 16384 AS bin
      FROM ordered
    ),
    bins AS (
      SELECT source, bin, CAST(count(*) AS BIGINT) AS files_in,
             CAST(SUM(bytes) AS BIGINT) AS bin_bytes
      FROM binned GROUP BY source, bin
    )
    SELECT source,
           CAST(SUM(files_in) AS BIGINT) AS n_input_files,
           CAST(count(*) AS BIGINT) AS n_output_files,
           CAST(SUM(bin_bytes) AS BIGINT) AS total_bytes,
           CAST(max(bin_bytes) AS BIGINT) AS max_bin_bytes,
           {fill_rq} AS fill_ratio
    FROM bins GROUP BY source
    """.format(
        h=md5_int_sql("CAST(doc_id AS VARCHAR)", 1, 4),
        # bytes/(files*16384) integer rational (.5-tie class):
        # guarded floor grid (r10 q225 class)
        fill_rq=sql_roundq(
            "CAST(SUM(bin_bytes) AS DOUBLE) / (count(*) * 16384.0)"
        ),
    ),
)
def q239_compaction_plan(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.length("text").alias("blen")
    )
    shard = md5_int(F.col("doc_id").cast("string"), 1, 4) % 64
    files = docs.groupBy("source", shard.alias("shard")).agg(
        F.sum("blen").alias("bytes")
    )
    w = W.partitionBy("source").orderBy(
        F.col("bytes").desc(), F.col("shard")
    )
    ordered = files.withColumn(
        "cum_before",
        F.coalesce(
            F.sum("bytes").over(w.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    binned = ordered.withColumn("bin", F.expr("cum_before div 16384"))
    bins = binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("files_in"),
        F.sum("bytes").alias("bin_bytes"),
    )
    return bins.groupBy("source").agg(
        F.sum("files_in").alias("n_input_files"),
        F.count(F.lit(1)).alias("n_output_files"),
        F.sum("bin_bytes").alias("total_bytes"),
        F.max("bin_bytes").alias("max_bin_bytes"),
        roundq(
            F.sum("bin_bytes").cast("double")
            / (F.count(F.lit(1)) * 16384.0),
            6,
        ).alias("fill_ratio"),
    )


# --------------------------------------------------------------------------
# q253: zone-map skip-rate evaluation — the scan-pruning payoff
# metric that closes the data-layout trio (q141 builds a Z-order
# layout, q239 plans compaction, q253 measures what a layout BUYS):
# simulate two 64-file layouts of the events table (random md5
# sharding vs value-range clustering), compute each file's min/max
# zone map, and report how many files — and what row mass — a
# `value BETWEEN 20 AND 50` scan could skip under each. Random
# layouts give ~0 skip (every file spans the full domain);
# range-clustered layouts skip all files whose zone lies outside the
# predicate — the quantitative argument for OPTIMIZE/cluster-by at
# 100 TB. One pass over a 2x layout stack; the zone-map table is
# bounded at 2 x 64 rows, so the rollup is constant-size at any SF.
# The vmin/vmax anchors broadcast (min/max of doubles are
# fold-order-independent, so both engines agree bit-exactly).
# --------------------------------------------------------------------------
@register(
    "q253_zone_map_skipping",
    oracle="""
    WITH stats AS (SELECT min({f}) AS vmin, max({f}) AS vmax
                   FROM events),
    assigned AS (
      SELECT value, 'random' AS layout,
             {h} % 64 AS file_id
      FROM events
      UNION ALL
      SELECT value, 'value_clustered' AS layout,
             -- degenerate range (all-ties axis): one zone, file 0 —
             -- guards the /0 and avoids NULL-in-least ambiguity.
             -- sql_finite on the zone anchors AND the assignment
             -- input: NaN/inf would poison the domain split and the
             -- BIGINT cast raises (nonfinite axis); a non-finite row
             -- assigns like a NULL one (least skips NULL -> file 63)
             CASE WHEN vmax > vmin
                  THEN least(63, CAST(floor(({f} - vmin)
                                       / ((vmax - vmin) / 64.0)) AS BIGINT))
                  ELSE 0 END
      FROM events, stats
    ),
    zones AS (
      SELECT layout, file_id, min(value) AS mn, max(value) AS mx,
             count(*) AS cnt
      FROM assigned GROUP BY 1, 2
    )
    SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN mx < 20 OR mn > 50 THEN 1 ELSE 0 END)
                AS BIGINT) AS files_skipped,
           CAST(SUM(CASE WHEN mx < 20 OR mn > 50 THEN cnt ELSE 0 END)
                AS BIGINT) AS rows_skipped,
           {skip_rq} AS skip_ratio
    FROM zones GROUP BY 1
    """.format(
        h=md5_int_sql("CAST(event_id AS VARCHAR)", 1, 8),
        # k/n count ratio (.5-tie class): guarded floor grid (r10 q225)
        f=sql_finite("value"),
        skip_rq=sql_roundq(
            "CAST(SUM(CASE WHEN mx < 20 OR mn > 50 THEN cnt"
            " ELSE 0 END) AS DOUBLE) / SUM(cnt)"
        ),
    ),
)
def q253_zone_map_skipping(spark, sf_dir):
    ev = table(spark, sf_dir, "events").select("event_id", "value")
    fv = finite(F.col("value"))
    stats = ev.agg(
        F.min(fv).alias("vmin"), F.max(fv).alias("vmax")
    )
    rand_file = md5_int(F.col("event_id").cast("string"), 1, 8) % 64
    # try_divide + degenerate-range guard: vmax = vmin under the
    # all-ties robustness axis — everything lands in one zone (file 0)
    # on BOTH engines instead of an ANSI DIVIDE_BY_ZERO (Spark) vs a
    # NULL-fed least() (DuckDB)
    clustered_file = F.when(
        F.col("vmax") > F.col("vmin"),
        F.least(
            F.lit(63).cast("long"),
            F.floor(
                F.try_divide(
                    fv - F.col("vmin"),
                    (F.col("vmax") - F.col("vmin")) / 64.0,
                )
            ),
        ),
    ).otherwise(F.lit(0).cast("long"))
    assigned = (
        ev.crossJoin(F.broadcast(stats))
        .select(
            "value",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("random").alias("layout"),
                        rand_file.alias("file_id"),
                    ),
                    F.struct(
                        F.lit("value_clustered").alias("layout"),
                        clustered_file.alias("file_id"),
                    ),
                )
            ).alias("lf"),
        )
        .select("value", F.col("lf.layout").alias("layout"),
                F.col("lf.file_id").alias("file_id"))
    )
    zones = assigned.groupBy("layout", "file_id").agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count(F.lit(1)).alias("cnt"),
    )
    skip = (F.col("mx") < 20) | (F.col("mn") > 50)
    return zones.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.when(skip, 1).otherwise(0)).cast("long").alias(
            "files_skipped"
        ),
        F.sum(F.when(skip, F.col("cnt")).otherwise(0)).cast("long").alias(
            "rows_skipped"
        ),
        roundq(
            F.sum(F.when(skip, F.col("cnt")).otherwise(0)).cast("double")
            / F.sum("cnt")
        ).alias("skip_ratio"),
    )

"""Third LLM-curation batch (round 5, session 6): data-selection and
tokenizer-support operators with direct public lineage — DSIR
(hashed-n-gram importance resampling weights; Xie et al. 2023),
CCNet-style perplexity tercile bucketing (Wenzek et al. 2020), and
the first BPE merge iteration's adjacent-pair statistics (Sennrich
et al. 2016) as a distributed count.

Plan rules: the token fan-out is bounded by corpus token count; the
feature/model tables are bucket-bounded (1024 hashed buckets / 676
ascii pairs / one row per doc) and always broadcast back; no stage
is quadratic in documents. Cross-engine exactness follows
queries/common.py and the q128 precedent for ln(): per-term
round(.., 6) then DECIMAL-exact summation, so the only residual
hazard is a libm ulp landing exactly on a rounding boundary. No
reference analog: the reference app (/root/reference/app/main.py)
has no curation surface; these rows extend the LLM-pipeline family.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.functions.strings import (
    md5_int,
    md5_int_sql,
    tokens,
    tokens_sql,
)
from airquality_data_pipeline_spark.io import local_frame, table
from airquality_data_pipeline_spark.operators import fan_out
from airquality_data_pipeline_spark.queries.common import (
    dsum,
    roundq,
    split_bucket,
    sql_dec,
    sql_double,
    sql_dsum,
    sql_roundq,
    sql_split_bucket,
)
from airquality_data_pipeline_spark.queries.registry import register

# Hashed feature bucket (token -> [0, 1024)): first 8 md5 hex digits.
_TOK_BUCKET_SQL = f"{md5_int_sql('tok', 1, 8)} % 1024"


def _tok_bucket() -> F.Column:
    return md5_int("tok", 1, 8) % 1024


def _tokens(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.explode(tokens("text")).alias("tok"),
    )


def dsir_model(spark, sf_dir, target_lang: str = "en"):
    """The 1024-row hashed-bucket importance model [bucket, w] of
    q250."""
    toks = _tokens(spark, sf_dir).select(
        "doc_id", "lang", _tok_bucket().alias("bucket")
    )
    stats = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cs"),
        F.sum(
            F.when(F.col("lang") == target_lang, 1).otherwise(0)
        ).alias("ct"),
    )
    tot = stats.agg(F.sum("cs").alias("ns"), F.sum("ct").alias("nt"))
    model = stats.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log(
                ((F.col("ct") + 1.0) * (F.col("ns") + 1024))
                / ((F.col("cs") + 1.0) * (F.col("nt") + 1024))
            ),
            6,
        ).alias("w"),
    )
    return toks, model


# --------------------------------------------------------------------------
# q250: DSIR importance weights — Data Selection via Importance
# Resampling over hashed unigram features: per-token weight
# w(b) = ln(p_target(b) / p_source(b)) with add-one smoothing on 1024
# md5 buckets (target = the English sub-corpus, source = everything);
# a document's score is its summed token weights and selected means
# the doc looks more target-like than source-like. One token fan-out;
# bucket stats for BOTH distributions come from a single conditional
# aggregate (no second corpus scan); the 1024-row model broadcasts
# back onto the token stream. Per-token weights are rounded to 6dp
# then decimal-summed, so the doc score is fold-order independent.
# --------------------------------------------------------------------------
@register(
    "q250_dsir_selection",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest({tokens_sql("text")}) AS tok
      FROM documents
    ),
    b AS (
      SELECT doc_id, lang, {_TOK_BUCKET_SQL} AS bucket FROM toks
    ),
    stats AS (
      SELECT bucket, count(*) AS cs,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
      FROM b GROUP BY 1
    ),
    tot AS (SELECT sum(cs) AS ns, sum(ct) AS nt FROM stats),
    model AS (
      SELECT bucket,
             round(ln(((ct + 1.0) * (ns + 1024))
                      / ((cs + 1.0) * (nt + 1024))), 6) AS w
      FROM stats, tot
    )
    SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           {sql_dsum("m.w")} AS dsir_score,
           ({sql_dsum("m.w")} > 0)
             AS selected
    FROM b JOIN model m ON b.bucket = m.bucket
    GROUP BY 1
    """,
)
def q250_dsir_selection(spark, sf_dir):
    toks, model = dsir_model(spark, sf_dir)
    scored = toks.join(F.broadcast(model), "bucket").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        dsum("w").alias("dsir_score"),
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "dsir_score",
        (F.col("dsir_score") > 0).alias("selected"),
    )


# --------------------------------------------------------------------------
# q251: CCNet perplexity terciles — score every document against the
# q128 train-split unigram LM, then bucket per language into
# head/middle/tail by NTILE(3) ordered by (avg_nll, doc_id) — the
# deterministic total order both engines share. The rollup reports
# per (lang, tercile) document and character mass: the table a
# CCNet-style pipeline uses to keep "head" and downsample "tail".
# Model and totals broadcast; the NTILE partitions by language, so
# no global single-partition window touches the corpus.
# --------------------------------------------------------------------------
@register(
    "q251_perplexity_terciles",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, lang, n_chars, lower(trim(text)) AS text,
             {sql_split_bucket("doc_id")} AS bucket
      FROM documents
    ),
    train_toks AS (
      SELECT unnest(string_split_regex(text, '\\s+')) AS tok
      FROM split WHERE bucket < 80
    ),
    model AS (SELECT tok, count(*) AS cnt FROM train_toks GROUP BY tok),
    totals AS (SELECT sum(cnt) AS n, count(*) AS v FROM model),
    all_toks AS (
      SELECT doc_id, lang, n_chars,
             unnest(string_split_regex(text, '\\s+')) AS tok
      FROM split
    ),
    scored AS (
      SELECT at.doc_id, at.lang, at.n_chars,
             -ln((COALESCE(m.cnt, 0) + 1.0) / (t.n + t.v)) AS nll
      FROM all_toks at
      LEFT JOIN model m ON at.tok = m.tok
      CROSS JOIN totals t
    ),
    per_doc AS (
      SELECT doc_id, lang, n_chars, round(avg(nll), 6) AS avg_nll
      FROM scored GROUP BY 1, 2, 3
    ),
    bucketed AS (
      SELECT lang, n_chars, avg_nll,
             NTILE(3) OVER (PARTITION BY lang
                            ORDER BY avg_nll, doc_id) AS tercile
      FROM per_doc
    )
    SELECT lang, CAST(tercile AS BIGINT) AS tercile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           {sql_dsum("avg_nll")}
             / COUNT(*) AS mean_nll
    FROM bucketed GROUP BY 1, 2
    """,
)
def q251_perplexity_terciles(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    bucket = split_bucket("doc_id")
    toks = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        bucket.alias("bucket"),
        F.explode(tokens("text")).alias("tok"),
    )
    model = (
        toks.where(F.col("bucket") < 80)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = model.agg(F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("v"))
    per_doc = (
        toks.join(model, "tok", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            (
                -F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1.0))
                    / (F.col("n") + F.col("v"))
                )
            ).alias("nll"),
        )
        .groupBy("doc_id", "lang", "n_chars")
        .agg(F.round(F.avg("nll"), 6).alias("avg_nll"))
    )
    bucketed = per_doc.select(
        "lang",
        "n_chars",
        "avg_nll",
        F.ntile(3)
        .over(W.partitionBy("lang").orderBy("avg_nll", "doc_id"))
        .cast("long")
        .alias("tercile"),
    )
    return bucketed.groupBy("lang", "tercile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (
            dsum("avg_nll") / F.count(F.lit(1))
        ).alias("mean_nll"),
    )


# --------------------------------------------------------------------------
# q252: BPE pair statistics — the first merge iteration of byte-pair
# encoding as a distributed count: every adjacent lowercase character
# pair in the corpus, ranked by frequency (count DESC, pair ASC —
# the deterministic merge order), top 20. The fan-out is one row per
# character position (token-bounded, like every shingle op here);
# the ranking window runs on the AGGREGATED pair table, which is
# bounded by 26^2 = 676 rows, so the single-partition sort is
# constant-size at any corpus scale.
# --------------------------------------------------------------------------
@register(
    "q252_bpe_pair_stats",
    oracle="""
    WITH chars AS (
      SELECT lower(text) AS t FROM documents WHERE length(text) >= 2
    ),
    pairs AS (
      SELECT substring(t, i, 2) AS pair
      FROM chars, unnest(generate_series(1, length(t) - 1)) AS g(i)
    ),
    counts AS (
      SELECT pair, count(*) AS cnt FROM pairs
      WHERE regexp_matches(pair, '^[a-z]{2}$')
      GROUP BY 1
    ),
    ranked AS (
      SELECT pair, cnt,
             row_number() OVER (ORDER BY cnt DESC, pair) AS rk
      FROM counts
    )
    SELECT pair, CAST(cnt AS BIGINT) AS pair_count,
           CAST(rk AS BIGINT) AS merge_rank
    FROM ranked WHERE rk <= 20
    """,
)
def q252_bpe_pair_stats(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    # per-character-position explode + regex filter fused into the
    # single-task scan is the whole cost: project to the one needed
    # column, then fan out (guide §2.3 + §2.5; scale-guarded no-op at
    # 100 TB). Measured at sf0.1 (warm, min-of-3): 3.1 -> 0.9 s
    base = fan_out(
        docs.select(F.lower("text").alias("t")).where(F.length("t") >= 2)
    )
    pairs = (
        base
        .select(
            F.col("t"),
            F.explode(F.sequence(F.lit(1), F.length("t") - 1)).alias("i"),
        )
        .select(F.col("t").substr(F.col("i"), F.lit(2)).alias("pair"))
        .where(F.col("pair").rlike("^[a-z]{2}$"))
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = counts.select(
        "pair",
        "cnt",
        F.row_number()
        .over(W.orderBy(F.col("cnt").desc(), F.col("pair")))
        .cast("long")
        .alias("merge_rank"),
    ).where(F.col("merge_rank") <= 20)
    return ranked.select(
        "pair",
        F.col("cnt").cast("long").alias("pair_count"),
        "merge_rank",
    )


# --------------------------------------------------------------------------
# q254: nDCG@10 retrieval evaluation — the quality metric on top of
# q119's BM25 ranking, judged against EXTERNAL labels (query_id i is
# relevant to documents of source 'src<i>'), not lexical overlap — a
# term-containment truth would make every top-10 doc relevant by
# construction and pin nDCG at a useless 1.0. DCG over the retrieved
# ranks, ideal DCG from the top-min(n_rel, 10) positions. Per-rank
# discount terms 1/log2(rank+1) are rounded to 6dp then
# decimal-summed (the q119 dsum discipline), so both the DCG and the
# ratio are fold-order independent; queries with zero relevant docs
# emit NULL ndcg. The label table is 3 rows and broadcasts.
# --------------------------------------------------------------------------
def _ndcg_oracle() -> str:
    from airquality_data_pipeline_spark.operators.text import bm25_scores_sql
    from airquality_data_pipeline_spark.queries.text import _BM25_VALUES

    return f"""
    WITH q(query_id, term) AS (VALUES {_BM25_VALUES}),
    {bm25_scores_sql("documents")},
    qsrc(query_id, rel_source) AS
      (VALUES (1, 'src1'), (2, 'src2'), (3, 'src3')),
    top10 AS (
      SELECT query_id, doc_id, rank FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY score DESC, doc_id
        ) AS rank FROM scored
      ) WHERE rank <= 10
    ),
    rel AS (
      SELECT qs.query_id, dd.doc_id
      FROM documents dd JOIN qsrc qs ON dd.source = qs.rel_source
    ),
    nrel AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY 1),
    dcg AS (
      SELECT t.query_id,
             {sql_dsum(
                 "CASE WHEN r.doc_id IS NOT NULL"
                 " THEN round(1.0 / log2(t.rank + 1), 6) ELSE 0 END"
             )} AS dcg
      FROM top10 t
      LEFT JOIN rel r
        ON t.query_id = r.query_id AND t.doc_id = r.doc_id
      GROUP BY 1
    ),
    idcg AS (
      SELECT n.query_id,
             {sql_dsum("round(1.0 / log2(i + 1), 6)")} AS idcg
      FROM nrel n, UNNEST(generate_series(1, least(n.n_rel, 10))) AS g(i)
      WHERE n.n_rel >= 1
      GROUP BY 1
    )
    SELECT d.query_id,
           CAST(COALESCE(n.n_rel, 0) AS BIGINT) AS n_rel,
           d.dcg, i.idcg,
           {sql_roundq("d.dcg / i.idcg")} AS ndcg
    FROM dcg d
    LEFT JOIN nrel n ON d.query_id = n.query_id
    LEFT JOIN idcg i ON d.query_id = i.query_id
    """


@register("q254_ndcg_at_10", oracle=_ndcg_oracle())
def q254_ndcg_at_10(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.text import bm25_topk
    from airquality_data_pipeline_spark.queries.text import BM25_QUERIES

    docs = table(spark, sf_dir, "documents")
    queries = local_frame(spark, BM25_QUERIES, "query_id int, term string")
    top10 = bm25_topk(docs, queries, text_col="text", id_col="doc_id", k=10)

    qsrc = local_frame(
        spark,
        [(1, "src1"), (2, "src2"), (3, "src3")],
        "query_id int, rel_source string",
    )
    rel = (
        docs.join(
            F.broadcast(qsrc), docs.source == F.col("rel_source")
        ).select("query_id", "doc_id")
    )
    nrel = rel.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_rel"))
    disc = lambda r: F.round(1.0 / F.log2(r + 1), 6)  # noqa: E731
    dcg = (
        top10.join(
            rel.withColumn("is_rel", F.lit(True)),
            ["query_id", "doc_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            dsum(
                F.when(F.col("is_rel"), disc(F.col("rank"))).otherwise(F.lit(0))
            ).alias("dcg")
        )
    )
    idcg = (
        nrel.where(F.col("n_rel") >= 1)
        .select(
            "query_id",
            F.explode(
                F.sequence(F.lit(1), F.least(F.col("n_rel"), F.lit(10)))
            ).alias("i"),
        )
        .groupBy("query_id")
        .agg(dsum(disc(F.col("i"))).alias("idcg"))
    )
    return (
        dcg.join(F.broadcast(nrel), "query_id", "left")
        .join(F.broadcast(idcg), "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_rel"), F.lit(0)).cast("long").alias("n_rel"),
            "dcg",
            "idcg",
            # dcg/idcg is a ratio of 6-dp grid sums (.5-tie class):
            # guarded floor grid (r10 q225 class)
            roundq(F.col("dcg") / F.col("idcg")).alias("ndcg"),
        )
    )


# --------------------------------------------------------------------------
# q255: reciprocal-rank fusion — hybrid retrieval's standard list
# combiner (RRF, Cormack et al. 2009): two independent rankings for
# the same query set (q119's BM25 and a TF-IDF scorer over the same
# broadcast-pruned postings) fuse by summing 1/(60 + rank), missing
# entries contribute 0, fused top-10 per query. Per-list contribution
# terms round to 6dp then decimal-sum, rank ties break on doc_id —
# fully deterministic on both engines. Scale shape: both rankings
# prune postings with the broadcast query-term set BEFORE any
# aggregate; the fusion join is bounded at 2 x k rows per query.
# --------------------------------------------------------------------------
def _rrf_oracle() -> str:
    from airquality_data_pipeline_spark.operators.text import bm25_scores_sql
    from airquality_data_pipeline_spark.queries.text import _BM25_VALUES

    return f"""
    WITH q(query_id, term) AS (VALUES {_BM25_VALUES}),
    {bm25_scores_sql("documents")},
    bm25 AS (
      SELECT query_id, doc_id, rank FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id ORDER BY score DESC, doc_id
               ) AS rank
        FROM scored
      ) WHERE rank <= 20
    ),
    tfidf AS (
      SELECT query_id, doc_id, rank FROM (
        SELECT q.query_id, tf.doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {sql_dsum(
                   "tf.tf * round(ln(CAST(stats.n AS DOUBLE) / dfreq.df), 6)"
                 )} DESC, tf.doc_id
               ) AS rank
        FROM tf
        JOIN q ON tf.term = q.term
        JOIN dfreq ON tf.term = dfreq.term
        CROSS JOIN stats
        GROUP BY q.query_id, tf.doc_id
      ) WHERE rank <= 20
    ),
    fused AS (
      SELECT COALESCE(b.query_id, t.query_id) AS query_id,
             COALESCE(b.doc_id, t.doc_id) AS doc_id,
             (b.rank IS NOT NULL) AS in_bm25,
             (t.rank IS NOT NULL) AS in_tfidf,
             {sql_double(
                 sql_dec("COALESCE(round(1.0 / (60 + b.rank), 6), 0)")
                 + " + "
                 + sql_dec("COALESCE(round(1.0 / (60 + t.rank), 6), 0)")
             )} AS rrf_score
      FROM bm25 b
      FULL OUTER JOIN tfidf t
        ON b.query_id = t.query_id AND b.doc_id = t.doc_id
    )
    SELECT query_id, doc_id, rrf_score, in_bm25, in_tfidf,
           CAST(fused_rank AS BIGINT) AS fused_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY rrf_score DESC, doc_id
      ) AS fused_rank FROM fused
    ) WHERE fused_rank <= 10
    """


@register("q255_rrf_fusion", oracle=_rrf_oracle())
def q255_rrf_fusion(spark, sf_dir):
    from pyspark.sql import Window as _W

    from airquality_data_pipeline_spark.operators.text import bm25_topk
    from airquality_data_pipeline_spark.queries.text import BM25_QUERIES

    docs = table(spark, sf_dir, "documents")
    queries = local_frame(spark, BM25_QUERIES, "query_id int, term string")
    bm25 = bm25_topk(
        docs, queries, text_col="text", id_col="doc_id", k=20
    ).select("query_id", "doc_id", F.col("rank").alias("b_rank"))

    t = F.trim(F.col("text"))
    d = docs.select(
        "doc_id",
        F.when(F.length(t) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.lower(t), r"\s+")))
        .alias("dl"),
        F.lower(t).alias("_t"),
    )
    toks = (
        d.where(F.col("dl") > 0)
        .select(
            "doc_id", F.explode(F.split("_t", r"\s+")).alias("term")
        )
        .join(F.broadcast(queries.select("term").distinct()), "term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = d.agg(F.count(F.lit(1)).alias("n"))
    contrib = F.col("tf") * F.round(
        F.log(F.col("n").cast("double") / F.col("df")), 6
    )
    tfidf_rank = _W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    tfidf = (
        tf.join(F.broadcast(queries), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(dsum(contrib).alias("score"))
        .withColumn("t_rank", F.row_number().over(tfidf_rank))
        .where(F.col("t_rank") <= 20)
        .select("query_id", "doc_id", "t_rank")
    )
    rrf = (
        F.coalesce(F.round(1.0 / (60 + F.col("b_rank")), 6), F.lit(0))
        .cast("decimal(18,6)")
        + F.coalesce(F.round(1.0 / (60 + F.col("t_rank")), 6), F.lit(0))
        .cast("decimal(18,6)")
    ).cast("double")
    fused = bm25.join(tfidf, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        rrf.alias("rrf_score"),
        F.col("b_rank").isNotNull().alias("in_bm25"),
        F.col("t_rank").isNotNull().alias("in_tfidf"),
    )
    w = _W.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn(
            "fused_rank", F.row_number().over(w).cast("long")
        )
        .where(F.col("fused_rank") <= 10)
    )


# --------------------------------------------------------------------------
# q256: temperature-based multilingual sampling — the p_i^alpha
# rebalancing rule (XLM-R / mBERT exponential smoothing): per
# language, raw token share p_i, smoothed sampling weight
# q_i = p_i^a / sum_j p_j^a for a in {0.3, 0.7, 1.0}, and the
# up/down-sampling factor q_i/p_i a corpus builder applies. One
# token-count aggregate; everything after runs on the 5-row language
# table (broadcast totals, no second corpus scan). alpha=1.0 is the
# built-in invariant check: weights must equal the raw shares.
# Powers/divisions are identical IEEE expression trees on both
# engines; shares round to 6dp before the weight normalization so
# the per-alpha sums are decimal-exact.
# --------------------------------------------------------------------------
@register(
    "q256_temperature_sampling",
    oracle="""
    WITH toks AS (
      SELECT lang,
             unnest({toks}) AS tok
      FROM documents
    ),
    counts AS (SELECT lang, count(*) AS n_tokens FROM toks GROUP BY 1),
    tot AS (SELECT sum(n_tokens) AS n FROM counts),
    shares AS (
      SELECT lang, n_tokens,
             {p_rq} AS p
      FROM counts, tot
    ),
    alphas(alpha) AS (VALUES (0.3), (0.7), (1.0)),
    powed AS (
      SELECT s.lang, s.n_tokens, s.p, a.alpha,
             round(pow(s.p, a.alpha), 6) AS pa
      FROM shares s CROSS JOIN alphas a
    ),
    z AS (
      SELECT alpha,
             {zsum} AS zsum
      FROM powed GROUP BY 1
    )
    SELECT p.lang, p.alpha, CAST(p.n_tokens AS BIGINT) AS n_tokens,
           p.p AS raw_share,
           {w_rq} AS sample_weight,
           {rf_rq} AS resample_factor
    FROM powed p JOIN z ON p.alpha = z.alpha
    """.format(
        toks=tokens_sql("text"),
        zsum=sql_dsum("pa"),
        # token share and grid-value ratios are rationals (.5-tie
        # class): guarded floor grid; pa = pow(p, 0.3/0.7) is
        # irrational (tie-free) and pow(p, 1.0) grid-exact — round ok
        p_rq=sql_roundq("CAST(n_tokens AS DOUBLE) / n"),
        w_rq=sql_roundq("p.pa / z.zsum"),
        rf_rq=sql_roundq("p.pa / z.zsum / p.p"),
    ),
)
def q256_temperature_sampling(spark, sf_dir):
    toks = _tokens(spark, sf_dir).select("lang")
    counts = toks.groupBy("lang").agg(F.count(F.lit(1)).alias("n_tokens"))
    tot = counts.agg(F.sum("n_tokens").alias("n"))
    shares = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_tokens",
        roundq(F.col("n_tokens").cast("double") / F.col("n")).alias("p"),
    )
    alphas = F.explode(
        F.array(F.lit(0.3), F.lit(0.7), F.lit(1.0))
    ).alias("alpha")
    powed = shares.select(
        "lang", "n_tokens", "p", alphas
    ).withColumn("pa", F.round(F.pow("p", "alpha"), 6))
    z = powed.groupBy("alpha").agg(
        dsum("pa").alias("zsum")
    )
    return powed.join(F.broadcast(z), "alpha").select(
        "lang",
        "alpha",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("p").alias("raw_share"),
        roundq(F.col("pa") / F.col("zsum")).alias("sample_weight"),
        roundq(F.col("pa") / F.col("zsum") / F.col("p")).alias(
            "resample_factor"
        ),
    )


# --------------------------------------------------------------------------
# q265: blocklist screen — the C4-style "bad words" gate (Raffel et
# al. 2020 filtered C4 against a public blocklist; the operator is
# the same for any deny-lexicon): per document, count token hits
# against a blocked-term lexicon, report hit density, and emit the
# three-way verdict a curation pipeline acts on (drop on any 2+
# hits, flag on 1, keep on 0). The lexicon here is a deterministic
# stand-in drawn from fixture vocabulary ('dup' hits ~5% of docs,
# 'crimson' is a deliberate zero-hit entry; swap the real deny list
# in production — the OPERATOR is what's under test).
# The lexicon broadcasts as a literal array; matching is a row-local
# HOF intersection, so the screen is a single stateless projection —
# it composes with streaming unchanged.
# --------------------------------------------------------------------------
_BLOCKLIST = ["dup", "crimson"]
_BLOCKLIST_SQL = ", ".join(f"'{w}'" for w in _BLOCKLIST)


@register(
    "q265_blocklist_screen",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len({tokens_sql("text")})
             END AS n_tokens,
             len(list_filter({tokens_sql("text")},
                             t -> list_contains([{_BLOCKLIST_SQL}], t)))
               AS n_hits
      FROM documents
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_hits AS BIGINT) AS n_hits,
           {sql_roundq(
               "CASE WHEN n_tokens = 0 THEN 0.0"
               " ELSE CAST(n_hits AS DOUBLE) / n_tokens END"
           )} AS hit_density,
           CASE WHEN n_hits >= 2 THEN 'drop'
                WHEN n_hits = 1 THEN 'flag'
                ELSE 'keep' END AS verdict
    FROM scored
    """,
)
def q265_blocklist_screen(spark, sf_dir):
    return blocklist_screen(table(spark, sf_dir, "documents"))


def blocklist_screen(docs):
    """The q265 projection over any documents frame — stateless and
    row-local, so it applies to a stream unchanged (pinned by
    test_streaming)."""
    t = F.trim(F.col("text"))
    toks = F.split(F.lower(t), r"\s+")
    lex = F.array(*[F.lit(w) for w in _BLOCKLIST])
    n_tokens = F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(toks))
    n_hits = F.size(
        F.filter(toks, lambda tok: F.array_contains(lex, tok))
    )
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        n_hits.cast("long").alias("n_hits"),
        # k/n count ratio (.5-tie class): guarded floor grid (r10 q225)
        roundq(
            F.when(n_tokens == 0, F.lit(0.0)).otherwise(
                n_hits.cast("double") / n_tokens
            )
        ).alias("hit_density"),
        F.when(n_hits >= 2, "drop")
        .when(n_hits == 1, "flag")
        .otherwise("keep")
        .alias("verdict"),
    )

"""Round-5 LLM-curation operators: weighted reservoir sampling (q127),
unigram-LM cross-entropy scoring (q128), shingle-containment excerpt
detection (q129), SemDeDup-style within-cluster embedding pruning
(q130), count-min-sketch heavy hitters (q131), incremental
corpus-append dedup (q132), sharded HLL distinct counting (q134),
character-entropy quality scoring (q135), interpolated bigram-LM
scoring (q136), the cross-split n-gram leakage matrix (q137), and
df-capped containment (q138).

All are the batch shapes a 100 TB training-data pipeline needs: every
plan is equi-join / groupBy keyed work (no all-pairs stage), the only
driver-side materialization is bounded model state (IVF centroids),
and randomness is integer-derived (md5) so any engine reproduces
identical results — which is what makes the DuckDB oracles possible.
Scale-growth measurements for each live in PLANS.md's round-5 audit.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.functions.strings import (
    md5_int,
    md5_int_sql,
    md5_unit,
    tokens,
    tokens_sql,
)
from airquality_data_pipeline_spark.operators import fan_out
from airquality_data_pipeline_spark.operators.dedup import (
    MINHASH_SIGNATURES_SQL,
    MINHASH_SIG_SQL,
    word_shingles_sql,
)
from airquality_data_pipeline_spark.operators.similarity import (
    PLANTED_NEARDUP_CORPUS_SQL,
    cosine,
    cosine_sql,
    ivf_assign,
    ivf_assign_sql,
    planted_neardup_corpus,
    sqrt_k_centroids_sql,
    with_norm_sql,
)
from airquality_data_pipeline_spark.queries.common import (
    decq,
    roundq,
    sql_decq,
    sql_double,
    sql_roundq,
    table,
)
from airquality_data_pipeline_spark.queries.registry import register

# containment = k/min(sz) count rational (.5-tie class, e.g. odd/128):
# guarded floor grid, not round() (r10 q225 class) — shared by
# q129/q138's oracle SELECTs
_CONTAINMENT_RQ = sql_roundq("n_inter / least(x.sz, y.sz)::DOUBLE")


# --------------------------------------------------------------------------
# q127: weighted sampling without replacement, k per stratum — the
# Efraimidis–Spirakis A-ES scheme: each row draws u ~ U(0,1) and keeps
# key = u^(1/w); the k largest keys per stratum are an exact weighted
# sample without replacement. Ordering uses the log-key ln(u)/w
# (monotone in u^(1/w), avoids pow underflow for large weights). The
# uniform is md5-derived, so both engines rank identically. One window
# per source partition — a single shuffle on the stratum key at any
# scale; k rows survive per stratum.
# --------------------------------------------------------------------------
@register(
    "q127_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT source, doc_id, n_chars,
             ln({md5_int_sql("CAST(doc_id AS VARCHAR)", 1, 8)}
                / 4294967296.0) / n_chars AS k
      FROM documents
    )
    SELECT source, doc_id, n_chars, CAST(rank AS INT) AS rank FROM (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY k DESC, doc_id
             ) AS rank
      FROM keyed
    ) WHERE rank <= 5
    """,
)
def q127_weighted_sample(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    # A-ES log-key: ln(u)/w, larger is better (ln(u) < 0; heavier w
    # pulls the key toward 0). The key itself is float-log arithmetic,
    # so it ORDERS rows but is never emitted (cross-engine last-ulp
    # noise lives ~1e-16 below any plausible ranking tie).
    # try_divide: a zero-length doc has weight 0 — the A-ES limit puts
    # it last (u^(1/w) -> 0). NULL keys sort last under DESC on both
    # engines (DuckDB double x/0 is NULL and DESC defaults NULLS LAST),
    # so the engines agree; ANSI `/` would throw instead.
    u = md5_unit(F.col("doc_id").cast("string"))
    key = F.try_divide(F.log(u), F.col("n_chars"))
    w = Window.partitionBy("source").orderBy(F.desc(key), F.asc("doc_id"))
    return (
        docs.select(
            "source",
            "doc_id",
            "n_chars",
            F.row_number().over(w).alias("rank"),
        )
        .where(F.col("rank") <= 5)
    )


# --------------------------------------------------------------------------
# q128: unigram-LM cross-entropy scoring — the perplexity-filter shape
# (CCNet / Gopher quality pipelines): fit a Laplace-smoothed unigram
# model on the TRAIN hash-split (q86's bucket < 80), score every VAL
# doc by mean negative log-likelihood per token; OOV tokens get the
# smoothed floor 1/(N+V). Plan: train tokens -> one groupBy(token)
# (vocabulary-sized), scalar totals broadcast via crossJoin, val tokens
# LEFT-join the model on token (hash equi-join), one groupBy(doc_id).
# Nothing in the plan scales with corpus^2, and the model side of the
# join is vocabulary-bounded.
# --------------------------------------------------------------------------
_BUCKET_SQL = f"{md5_int_sql('CAST(doc_id AS VARCHAR)', 1, 8)} % 100"


@register(
    "q128_unigram_crossentropy",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, lower(trim(text)) AS text, {_BUCKET_SQL} AS bucket
      FROM documents
    ),
    train_toks AS (
      SELECT unnest(string_split_regex(text, '\\s+')) AS tok
      FROM split WHERE bucket < 80
    ),
    model AS (SELECT tok, count(*) AS cnt FROM train_toks GROUP BY tok),
    totals AS (
      SELECT sum(cnt) AS n, count(*) AS v FROM model
    ),
    val_toks AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
      FROM split WHERE bucket >= 80 AND bucket < 90
    ),
    scored AS (
      SELECT vt.doc_id,
             -ln((COALESCE(m.cnt, 0) + 1.0) / (t.n + t.v)) AS nll
      FROM val_toks vt
      LEFT JOIN model m ON vt.tok = m.tok
      CROSS JOIN totals t
    )
    SELECT doc_id, count(*) AS n_tokens,
           round(avg(nll), 6) AS avg_nll
    FROM scored GROUP BY doc_id
    """,
)
def q128_unigram_crossentropy(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    bucket = md5_int(F.col("doc_id").cast("string"), 1, 8) % 100
    toks = docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.explode(tokens("text")).alias("tok"),
    )
    model = (
        toks.where(F.col("bucket") < 80)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = model.agg(
        F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("v")
    )
    val = toks.where((F.col("bucket") >= 80) & (F.col("bucket") < 90))
    scored = (
        val.join(model, "tok", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            (
                -F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1.0))
                    / (F.col("n") + F.col("v"))
                )
            ).alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("nll"), 6).alias("avg_nll"),
    )


# --------------------------------------------------------------------------
# q129: shingle-containment excerpt detection — near-dup dedup's
# one-sided sibling: containment C = |A∩B| / min(|A|,|B|) catches a
# short doc EMBEDDED in a long one (quotes, excerpts, page fragments),
# which symmetric Jaccard misses (the union term dilutes it). The
# fixture has no natural excerpts, so half-length token-prefix excerpts
# of every doc_id % 10 == 7 are planted (id + 300000) — their prefix
# 3-grams are a strict subset of the source's, so containment is
# exactly 1.0. Candidates come from the shingle equi-join (q42's
# shape); no all-pairs stage.
# --------------------------------------------------------------------------
@register(
    "q129_containment",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 300000, array_to_string(t[1:len(t) // 2], ' ')
      FROM (SELECT doc_id, {tokens_sql("text")} AS t FROM documents)
      WHERE doc_id % 10 = 7
    ),
    {word_shingles_sql("corpus", 3, ())},
    sz AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b, n_inter,
           {_CONTAINMENT_RQ} AS containment
    FROM inter
    JOIN sz x ON inter.id_a = x.id
    JOIN sz y ON inter.id_b = y.id
    WHERE n_inter / least(x.sz, y.sz)::DOUBLE >= 0.8
    """,
)
def q129_containment(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.dedup import word_shingles

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens("text")
    excerpts = (
        docs.where(F.col("doc_id") % 10 == 7)
        .select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.array_join(
                F.slice(toks, F.lit(1), (F.size(toks) / 2).cast("int")), " "
            ).alias("text"),
        )
    )
    corpus = docs.unionByName(excerpts)
    sh = word_shingles(corpus, text_col="text", id_col="doc_id", n=3)
    sz = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    c = F.col("n_inter") / F.least("sz_a", "sz_b").cast("double")
    return (
        inter.join(sz.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sz.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .where(c >= 0.8)
        .select("id_a", "id_b", "n_inter", roundq(c).alias("containment"))
    )


# --------------------------------------------------------------------------
# q130: SemDeDup-style embedding pruning — cluster the corpus with the
# IVF coarse quantizer (row-local assignment, zero shuffles), then
# WITHIN each cluster mark every vector that has a lower-id neighbor at
# cosine >= 0.9 as a prune candidate (keep-lowest-id screen; the full
# transitive closure is q120's job). The pairwise stage is an equi-join
# on bucket, so candidate volume is cluster-bounded — the entire point
# of clustering before comparing (Abbas et al., SemDeDup). Planted
# near-dups (q45's corpus) make the >= 0.9 regime non-vacuous. The
# cluster count scales with the corpus (k = max(8, isqrt(n)), q172's
# measured pattern): within-bucket pair volume is O(n^2/k), so a
# frozen k is quadratic in corpus size while k ~ sqrt(n) keeps
# per-bucket density — and the pair term per vector — constant as the
# corpus grows (16x probe recorded in PLANS.md).
# --------------------------------------------------------------------------
@register(
    "q130_semdedup",
    oracle=f"""
    WITH {PLANTED_NEARDUP_CORPUS_SQL},
    {with_norm_sql("corpus", ())},
    {ivf_assign_sql(sqrt_k_centroids_sql("corpus"), ())},
    pairs AS (
      SELECT a.bucket, a.id AS id_a, b.id AS id_b,
             {cosine_sql("a.v", "a.nrm", "b.v", "b.nrm")} AS cos_sim
      FROM assigned a JOIN assigned b
        ON a.bucket = b.bucket AND a.id < b.id
    )
    SELECT bucket, id_b AS pruned_id, min(id_a) AS keeper_id,
           max(cos_sim) AS max_sim,
           CAST(count(*) AS BIGINT) AS n_dominating
    FROM pairs WHERE cos_sim >= 0.9
    GROUP BY bucket, id_b
    """,
)
def q130_semdedup(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.similarity import (
        sqrt_k_centroids,
    )

    # NULL vectors excluded on BOTH engines (null_text axis)
    emb = table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    corpus = planted_neardup_corpus(emb)
    # k = max(8, floor(sqrt(n))) derived inside the plan (r7 verdict:
    # the old math.isqrt(corpus.count()) ran a full-table count job at
    # plan BUILD); the oracle pins the identical formula.
    assigned = ivf_assign(corpus, centroids=sqrt_k_centroids(corpus))
    pairs = (
        assigned.alias("a")
        .join(
            assigned.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.bucket").alias("bucket"),
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine(
                F.col("a.v"), F.col("a.nrm"), F.col("b.v"), F.col("b.nrm")
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.9)
    )
    return pairs.groupBy("bucket", F.col("id_b").alias("pruned_id")).agg(
        F.min("id_a").alias("keeper_id"),
        F.max("cos_sim").alias("max_sim"),
        F.count(F.lit(1)).alias("n_dominating"),
    )


# --------------------------------------------------------------------------
# q131: count-min-sketch heavy hitters — the bounded-memory term-stats
# path for 100 TB corpora: a d=4 x w=256 counter grid (1 KB of state
# per executor, mergeable by addition) replaces an unbounded
# per-token hash table; estimates never UNDERcount (each counter only
# ever adds), so the emitted no_underestimate flag is constant-true.
# Hash r of a token is md5(token || '#r') — engine-portable. The
# sketch is built FROM the per-token aggregate here so the oracle can
# replicate it exactly; at ingest scale the same counters accumulate
# per-partition and merge by element-wise sum. The true top-20 (by
# exact count, vocabulary-bounded ranking) are then probed against the
# sketch.
# --------------------------------------------------------------------------
@register(
    "q131_cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({tokens_sql("text")}) AS tok
      FROM documents
    ),
    exact AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    params AS (SELECT unnest(range(4)) AS r),
    positions AS (
      SELECT e.tok, e.cnt, p.r,
             {md5_int_sql("e.tok || '#' || CAST(p.r AS VARCHAR)", 1, 8)} % 256 AS col
      FROM exact e, params p
    ),
    counters AS (
      SELECT r, col, sum(cnt) AS counter FROM positions GROUP BY r, col
    ),
    top20 AS (
      SELECT tok, cnt FROM exact ORDER BY cnt DESC, tok LIMIT 20
    ),
    est AS (
      SELECT t.tok, t.cnt, min(c.counter) AS cms_est
      FROM top20 t
      JOIN positions p ON t.tok = p.tok
      JOIN counters c ON p.r = c.r AND p.col = c.col
      GROUP BY t.tok, t.cnt
    )
    SELECT tok, CAST(cnt AS BIGINT) AS exact_cnt,
           CAST(cms_est AS BIGINT) AS cms_est,
           cms_est >= cnt AS no_underestimate
    FROM est
    """,
)
def q131_cms_heavy_hitters(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokens("text")).alias("tok")
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    # the grid built from the aggregate is identical to building from
    # raw occurrences (counters are linear); mergeability across
    # partial builds is pinned by tests/test_operators.py
    counters = cms_build(exact, tok_col="tok", weight_col="cnt")
    # vocabulary-bounded global ranking: the single-partition window
    # sorts |V| aggregated rows, never corpus rows
    wtop = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    top20 = (
        exact.withColumn("rk", F.row_number().over(wtop))
        .where(F.col("rk") <= 20)
        .drop("rk")
    )
    return (
        cms_estimate(counters, top20.select("tok"), tok_col="tok")
        .join(top20, "tok")
        .select(
            "tok",
            F.col("cnt").alias("exact_cnt"),
            "cms_est",
            (F.col("cms_est") >= F.col("cnt")).alias("no_underestimate"),
        )
    )


# --------------------------------------------------------------------------
# q132: incremental corpus-append dedup — the reference's cursor
# semantics (app/main.py:209-277: only-newer-than-watermark rows pass)
# applied to a document corpus: an INCOMING batch is admitted doc by
# doc unless its row-local MinHash signature already exists in the
# SEEN corpus ('dup_of_corpus') or appeared earlier in the same batch
# ('dup_in_batch', first-wins by doc id — A4's rule). The seen corpus
# is the hash-split bucket < 50; replicas of every doc_id % 10 == 3
# are planted INTO the batch so both dup verdicts are non-vacuous
# (seen-sourced replica -> dup_of_corpus, batch-sourced -> dup_in_batch).
# Plan shape: signature is a row-local expression (minhash_sig_expr —
# no explode/agg), membership is one hash equi-join on sig, first-wins
# is one window on the sig partition.
# --------------------------------------------------------------------------
@register(
    "q132_incremental_dedup",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text,
             CASE WHEN {md5_int_sql("CAST(doc_id AS VARCHAR)", 1, 8)} % 100 < 50
                  THEN 'seen' ELSE 'incoming' END AS grp
      FROM documents
      UNION ALL
      SELECT doc_id + 400000, text, 'incoming'
      FROM documents WHERE doc_id % 10 = 3
    ),
    {word_shingles_sql("corpus", 3, ())},
    {MINHASH_SIGNATURES_SQL},
    {MINHASH_SIG_SQL},
    labeled AS (
      -- LEFT join + digest-qualified EMPTY sentinel: sub-shingle docs
      -- (< 3 tokens) have no signature rows; like the STREAMING twin
      -- (r6 ADVICE: batch and stream diverged — batch collapsed all
      -- short docs into ONE degenerate cluster) they dedup on
      -- 'EMPTY:' || md5(text), so only IDENTICAL short docs cluster
      SELECT c.doc_id, c.grp,
             COALESCE(s.sig, 'EMPTY:' || md5(c.text)) AS sig
      FROM corpus c LEFT JOIN sig s ON c.doc_id = s.id
    ),
    seen AS (SELECT DISTINCT sig FROM labeled WHERE grp = 'seen'),
    incoming AS (
      SELECT doc_id, sig,
             ROW_NUMBER() OVER (PARTITION BY sig ORDER BY doc_id) AS rn
      FROM labeled WHERE grp = 'incoming'
    )
    SELECT i.doc_id,
           CASE WHEN s.sig IS NOT NULL THEN 'dup_of_corpus'
                WHEN i.rn > 1 THEN 'dup_in_batch'
                ELSE 'new' END AS verdict
    FROM incoming i LEFT JOIN seen s ON i.sig = s.sig
    """,
)
def q132_incremental_dedup(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.dedup import minhash_sig_expr

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # the row-local signature expression (one md5 + 16 modular folds
    # per shingle) is the query's CPU; fan the single-row-group scan
    # out so it runs at full parallelism (guide §2.5) — scale-guarded,
    # no-op at 100 TB
    docs = fan_out(docs)
    bucket = md5_int(F.col("doc_id").cast("string"), 1, 8) % 100
    base = docs.select(
        "doc_id",
        "text",
        F.when(bucket < 50, "seen").otherwise("incoming").alias("grp"),
    )
    planted = docs.where(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        "text",
        F.lit("incoming").alias("grp"),
    )
    raw_sig = minhash_sig_expr(F.col("text"))
    # digest-qualify the sub-shingle (< 3 tokens) sentinel exactly like
    # the streaming twin (streaming/jobs.py): distinct short docs must
    # NOT collapse into one degenerate cluster — only byte-identical
    # short docs dedup ('EMPTY:' || md5(text)); the oracle's LEFT JOIN
    # + COALESCE mirrors this (r6 ADVICE: batch/stream divergence)
    corpus = base.unionByName(planted).select(
        "doc_id",
        "grp",
        F.when(raw_sig != "EMPTY", raw_sig)
        .otherwise(F.concat(F.lit("EMPTY:"), F.md5(F.col("text"))))
        .alias("sig"),
    )
    # materialize the signed corpus ONCE (doc-cardinality, 3 narrow
    # cols): the seen and incoming branches below would otherwise each
    # re-evaluate the signature expression over the full scan (guide
    # §3.3). Measured with the fan-out at sf0.1 (warm, min-of-3):
    # 2.27 -> 1.56 s
    corpus = corpus.localCheckpoint()
    seen = corpus.where(F.col("grp") == "seen").select("sig").distinct()
    w = Window.partitionBy("sig").orderBy("doc_id")
    incoming = (
        corpus.where(F.col("grp") == "incoming")
        .withColumn("rn", F.row_number().over(w))
    )
    return (
        incoming.join(
            seen.withColumn("in_corpus", F.lit(True)), "sig", "left"
        )
        .select(
            "doc_id",
            F.when(F.col("in_corpus"), "dup_of_corpus")
            .when(F.col("rn") > 1, "dup_in_batch")
            .otherwise("new")
            .alias("verdict"),
        )
    )


# --------------------------------------------------------------------------
# q134: sharded HLL distinct counting — Spark's native Apache
# DataSketches integration (hll_sketch_agg / hll_union_agg,
# Spark 3.5+): each source shard builds its own token-cardinality
# sketch (map-side partial, fixed 2^12-register state), and the GLOBAL
# estimate comes from UNIONING the shard sketches — never re-scanning
# the corpus. This is the 100 TB distinct-count path: per-shard
# sketches persist as tiny binaries and merge associatively, the same
# mergeability contract as operators/sketch.py's CMS. The estimates
# are library-internal (not SQL-reproducible), so the oracle checks
# exact distinct counts plus the in-bound flag (HLL rsd at
# lgConfigK=12 is ~1.6%; the 5% acceptance bound is > 3 sigma — the
# q60 pattern).
# --------------------------------------------------------------------------
@register(
    "q134_hll_shard_union",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({tokens_sql("text")}) AS tok
      FROM documents
    )
    SELECT source, count(DISTINCT tok) AS exact_distinct, true AS in_bound
    FROM toks GROUP BY source
    UNION ALL
    SELECT '__ALL__' AS source, count(DISTINCT tok) AS exact_distinct,
           true AS in_bound
    FROM toks
    """,
)
def q134_hll_shard_union(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(tokens("text")).alias("tok"),
    )
    per = toks.groupBy("source").agg(
        F.countDistinct("tok").alias("exact_distinct"),
        F.hll_sketch_agg("tok").alias("sk"),
    )
    # multiplication form, not abs/exact <= 0.05: identical for
    # exact > 0, and on empty documents (empty_relation axis) the
    # global row has exact = 0 where the division form ANSI-crashes;
    # est coalesces to 0 there (hll over zero rows yields NULL), so
    # abs(0-0) <= 0 keeps in_bound = true, matching the oracle's
    # literal true.
    bound = lambda est, exact: (  # noqa: E731
        F.abs(F.coalesce(est, F.lit(0.0)) - exact)
        <= F.lit(0.05) * exact
    )
    per_out = per.select(
        "source",
        "exact_distinct",
        bound(
            F.hll_sketch_estimate("sk"), F.col("exact_distinct")
        ).alias("in_bound"),
    )
    glob = (
        per.agg(
            F.hll_union_agg("sk").alias("sk"),
        )
        .crossJoin(
            F.broadcast(
                toks.agg(F.countDistinct("tok").alias("exact_distinct"))
            )
        )
        .select(
            F.lit("__ALL__").alias("source"),
            "exact_distinct",
            bound(
                F.hll_sketch_estimate("sk"), F.col("exact_distinct")
            ).alias("in_bound"),
        )
    )
    return per_out.unionByName(glob)


# --------------------------------------------------------------------------
# q135: character-entropy quality scoring — the gibberish / low-entropy
# detector quality pipelines run alongside q49's ratio features:
# Shannon entropy of the per-doc character distribution (low = repeated
# filler or binary junk, high ~ log2(alphabet) for natural text).
# Cross-engine exactness: each -p*log2(p) term quantizes to
# DECIMAL(18,10) BEFORE the order-dependent sum (the repo's decimal
# rule), so partition/fold order cannot drift the hash; the final
# entropy rounds to 6. Plan: substring-explode on codepoint positions
# -> groupBy(doc, char) -> groupBy(doc) — two keyed shuffles, both
# bounded by doc x alphabet.
# --------------------------------------------------------------------------
@register(
    "q135_char_entropy",
    oracle=f"""
    WITH chars AS (
      SELECT doc_id, substring(text, CAST(g.i AS INT), 1) AS ch
      FROM documents, UNNEST(range(1, length(text) + 1)) AS g(i)
    ),
    counts AS (
      SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
    ),
    n AS (SELECT doc_id, sum(c) AS n FROM counts GROUP BY doc_id),
    terms AS (
      -- floor grid at 1e10: p*log2(p) is continuous (common.decq)
      SELECT counts.doc_id,
             {sql_decq("(c / n::DOUBLE) * log2(c / n::DOUBLE)", 10)} AS term
      FROM counts JOIN n ON counts.doc_id = n.doc_id
    )
    SELECT t.doc_id,
           CAST(n.n AS BIGINT) AS n_chars_counted,
           -- floor grid for the FINAL 1e-6 quantization too: the
           -- scaled-int sum / 1e10 quotient is continuous and round()
           -- flipped one quantum at a .5 boundary (scale-100 sweep)
           floor(-({sql_double("sum(t.term)")})
                 / 10000.0 + 0.5) / 1000000.0 AS entropy,
           floor(-({sql_double("sum(t.term)")})
                 / 10000.0 + 0.5) / 1000000.0 < 3.0 AS low_entropy
    FROM terms t JOIN n ON t.doc_id = n.doc_id
    GROUP BY t.doc_id, n.n
    """,
)
def q135_char_entropy(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    # the per-character explode is the query's CPU and fuses into the
    # single-row-group scan: fan out first (guide §2.5; scale-guarded
    # no-op at 100 TB). Measured at sf0.1 (warm, min-of-3):
    # 6.2 -> 2.7 s
    docs = fan_out(docs.select("doc_id", "text"))
    # length > 0 guard: Spark's sequence(1, 0) infers a DESCENDING
    # step and yields [1, 0] — an empty doc would contribute two
    # phantom empty-string chars (n=2, entropy 0) while DuckDB's
    # range(1, 1) is empty and drops the doc (alt-seed sweep catch)
    chars = docs.where(F.length("text") > 0).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text")),
                lambda i: F.col("text").substr(i, F.lit(1)),
            )
        ).alias("ch"),
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    n = counts.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n").cast("double")
    terms = counts.join(n, "doc_id").select(
        "doc_id",
        "n",
        decq(p * F.log2(p), 10).alias("term"),
    )
    # shared floor grid for the FINAL 1e-6 quantization (scale-100
    # sweep catch: round() on the continuous sum/1e10 quotient flipped
    # one quantum at a .5 boundary — the decq tie class); a
    # zero-entropy doc yields +0.0 (floor(0.5)/1e6), no -0.0 hazard
    ent = F.floor(
        -(F.sum("term").cast("double")) / F.lit(1e4) + F.lit(0.5)
    ).cast("double") / F.lit(1e6)
    return terms.groupBy("doc_id", "n").agg(
        ent.alias("entropy"),
        (ent < 3.0).alias("low_entropy"),
    ).select(
        "doc_id",
        F.col("n").alias("n_chars_counted"),
        "entropy",
        "low_entropy",
    )


# --------------------------------------------------------------------------
# q136: interpolated bigram-LM scoring — the next rung above q128's
# unigram model on the perplexity-filter ladder: p(w2|w1) =
# lambda * c(w1 w2)/c(w1) + (1-lambda) * (c(w2)+1)/(N+V), fitted on
# the train hash-split, scoring every val doc by mean -ln p over its
# bigram positions. OOV/unseen history degrades smoothly to the
# smoothed unigram term. Plan: two vocabulary-bounded model aggregates
# (bigram + unigram), scalar totals broadcast, val bigrams LEFT-join
# both models on their keys — all hash equi-joins; nothing quadratic.
# --------------------------------------------------------------------------
_LAMBDA = 0.7


@register(
    "q136_bigram_crossentropy",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, {tokens_sql("text")} AS t,
             {_BUCKET_SQL} AS bucket
      FROM documents
    ),
    train_uni AS (
      SELECT unnest(t) AS w FROM split WHERE bucket < 80
    ),
    uni AS (SELECT w, count(*) AS c1 FROM train_uni GROUP BY w),
    totals AS (SELECT sum(c1) AS n, count(*) AS v FROM uni),
    train_bi AS (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM split, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
      WHERE bucket < 80 AND len(t) >= 2
    ),
    bi AS (SELECT w1, w2, count(*) AS c12 FROM train_bi GROUP BY w1, w2),
    val_bi AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM split, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
      WHERE bucket >= 80 AND bucket < 90 AND len(t) >= 2
    ),
    scored AS (
      SELECT vb.doc_id,
             -ln({_LAMBDA} * COALESCE(b.c12 / u.c1::DOUBLE, 0.0)
                 + (1.0 - {_LAMBDA}) * (COALESCE(u2.c1, 0) + 1.0) / (t.n + t.v))
               AS nll
      FROM val_bi vb
      LEFT JOIN bi b ON vb.w1 = b.w1 AND vb.w2 = b.w2
      LEFT JOIN uni u ON vb.w1 = u.w
      LEFT JOIN uni u2 ON vb.w2 = u2.w
      CROSS JOIN totals t
    )
    SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 6) AS avg_nll
    FROM scored GROUP BY doc_id
    """,
)
def q136_bigram_crossentropy(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    bucket = md5_int(F.col("doc_id").cast("string"), 1, 8) % 100
    toks = tokens("text")
    base = docs.select("doc_id", bucket.alias("bucket"), toks.alias("t"))
    uni_toks = base.where(F.col("bucket") < 80).select(
        F.explode("t").alias("w")
    )
    uni = uni_toks.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    totals = uni.agg(F.sum("c1").alias("n"), F.count(F.lit(1)).alias("v"))
    bigrams = lambda df: df.select(  # noqa: E731
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1), "
                "slice(t, 2, size(t) - 1), (a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    bi = (
        bigrams(base.where(F.col("bucket") < 80))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    val = bigrams(base.where((F.col("bucket") >= 80) & (F.col("bucket") < 90)))
    p_bi = F.coalesce(F.col("c12") / F.col("c1").cast("double"), F.lit(0.0))
    p_uni = (F.coalesce(F.col("c1_w2"), F.lit(0)) + F.lit(1.0)) / (
        F.col("n") + F.col("v")
    )
    scored = (
        val.join(bi, ["w1", "w2"], "left")
        .join(uni, F.col("w1") == F.col("w"), "left")
        .drop("w")
        .join(
            uni.select(F.col("w").alias("w2_key"), F.col("c1").alias("c1_w2")),
            F.col("w2") == F.col("w2_key"),
            "left",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            (-F.log(F.lit(_LAMBDA) * p_bi + F.lit(1.0 - _LAMBDA) * p_uni)).alias(
                "nll"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("nll"), 6).alias("avg_nll"),
    )


# --------------------------------------------------------------------------
# q137: cross-split n-gram leakage matrix — the QA report a leakage-
# free split pipeline (q124) has to publish: for every pair of splits,
# how many distinct 8-grams they share and what fraction of each
# side's gram inventory that overlap is. Complements q99 (train vs
# external benchmark) by auditing the INTERNAL train/val/test
# boundaries. The fixture's random text shares almost no natural
# 8-grams across splits, so leakage is planted: replicas of
# doc_id % 10 == 1 are forced into val and % 10 == 2 into test (ids
# +600000/+700000) — each leaks its source doc's grams across exactly
# one boundary (and a second planted-planted boundary when source docs
# land in val/test themselves). Plan: distinct (split, gram) pairs,
# one equi-join on the gram key, one groupBy on the split pair —
# bounded by the gram inventory, never doc^2.
# --------------------------------------------------------------------------
@register(
    "q137_split_ngram_leakage",
    oracle=f"""
    WITH labeled AS (
      SELECT doc_id, text,
             CASE WHEN {_BUCKET_SQL} < 80 THEN 'train'
                  WHEN {_BUCKET_SQL} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
      UNION ALL
      SELECT doc_id + 600000, text, 'val' FROM documents WHERE doc_id % 10 = 1
      UNION ALL
      SELECT doc_id + 700000, text, 'test' FROM documents WHERE doc_id % 10 = 2
    ),
    {word_shingles_sql("labeled", 8, ("split",))},
    grams AS (SELECT DISTINCT split, shingle AS gram FROM sh),
    sizes AS (SELECT split, count(*) AS n FROM grams GROUP BY split),
    shared AS (
      SELECT a.split AS split_a, b.split AS split_b, count(*) AS n_shared
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.split < b.split
      GROUP BY a.split, b.split
    )
    SELECT split_a, split_b, n_shared,
           sa.n AS n_grams_a, sb.n AS n_grams_b,
           {sql_roundq("n_shared / sa.n::DOUBLE")} AS leak_share_a,
           {sql_roundq("n_shared / sb.n::DOUBLE")} AS leak_share_b
    FROM shared
    JOIN sizes sa ON shared.split_a = sa.split
    JOIN sizes sb ON shared.split_b = sb.split
    """,
)
def q137_split_ngram_leakage(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = md5_int(F.col("doc_id").cast("string"), 1, 8) % 100
    base = docs.select(
        "doc_id",
        "text",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    labeled = base.unionByName(
        docs.where(F.col("doc_id") % 10 == 1).select(
            (F.col("doc_id") + 600000).alias("doc_id"),
            "text",
            F.lit("val").alias("split"),
        )
    ).unionByName(
        docs.where(F.col("doc_id") % 10 == 2).select(
            (F.col("doc_id") + 700000).alias("doc_id"),
            "text",
            F.lit("test").alias("split"),
        )
    )
    from airquality_data_pipeline_spark.operators.dedup import word_shingles

    grams = word_shingles(
        labeled, text_col="text", id_col="split", n=8
    ).select(F.col("id").alias("split"), F.col("shingle").alias("gram")).distinct()
    sizes = grams.groupBy("split").agg(F.count(F.lit(1)).alias("n"))
    shared = (
        grams.alias("a")
        .join(
            grams.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.split") < F.col("b.split")),
        )
        .groupBy(
            F.col("a.split").alias("split_a"), F.col("b.split").alias("split_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(
            sizes.select(F.col("split").alias("split_a"), F.col("n").alias("n_grams_a")),
            "split_a",
        )
        .join(
            sizes.select(F.col("split").alias("split_b"), F.col("n").alias("n_grams_b")),
            "split_b",
        )
        .select(
            "split_a",
            "split_b",
            "n_shared",
            "n_grams_a",
            "n_grams_b",
            roundq(F.col("n_shared") / F.col("n_grams_a").cast("double")).alias(
                "leak_share_a"
            ),
            roundq(F.col("n_shared") / F.col("n_grams_b").cast("double")).alias(
                "leak_share_b"
            ),
        )
    )


# --------------------------------------------------------------------------
# q138: df-capped shingle containment — q129 with the scale guard
# EXECUTED rather than documented: shingles whose document frequency
# exceeds a cap (64 here) are boilerplate/stop-grams that contribute
# little containment evidence while causing the equi-join's quadratic
# docs-per-shingle term (PLANS.md measures q129's clone-16x blowup).
# Dropping them bounds pair fanout at cap^2/2 per shingle — the same
# hot-key treatment as q97's boilerplate logic and suffix-array
# dedup's stop-gram pass. Containment is computed over the surviving
# (informative) shingles, with set sizes recomputed post-filter so the
# ratio stays a true containment of the filtered sets. The planted
# prefix excerpts (q129's corpus) keep df well under the cap, so
# detection survives the filter.
# --------------------------------------------------------------------------
@register(
    "q138_containment_capped",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 300000, array_to_string(t[1:len(t) // 2], ' ')
      FROM (SELECT doc_id, {tokens_sql("text")} AS t FROM documents)
      WHERE doc_id % 10 = 7
    ),
    {word_shingles_sql("corpus", 3, ())},
    df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    capped AS (
      SELECT sh.id, sh.shingle FROM sh
      JOIN df ON sh.shingle = df.shingle WHERE df.df <= 64
    ),
    sz AS (SELECT id, count(*) AS sz FROM capped GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b, n_inter,
           {_CONTAINMENT_RQ} AS containment
    FROM inter
    JOIN sz x ON inter.id_a = x.id
    JOIN sz y ON inter.id_b = y.id
    WHERE n_inter / least(x.sz, y.sz)::DOUBLE >= 0.8
    """,
)
def q138_containment_capped(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.dedup import word_shingles

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens("text")
    excerpts = (
        docs.where(F.col("doc_id") % 10 == 7)
        .select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.array_join(
                F.slice(toks, F.lit(1), (F.size(toks) / 2).cast("int")), " "
            ).alias("text"),
        )
    )
    corpus = docs.unionByName(excerpts)
    # sh0 feeds both the df computation and the cap filter; the capped
    # sh feeds sizes and BOTH sides of the intersection self-join —
    # materialize each once instead of re-evaluating the
    # tokenize+explode subtree per consumer (guide §3.3; measured at
    # sf0.1 warm min-of-3: 2.52 -> 2.22 s)
    sh0 = word_shingles(
        corpus, text_col="text", id_col="doc_id", n=3
    ).localCheckpoint()
    dfreq = sh0.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sh = (
        sh0.join(dfreq.where(F.col("df") <= 64), "shingle")
        .select("id", "shingle")
        .localCheckpoint()
    )
    sz = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    c = F.col("n_inter") / F.least("sz_a", "sz_b").cast("double")
    return (
        inter.join(
            sz.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            sz.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")),
            "id_b",
        )
        .where(c >= 0.8)
        .select("id_a", "id_b", "n_inter", roundq(c).alias("containment"))
    )

"""Deduplication queries over the documents corpus: exact content hash,
MinHash+LSH candidates, exact n-gram Jaccard, SimHash fingerprints and
banded hamming pairs (32/64-bit), connected-component closure, and the
end-to-end dedup pipeline (q120).

North-star operator family (BASELINE.json); the reference's own dedup is
the key-based first-wins batch dedup covered by q25.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airquality_data_pipeline_spark.functions.strings import (
    md5_int,
    md5_int_sql,
    tokens,
    tokens_sql,
)
from airquality_data_pipeline_spark.io import local_frame
from airquality_data_pipeline_spark.operators import fan_out
from airquality_data_pipeline_spark.operators.dedup import (
    MINHASH_SIGNATURES_SQL,
    MINHASH_SIG_SQL,
    exact_dedup,
    minhash_candidate_pairs,
    minhash_sig,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_set_sizes,
    simhash,
    word_shingles,
    word_shingles_sql,
)
from airquality_data_pipeline_spark.operators.graph import connected_components
from airquality_data_pipeline_spark.queries.common import (
    roundq,
    sql_roundq,
    table,
)
from airquality_data_pipeline_spark.queries.registry import register

_NUM_HASHES = 16


# --------------------------------------------------------------------------
# q40: exact dedup by content digest. The fixture corpus has no exact
# dups, so the query unions in a mutated replica (every 10th doc under a
# shifted id) to exercise real duplicate groups.
# --------------------------------------------------------------------------
@register(
    "q40_exact_dedup",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    )
    SELECT md5(text) AS content_hash,
           min(doc_id) AS keeper_id,
           count(*) AS n_copies
    FROM corpus GROUP BY md5(text)
    """,
)
def q40_exact_dedup(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    replica = (
        docs.where(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    corpus = docs.unionByName(replica)
    return exact_dedup(corpus, content_col="text", id_col="doc_id")


# --------------------------------------------------------------------------
# q41: MinHash near-dup candidates — k=16 md5-string minhashes, LSH
# banding with band size 1 (equi-join on (seed, value)), pairs sharing
# >= 6/16 values (Jaccard ~ 0.375 estimate). No cross join anywhere.
# --------------------------------------------------------------------------
@register(
    "q41_minhash_candidates",
    oracle=f"""
    WITH {word_shingles_sql("documents", 3, ())},
    {MINHASH_SIGNATURES_SQL}
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_matches
    FROM mh a JOIN mh b ON a.seed = b.seed AND a.mh = b.mh AND a.id < b.id
    GROUP BY a.id, b.id
    HAVING count(*) >= 6
    """,
)
def q41_minhash_candidates(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    sh = word_shingles(docs, text_col="text", id_col="doc_id", n=3)
    sigs = minhash_signatures(sh, num_hashes=_NUM_HASHES)
    return minhash_candidate_pairs(sigs, num_hashes=_NUM_HASHES, min_matches=6)


# --------------------------------------------------------------------------
# q42: exact n-gram Jaccard >= 0.5 over word-3-gram sets (the verification
# step that runs on MinHash candidates at scale; exact-by-bucket here).
# --------------------------------------------------------------------------
@register(
    "q42_ngram_jaccard",
    oracle=f"""
    WITH {word_shingles_sql("documents", 3, ())},
    hashed AS (
      SELECT id, {md5_int_sql("shingle", 1, 15)} AS sh
      FROM sh
    ),
    sizes AS (SELECT id, count(*) AS sz FROM hashed GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM hashed a JOIN hashed b ON a.sh = b.sh AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b, n_inter,
           round(n_inter / CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.id
    JOIN sizes sb ON id_b = sb.id
    WHERE round(n_inter / CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 6) >= 0.5
    """,
)
def q42_ngram_jaccard(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    sh = word_shingles(docs, text_col="text", id_col="doc_id", n=3)
    # per-doc set sizes from a light no-explode scan — don't re-evaluate
    # the exploded subtree just to count it
    sz = shingle_set_sizes(docs, text_col="text", id_col="doc_id", n=3)
    return ngram_jaccard_pairs(sh, threshold=0.5, sizes=sz)


# --------------------------------------------------------------------------
# q43: 32-bit SimHash fingerprint per document (majority vote over
# distinct-token md5 bits; high bit of each hex char).
# --------------------------------------------------------------------------
def _simhash_oracle(bits: int = 32) -> str:
    votes = ",\n      ".join(
        f"SUM(CASE WHEN substring(h, {i + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS v_{i}"
        for i in range(bits)
    )
    bit_cases = ", ".join(
        f"CASE WHEN v_{i} >= 0 THEN '1' ELSE '0' END" for i in range(bits)
    )
    return f"""
    WITH toks AS (
      SELECT DISTINCT doc_id AS id, unnest({tokens_sql("text")}) AS tok
      FROM documents
    ),
    hashed AS (SELECT id, md5(tok) AS h FROM toks),
    v AS (
      SELECT id,
      {votes}
      FROM hashed GROUP BY id
    )
    SELECT id, concat({bit_cases}) AS simhash FROM v
    """


@register("q43_simhash", oracle=_simhash_oracle())
def q43_simhash(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return simhash(docs, text_col="text", id_col="doc_id", bits=32, n=1)


# --------------------------------------------------------------------------
# q67: near-dup clustering by identical MinHash signature — the cheap
# one-pass grouping that collapses strong near-dups (J ~ 1) without any
# pairwise work; keeper = min doc id per cluster.
# --------------------------------------------------------------------------
_SIG_COLS = ", ".join(f"mh_{i}" for i in range(_NUM_HASHES))


@register(
    "q67_signature_clusters",
    oracle=f"""
    WITH {word_shingles_sql("documents", 3, ())},
    {MINHASH_SIGNATURES_SQL},
    {MINHASH_SIG_SQL}
    SELECT min(id) AS keeper_id, count(*) AS n_docs
    FROM sig GROUP BY sig HAVING count(*) >= 2
    """,
)
def q67_signature_clusters(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    sh = word_shingles(docs, text_col="text", id_col="doc_id", n=3)
    sigs = minhash_signatures(sh, num_hashes=_NUM_HASHES)
    sig_key = minhash_sig(sigs)
    return (
        sigs.groupBy(sig_key.alias("sig"))
        .agg(F.min("id").alias("keeper_id"), F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("keeper_id", "n_docs")
    )


# --------------------------------------------------------------------------
# q71: near-dup CLUSTERS — connected components over the MinHash
# candidate edges (pairwise similarity is not transitive; dedup needs
# the closure). Iterative min-label propagation on the Spark side; the
# oracle computes the same closure with a recursive CTE.
# --------------------------------------------------------------------------
_EDGES_CTE = f"""
    {MINHASH_SIGNATURES_SQL},
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM mh a JOIN mh b ON a.seed = b.seed AND a.mh = b.mh AND a.id < b.id
      GROUP BY a.id, b.id HAVING count(*) >= 6
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM cand
      UNION SELECT id_b, id_a FROM cand
    )
"""


@register(
    "q71_neardup_components",
    oracle=f"""
    WITH RECURSIVE {word_shingles_sql("documents", 3, ())},
    {_EDGES_CTE},
    reach(a, b) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
    )
    SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a
    """,
)
def q71_neardup_components(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    sh = word_shingles(docs, text_col="text", id_col="doc_id", n=3)
    sigs = minhash_signatures(sh, num_hashes=_NUM_HASHES)
    edges = minhash_candidate_pairs(sigs, num_hashes=_NUM_HASHES, min_matches=6)
    comps = connected_components(
        docs.select(F.col("doc_id")), edges, id_col="doc_id"
    )
    return comps.select(F.col("id").alias("doc_id"), "component")


# --------------------------------------------------------------------------
# q63: pyspark.ml MinHashLSH pipeline (Tokenizer -> HashingTF ->
# MinHashLSH.transform) — the library alternative to the hand-rolled
# q41.
#
# r2: candidate generation is OUR banding equi-join over the model's
# hash values ((table_idx, hash) as the bucket key) on the FULL corpus —
# r1 used model.approxSimilarityJoin, which materializes exploded hash
# buckets through a join it plans itself (215 s at sf0.1 unsampled,
# hence a 1-in-10 sample). Same library signatures, same candidate
# semantics (pairs agreeing on >= 1 hash table), but the join is an
# explicit equi-join Catalyst shuffles on the bucket key — the q41
# shape, so no sampling needed.
#
# r5: oracle added. The ml hash family is seeded JVM-side and not
# reproducible in SQL, so the raw candidate set can't be hash-compared
# against DuckDB. Instead the query's RESULT is the deterministic
# consequence the library guarantees: identical text => identical
# HashingTF vector => identical MinHash in EVERY table => the pair is a
# candidate with n_tables == num_hash_tables. The corpus is the
# documents table plus a planted replica of the 20 lowest doc_ids
# (under +1_000_000 ids), so the invariant is non-vacuous at every SF
# (the raw fixture has no exact dups below sf0.1). Output: one row per
# identical-text pair in the corpus with the candidate-join's observed
# n_tables (must be 8) and found (must be true) — any lost pair
# surfaces as a null/false row and a driver hash mismatch. The full
# (seeded) candidate set stays pinned by
# tests/test_operators.py::test_q63_exact_dup_containment.
# --------------------------------------------------------------------------
@register(
    "q63_ml_minhash_lsh",
    oracle=f"""
    WITH shingleable AS (
      -- 3-gram LSH is defined only for docs with >= 3 tokens: shorter
      -- docs featurize to the all-zero vector, which Spark ML's
      -- MinHashLSH rejects ('at least 1 non zero entry'); both engines
      -- exclude them with this SAME predicate (alt-seed sweep catch)
      SELECT doc_id, text FROM documents
      WHERE len({tokens_sql("text")}) >= 3
        AND length(trim(text)) > 0
    ),
    corpus AS (
      SELECT doc_id, text FROM shingleable
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM (SELECT * FROM shingleable ORDER BY doc_id LIMIT 20)
    )
    SELECT a.doc_id AS id_a,
           b.doc_id AS id_b,
           CAST(8 AS BIGINT) AS n_tables,
           true AS found
    FROM corpus a
    JOIN corpus b ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
    """,
)
def q63_ml_minhash_lsh(spark, sf_dir):
    from pyspark.ml.feature import HashingTF, MinHashLSH, NGram, Tokenizer
    from pyspark.ml.functions import vector_to_array

    base = table(spark, sf_dir, "documents").select("doc_id", "text")
    # sub-shingle docs (< 3 tokens) featurize to the all-zero vector,
    # which MinHashLSH rejects; exclude them with the SAME predicate
    # the oracle uses, BEFORE planting, so both corpora are identical
    base = base.where(
        (F.size(tokens("text")) >= 3)
        & (F.length(F.trim("text")) > 0)
    )
    # bounded planted-dup set: 20 rows, deterministic; the limit's
    # single-partition gather is over 20 rows, never corpus-sized
    planted = (
        base.orderBy("doc_id")
        .limit(20)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    docs = fan_out(base.unionByName(planted))
    tok = Tokenizer(inputCol="text", outputCol="words")
    # 3-gram shingles, matching q41: single tokens are degenerate on a
    # small-vocabulary corpus (every doc contains nearly every word, so
    # token-level MinHash makes ALL pairs candidates)
    ng = NGram(n=3, inputCol="words", outputCol="shingles")
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 16
    )
    feat = tf.transform(ng.transform(tok.transform(docs)))
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8,
                     seed=42)
    model = lsh.fit(feat)
    hashed = model.transform(feat).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.col("hashes"),
                lambda v: vector_to_array(v)[0].cast("long"),
            )
        ).alias("table_idx", "h"),
    )
    cand = (
        hashed.alias("a")
        .join(
            hashed.alias("b"),
            (F.col("a.table_idx") == F.col("b.table_idx"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_tables"))
    )
    # identical-text pairs in the corpus (planted + any natural dups):
    # equi-join on the content digest — never an all-pairs comparison
    expected = (
        docs.alias("x")
        .join(
            docs.alias("y"),
            (F.md5(F.col("x.text")) == F.md5(F.col("y.text")))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
        )
    )
    return expected.join(cand, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        F.col("n_tables").cast("long").alias("n_tables"),
        F.col("n_tables").isNotNull().alias("found"),
    )


# --------------------------------------------------------------------------
# q96: canonical document per near-dup cluster — the step after
# clustering in an LLM dedup pipeline: among docs sharing a MinHash
# signature (q67's clusters), keep the HIGHEST-QUALITY one (quality
# from q49's fixed scoring tree), ties broken by lowest doc id.
# argmax via max(struct(quality, -id)): one extra broadcast-sized join
# against the quality features, same single groupBy as q67.
# --------------------------------------------------------------------------
_QUALITY_SQL = f"""
    q AS (
      SELECT doc_id,
             least(CAST(len({tokens_sql("text")}) AS DOUBLE) / 50.0, 1.0) * 0.4
             + least((CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|a|in|is|it|that|for)\\b')) AS DOUBLE)
                      / CAST(greatest(len({tokens_sql("text")}), 1) AS DOUBLE)) * 5.0, 1.0) * 0.3
             + (1.0 - least((CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
                             / CAST(greatest(length(text), 1) AS DOUBLE)) * 10.0, 1.0)) * 0.2
             + (1.0 - least((CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                             / CAST(greatest(length(text), 1) AS DOUBLE)) * 10.0, 1.0)) * 0.1
               AS quality
      FROM documents
    )
"""


@register(
    "q96_canonical_docs",
    oracle=f"""
    WITH {word_shingles_sql("documents", 3, ())},
    {MINHASH_SIGNATURES_SQL},
    {MINHASH_SIG_SQL},
    {_QUALITY_SQL}
    SELECT (max(struct_pack(qq := quality, nid := -id))).nid * -1 AS canonical_id,
           count(*) AS n_docs,
           {sql_roundq("(max(struct_pack(qq := quality, nid := -id))).qq")}
             AS canonical_quality
    FROM sig JOIN q ON sig.id = q.doc_id
    GROUP BY sig HAVING count(*) >= 2
    """,
)
def q96_canonical_docs(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.text import quality_features

    docs = table(spark, sf_dir, "documents")
    sh = word_shingles(docs, text_col="text", id_col="doc_id", n=3)
    sigs = minhash_signatures(sh, num_hashes=_NUM_HASHES)
    sig_key = minhash_sig(sigs)
    quality = quality_features(docs, text_col="text", id_col="doc_id").select(
        F.col("doc_id").alias("id"), "quality"
    )
    best = F.max(
        F.struct(
            F.col("quality").alias("qq"), (F.lit(0) - F.col("id")).alias("nid")
        )
    )
    return (
        sigs.select("id", sig_key.alias("sig"))
        .join(quality, "id")
        .groupBy("sig")
        .agg(
            (best["nid"] * F.lit(-1)).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
            roundq(best["qq"]).alias("canonical_quality"),
        )
        .where(F.col("n_docs") >= 2)
        .select("canonical_id", "n_docs", "canonical_quality")
    )


# --------------------------------------------------------------------------
# q112: MinHash estimator calibration — for every q41 candidate pair,
# the signature-agreement Jaccard estimate (n_matches / 16) side by side
# with the EXACT n-gram Jaccard and the absolute error. This is the
# measurement that justifies the banding threshold: at scale you tune
# min_matches from exactly this table computed on a sample. Candidates
# come from the banding equi-join; the exact side reuses the
# shingle-hash intersection join — no cross join anywhere.
# --------------------------------------------------------------------------
@register(
    "q112_jaccard_estimate",
    oracle=f"""
    WITH {word_shingles_sql("documents", 3, ())},
    {MINHASH_SIGNATURES_SQL},
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_matches
      FROM mh a JOIN mh b ON a.seed = b.seed AND a.mh = b.mh AND a.id < b.id
      GROUP BY a.id, b.id
      HAVING count(*) >= 6
    ),
    h15 AS (SELECT id, {md5_int_sql("shingle", 1, 15)} AS sh FROM sh),
    sizes AS (SELECT id, count(*) AS sz FROM h15 GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
      FROM h15 a JOIN h15 b ON a.sh = b.sh AND a.id < b.id
      GROUP BY a.id, b.id
    ),
    joined AS (
      SELECT c.id_a, c.id_b,
             round(CAST(c.n_matches AS DOUBLE) / {_NUM_HASHES}.0, 6) AS est_jaccard,
             {sql_roundq(
                 "coalesce(i.n_inter, 0)"
                 " / CAST(sa.sz + sb.sz - coalesce(i.n_inter, 0)"
                 " AS DOUBLE)"
             )} AS exact_jaccard
      FROM cand c
      LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
      JOIN sizes sa ON c.id_a = sa.id
      JOIN sizes sb ON c.id_b = sb.id
    )
    SELECT id_a, id_b, est_jaccard, exact_jaccard,
           round(abs(est_jaccard - exact_jaccard), 6) AS abs_err
    FROM joined
    """,
)
def q112_jaccard_estimate(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    sh = word_shingles(docs, text_col="text", id_col="doc_id", n=3)
    sigs = minhash_signatures(sh, num_hashes=_NUM_HASHES)
    cand = minhash_candidate_pairs(
        sigs, num_hashes=_NUM_HASHES, min_matches=6
    )
    # CANDIDATE-BOUNDED exact verify (the shape q42's docstring
    # prescribes for scale): the candidate pair list broadcasts onto
    # A-side shingles, then an equi-join on (id_b, shingle hash) keeps
    # shared shingles only — intersection work is proportional to
    # candidates, never to every pair that shares one shingle.
    hashed = sh.select(
        "id",
        md5_int("shingle", 1, 15)
        .alias("_sh"),
    )
    inter = (
        cand.select("id_a", "id_b")
        .join(hashed.select(F.col("id").alias("id_a"), "_sh"), "id_a")
        .join(hashed.select(F.col("id").alias("id_b"), "_sh"), ["id_b", "_sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz = shingle_set_sizes(docs, text_col="text", id_col="doc_id", n=3)
    est = F.round(F.col("n_matches").cast("double") / _NUM_HASHES, 6)
    # est = k/16 is dyadic (never a .5 tie on the 1e-6 grid: 62500*k is
    # integer) so plain round is exact; the k/n exact Jaccard is the
    # .5-tie class -> guarded floor grid (r10 q225 class)
    exact = roundq(
        F.coalesce("n_inter", F.lit(0))
        / (F.col("sz_a") + F.col("sz_b") - F.coalesce("n_inter", F.lit(0))).cast(
            "double"
        )
    )
    return (
        cand.join(inter, ["id_a", "id_b"], "left")
        .join(sz.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sz.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
        )
        .withColumn(
            "abs_err",
            F.round(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6),
        )
    )


# --------------------------------------------------------------------------
# q117: SimHash near-dup pairs the Manku/web-crawl way — a 64-bit
# fingerprint (the Manku production width) splits into 4 bands of 16
# bits; hamming <= 3 pairs MUST share a band (pigeonhole => 100%
# recall), so candidates come from a (band, value) equi-join, never an
# all-pairs scan; exact hamming over the full fingerprint verifies.
# Signatures vote over word-3-gram shingles, NOT tokens: the fixture's
# ~40-word vocabulary makes token-level signatures collapse into a
# handful of values, which degenerates the band join to all-pairs
# (measured 300 s vs ~3 s at sf0.1 — the same degeneracy q63 documents
# for token-level MinHash). The corpus is random word soup with no
# natural near-dups, so replicas (identical -> hamming 0) and
# one-token-appended variants (few shingles change -> small hamming)
# are planted — both engines derive the identical corpus.
#
# r5: registered default flipped from 32-bit/8-bit-bands to
# 64-bit/16-bit-bands and the separate q121 folded in. Rationale
# (PLANS.md, measured at 80 k docs): random pairs collide per 8-bit
# band at 4/256, a quadratic term that grew candidates 16.6x at a 16x
# corpus; at 16-bit bands the rate is 4/65536 and measured growth
# (4.2x) tracks the true dup mass. That form is the operators' default;
# q43 asks for the 32-bit token fingerprint explicitly.
# --------------------------------------------------------------------------
def _simhash_corpus_oracle(bits: int = 32, n_bands: int = 4) -> str:
    # bits > 32 read from the salted second digest (simhash operator's
    # h2 = md5(tok || '#2')), mirroring operators/dedup.simhash exactly
    def src(i: int) -> str:
        return (
            f"substring(h, {i + 1}, 1)"
            if i < 32
            else f"substring(h2, {i - 31}, 1)"
        )

    votes = ",\n      ".join(
        f"SUM(CASE WHEN {src(i)} >= '8' THEN 1 ELSE -1 END) AS v_{i}"
        for i in range(bits)
    )
    bit_cases = ", ".join(
        f"CASE WHEN v_{i} >= 0 THEN '1' ELSE '0' END" for i in range(bits)
    )
    h2 = ", md5(shingle || '#2') AS h2" if bits > 32 else ""
    band_bits = bits // n_bands
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 200000, text || ' zzqx' FROM documents WHERE doc_id % 10 = 5
    ),
    {word_shingles_sql("corpus", 3, ())},
    hashed AS (SELECT id, md5(shingle) AS h{h2} FROM sh),
    v AS (
      SELECT id,
      {votes}
      FROM hashed GROUP BY id
    ),
    sigs AS (SELECT id, concat({bit_cases}) AS sig FROM v),
    bands AS (
      SELECT id, sig, bj.band,
             substring(sig, bj.band * {band_bits} + 1, {band_bits}) AS bv
      FROM sigs, (SELECT unnest(range({n_bands})) AS band) bj
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, a.sig AS sig_a, c.id AS id_b, c.sig AS sig_b
      FROM bands a JOIN bands c
        ON a.band = c.band AND a.bv = c.bv AND a.id < c.id
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT id_a, id_b,
             CAST(list_sum(list_transform(range({bits}),
               i -> CASE WHEN substring(sig_a, i + 1, 1) = substring(sig_b, i + 1, 1)
                         THEN 0 ELSE 1 END)) AS INT) AS hamming
      FROM cand
    ) WHERE hamming <= 3
    """


@register(
    "q117_simhash_neardup",
    oracle=_simhash_corpus_oracle(bits=64, n_bands=4),
)
def q117_simhash_neardup(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.dedup import (
        simhash_band_candidates,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = (
        docs.unionByName(
            docs.where(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        ).unionByName(
            docs.where(F.col("doc_id") % 10 == 5).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zzqx")).alias("text"),
            )
        )
    )
    sigs = simhash(corpus, text_col="text", id_col="doc_id")
    return simhash_band_candidates(sigs, n_bands=4, max_hamming=3)


# --------------------------------------------------------------------------
# q120: end-to-end near-dup DEDUP pipeline — the dedup sibling of
# q103's curation pipeline, composing the oracle-checked stages:
# MinHash banding candidates (q41 shape) -> connected-component closure
# (q71, similarity is not transitive) -> quality-argmax canonical per
# cluster (q96) -> per-doc verdict (kept iff the doc IS its cluster's
# canonical). Every stage is a keyed equi-join / groupBy — the whole
# pipeline is a handful of doc_id- and component-keyed shuffles
# regardless of corpus size; singleton docs are their own canonical.
# --------------------------------------------------------------------------
@register(
    "q120_dedup_pipeline",
    oracle=f"""
    WITH RECURSIVE {word_shingles_sql("documents", 3, ())},
    {_EDGES_CTE},
    reach(a, b) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
    ),
    comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a),
    {_QUALITY_SQL},
    agg AS (
      SELECT component,
             count(*) AS n_docs,
             (max(struct_pack(qq := quality, nid := -comp.doc_id))).nid * -1
               AS canonical_id
      FROM comp JOIN q ON comp.doc_id = q.doc_id
      GROUP BY component
    )
    SELECT c.doc_id, c.component, a.n_docs, a.canonical_id,
           c.doc_id = a.canonical_id AS kept
    FROM comp c JOIN agg a USING (component)
    """,
)
def q120_dedup_pipeline(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.text import quality_features

    docs = table(spark, sf_dir, "documents")
    sh = word_shingles(docs, text_col="text", id_col="doc_id", n=3)
    sigs = minhash_signatures(sh, num_hashes=_NUM_HASHES)
    edges = minhash_candidate_pairs(sigs, num_hashes=_NUM_HASHES, min_matches=6)
    comps = connected_components(
        docs.select(F.col("doc_id")), edges, id_col="doc_id"
    ).select(F.col("id").alias("doc_id"), "component")
    quality = quality_features(docs, text_col="text", id_col="doc_id").select(
        "doc_id", "quality"
    )
    best = F.max(
        F.struct(
            F.col("quality").alias("qq"),
            (F.lit(0) - F.col("doc_id")).alias("nid"),
        )
    )
    agg = (
        comps.join(quality, "doc_id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (best["nid"] * F.lit(-1)).alias("canonical_id"),
        )
    )
    return comps.join(agg, "component").select(
        "doc_id",
        "component",
        "n_docs",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("kept"),
    )


# --------------------------------------------------------------------------
# q124: leakage-free train/val/test split — the assignment rule that
# prevents near-dup leakage across splits: docs are bucketed by the
# md5-hash of their near-dup COMPONENT (q71's closure), not of the doc
# id, so a whole duplicate cluster always lands on the same side of the
# split (hash the doc and a pair of near-identical docs can straddle
# train/test — the classic contamination bug q99 then has to detect).
# The Spark side runs the large-star/small-star closure
# (connected_components_star — diameter-independent, the 100 TB CC),
# giving that implementation its own driver-checked row; the oracle's
# recursive CTE proves both engines agree on the closure AND the
# bucketing.
# --------------------------------------------------------------------------
@register(
    "q124_leakage_free_split",
    oracle=f"""
    WITH RECURSIVE {word_shingles_sql("documents", 3, ())},
    {_EDGES_CTE},
    reach(a, b) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
    ),
    comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a)
    SELECT doc_id, component,
           {md5_int_sql("CAST(component AS VARCHAR)", 1, 8)} % 100
             AS bucket,
           CASE WHEN {md5_int_sql("CAST(component AS VARCHAR)", 1, 8)} % 100 < 90 THEN 'train'
                WHEN {md5_int_sql("CAST(component AS VARCHAR)", 1, 8)} % 100 < 95 THEN 'val'
                ELSE 'test'
           END AS split
    FROM comp
    """,
)
def q124_leakage_free_split(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.graph import (
        connected_components_star,
    )

    docs = table(spark, sf_dir, "documents")
    sh = word_shingles(docs, text_col="text", id_col="doc_id", n=3)
    sigs = minhash_signatures(sh, num_hashes=_NUM_HASHES)
    edges = minhash_candidate_pairs(sigs, num_hashes=_NUM_HASHES, min_matches=6)
    comps = connected_components_star(
        docs.select(F.col("doc_id")), edges, id_col="doc_id"
    ).select(F.col("id").alias("doc_id"), "component")
    bucket = md5_int(F.col("component").cast("string"), 1, 8) % 100
    return comps.select(
        "doc_id",
        "component",
        bucket.alias("bucket"),
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


# --------------------------------------------------------------------------
# q229: dedup-quality harness — precision/recall of the MinHash-LSH
# candidate stage against PLANTED ground truth (the dedup counterpart
# of q115's ANN recall calibration: before trusting the banding
# thresholds at corpus scale, measure them). Every 9th long-enough doc
# gets a near-dup variant with every 17th word dropped (~0.7 Jaccard
# on word-3-gram sets); recall = planted pairs recovered by the
# candidate stage, precision proxy = candidates confirmed by exact
# Jaccard >= 0.5. Deterministic md5 hash family => both engines agree
# on every candidate, so the metrics are exactly reproducible.
# --------------------------------------------------------------------------
@register(
    "q229_dedup_pr_harness",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 700000,
             array_to_string(list_filter(
               string_split_regex(trim(text), '\\s+'),
               (w, i) -> i % 17 <> 0), ' ')
      FROM documents
      WHERE doc_id % 9 = 0
        AND len(string_split_regex(trim(text), '\\s+')) >= 20
    ),
    {word_shingles_sql("corpus", 3, ())},
    {MINHASH_SIGNATURES_SQL},
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM mh a JOIN mh b ON a.seed = b.seed AND a.mh = b.mh AND a.id < b.id
      GROUP BY a.id, b.id
      HAVING count(*) >= 6
    ),
    planted AS (
      SELECT doc_id AS id_a, doc_id + 700000 AS id_b
      FROM documents
      WHERE doc_id % 9 = 0
        AND len(string_split_regex(trim(text), '\\s+')) >= 20
    ),
    h15 AS (
      SELECT id, {md5_int_sql("shingle", 1, 15)} AS s15
      FROM sh
    ),
    sizes AS (SELECT id, count(*) AS sz FROM h15 GROUP BY id),
    verified AS (
      SELECT i.id_a, i.id_b
      FROM (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
        FROM h15 a JOIN h15 b ON a.s15 = b.s15 AND a.id < b.id
        GROUP BY a.id, b.id
      ) i
      JOIN cand c ON i.id_a = c.id_a AND i.id_b = c.id_b
      JOIN sizes sa ON i.id_a = sa.id
      JOIN sizes sb ON i.id_b = sb.id
      WHERE round(i.n_inter
                  / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE), 6) >= 0.5
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM planted) AS n_planted,
      (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
      (SELECT CAST(count(*) AS BIGINT) FROM cand c
        JOIN planted p ON c.id_a = p.id_a AND c.id_b = p.id_b) AS n_hits,
      {sql_roundq(
          "(SELECT count(*) FROM cand c"
          " JOIN planted p ON c.id_a = p.id_a AND c.id_b = p.id_b)"
          " / CAST((SELECT count(*) FROM planted) AS DOUBLE)"
      )} AS recall,
      (SELECT CAST(count(*) AS BIGINT) FROM verified) AS n_verified,
      {sql_roundq(
          "(SELECT count(*) FROM verified)"
          " / CAST((SELECT count(*) FROM cand) AS DOUBLE)"
      )} AS precision_proxy
    """,
)
def q229_dedup_pr_harness(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.trim(F.col("text")), r"\s+")
    eligible = (F.col("doc_id") % 9 == 0) & (F.size(words) >= 20)
    variant = docs.where(eligible).select(
        (F.col("doc_id") + 700000).alias("doc_id"),
        F.array_join(
            F.filter(words, lambda w, i: (i + 1) % 17 != 0), " "
        ).alias("text"),
    )
    corpus = docs.unionByName(variant)
    sh = word_shingles(corpus, text_col="text", id_col="doc_id", n=3)
    sigs = minhash_signatures(sh, num_hashes=_NUM_HASHES)
    cand = minhash_candidate_pairs(
        sigs, num_hashes=_NUM_HASHES, min_matches=6
    ).select("id_a", "id_b")
    planted = docs.where(eligible).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 700000).alias("id_b"),
    )
    sz = shingle_set_sizes(corpus, text_col="text", id_col="doc_id", n=3)
    verified = (
        ngram_jaccard_pairs(sh, threshold=0.5, sizes=sz)
        .join(cand, ["id_a", "id_b"])
        .select("id_a", "id_b")
    )
    n_planted = planted.agg(F.count(F.lit(1)).alias("n_planted"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hits = cand.join(planted, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    n_ver = verified.agg(F.count(F.lit(1)).alias("n_verified"))
    j = (
        n_planted.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hits))
        .crossJoin(F.broadcast(n_ver))
    )
    return j.select(
        "n_planted",
        "n_candidates",
        "n_hits",
        # try_divide: zero planted pairs / zero candidates on empty
        # documents (empty_relation axis) — DuckDB x/0.0 yields NULL
        roundq(
            F.try_divide(F.col("n_hits"), F.col("n_planted").cast("double"))
        ).alias("recall"),
        "n_verified",
        roundq(
            F.try_divide(
                F.col("n_verified"), F.col("n_candidates").cast("double")
            )
        ).alias("precision_proxy"),
    )


# --------------------------------------------------------------------------
# q230: banding-threshold sweep — the operating curve behind q229's
# point estimate: candidate volume, planted-pair recall, and exact-
# Jaccard precision at band thresholds 4/6/8/10 of 16, all from ONE
# pass over the band join (pairs materialize once at the loosest
# threshold with their match count; each threshold is a filter over
# n_matches, never a re-join). This is the artifact you consult before
# moving the registered 6/16 default: it shows where recall breaks
# and what candidate volume each notch costs.
# --------------------------------------------------------------------------
@register(
    "q230_band_threshold_sweep",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 700000,
             array_to_string(list_filter(
               string_split_regex(trim(text), '\\s+'),
               (w, i) -> i % 17 <> 0), ' ')
      FROM documents
      WHERE doc_id % 9 = 0
        AND len(string_split_regex(trim(text), '\\s+')) >= 20
    ),
    {word_shingles_sql("corpus", 3, ())},
    {MINHASH_SIGNATURES_SQL},
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(count(*) AS BIGINT) AS n_matches
      FROM mh a JOIN mh b ON a.seed = b.seed AND a.mh = b.mh AND a.id < b.id
      GROUP BY a.id, b.id
      HAVING count(*) >= 4
    ),
    planted AS (
      SELECT doc_id AS id_a, doc_id + 700000 AS id_b
      FROM documents
      WHERE doc_id % 9 = 0
        AND len(string_split_regex(trim(text), '\\s+')) >= 20
    ),
    h15 AS (
      SELECT id, {md5_int_sql("shingle", 1, 15)} AS s15
      FROM sh
    ),
    sizes AS (SELECT id, count(*) AS sz FROM h15 GROUP BY id),
    flagged AS (
      SELECT p.id_a, p.id_b, p.n_matches,
             CASE WHEN pl.id_a IS NOT NULL THEN 1 ELSE 0 END AS is_planted,
             CASE WHEN COALESCE(round(i.n_inter
                    / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE), 6), 0)
                  >= 0.5 THEN 1 ELSE 0 END AS is_true
      FROM pairs p
      LEFT JOIN planted pl ON p.id_a = pl.id_a AND p.id_b = pl.id_b
      LEFT JOIN (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
        FROM h15 a JOIN h15 b ON a.s15 = b.s15 AND a.id < b.id
        GROUP BY a.id, b.id
      ) i ON p.id_a = i.id_a AND p.id_b = i.id_b
      LEFT JOIN sizes sa ON p.id_a = sa.id
      LEFT JOIN sizes sb ON p.id_b = sb.id
    ),
    n_pl AS (SELECT CAST(count(*) AS BIGINT) AS n_planted FROM planted)
    SELECT t.threshold,
           CAST(SUM(CASE WHEN f.n_matches >= t.threshold
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN f.n_matches >= t.threshold
                    THEN f.is_planted ELSE 0 END) AS BIGINT) AS n_hits,
           {sql_roundq(
               "SUM(CASE WHEN f.n_matches >= t.threshold"
               " THEN f.is_planted ELSE 0 END)"
               " / CAST(np.n_planted AS DOUBLE)"
           )} AS recall,
           {sql_roundq(
               "SUM(CASE WHEN f.n_matches >= t.threshold"
               " THEN f.is_true ELSE 0 END)"
               " / CAST(SUM(CASE WHEN f.n_matches >= t.threshold"
               " THEN 1 ELSE 0 END) AS DOUBLE)"
           )} AS precision_proxy
    FROM flagged f,
         (SELECT unnest([4, 6, 8, 10]) AS threshold) t,
         n_pl np
    GROUP BY t.threshold, np.n_planted
    """,
)
def q230_band_threshold_sweep(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.trim(F.col("text")), r"\s+")
    eligible = (F.col("doc_id") % 9 == 0) & (F.size(words) >= 20)
    variant = docs.where(eligible).select(
        (F.col("doc_id") + 700000).alias("doc_id"),
        F.array_join(
            F.filter(words, lambda w, i: (i + 1) % 17 != 0), " "
        ).alias("text"),
    )
    corpus = docs.unionByName(variant)
    sh = word_shingles(corpus, text_col="text", id_col="doc_id", n=3)
    sigs = minhash_signatures(sh, num_hashes=_NUM_HASHES)
    pairs = minhash_candidate_pairs(
        sigs, num_hashes=_NUM_HASHES, min_matches=4
    )
    planted = docs.where(eligible).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 700000).alias("id_b"),
        F.lit(1).alias("is_planted"),
    )
    sz = shingle_set_sizes(corpus, text_col="text", id_col="doc_id", n=3)
    true_pairs = (
        ngram_jaccard_pairs(sh, threshold=0.5, sizes=sz)
        .select("id_a", "id_b", F.lit(1).alias("is_true"))
    )
    flagged = (
        pairs.join(F.broadcast(planted), ["id_a", "id_b"], "left")
        .join(true_pairs, ["id_a", "id_b"], "left")
        .select(
            "n_matches",
            F.coalesce("is_planted", F.lit(0)).alias("is_planted"),
            F.coalesce("is_true", F.lit(0)).alias("is_true"),
        )
    )
    n_pl = planted.agg(F.count(F.lit(1)).alias("n_planted"))
    sweep = flagged.crossJoin(
        F.broadcast(
            local_frame(docs.sparkSession, [(4,), (6,), (8,), (10,)], "threshold int")
        )
    ).crossJoin(F.broadcast(n_pl))
    inb = F.when(F.col("n_matches") >= F.col("threshold"), 1).otherwise(0)
    return sweep.groupBy("threshold", "n_planted").agg(
        F.sum(inb).alias("n_candidates"),
        F.sum(inb * F.col("is_planted")).alias("n_hits"),
        roundq(
            F.sum(inb * F.col("is_planted"))
            / F.col("n_planted").cast("double")
        ).alias("recall"),
        roundq(
            F.sum(inb * F.col("is_true"))
            / F.sum(inb).cast("double")
        ).alias("precision_proxy"),
    ).drop("n_planted")

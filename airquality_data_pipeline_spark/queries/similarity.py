"""Similarity-search queries over the embeddings fixture (64-d float
vectors): brute-force cosine top-k baseline, near-dup pair mining, and
the IVF-bucketed approximate variant (the 100 TB scale path).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airquality_data_pipeline_spark.functions.expr import materialize
from airquality_data_pipeline_spark.io import table
from airquality_data_pipeline_spark.operators.similarity import (
    HYPERPLANE_LSH_SQL,
    PLANTED_NEARDUP_CORPUS_SQL,
    cosine_sql,
    cosine_topk,
    hyperplane_lsh,
    ivf_assign_sql,
    ivf_probes_sql,
    ivf_topk,
    lsh_gated_neardup,
    planted_neardup_corpus,
    topk_sql,
    with_norm_sql,
)
from airquality_data_pipeline_spark.queries.common import (
    roundq,
    sql_decq,
    sql_dsum,
    sql_roundq,
)
from airquality_data_pipeline_spark.queries.registry import register


# --------------------------------------------------------------------------
# q44: exact cosine top-5 for each query vector (vec_id < 10), self
# excluded, ties by neighbor id. Query side broadcasts; the candidate
# scan stays partition-local.
# --------------------------------------------------------------------------
@register(
    "q44_cosine_topk",
    oracle=f"""
    WITH {with_norm_sql("embeddings", ())},
    q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
    scored AS (
      SELECT q.qid AS query_id, n.vec_id AS neighbor_id,
             {cosine_sql("q.qv", "q.qn", "n.v", "n.nrm")} AS cos_sim
      FROM n, q WHERE n.vec_id <> q.qid
    )
    {topk_sql(5)}
    """,
)
def q44_cosine_topk(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").where(
        # NULL vectors have no similarity; oracle n/base CTEs filter too
        F.col("embedding").isNotNull()
    )
    return cosine_topk(emb, query_pred=F.col("id") < 10, k=5)


# --------------------------------------------------------------------------
# q45: embedding near-dup pairs via the SCALE composition: sign-LSH
# banding (4 bands x 4 bits) generates candidates as an equi-join on
# (band, band_value); exact cosine then verifies candidates >= 0.9.
# No cross join in the plan — candidate volume is bucket-bounded, which
# is the shape that survives 100 TB.
#
# The fixture is pure random Gaussian (max natural pairwise cosine
# ~0.51), so the >= 0.9 regime the operator is designed for is
# exercised by planting deterministic near-duplicates: every 5th
# vector gets a replica (id + 100000) with an integer-derived jitter of
# +/- 5e-3 per component (cos vs the original ~0.9999) — both engines
# derive the identical corpus, and the gate's recall at this threshold
# is ~1 (p_bit = 1 - theta/pi ~ 0.999 per bit). The old registered
# threshold 0.35 sat in the regime where sign banding is inherently
# weak (~48% recall vs brute force, r2 ADVICE) — that figure stays
# documented in operators/similarity.lsh_gated_neardup's docstring, and
# the brute-force twin (neardup_pairs) remains the ground-truth for
# recall tests.
# --------------------------------------------------------------------------
@register(
    "q45_embedding_neardup",
    oracle=f"""
    WITH {PLANTED_NEARDUP_CORPUS_SQL},
    {with_norm_sql("corpus", ())},
    {HYPERPLANE_LSH_SQL},
    bands AS (
      SELECT id, bj.band, substring(sig, bj.band * 4 + 1, 4) AS bv
      FROM sigs, (SELECT unnest(range(4)) AS band) bj
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, c.id AS id_b
      FROM bands a JOIN bands c
        ON a.band = c.band AND a.bv = c.bv AND a.id < c.id
    )
    SELECT cand.id_a, cand.id_b,
           {cosine_sql("x.v", "x.nrm", "y.v", "y.nrm")} AS cos_sim
    FROM cand
    JOIN n x ON cand.id_a = x.vec_id
    JOIN n y ON cand.id_b = y.vec_id
    WHERE {cosine_sql("x.v", "x.nrm", "y.v", "y.nrm")} >= 0.9
    """,
)
def q45_embedding_neardup(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").where(
        # NULL vectors have no similarity; oracle n/base CTEs filter too
        F.col("embedding").isNotNull()
    )
    corpus = planted_neardup_corpus(emb)
    return lsh_gated_neardup(corpus, threshold=0.9, n_bits=16, band_bits=4)


# --------------------------------------------------------------------------
# q46: IVF approximate top-3 (nprobe=1): vectors bucketed to their
# max-cosine centroid (centroids = vec_id < 8), search restricted to the
# query's bucket — the pairwise join becomes an equi-join on bucket.
# --------------------------------------------------------------------------
@register(
    "q46_ivf_topk",
    oracle=f"""
    WITH {with_norm_sql("embeddings", ())},
    {ivf_assign_sql("vec_id < 8", ())},
    q AS (
      SELECT id AS query_id, v AS qv, nrm AS qn, bucket
      FROM assigned WHERE id < 10
    ),
    scored AS (
      SELECT q.query_id, a.id AS neighbor_id,
             {cosine_sql("q.qv", "q.qn", "a.v", "a.nrm")} AS cos_sim
      FROM assigned a JOIN q ON a.bucket = q.bucket AND a.id <> q.query_id
    )
    {topk_sql(3)}
    """,
)
def q46_ivf_topk(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").where(
        # NULL vectors have no similarity; oracle n/base CTEs filter too
        F.col("embedding").isNotNull()
    )
    return ivf_topk(
        emb, query_pred=F.col("id") < 10, centroid_pred=F.col("id") < 8, k=3
    )


# --------------------------------------------------------------------------
# q47: sign-LSH signatures (random-hyperplane, deterministic
# integer-derived planes) — the bucket key for near-dup candidate
# generation at scale (equi-join on sig instead of all pairs).
# --------------------------------------------------------------------------
@register(
    "q47_vector_lsh",
    oracle=f"""
    WITH {with_norm_sql("embeddings", ())},
    {HYPERPLANE_LSH_SQL}
    SELECT id, sig FROM sigs
    """,
)
def q47_vector_lsh(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").where(
        # NULL vectors have no similarity; oracle n/base CTEs filter too
        F.col("embedding").isNotNull()
    )
    return hyperplane_lsh(emb, n_bits=16, dim=64)


# --------------------------------------------------------------------------
# q66: per-vector int8 quantization — the storage path for embedding
# columns at 100 TB (4 bytes -> 1 byte per dim + 2 floats of scale
# metadata). Pure element-wise HOF arithmetic, engine-identical.
# --------------------------------------------------------------------------
@register(
    "q66_embedding_quantize",
    oracle="""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), s AS (
      SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e
    )
    SELECT vec_id, mn, mx,
           array_to_string(list_transform(v,
             x -> CASE WHEN mn = mx THEN 0
                  ELSE CAST({code_rq} AS INTEGER)
                  END
           ), ',') AS q8_csv
    FROM s
    """.format(
        # the 255-scaled range ratio can sit ON integer .5 boundaries
        # for grid-like embedding values: guarded floor grid at scale 0
        code_rq=sql_roundq("((x - mn) / (mx - mn)) * 255", 0),
    ),
)
def q66_embedding_quantize(spark, sf_dir):
    # int8 codes serialized to CSV in the output projection (int->string
    # is engine-exact); raw array cells crash the driver's canonicalizer
    emb = table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    # (v, mn, mx) exit through a Generate boundary: ProjectCollapsing
    # would otherwise inline array_min/array_max into the per-element
    # lambda and re-scan the vector for every dimension (O(d^2))
    bound = materialize(
        emb,
        ["vec_id"],
        F.struct(
            v.alias("v"), F.array_min(v).alias("mn"), F.array_max(v).alias("mx")
        ),
        "_e",
    )
    mn, mx = F.col("_e.mn"), F.col("_e.mx")
    # constant vectors (mn = mx, e.g. all-zero) would divide by zero —
    # the CASE short-circuits the range division on both engines and
    # pins their code to 0
    q8_csv = F.array_join(
        F.transform(
            F.col("_e.v"),
            lambda x: F.when(mn == mx, F.lit(0))
            .otherwise(roundq(((x - mn) / (mx - mn)) * 255, 0).cast("int"))
            .cast("string"),
        ),
        ",",
    )
    return bound.select(
        "vec_id", mn.alias("mn"), mx.alias("mx"), q8_csv.alias("q8_csv")
    )


# --------------------------------------------------------------------------
# q104: one k-means (Lloyd) refinement step over the IVF seeds — per
# cluster: member count, mean member-to-centroid cosine (inertia proxy),
# and the L2 norm of the refined centroid (element-wise mean). The
# assignment is a broadcast join; the mean vector is one
# (bucket, dim)-keyed partial aggregate — the shape that iterates at
# 100 TB. Decimal quantization keeps the order-dependent sums exact on
# both engines; doubles only at the final IEEE-exact sqrt.
# --------------------------------------------------------------------------
from airquality_data_pipeline_spark.operators.similarity import kmeans_step  # noqa: E402


@register(
    "q104_kmeans_refine",
    oracle=f"""
    WITH {with_norm_sql("embeddings", ())},
    {ivf_assign_sql("vec_id < 8", ())},
    stats AS (
      -- floor grid (common.sql_decq convention), not round(): the
      -- mean cosine is a continuous double ratio (see kmeans_step)
      SELECT a.bucket, count(*) AS n_vectors,
             floor({sql_dsum(cosine_sql("a.v", "a.nrm", "c.cv", "c.cn"))}
                   / count(*) * 1000000.0 + 0.5) / 1000000.0
               AS mean_cent_sim
      FROM assigned a JOIN cents c ON a.bucket = c.cent_id GROUP BY a.bucket
    ),
    dims AS (
      SELECT bucket, i - 1 AS dim, v[i] AS val
      FROM assigned, UNNEST(generate_series(1, len(v))) AS g(i)
    ),
    md AS (
      SELECT bucket, dim,
             {sql_dsum("val")} / count(*) AS mean_val
      FROM dims GROUP BY bucket, dim
    ),
    nm AS (
      -- per-dim means quantize on the shared floor grid (HUGEINT-exact
      -- scaled integers); sqrt over the identical double on both
      -- engines, final round is over a sqrt output (safe class)
      SELECT bucket,
             round(sqrt(CAST(SUM(m * m) AS DOUBLE) / 1000000000000.0), 6)
               AS new_centroid_norm
      FROM (SELECT bucket,
                   {sql_decq("mean_val")} AS m
            FROM md)
      GROUP BY bucket
    )
    SELECT stats.bucket AS cluster, n_vectors, mean_cent_sim, new_centroid_norm
    FROM stats JOIN nm USING (bucket)
    """,
)
def q104_kmeans_refine(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").where(
        # NULL vectors have no similarity; oracle n/base CTEs filter too
        F.col("embedding").isNotNull()
    )
    return kmeans_step(emb, centroid_pred=F.col("id") < 8)


# --------------------------------------------------------------------------
# q107: multi-probe IVF top-3 (nprobe=2) — each query searches its TWO
# nearest centroid buckets: the standard IVF recall/cost dial (missed
# neighbors usually sit just across the closest Voronoi boundary).
# Corpus-side assignment runs once; the probe list is computed only for
# the (tiny, pre-filtered) query rows, so nprobe scales candidate
# volume, not assignment cost.
# --------------------------------------------------------------------------
from airquality_data_pipeline_spark.operators.similarity import (  # noqa: E402
    ivf_topk_multiprobe,
)


@register(
    "q107_ivf_multiprobe",
    oracle=f"""
    WITH {with_norm_sql("embeddings", ())},
    {ivf_assign_sql("vec_id < 8", ())},
    {ivf_probes_sql("n.vec_id < 10", 2)},
    scored AS (
      SELECT p.query_id, a.id AS neighbor_id,
             {cosine_sql("p.qv", "p.qn", "a.v", "a.nrm")} AS cos_sim
      FROM assigned a JOIN probes p ON a.bucket = p.bucket AND a.id <> p.query_id
    )
    {topk_sql(3)}
    """,
)
def q107_ivf_multiprobe(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").where(
        # NULL vectors have no similarity; oracle n/base CTEs filter too
        F.col("embedding").isNotNull()
    )
    return ivf_topk_multiprobe(
        emb,
        query_pred=F.col("id") < 10,
        centroid_pred=F.col("id") < 8,
        k=3,
        nprobe=2,
    )


# --------------------------------------------------------------------------
# q115: ANN recall@k calibration — per query, exact brute-force top-3 vs
# IVF nprobe=1 and nprobe=2 top-3, with hit counts and recall. This is
# the q112-for-vectors: the measurement that justifies (or indicts) the
# IVF probe setting before a 100 TB index build. All three retrievals
# share the tiebreak (cos desc, id asc), so results are deterministic.
# --------------------------------------------------------------------------
from airquality_data_pipeline_spark.operators.similarity import (  # noqa: E402
    product_quantize,
)

@register(
    "q115_ann_recall",
    oracle=f"""
    WITH {with_norm_sql("embeddings", ())},
    {ivf_assign_sql("vec_id < 8", ())},
    q AS (
      SELECT id AS query_id, v AS qv, nrm AS qn, bucket
      FROM assigned WHERE id < 10
    ),
    ex AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, n.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {cosine_sql("q.qv", "q.qn", "n.v", "n.nrm")} DESC,
                          n.vec_id
               ) AS rank
        FROM n, q WHERE n.vec_id <> q.query_id
      ) WHERE rank <= 3
    ),
    s1 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, a.id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY p.query_id
                 ORDER BY {cosine_sql("p.qv", "p.qn", "a.v", "a.nrm")} DESC,
                          a.id
               ) AS rank
        FROM assigned a JOIN q p ON a.bucket = p.bucket AND a.id <> p.query_id
      ) WHERE rank <= 3
    ),
    {ivf_probes_sql("n.vec_id < 10", 2)},
    s2 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, a.id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY p.query_id
                 ORDER BY {cosine_sql("p.qv", "p.qn", "a.v", "a.nrm")} DESC,
                          a.id
               ) AS rank
        FROM assigned a JOIN probes p ON a.bucket = p.bucket AND a.id <> p.query_id
      ) WHERE rank <= 3
    )
    SELECT e.query_id,
           count(*) AS n_exact,
           CAST(SUM(CASE WHEN s1.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hit_p1,
           CAST(SUM(CASE WHEN s2.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hit_p2,
           round(SUM(CASE WHEN s1.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / 3.0, 6)
             AS recall_p1,
           round(SUM(CASE WHEN s2.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / 3.0, 6)
             AS recall_p2
    FROM ex e
    LEFT JOIN s1 ON e.query_id = s1.query_id AND e.neighbor_id = s1.neighbor_id
    LEFT JOIN s2 ON e.query_id = s2.query_id AND e.neighbor_id = s2.neighbor_id
    GROUP BY e.query_id
    """,
)
def q115_ann_recall(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").where(
        # NULL vectors have no similarity; oracle n/base CTEs filter too
        F.col("embedding").isNotNull()
    )
    exact = cosine_topk(emb, query_pred=F.col("id") < 10, k=3).select(
        "query_id", "neighbor_id"
    )
    p1 = ivf_topk(
        emb, query_pred=F.col("id") < 10, centroid_pred=F.col("id") < 8, k=3
    ).select("query_id", "neighbor_id", F.lit(1).alias("_h1"))
    p2 = ivf_topk_multiprobe(
        emb,
        query_pred=F.col("id") < 10,
        centroid_pred=F.col("id") < 8,
        k=3,
        nprobe=2,
    ).select("query_id", "neighbor_id", F.lit(1).alias("_h2"))
    return (
        exact.join(p1, ["query_id", "neighbor_id"], "left")
        .join(p2, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("_h1", F.lit(0))).cast("long").alias("n_hit_p1"),
            F.sum(F.coalesce("_h2", F.lit(0))).cast("long").alias("n_hit_p2"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit_p1",
            "n_hit_p2",
            F.round(F.col("n_hit_p1") / 3.0, 6).alias("recall_p1"),
            F.round(F.col("n_hit_p2") / 3.0, 6).alias("recall_p2"),
        )
    )


# --------------------------------------------------------------------------
# q116: product quantization — 8 subspaces x 4-codeword codebooks
# (seeds: vec_id < 4, the ivf_assign convention): each 64-d vector
# compresses to 8 small codes plus a reconstruction error. The storage
# step of an IVF-PQ index: 64 doubles -> 8 codes.
# --------------------------------------------------------------------------
@register(
    "q116_product_quantization",
    oracle=f"""
    WITH {with_norm_sql("embeddings", ())},
    sub AS (
      SELECT vec_id AS id, j AS subspace, v[j*8+1 : j*8+8] AS sv
      FROM n, UNNEST(generate_series(0, 7)) AS g(j)
    ),
    csub AS (
      SELECT vec_id AS cent_id, j AS subspace, v[j*8+1 : j*8+8] AS cv
      FROM n, UNNEST(generate_series(0, 7)) AS g(j)
      WHERE vec_id < 4
    ),
    scored AS (
      SELECT s.id, s.subspace, c.cent_id,
             round(list_dot_product(
               list_transform(generate_series(1, 8), i -> s.sv[i] - c.cv[i]),
               list_transform(generate_series(1, 8), i -> s.sv[i] - c.cv[i])
             ), 6) AS d2
      FROM sub s JOIN csub c USING (subspace)
    ),
    best AS (
      SELECT id, subspace,
             (min(struct_pack(d2 := d2, cent_id := cent_id))).cent_id AS code,
             (min(struct_pack(d2 := d2, cent_id := cent_id))).d2 AS d2
      FROM scored GROUP BY id, subspace
    )
    SELECT id,
           string_agg(CAST(code AS VARCHAR), ':' ORDER BY subspace) AS pq_code,
           round(sqrt({sql_dsum("d2")}), 6)
             AS recon_err
    FROM best GROUP BY id
    """,
)
def q116_product_quantization(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").where(
        # NULL vectors have no similarity; oracle n/base CTEs filter too
        F.col("embedding").isNotNull()
    )
    return product_quantize(
        emb, centroid_pred=F.col("id") < 4, n_sub=8, dim=64
    )

"""Unit tests for operators not fully pinned by the oracle catalog:
multimodal plumbing, IVF shape guarantees, cursor/merge edge cases."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.io import table
from airquality_data_pipeline_spark.operators import multimodal
from airquality_data_pipeline_spark.operators.cursor import (
    greatest_merge,
    incremental_filter,
)
from airquality_data_pipeline_spark.operators.dedup import word_shingles
from airquality_data_pipeline_spark.operators.similarity import ivf_assign


def test_multimodal_extract_features(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").limit(50)
    corpus = multimodal.synthesize_corpus(docs)
    feats = multimodal.extract_features(corpus).collect()
    assert len(feats) == 50
    for r in feats:
        assert r.modality in multimodal.MODALITIES
        assert len(r.feature) == 8
        if r.n_bytes == 0:
            # empty source text synthesizes a zero-byte payload (a real
            # corpus has corrupt/empty files): features must be the
            # all-zero vector, not NaN or a crash
            assert all(f == 0.0 for f in r.feature)
        else:
            assert abs(sum(r.feature) - 1.0) < 1e-6  # normalized histogram
    assert any(r.n_bytes > 0 for r in feats)


def test_multimodal_frame_sample(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").limit(10)
    corpus = multimodal.synthesize_corpus(docs)
    frames = multimodal.frame_sample(corpus, n_frames=4)
    rows = frames.collect()
    assert len(rows) == 40
    per_item = frames.groupBy("item_id").count().collect()
    assert all(r["count"] == 4 for r in per_item)


def test_incremental_filter_null_ts_passthrough(spark):
    batch = spark.createDataFrame(
        [("s1", "pm25", "2024-01-02"), ("s1", "pm25", None), (None, "pm10", "2024-01-01")],
        "station_id string, pollutant string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    cursors = spark.createDataFrame(
        [("s1", "pm25", "2024-01-03")],
        "station_id string, pollutant string, last_observed_at string",
    ).withColumn("last_observed_at", F.col("last_observed_at").cast("timestamp"))
    out, updates = incremental_filter(batch, cursors, ts_col="ts")
    rows = out.collect()
    # stale well-formed row dropped; null-ts and null-key rows pass through
    assert len(rows) == 2
    assert updates.count() == 0


def test_greatest_merge_never_moves_backwards(spark):
    old = spark.createDataFrame(
        [("s1", "pm25", "2024-01-05")], "station_id string, pollutant string, last_observed_at string"
    ).withColumn("last_observed_at", F.col("last_observed_at").cast("timestamp"))
    new = spark.createDataFrame(
        [("s1", "pm25", "2024-01-02"), ("s2", "o3", "2024-01-09")],
        "station_id string, pollutant string, last_observed_at string",
    ).withColumn("last_observed_at", F.col("last_observed_at").cast("timestamp"))
    merged = {
        (r.station_id, r.pollutant): str(r.last_observed_at)
        for r in greatest_merge(old, new, keys=("station_id", "pollutant")).collect()
    }
    assert merged[("s1", "pm25")].startswith("2024-01-05")  # kept newer old
    assert merged[("s2", "o3")].startswith("2024-01-09")  # inserted new key


def test_word_shingles_short_docs_empty(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, "a b c d"), (3, "")], "id long, text string"
    )
    got = word_shingles(df, "text", "id", n=3).groupBy("id").count().collect()
    counts = {r.id: r["count"] for r in got}
    assert 1 not in counts and 3 not in counts  # < n tokens -> no shingles
    assert counts[2] == 2


def test_repetition_features_edges(spark):
    from airquality_data_pipeline_spark.operators.text import repetition_features

    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),   # 7 3-grams, 3 distinct -> dup
            (2, "one two three four"),  # 2 distinct 3-grams, no repeats
            (3, "x y"),                 # shorter than n -> zero ngrams
            (4, ""),                    # empty text
        ],
        "id long, text string",
    )
    got = {r.id: r for r in repetition_features(df, "text", "id").collect()}
    assert (got[1].n_ngrams, got[1].n_distinct_ngrams) == (7, 3)
    assert got[1].dup_ratio == round(1 - 3 / 7, 6)
    assert got[2].dup_ratio == 0.0
    assert (got[3].n_ngrams, got[3].dup_ratio) == (0, 0.0)
    assert got[4].n_ngrams == 0


def test_boilerplate_ngram_stats(spark):
    from airquality_data_pipeline_spark.operators.text import (
        boilerplate_ngram_stats,
    )

    # "common phrase here" appears in all 3 docs -> boilerplate at
    # min_df=3; each doc also has a unique 3-gram
    df = spark.createDataFrame(
        [
            (1, "common phrase here alpha beta gamma"),
            (2, "common phrase here delta epsilon zeta"),
            (3, "common phrase here eta theta iota"),
        ],
        "id long, text string",
    )
    got = {
        r.id: r
        for r in boilerplate_ngram_stats(df, "text", "id", n=3, min_df=3).collect()
    }
    for i in (1, 2, 3):
        assert got[i].n_shingles == 4  # 6 tokens -> 4 3-grams
        assert got[i].n_boiler == 1    # only the shared leading 3-gram
        assert got[i].boiler_ratio == 0.25


def test_ngram_contamination_planted(spark):
    from airquality_data_pipeline_spark.operators.text import ngram_contamination

    leak = "alpha beta gamma delta"
    train = spark.createDataFrame(
        [
            (1, f"intro words {leak} trailing tail"),  # contains the leak
            (2, "totally unrelated training text here"),
            (3, "xs"),  # shorter than n -> zero ngrams, still reported
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, f"benchmark prompt {leak} answer")], "doc_id long, text string"
    )
    got = {
        r.id: r
        for r in ngram_contamination(
            train, bench, text_col="text", id_col="doc_id", n=4
        ).collect()
    }
    assert got[1].contaminated and got[1].n_contaminated == 1
    assert got[1].n_ngrams == 5  # 8 tokens -> 5 distinct 4-grams
    assert not got[2].contaminated and got[2].n_contaminated == 0
    assert (got[3].n_ngrams, got[3].contaminated) == (0, False)


def test_pii_scrub_planted(spark):
    import hashlib

    from airquality_data_pipeline_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail a.b-c@foo.io and admin@x.co then host 10.0.0.1 ok"),
            (2, "call +1 555 0100 321 now"),
            (3, "clean text with no pii at all"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in pii_scrub(df, "text", "doc_id").collect()}
    assert (got[1].n_email, got[1].n_ip, got[1].n_phone) == (2, 1, 0)
    assert (got[2].n_email, got[2].n_ip, got[2].n_phone) == (0, 0, 1)
    assert (got[3].n_email, got[3].n_ip, got[3].n_phone) == (0, 0, 0)
    redacted1 = "mail <EMAIL> and <EMAIL> then host <IP> ok"
    assert got[1].redacted_digest == hashlib.md5(redacted1.encode()).hexdigest()
    assert got[1].n_chars_redacted == len(redacted1)
    assert got[2].redacted_digest == hashlib.md5(
        b"call <PHONE> now"
    ).hexdigest()


def test_chunk_fingerprints_shared_chunks(spark):
    from airquality_data_pipeline_spark.operators.text import chunk_fingerprints

    shared = "S" * 64  # one full chunk, identical across docs 1 and 2
    df = spark.createDataFrame(
        [
            (1, shared + "tail one"),
            (2, shared + "different tail"),
            (3, "something else entirely"),
            (4, ""),  # empty doc -> zero chunks
        ],
        "doc_id long, text string",
    )
    ch = chunk_fingerprints(df, "text", "doc_id", chunk_size=64)
    rows = ch.collect()
    assert not [r for r in rows if r.id == 4]
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.id, {})[r.chunk_idx] = r.chunk_hash
    # identical aligned chunk -> identical hash
    assert by_doc[1][0] == by_doc[2][0]
    # differing tails -> different hashes
    assert by_doc[1][1] != by_doc[2][1]
    assert by_doc[3][0] not in (by_doc[1][0], by_doc[1][1])
    # reference value: leading 60 bits (15 hex digits) of md5(chunk)
    expect = int(hashlib.md5(shared.encode()).hexdigest()[:15], 16)
    assert by_doc[1][0] == expect


def test_kmeans_step_separated_clusters(spark):
    from airquality_data_pipeline_spark.operators.similarity import kmeans_step

    # two orthogonal directions; ids 0 and 1 are the seed centroids
    axis_a = [1.0, 0.0, 0.0, 0.0]
    axis_b = [0.0, 1.0, 0.0, 0.0]
    near = lambda v, eps: [x + eps for x in v]
    rows = [
        (0, axis_a), (1, axis_b),
        (2, near(axis_a, 0.01)), (3, near(axis_a, 0.02)),
        (4, near(axis_b, 0.01)),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.cluster: r for r in
           kmeans_step(emb, centroid_pred=F.col("id") < 2).collect()}
    assert got[0].n_vectors == 3 and got[1].n_vectors == 2
    for r in got.values():
        assert r.mean_cent_sim > 0.99
        assert 0.9 < r.new_centroid_norm <= 1.05


def test_ivf_multiprobe_recall_not_worse(spark, sf_dir):
    from airquality_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        ivf_topk_multiprobe,
    )

    emb = table(spark, sf_dir, "embeddings")
    qp, cp = F.col("id") < 10, F.col("id") < 8
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, qp, k=3).collect()}
    p1 = {(r.query_id, r.neighbor_id)
          for r in ivf_topk(emb, qp, cp, k=3).collect()}
    p2 = {(r.query_id, r.neighbor_id)
          for r in ivf_topk_multiprobe(emb, qp, cp, k=3, nprobe=2).collect()}
    # widening the probe set can only improve (or preserve) recall
    assert len(p2 & exact) >= len(p1 & exact)
    # every probe-1 true positive survives at probe-2 (candidate superset)
    assert (p1 & exact) <= p2


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def test_ivf_assign_empty_centroids_yields_zero_rows(emb):
    # r8 ADVICE: the DuckDB oracles' `FROM n, cents` cross join yields
    # ZERO rows when the cents CTE is empty — the fold-form assigner
    # must match (a NULL-bucket row set would surface a phantom group
    # in consumers like kmeans_step's groupBy). Parity check of the
    # degenerate shape, mirroring the oracle in duckdb directly.
    import duckdb

    assert ivf_assign(emb, F.col("id") < 0).count() == 0
    n = duckdb.connect().execute(
        """
        WITH n AS (SELECT * FROM (VALUES (1), (2)) t(id)),
             cents AS (SELECT * FROM (VALUES (1)) c(id) WHERE id < 0)
        SELECT count(*) FROM n, cents
        """
    ).fetchone()[0]
    assert n == 0


def test_simhash_band_candidates_pigeonhole_recall(spark):
    # identical docs -> hamming 0 (must be found); hamming <= n_bands-1
    # pairs are guaranteed by pigeonhole to share a band
    from airquality_data_pipeline_spark.operators.dedup import (
        simhash,
        simhash_band_candidates,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact replica -> hamming 0
            (3, base + " extra"),  # small perturbation
            (4, "completely different words nowhere near the others"),
        ],
        "doc_id long, text string",
    )
    sigs = simhash(df, "text", "doc_id", bits=32, n=1)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_band_candidates(sigs).collect()
    }
    assert pairs.get((1, 2)) == 0
    # every emitted pair respects the verify threshold
    assert all(h <= 3 for h in pairs.values())
    # the unrelated doc never pairs with hamming <= 3
    assert not any(4 in p for p in pairs)
    # 64-bit variant (salted second digest): same exact-replica
    # guarantee, 16-bit bands
    sigs64 = simhash(df, "text", "doc_id", bits=64, n=1)
    row = sigs64.where(F.col("id") == 1).collect()[0]
    assert len(row.simhash) == 64
    pairs64 = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_band_candidates(sigs64).collect()
    }
    assert pairs64.get((1, 2)) == 0
    assert not any(4 in p for p in pairs64)
    # the defaults are q117's registered form: 64 bits over word 3-grams
    assert sorted(simhash(df, "text", "doc_id").collect()) == sorted(
        simhash(df, "text", "doc_id", bits=64, n=3).collect()
    )


def test_span_scrub_removes_corpus_frequent_tiles(spark):
    from airquality_data_pipeline_spark.operators.text import (
        boilerplate_span_scrub,
    )

    shared = " ".join(f"w{i}" for i in range(8))  # one exact 8-token tile
    df = spark.createDataFrame(
        [
            (1, shared + " unique one tail"),
            (2, shared + " other distinct ending"),
            (3, "totally separate words only here again now ok yes"),
            (4, ""),  # empty -> excluded
        ],
        "doc_id long, text string",
    )
    got = {
        r.id: r for r in boilerplate_span_scrub(df, "text", "doc_id").collect()
    }
    assert 4 not in got
    # the shared leading tile is gone from BOTH docs, tails survive
    assert got[1].n_tiles == 2 and got[1].n_kept == 1
    assert got[2].n_tiles == 2 and got[2].n_kept == 1
    import hashlib as _h

    assert got[1].cleaned_md5 == _h.md5(b"unique one tail").hexdigest()
    # doc 3 is untouched
    assert got[3].n_kept == got[3].n_tiles


def test_bm25_ranks_term_frequency_and_rarity(spark):
    from airquality_data_pipeline_spark.operators.text import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "apple apple apple banana"),
            (2, "apple banana banana banana"),
            (3, "cherry cherry cherry cherry"),
            (4, "apple cherry banana mango"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "apple"), (2, "cherry")], "query_id int, term string"
    )
    got = bm25_topk(df, queries, "text", "doc_id", k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.score))
    # query 1: doc 1 (tf=3) above doc 2 (tf=1) and doc 4 (tf=1)
    assert [d for _, d, _ in sorted(by_q[1])][0] == 1
    # query 2: doc 3 (tf=4) wins
    assert [d for _, d, _ in sorted(by_q[2])][0] == 3
    # scores are positive and ranks contiguous from 1
    for q, rows in by_q.items():
        assert [r for r, _, _ in sorted(rows)] == list(range(1, len(rows) + 1))
        assert all(s > 0 for _, _, s in rows)


def test_vocab_coverage_flags_oov(spark):
    from airquality_data_pipeline_spark.operators.text import vocab_coverage

    df = spark.createDataFrame(
        [
            (1, "cat dog cat dog"),
            (2, "cat dog"),
            (3, "zebra qux"),  # fully OOV under k=2
        ],
        "doc_id long, text string",
    )
    got = {
        r.id: (r.n_tokens, r.n_oov, r.oov_ratio)
        for r in vocab_coverage(df, "text", "doc_id", k=2).collect()
    }
    # top-2 vocab is {cat, dog} (3 occurrences each beat zebra/qux's 1)
    assert got[1] == (4, 0, 0.0)
    assert got[2] == (2, 0, 0.0)
    assert got[3] == (2, 2, 1.0)


def test_leakage_free_split_never_straddles_components(spark, sf_dir):
    # the whole point of q124: every member of a near-dup component
    # carries the SAME split; bucketing is a pure function of component
    from airquality_data_pipeline_spark.queries import QUERIES

    rows = QUERIES["q124_leakage_free_split"](spark, sf_dir).collect()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, set()).add(r.split)
    assert all(len(splits) == 1 for splits in by_comp.values())
    # split fractions are roughly 90/5/5 over components
    assert {r.split for r in rows} <= {"train", "val", "test"}


def test_dedup_pipeline_one_canonical_per_component(spark, sf_dir):
    from airquality_data_pipeline_spark.queries import QUERIES

    rows = QUERIES["q120_dedup_pipeline"](spark, sf_dir).collect()
    docs_total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == docs_total  # every doc gets a verdict
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        kept = [r for r in members if r.kept]
        assert len(kept) == 1  # exactly one canonical per cluster
        assert kept[0].doc_id == members[0].canonical_id
        assert all(r.n_docs == len(members) for r in members)
        assert all(r.canonical_id == kept[0].doc_id for r in members)


def test_lsh_gate_full_recall_on_planted_neardups(spark, sf_dir):
    # in its design regime (threshold 0.9, planted ~0.9999-cosine
    # replicas) the banded gate must recall EVERY true pair the
    # brute-force twin finds
    from airquality_data_pipeline_spark.operators.similarity import (
        lsh_gated_neardup,
        neardup_pairs,
        planted_neardup_corpus,
    )

    emb = table(spark, sf_dir, "embeddings")
    corpus = planted_neardup_corpus(emb)
    truth = {
        (r.id_a, r.id_b)
        for r in neardup_pairs(corpus, threshold=0.9).collect()
    }
    gated = {
        (r.id_a, r.id_b)
        for r in lsh_gated_neardup(corpus, threshold=0.9).collect()
    }
    planted = {
        (r.vec_id, 100000 + r.vec_id)
        for r in emb.where(F.col("vec_id") % 5 == 0).collect()
    }
    # the gate's contract: no extras past the exact verify, and FULL
    # recall on the ~0.9999-cosine planted replicas (its design
    # regime). Natural >=0.9 pairs exist on clustered fixtures and may
    # be gated out — they are the batch pipeline's job (q41/q120).
    assert gated <= truth
    assert planted <= gated
    missing_natural = truth - gated
    if missing_natural:
        assert planted.isdisjoint(missing_natural)


def test_driver_prefix_order_pins_unverified_families():
    # the external driver correctness-checks a PREFIX of the catalog
    # (50 entries in r1): the front of the registration order must stay
    # exactly the priority list, and every entry must have its oracle
    # registered under the same name
    from airquality_data_pipeline_spark.queries import ORACLE, QUERIES
    from airquality_data_pipeline_spark.queries import _PRIORITY

    names = list(QUERIES)
    assert names[: len(_PRIORITY)] == _PRIORITY
    # r5: every registered query is oracle-checkable (q63 gained a
    # derived-invariant oracle — planted exact-dup containment)
    missing = [n for n in names if n not in ORACLE]
    assert not missing, f"queries without oracle: {missing}"


def test_approx_aggs_tight_bounds(spark, sf_dir):
    # q60/q61's driver-checked booleans use loose acceptance bounds
    # (4 sigma); this pins the tight ones: HLL++ rsd=0.05 should land
    # within 10% on this data, KLL rank error within 1e-3 of the target
    from airquality_data_pipeline_spark.queries import QUERIES

    for r in QUERIES["q60_approx_distinct"](spark, sf_dir).collect():
        assert r.parts_in_bound and r.orders_in_bound
    li = table(spark, sf_dir, "lineitem")
    got = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("a"),
        F.countDistinct("l_partkey").alias("e"),
    )
    for r in got.collect():
        assert abs(r.a - r.e) / r.e <= 0.10, (r.l_returnflag, r.a, r.e)
    for r in QUERIES["q61_approx_percentile"](spark, sf_dir).collect():
        assert r.p10_in_bound and r.p50_in_bound and r.p90_in_bound


def test_q63_exact_dup_containment(spark, sf_dir):
    # q63's r5 contract: byte-identical docs hash identically in every
    # ml MinHashLSH table, so every identical-text pair in the corpus
    # (including extra test-planted dups beyond the query's own 20)
    # MUST surface as a candidate with n_tables == 8 and found == true
    import os
    import tempfile

    from airquality_data_pipeline_spark.queries import QUERIES

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    staged = tempfile.mkdtemp(prefix="q63_dups_")
    docs.unionByName(planted).write.mode("overwrite").parquet(
        f"{staged}/documents.parquet"
    )
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        os.symlink(f"{sf_dir}/{t}.parquet", f"{staged}/{t}.parquet")
    cand = QUERIES["q63_ml_minhash_lsh"](spark, staged)
    rows = cand.collect()
    pairs = {(r.id_a, r.id_b): (r.n_tables, r.found) for r in rows}
    want = {
        (r.doc_id, r.doc_id + 200000)
        for r in docs.where(F.col("doc_id") % 50 == 0).collect()
    }
    for p in want:
        assert p in pairs and pairs[p] == (8, True), p
    # every emitted row satisfies the oracle's constant invariant
    assert all(v == (8, True) for v in pairs.values())
    assert all(a < b for (a, b) in pairs)
    assert len(pairs) == len(rows)


def test_cms_merge_and_never_undercounts(spark, sf_dir):
    # CMS defining properties: (1) partial sketches built on disjoint
    # halves sum cell by cell into exactly the full-corpus grid; (2) the
    # estimate never undercounts ANY token (not just the top-20 q131
    # emits)
    from airquality_data_pipeline_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"),
    )
    full = cms_build(toks.select("tok"))
    half_a = cms_build(toks.where(F.col("doc_id") % 2 == 0).select("tok"))
    half_b = cms_build(toks.where(F.col("doc_id") % 2 == 1).select("tok"))
    merged = half_a.unionByName(half_b).groupBy("r", "col").agg(
        F.sum("counter").alias("counter")
    )
    grid = {(r.r, r.col): r.counter for r in full.collect()}
    grid_m = {(r.r, r.col): r.counter for r in merged.collect()}
    assert grid == grid_m
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    est = cms_estimate(full, exact.select("tok")).join(exact, "tok")
    bad = est.where(F.col("cms_est") < F.col("cnt")).count()
    assert bad == 0


def test_bloom_contamination_no_false_negatives(spark, sf_dir):
    # the bloom gate may over-flag (false positives) but must NEVER
    # miss a doc the exact operator marks contaminated
    from airquality_data_pipeline_spark.operators.text import (
        bloom_contamination,
        ngram_contamination,
    )

    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    tagged = docs.withColumn("_bucket", bucket)
    train = tagged.where(F.col("_bucket") < 95)
    bench = tagged.where(F.col("_bucket") >= 95)
    exact = {
        r.id
        for r in ngram_contamination(
            train, bench, text_col="text", id_col="doc_id", n=8
        )
        .where("contaminated")
        .collect()
    }
    bloom = {
        r.id
        for r in bloom_contamination(
            train, bench, text_col="text", id_col="doc_id", n=8
        )
        .where("maybe_contaminated")
        .collect()
    }
    assert exact, "fixture must produce some contaminated docs"
    assert exact <= bloom  # containment: zero false negatives


def test_chunk_dedup_removes_replica_chunks(spark):
    # a doc that is an exact copy of an earlier doc loses ALL its chunks;
    # the original keeps everything
    from airquality_data_pipeline_spark.operators.text import chunk_dedup

    base = "x" * 200
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "y" * 100)], ["doc_id", "text"]
    )
    rows = {
        r.id: r
        for r in chunk_dedup(
            df, text_col="text", id_col="doc_id", chunk_size=64
        ).collect()
    }
    # doc 1: chunks are x*64, x*64, x*64, x*8 — repeats dedup even
    # within the doc, so the first x*64 and the x*8 tail survive
    assert rows[1].n_chunks == 4 and rows[1].n_kept == 2
    assert rows[1].cleaned_len == 64 + 8
    assert rows[2].n_kept == 0  # full replica: nothing survives
    assert rows[2].cleaned_len == 0
    assert rows[3].n_chunks == 2 and rows[3].n_kept == 2  # unique doc intact


def test_product_quantize_seeds_reconstruct_exactly(spark, sf_dir):
    # a codeword vector quantizes to itself in every subspace: its
    # nearest codeword is its own subvector at distance 0
    from airquality_data_pipeline_spark.operators.similarity import (
        product_quantize,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = product_quantize(emb, centroid_pred=F.col("id") < 4)
    seeds = {r.id: r for r in out.where("id < 4").collect()}
    assert set(seeds) == {0, 1, 2, 3}
    for i, r in seeds.items():
        assert r.recon_err == 0.0
        assert r.pq_code == ":".join([str(i)] * 8)
    # non-seed vectors: 8 codes, each a valid codeword id
    other = out.where("id >= 4").limit(20).collect()
    for r in other:
        codes = r.pq_code.split(":")
        assert len(codes) == 8 and all(c in "0123" for c in codes)
        # exact-dup-of-seed vectors (hostile fixtures plant them)
        # legitimately reconstruct at 0
        assert r.recon_err >= 0.0
    assert any(r.recon_err > 0.0 for r in other)


def test_priority_list_is_generated():
    # _priority.py is generated by tools/gen_priority.py from the
    # committed CORRECTNESS ledger; a hand edit (or a ledger update
    # without regeneration) fails here. MODIFIED is this round's
    # modified-after-last-green head, recorded in the generated file.
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.gen_priority import compute_priority, load_ledger

    from airquality_data_pipeline_spark.queries import QUERIES
    from airquality_data_pipeline_spark.queries._priority import (
        LEDGER_FILES,
        MODIFIED,
        PRIORITY,
    )

    expected = compute_priority(
        list(QUERIES), load_ledger(files=LEDGER_FILES), MODIFIED
    )
    assert PRIORITY == expected
    assert sorted(PRIORITY) == sorted(QUERIES), "priority must cover catalog"


def test_compute_priority_ordering_invariants():
    # pure-unit coverage of the rotation policy: never-green first
    # (numeric order — no row at all beats any stale row, the mid-r10
    # revision), then the modified head (given order, minus any name
    # already in the never block), then ascending latest-evidence
    # round with numeric tie-break; output is always a permutation of
    # the catalog; unknown modified names are rejected.
    import os
    import sys

    import pytest as _pytest

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.gen_priority import compute_priority

    catalog = ["q2_b", "q10_a", "q1_a", "q3_c", "q7_d"]
    ledger = {"q1_a": 4, "q10_a": 3, "q3_c": 4}
    out = compute_priority(catalog, ledger, modified=["q3_c"])
    assert out == ["q2_b", "q7_d", "q3_c", "q10_a", "q1_a"]
    assert sorted(out) == sorted(catalog)
    # a modified name that is ALSO never-green stays in the never
    # block (no duplicate emission)
    out_dup = compute_priority(catalog, ledger, modified=["q7_d", "q3_c"])
    assert out_dup == ["q2_b", "q7_d", "q3_c", "q10_a", "q1_a"]
    # without a modified head, never-green still sorts numerically
    out2 = compute_priority(catalog, ledger)
    assert out2 == ["q2_b", "q7_d", "q10_a", "q1_a", "q3_c"]
    with _pytest.raises(ValueError):
        compute_priority(catalog, ledger, modified=["q99_zz"])

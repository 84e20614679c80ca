"""Deduplication operator family.

Reference surface: first-wins in-batch dedup by composite key
(app/main.py:1194-1203, dict-insertion-order). North-star extensions for
training-data pipelines: exact content dedup, MinHash, SimHash, n-gram
Jaccard — all expressed with built-in JVM-side functions (no Python UDFs
in the hot path) so they survive 100 TB:

  - exact: one hash-shuffle on a 128-bit digest of the content.
  - minhash: explode to (doc, shingle), per-doc min of k cheap hashes —
    map-side partial agg; candidate pairs via equi-join on
    (seed, minhash) buckets, never a cross join.
  - simhash: 64-bit majority fingerprint over word 3-grams by default
    (32 bits / tokens on request); hamming-ball pairing via banded
    equi-join.
  - ngram jaccard: verification step over candidate pairs only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from airquality_data_pipeline_spark.functions.expr import let
from airquality_data_pipeline_spark.functions.strings import (
    md5_int,
    md5_int_sql,
    tokens,
    tokens_sql,
)
from airquality_data_pipeline_spark.operators import fan_out


def shingle_array(toks: Column, n: int) -> Column:
    """Word n-gram array from a BOUND token array.

    `toks` must be a lambda variable or plain attribute — pass a
    computed expression (e.g. split(...)) through functions.expr.let
    first, or the per-position lambda re-runs it for every shingle
    (O(k^2) splits per document; measured 14x slowdown at sf0.1).

    Guard: sequence(1, 0) would generate a DESCENDING [1, 0] in Spark —
    docs shorter than n tokens get an empty shingle set instead.
    """
    k = F.size(toks) - F.lit(n - 1)
    return F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def first_wins_dedup(
    df: DataFrame, keys: list[str], order_by: list[str]
) -> DataFrame:
    """Deterministic first-wins dedup: keep the first row per key under
    an explicit total order (reference app/main.py:1194-1203 keeps the
    first *arrival*; a distributed engine needs the tiebreaker spelled
    out — dropDuplicates alone is nondeterministic under shuffle)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup(
    df: DataFrame, content_col: str, id_col: str
) -> DataFrame:
    """Exact-duplicate groups by content digest: one row per distinct
    content with the smallest id as keeper + duplicate count."""
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) pairs: distinct lowercase word n-grams per document.

    Tokenization is whitespace split; shingle = n consecutive tokens
    joined by a single space. All JVM-side array ops.

    The input goes through fan_out first: a compact corpus file arrives
    as one partition, and the tokenize+explode expansion is CPU-bound —
    without the repartition the whole stage runs on one core.
    """
    df = fan_out(df)
    toks = tokens(text_col)
    # bind the split once per row — referencing it inside the shingle
    # lambda would re-split per position (see shingle_array docstring)
    shingles = let(toks, lambda w: shingle_array(w, n))
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles)).alias("shingle"),
    )


def word_shingles_sql(src: str, n: int, carry: tuple[str, ...]) -> str:
    """DuckDB twin of word_shingles: the CTEs `toks` and `sh` over the
    relation src(doc_id, text, *carry). sh holds the distinct
    (id, *carry, shingle) rows, doc_id renamed id; docs shorter than n
    tokens have none (shingle_array's guard)."""
    c = "".join(f", {x}" for x in carry)
    return f"""
    toks AS (
      SELECT doc_id{c}, {tokens_sql("text")} AS t FROM {src}
    ),
    sh AS (
      SELECT DISTINCT doc_id AS id{c},
             array_to_string(t[i:i+{n - 1}], ' ') AS shingle
      FROM toks, UNNEST(generate_series(1, greatest(len(t) - {n - 1}, 0))) AS g(i)
      WHERE len(t) >= {n}
    )"""


def shingle_set_sizes(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(id, sz): per-document distinct word-n-gram count, computed
    entirely inside the row — no explode, no shuffle. Identical to
    counting `word_shingles` rows per id, at the cost of one light scan
    instead of re-evaluating the exploded subtree."""
    toks = tokens(text_col)
    shingles = let(toks, lambda w: shingle_array(w, n))
    return df.select(
        F.col(id_col).alias("id"),
        F.size(F.array_distinct(shingles)).cast("long").alias("sz"),
    )


# one base hash per shingle + k modular affine transforms — the classic
# universal-hash minhash family. P is prime and exceeds the 28-bit base
# hash range, so each (a*h + b) mod P permutes differently (a plain
# affine without the mod would be monotonic in h and every seed would
# pick the same argmin). Constants are fixed so Spark and any oracle
# implementation agree bit-for-bit.
MINHASH_P = 268435459  # prime > 16^7 - 1
MINHASH_PARAMS: list[tuple[int, int]] = [
    (59770417, 13427546), (147655245, 131475314), (119835357, 74913853),
    (55026679, 46674928), (226517557, 17063198), (15997263, 50302251),
    (117380371, 124908867), (14246393, 106750149), (225227991, 118348156),
    (241167271, 149352498), (3488997, 85716440), (226889381, 182670606),
    (149181043, 83472422), (115595697, 180707823), (54873727, 49792546),
    (203971921, 51924210),
]
# the table as one DuckDB row source: (seed, a, b) per hash function
MINHASH_PARAMS_SQL = (
    f"SELECT unnest(range({len(MINHASH_PARAMS)})) AS seed,"
    f" unnest({[a for a, _ in MINHASH_PARAMS]}) AS a,"
    f" unnest({[b for _, b in MINHASH_PARAMS]}) AS b"
)


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """Per-doc MinHash signature: ONE md5 per shingle (first 7 hex chars
    -> 28-bit int), then num_hashes cheap (a*h+b) mod P column
    aggregates. The base hash is materialized as its own projected
    column first — inlining it into the aggregates would defeat CSE and
    recompute the md5 16x per row. All min aggregates are map-side
    partial; one shuffle on id."""
    hashed = shingles.withColumn(
        "_h",
        md5_int("shingle", 1, 7),
    )
    aggs = [
        F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS[:num_hashes])
    ]
    return hashed.groupBy("id").agg(*aggs)


# DuckDB twin of minhash_signatures over word_shingles_sql's `sh`: the
# CTEs `hashed` (id, h) and `mh` (id, seed, mh), one row per signature
# slot instead of one column
MINHASH_SIGNATURES_SQL = f"""
    hashed AS (
      SELECT id, {md5_int_sql("shingle", 1, 7)} AS h FROM sh
    ),
    params AS ({MINHASH_PARAMS_SQL}),
    mh AS (
      SELECT id, p.seed, min((p.a * h + p.b) % {MINHASH_P}) AS mh
      FROM hashed, params p GROUP BY id, p.seed
    )"""

# the `:`-joined signature over MINHASH_SIGNATURES_SQL's `mh`, slots in
# seed order: the CTE `sig` (id, sig)
MINHASH_SIG_SQL = """sig AS (
      SELECT id, string_agg(CAST(mh AS VARCHAR), ':' ORDER BY seed) AS sig
      FROM mh GROUP BY id
    )"""


def minhash_candidate_pairs(
    signatures: DataFrame, num_hashes: int = 16, min_matches: int = 8
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing >= min_matches of the k
    minhash values. Implemented as an equi-join on (seed, hash value) —
    the LSH banding trick with band size 1 — then a count filter.
    E[matches]/k estimates Jaccard, so min_matches/k ~ the similarity
    threshold. No cross join at any point.

    The signature frame is localCheckpoint-materialized first: it is
    DOC-cardinality (k longs per doc — tiny at any scale), while each
    side of the self-join would otherwise re-evaluate the whole
    upstream scan+tokenize+explode+md5+aggregate pipeline (guide §3.3:
    materialize to truncate duplicated subtrees). Measured at sf0.1
    (warm, min-of-2): q41 0.92 -> 0.36 s, q229 2.67 -> 1.75 s, q230
    2.33 -> 1.63 s. An earlier experiment that cached the STACKED
    (long) frame was slower — the win comes from materializing the
    compact wide frame before stacking."""
    signatures = signatures.localCheckpoint()
    long = signatures.selectExpr(
        "id",
        "stack({}, {}) as (seed, mh)".format(
            num_hashes,
            ", ".join(f"{s}, mh_{s}" for s in range(num_hashes)),
        ),
    )
    a = long.alias("a")
    b = long.alias("b")
    return (
        a.join(
            b,
            (F.col("a.seed") == F.col("b.seed"))
            & (F.col("a.mh") == F.col("b.mh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .where(F.col("n_matches") >= min_matches)
    )


def ngram_jaccard_pairs(
    shingles: DataFrame,
    threshold: float,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over shingle sets for pairs sharing >= 1 shingle:
    |A∩B| counted by bucketing on the shingle, |A∪B| = |A|+|B|-|A∩B|.
    Quadratic only within identical-shingle buckets — at scale, run on
    minhash candidates instead of all pairs.

    Intersection via self-equi-join on the shingle hash over a
    localCheckpoint-materialized (id, hash) frame: the narrow 16-byte
    rows are materialized ONCE and both join sides read the
    checkpoint, instead of re-evaluating the scan+tokenize+explode+md5
    subtree per side (AQE's shuffle-stage reuse was the previous bet;
    measured r13, materializing is faster still: q42 1.10 -> 0.91 s,
    and 0.26 s more off q229 on top of the signature checkpoint). A
    groupBy+collect_list bucket formulation was measured SLOWER
    at sf0.1 (2.1 s vs 1.4 s): most buckets are singletons, and the
    object-hash aggregate materializing every bucket costs more than
    the sort-merge join that streams past them.

    The join key is a 60-bit md5-derived hash of the shingle, not the
    string: an 8-byte shuffle key instead of a ~20-byte string. Any
    engine derives the identical hash, so a collision (P ~ n²/2^61)
    merges the same two shingles everywhere — results stay engine-equal
    by construction.

    sizes: optional (id, sz) frame with per-doc distinct-shingle counts.
    Callers holding the pre-explode document frame should pass
    `shingle_set_sizes` output — a scan with no explode — instead of
    letting this function re-derive sizes from the exploded frame
    (a third evaluation of the explode; passing it measured
    1.95 s -> 1.4 s at sf0.1)."""
    hashed = shingles.select(
        "id",
        md5_int("shingle", 1, 15)
        .alias("_sh"),
    ).localCheckpoint()
    if sizes is None:
        sizes = hashed.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = hashed.alias("a")
    b = hashed.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a._sh") == F.col("b._sh")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
    )
    return jac.where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "n_inter", "jaccard"
    )


def simhash(
    df: DataFrame, text_col: str, id_col: str, bits: int = 64, n: int = 3
) -> DataFrame:
    """SimHash fingerprint: for each of `bits` positions, the majority
    vote over the document's distinct features of one md5 bit (the high
    bit of hex digit i — md5 has 32 hex chars = 32 independent bits;
    bits 32-63 come from a second, salted digest md5(feature || '#2'),
    so up to 64 bits). Output: id + `simhash` bit-string column.

    The defaults (64 bits over word 3-grams) are q117's registered
    form. Fingerprint width is the banding-collision dial: with 4
    bands, random pairs collide per band at 2^-(bits/4) — 1/65536 at
    64 bits (the Manku production width, holds verified candidates to
    the true near-dup mass into the multi-million-doc regime) vs 1/256
    at 32 bits (measured in PLANS.md).

    n picks the feature granularity: 1 votes over distinct TOKENS, n>1
    over distinct word n-grams. Token-level simhash DEGENERATES on a
    small-vocabulary corpus — every doc contains nearly every word, so
    all signatures collapse into a handful of values and any banded
    pairing join becomes all-pairs (measured: q117 at 300 s vs 3 s on
    the fixture). Shingle features keep the space large; docs shorter
    than n tokens produce no features and drop out (mirrors
    word_shingles).

    Engine-portable by construction (md5 + substring + majority sum),
    and each bit is a map-side partial sum — single shuffle on id.
    """
    assert bits <= 64
    if n == 1:
        # fan out before the CPU-bound tokenize+explode; the n>1 path
        # delegates to word_shingles, which fans out itself
        df = fan_out(df)
        toks = df.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
        )
    else:
        toks = word_shingles(df, text_col=text_col, id_col=id_col, n=n).select(
            "id", F.col("shingle").alias("tok")
        )
    toks = toks.withColumn("h", F.md5(F.col("tok")))
    if bits > 32:
        toks = toks.withColumn(
            "h2", F.md5(F.concat(F.col("tok"), F.lit("#2")))
        )

    def _bit_src(i: int):
        return (
            F.substring(F.col("h"), i + 1, 1)
            if i < 32
            else F.substring(F.col("h2"), i - 31, 1)
        )

    # hex char i: high bit set iff char >= '8' (ASCII: '0'-'7' < '8' <=
    # '8','9','a'-'f') — portable single-char comparison, no hex->int cast
    votes = [
        F.sum(
            F.when(_bit_src(i) >= "8", F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"v_{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("id").agg(*votes)
    bit_cols = [
        F.when(F.col(f"v_{i}") >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(bits)
    ]
    return agg.select("id", F.concat(*bit_cols).alias("simhash"))


def simhash_band_candidates(
    sigs: DataFrame,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs the Manku/Google-webcrawl way: split the
    fingerprint into `n_bands` equal bands of length(simhash) div
    n_bands bits, read from the fingerprint itself; any pair within
    hamming distance <= n_bands - 1 must agree on at least ONE band
    (pigeonhole), so candidate generation is an equi-join on
    (band_idx, band_value) — never an all-pairs scan — with 100% recall
    for max_hamming <= n_bands - 1. Exact hamming over the full
    fingerprint then verifies candidates.

    Scale shape: |bands| rows per doc shuffle on a short string key;
    bucket sizes bound the join fan-out exactly like MinHash banding
    (q41) and sign-LSH banding (q45). Verification touches candidates
    only and is a per-row zip_with fold (JVM codegen). Random band
    collisions between unrelated docs occur at ~n_bands * 2^-band_bits
    per pair: 4/65536 for simhash's default 64-bit fingerprint, which
    keeps buckets bounded into the multi-million-doc regime, vs 4/256
    at 32 bits. Feed signatures built over n-gram features, not tokens:
    see simhash's degeneracy note.

    Input: (id, simhash) from `simhash`. Output: (id_a, id_b, hamming)
    with id_a < id_b and hamming <= max_hamming.
    """
    assert max_hamming <= n_bands - 1, (
        "pigeonhole guarantee needs max_hamming <= n_bands - 1"
    )
    # sigs is DOC-cardinality (id + a bits-wide string): materialize it
    # once so the banded self-join does not re-evaluate the upstream
    # simhash aggregate (scan+explode+md5+64 votes) per side — the
    # same §3.3 plan-truncation as minhash_candidate_pairs. Measured
    # q117 at sf0.1 (warm, min-of-3): 2.49 -> 0.75 s.
    sigs = sigs.localCheckpoint()
    band_bits = (F.length("simhash") / n_bands).cast("int")  # floor
    bands = sigs.select(
        "id",
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.substring(
                            "simhash", j * band_bits + 1, band_bits
                        ).alias("bv"),
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select(
        "id", "simhash", F.col("b.band").alias("band"), F.col("b.bv").alias("bv")
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("c"),
            (F.col("a.band") == F.col("c.band"))
            & (F.col("a.bv") == F.col("c.bv"))
            & (F.col("a.id") < F.col("c.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("a.simhash").alias("sig_a"),
            F.col("c.id").alias("id_b"),
            F.col("c.simhash").alias("sig_b"),
        )
        .distinct()
    )
    nonempty = lambda arr: F.filter(arr, lambda ch: ch != F.lit(""))
    hamming = F.aggregate(
        F.zip_with(
            nonempty(F.split(F.col("sig_a"), "")),
            nonempty(F.split(F.col("sig_b"), "")),
            lambda x, y: F.when(x == y, F.lit(0)).otherwise(F.lit(1)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def minhash_sig_expr(text: Column) -> Column:
    """Per-ROW MinHash signature key over word 3-grams and all 16
    MINHASH_PARAMS seeds: the same ':'-joined signature string q67
    builds via explode + groupBy, computed as one row-local
    expression (shingle array -> md5 base hash per shingle ->
    array_min of (a*h+b) mod P per seed). No explode, no aggregate, no
    shuffle — which is exactly what makes signature-identical near-dup
    collapse usable in STRUCTURED STREAMING, where an agg-then-dedup
    plan would need its own watermark/output-mode handling: a per-row
    column feeds straight into engine-managed dropDuplicates state.
    Pinned equal to the minhash_signatures aggregate in tests.

    Docs with no shingles (< 3 tokens) get the empty-set sentinel
    'EMPTY' — every such doc shares it, matching the aggregate path's
    behavior of dropping them from signatures (callers treat them as
    one degenerate cluster or filter them out).
    """
    toks = tokens(text)
    # bind the base-hash array once: ONE md5 per shingle, then 16 cheap
    # modular folds over the numeric array (r5 — the digest used to sit
    # inside every per-seed lambda, costing 16 md5 passes)
    return let(
        toks,
        lambda t: let(
            F.transform(
                shingle_array(t, 3),
                lambda s: md5_int(s, 1, 7),
            ),
            lambda hs: F.when(F.size(hs) == 0, F.lit("EMPTY")).otherwise(
                F.concat_ws(
                    ":",
                    *[
                        F.array_min(
                            F.transform(
                                hs,
                                lambda h: (F.lit(a) * h + F.lit(b))
                                % F.lit(MINHASH_P),
                            )
                        ).cast("string")
                        for a, b in MINHASH_PARAMS
                    ],
                )
            ),
        ),
    )

"""Alternative-seed fixture generator for robustness sweeps.

The external driver regenerates /root/testdata each round (TESTDATA.md:
seed=42); a query that is parity-green only because of a fixture
accident (tie pattern, value range, id region, language mix) will break
on regen. This generator produces the SAME schemas (FIXTURES.md §A,
verified by parquet inspection) with a different seed and deliberately
hostile distributions:

- heavy value ties (stress the shared decile-rank edges of q259/q262
  and every percentile/ntile query),
- an English-heavy corpus where 2.5x total tokens exceeds the 1x/4x
  caps (the q214 infeasible-budget regime from ADVICE r5),
- one user holding ~30% of events (skew),
- natural exact-duplicate and every-17th-word near-duplicate documents
  (dedup queries must find real structure, not only their own plants),
- doc_ids kept below the smallest planted-id offset (500000) per the
  fixture invariant (tests/test_fixture_invariants.py).

Usage: python tests/robustness/gen_alt_fixture.py <outdir> [seed] [scale]
scale multiplies the sf0.001 row counts (default 1 => ~6k lineitem).
"""
from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("the fast key order sort table scan merge part window small hash join "
         "stream customer data group filter row line batch value slow query spark "
         "big cache disk spill plan code push prune broad shuffle skew salt range "
         "bucket delta state event click view error signup purchase").split()

# unicode_text axis vocabulary: multi-script, multi-byte, combining
# marks, ZWJ emoji, full-width digits. NO special-casing code points
# (ss-sharp, dotted-I, fi/fl ligatures, word-final capital sigma) —
# see the axis docstring for why.
UWORDS = (
    "数据 处理 引擎 查询 合并 分区 排序 哈希 "            # CJC ideographs
    "данные поток запрос таблица ключ сдвиг "           # Cyrillic
    "δεδομένα μηχανή ερώτημα κλειδί "                   # Greek (no final-Σ risk: lowercase)
    "데이터 엔진 쿼리 파티션 "                            # Hangul
    "café naïve résumé Zürich façade coöperate "        # accented Latin (precomposed)
    "français Müller "                      # combining cedilla / diaeresis
    "🚀 🛰️ 👨‍👩‍👧 ✨ "                      # emoji incl. ZWJ family
    "１２３ ４５６ "                                      # full-width digits
    "العربية نص محرك "                                   # Arabic (RTL)
    "हिन्दी इंजन "                                        # Devanagari w/ conjuncts
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _sentence(rng: np.random.Generator, n: int, vocab=WORDS) -> str:
    return " ".join(rng.choice(vocab, size=n))


def generate(
    outdir: str, seed: int = 7, scale: float = 1.0, axis: str | None = None
) -> None:
    """axis selects an EXTRA hostile distribution on top of the base
    hostile shapes (r7 brief):
      - "all_ties": every continuous value column collapses to ONE
        constant (events.value, l_quantity, l_extendedprice grid,
        c_acctbal, o_totalprice) — stresses decile/ntile edges on a
        1-value domain, zero-variance denominators (try_divide NULL
        paths), correlation/trend statistics, and any ORDER BY whose
        tie-break must be deterministic.
      - "single_lang": the whole corpus is one language — language
        mixtures/temperature sampling (q100/q144/q214) degenerate to a
        single group; per-language shares must come out exactly 1.
      - "constant_ts": every event carries the SAME timestamp (and
        every order/lineitem the same date) — zero inter-event gaps,
        single-bucket time windows, and every ORDER BY ts tie-breaks
        purely on ids; sessionization collapses to one session.
      - "hot_key": ONE key holds ~90% of fact rows on every join/group
        axis (customer 1 -> 90% of orders, order 1 / part 1 /
        supplier 1 -> 90% of lineitems, user 7 -> 90% of events,
        src0 -> 90% of documents) — the pathological-skew shape the
        AQE skew-join path (q55) and salted aggregates exist for;
        per-group statistics must stay exact when one group dwarfs
        the rest and the others thin out to a handful of rows.
      - "negative_mass" (r9 verdict item 5): the bulk of the generic
        metric columns goes NEGATIVE — events.value 70% negative,
        c_acctbal 90% negative, s_acctbal all negative, o_totalprice
        30% negative. Values < 0 stress every log/sqrt/ratio guard
        (ANSI Spark throws or yields NaN where DuckDB may yield
        NULL/NaN with different sign conventions) the same way
        hot_key stressed magnitude.
      - "null_mass" (r10): a large fraction of the generic metric
        columns is NULL — events.value 30%, c_acctbal 25%,
        o_totalprice 20%, s_acctbal 20%. The driver fixture has zero
        nulls, so any null-handling defect is invisible to every
        other sweep: aggregate skip-vs-count semantics (sum/avg skip,
        count(*) does not), null propagation through the roundq floor
        grid and try_divide, and — the known cross-engine landmine —
        default null ORDERING (Spark ASC = NULLS FIRST, DuckDB ASC =
        NULLS LAST; window ranks over a nullable sort key silently
        diverge unless the null position is explicit on both
        engines).
      - "ancient_ts" (r10): every event timestamp moves to 1965 —
        NEGATIVE unix epochs. Truncating integer division (Spark's
        `div`, Java's `/`) and flooring division (DuckDB's `//`,
        Python's) agree on positive epochs and differ by one on
        negatives, so every epoch-bucketing expression (sessions,
        hour bars, window alignment) is stressed where the engines'
        operators genuinely differ. The catalog's 2024 cutoff
        literals become vacuous (every event lands in the earliest
        window) — parity must hold on the degenerate split too.
      - "far_future" (r10): every event timestamp moves to 2260 —
        epoch MICROSECONDS exceed 2^53, where any float detour in an
        epoch conversion silently misrounds (probed: floor(us/1000.0)
        drifts on 0.1% of microsecond offsets at this magnitude).
        The oracle epoch emissions use pure-integer floor division
        for exactly this reason.
      - "no_purchases" (r10): the 'purchase' event type never occurs.
        Every conversion / funnel / label-based query (AUC, lift,
        WOE, attribution, A/B, uplift) hits an n_pos = 0 regime:
        zero-denominator ratios, empty positive splits, and
        log(0)-floor paths must NULL/empty identically on both
        engines — the whole-class-absent sibling of all_ties'
        zero-variance catches (r8: four DIVIDE_BY_ZERO defects).
      - "unicode_text" (r10): the corpus vocabulary becomes
        aggressively multilingual — CJK, Cyrillic, Greek, Korean,
        accented Latin (precomposed AND combining forms), emoji with
        ZWJ sequences, full-width digits — so every tokenizer,
        shingle, regexp, length, and md5 path runs on multi-byte,
        multi-script text. DELIBERATE EXCLUSION, probed r10: Unicode
        SPECIAL-CASING code points (ß, İ, ligatures fi/fl, Greek
        capital sigma in word-final position) are kept OUT of the
        vocabulary because Spark implements Java full case mappings
        (upper('ß')='SS', contextual final sigma) while DuckDB
        implements simple 1:1 mappings (upper('ß')='ẞ') — an
        engine-level casing boundary no shared SQL expression can
        bridge; tests/test_unicode_envelope.py pins the four known
        divergences so a behavior change in either engine is
        noticed.
      - "empty_relation" (r11 verdict item 5): the fact/corpus tables
        (lineitem, events, documents, embeddings) have ZERO rows while
        every dimension stays populated — the harsher sibling of
        no_purchases' whole-class absence. Stresses empty global
        aggregates (count-0 rows with NULL sums on BOTH engines),
        empty join probe sides against non-empty builds, first/last/
        min/max over nothing, quantiles of the empty set, window
        functions over zero partitions, and every ratio whose
        denominator is an empty-input count. Tables are built
        normally then sliced to 0 rows, so schemas stay byte-
        identical to the populated fixture (no empty-array type
        inference hazards).
      - "single_row" (r11): each fact/corpus table has exactly ONE
        row — the boundary sibling of empty_relation. Stresses n = 1
        statistics (stddev_samp/var_samp/corr/regr over one sample
        must NULL identically), lag/lead/first/last over a single
        row, self-joins that find no partner, windows containing one
        event, and every (n - 1)-style denominator. Same
        schema-preserving slice mechanism as empty_relation.
      - "nonfinite_values" (r12, lands with the non-finite-as-NULL
        grid conversion): NaN/±inf planted in the generic metric
        columns — events.value, c_acctbal, s_acctbal, o_totalprice,
        l_extendedprice get ~10% NaN + 3% +inf + 3% -inf each
        (independent draw, applied after every other axis's value
        choice and before null_mass's mask, so the axes compose).
        At 100 TB non-finite doubles WILL appear; the engines'
        exact-decimal grids diverge on them (Spark floor(NaN*1e6+.5)
        silently yields 0 and ±inf clamps to ±Long.MAX; DuckDB
        RAISES casting non-finite to DECIMAL/HUGEINT). The repo
        convention is non-finite = NULL at every grid entry point
        (queries/common.py: finite() on the Spark side; in oracle SQL
        the twins sql_dec()/sql_decq() wrap the value); this axis
        is its catalog-wide enforcement. Comparison semantics that
        already AGREE cross-engine (NaN==NaN in grouping, NaN sorts
        last, NaN > any literal in predicates) are deliberately left
        native.
      - "nonfinite_mass" (r12 session 2): the INTENSITY sibling of
        nonfinite_values, the way null_mass raises null fractions —
        ~60% NaN + 15% +inf + 15% -inf (90% non-finite total) in the
        same metric columns. The q165 catch showed the sharp trigger
        is a GROUP whose every member is non-finite (its aggregate
        goes NULL and NULL rank/sort placement diverges across
        engines); at 16% poisoning such groups only appear when
        another axis thins group sizes (hot_key), but at 90% they
        appear catalog-wide on their own. Contradictory with
        nonfinite_values (two intensities of one knob — raise, like
        empty_relation+single_row).
      - "null_text" (r10, second null wave): NULLs in the corpus
        columns — documents.text 10% (with n_chars NULL on the same
        rows, keeping the n_chars = len(text) invariant vacuous
        rather than violated), documents.lang 10% (independent), and
        embeddings.embedding 5%. Stresses the text/dedup/ANN family:
        string functions and shingle pipelines must propagate NULL
        identically, language mixtures must agree on the NULL lang
        group, and vector ops must skip NULL embeddings the same way
        on both engines. Nulls land only ABOVE the planted-structure
        rows (text index >= 47, embedding index >= 31) so the
        dup/near-dup/degenerate plants the dedup queries must find
        stay intact.

    Axes COMBINE with "+" (r9 verdict item 5: run the scaled x10/x30
    variants on the other axes' worst combinations), e.g.
    "hot_key+constant_ts": each named axis applies independently; the
    writes are orthogonal by construction (each axis touches disjoint
    columns, except all_ties+negative_mass where all_ties wins on the
    tied columns since constants are applied last below).
    """
    axes = set(axis.split("+")) if axis else set()
    unknown = axes - {
        "all_ties", "single_lang", "constant_ts", "hot_key",
        "negative_mass", "null_mass", "null_text", "ancient_ts",
        "unicode_text", "no_purchases", "far_future", "empty_relation",
        "single_row", "nonfinite_values", "nonfinite_mass",
    }
    if unknown:
        raise ValueError(f"unknown axis parts {sorted(unknown)!r}")
    if {"empty_relation", "single_row"} <= axes:
        # contradictory: a table cannot be both 0 and 1 rows; raising
        # (like unknown axes) beats silently privileging one (r11 ADVICE)
        raise ValueError("contradictory axes: empty_relation+single_row")
    if {"nonfinite_values", "nonfinite_mass"} <= axes:
        # two intensities of the same knob (16% vs 90% non-finite);
        # raising beats silently privileging one
        raise ValueError(
            "contradictory axes: nonfinite_values+nonfinite_mass"
        )
    rng = np.random.default_rng(seed)
    os.makedirs(outdir, exist_ok=True)

    def nullify(values, frac: float) -> pa.Array:
        """null_mass axis: mask ~frac of a metric column to NULL.

        Applied AFTER every other axis's value choice (so
        all_ties+null_mass means a 1-value domain with a null hole —
        ties and nulls at once), on an independent rng draw so the
        null positions don't correlate with the skew prefixes.
        """
        if "null_mass" not in axes:
            return pa.array(values)
        mask = rng.random(len(values)) < frac
        return pa.array(values, mask=mask)

    def maybe_nonfinite(values):
        """nonfinite_values axis: plant NaN/±inf in ~16% of a metric
        column (10% NaN, 3% +inf, 3% -inf); nonfinite_mass raises
        that to ~90% (60% NaN, 15% +inf, 15% -inf) so all-non-finite
        GROUPS appear without another axis thinning group sizes (the
        q165 trigger). Runs AFTER the other axes' value choice and
        BEFORE nullify's mask, so nonfinite+null_mass yields columns
        with nulls AND non-finite values at once."""
        if "nonfinite_mass" in axes:
            frac = (0.60, 0.75, 0.90)
        elif "nonfinite_values" in axes:
            frac = (0.10, 0.13, 0.16)
        else:
            return values
        v = np.asarray(values, dtype="float64").copy()
        r = rng.random(len(v))
        v[r < frac[0]] = np.nan
        v[(r >= frac[0]) & (r < frac[1])] = np.inf
        v[(r >= frac[1]) & (r < frac[2])] = -np.inf
        return v

    # empty_relation axis: facts/corpus zero-row, dims populated; the
    # slice AFTER construction keeps the schema identical (direct
    # empty pa.array construction would infer null types).
    _EMPTY = {"lineitem", "events", "documents", "embeddings"}

    def write(name: str, table: pa.Table) -> None:
        if "empty_relation" in axes and name in _EMPTY:
            table = table.slice(0, 0)
        elif "single_row" in axes and name in _EMPTY:
            table = table.slice(0, 1)
        pq.write_table(table, os.path.join(outdir, name + ".parquet"))

    # --- region / nation (fixed shape, same key domains as TPC-H-ish)
    write("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    }))
    write("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i:02d}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array((rng.permutation(25) % 5).astype("int32")),
    }))

    n_cust = int(150 * scale)
    n_supp = max(10, int(10 * scale))
    n_part = int(200 * scale)
    n_ord = int(1500 * scale)
    n_li = int(6000 * scale)
    n_ev = int(1000 * scale)
    n_doc = int(500 * scale)
    n_emb = int(500 * scale)

    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    write("customer", pa.table({
        "c_custkey": pa.array(range(1, n_cust + 1), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_cust + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        # heavy ties: acctbal quantized to 50 distinct values
        # (all_ties axis: ONE value)
        # null_mass: ~25% of balances NULL (applied on top of any axis)
        "c_acctbal": nullify(
            maybe_nonfinite(
                np.full(n_cust, 1250.0)
                if "all_ties" in axes
                # negative_mass: ~90% of balances < 0
                else np.round(rng.integers(
                    *((-180, 20) if "negative_mass" in axes else (-20, 200)),
                    n_cust) * 50.0, 2)
            ),
            0.25,
        ),
        "c_mktsegment": pa.array(rng.choice(segs, n_cust)),
    }))

    write("supplier", pa.table({
        "s_suppkey": pa.array(range(1, n_supp + 1), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, n_supp + 1)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        # null_mass: ~20% NULL
        "s_acctbal": nullify(maybe_nonfinite(np.round(
            rng.uniform(-9999, -1, n_supp)
            if "negative_mass" in axes
            else rng.uniform(-999, 9999, n_supp), 2)), 0.20),
    }))

    brands = [f"Brand#{b}" for b in (10, 11, 12, 13, 14, 15, 21, 22, 23, 24, 25, 31, 32, 33, 34, 35)]
    types = ["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD"]
    write("part", pa.table({
        "p_partkey": pa.array(range(1, n_part + 1), pa.int64()),
        "p_name": pa.array([_sentence(rng, 3) for _ in range(n_part)]),
        "p_brand": pa.array(rng.choice(brands, n_part)),
        "p_type": pa.array(rng.choice(types, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900 + rng.integers(0, 40, n_part) * 25.0, 2)),
    }))

    # --- orders: same 1995..2001 span as seed-42 (the catalog's literal
    # date predicates must stay selective, not vacuous), tied totals
    statuses = np.array(["O", "F", "P"])
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    base = np.datetime64("1995-01-01", "us")
    odate = base + (rng.integers(0, 2400, n_ord) * np.int64(86400_000_000)).astype("timedelta64[us]")
    if "constant_ts" in axes:
        odate = np.full(n_ord, base + np.int64(500) * np.timedelta64(86400_000_000, "us"))
    # skew: first customer takes ~10% of orders (hot_key axis: ~90%)
    ocust = rng.integers(1, n_cust + 1, n_ord)
    ocust[: (9 * n_ord // 10 if "hot_key" in axes else n_ord // 10)] = 1
    write("orders", pa.table({
        "o_orderkey": pa.array(range(1, n_ord + 1), pa.int64()),
        "o_custkey": pa.array(ocust, pa.int64()),
        "o_orderstatus": pa.array(statuses[rng.integers(0, 3, n_ord)]),
        # null_mass: ~20% NULL
        "o_totalprice": nullify(
            maybe_nonfinite(
                np.full(n_ord, 5000.5)
                if "all_ties" in axes
                # negative_mass: ~30% of order totals < 0
                else np.round(rng.integers(
                    *((-120, 280) if "negative_mass" in axes else (1, 400)),
                    n_ord) * 77.0 + 0.5, 2)
            ),
            0.20,
        ),
        "o_orderdate": pa.array(odate),
        "o_orderpriority": pa.array(prios[rng.integers(0, 5, n_ord)]),
    }))

    lidate = base + (rng.integers(0, 2500, n_li) * np.int64(86400_000_000)).astype("timedelta64[us]")
    if "constant_ts" in axes:
        lidate = np.full(n_li, base + np.int64(530) * np.timedelta64(86400_000_000, "us"))
    # hot_key axis: order 1 / part 1 / supplier 1 each soak up ~90% of
    # lineitems (contiguous prefix — the same rows are hot on every
    # axis, the worst case for a multi-join plan)
    lord = rng.integers(1, n_ord + 1, n_li)
    lpart = rng.integers(1, n_part + 1, n_li)
    lsupp = rng.integers(1, n_supp + 1, n_li)
    if "hot_key" in axes:
        hot = 9 * n_li // 10
        lord[:hot], lpart[:hot], lsupp[:hot] = 1, 1, 1
    write("lineitem", pa.table({
        "l_orderkey": pa.array(lord, pa.int64()),
        "l_partkey": pa.array(lpart, pa.int64()),
        "l_suppkey": pa.array(lsupp, pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype("int32")),
        # ties: integer quantities over a NARROW domain (1..10);
        # all_ties axis: the whole column is ONE value
        "l_quantity": pa.array(
            np.full(n_li, 5.0)
            if "all_ties" in axes
            else rng.integers(1, 11, n_li).astype("float64")
        ),
        "l_extendedprice": pa.array(
            maybe_nonfinite(
                np.full(n_li, 1100.0)
                if "all_ties" in axes
                else np.round(rng.integers(10, 1000, n_li) * 11.0, 2)
            )
        ),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(lidate),
    }))

    # --- events: same Jan-2024 window (catalog cutoffs at Jan 10/15/16/20
    # must split the data non-trivially), skewed user, tied values
    ev_types = np.array(
        ["view", "click", "view", "signup", "error"]
        if "no_purchases" in axes
        else ["view", "click", "purchase", "signup", "error"]
    )
    # ancient_ts axis: 1965 base — every epoch is NEGATIVE, where
    # truncating (Spark div) and flooring (DuckDB //) division differ.
    # far_future axis: 2260 base — epoch_us > 2^53, where any float
    # detour in epoch math misrounds.
    ebase = np.datetime64(
        "1965-06-15T00:00:00" if "ancient_ts" in axes
        else "2260-06-15T00:00:00" if "far_future" in axes
        else "2024-01-01T00:00:00",
        "us",
    )
    ets = ebase + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    if "constant_ts" in axes:
        ets = np.full(n_ev, ebase + np.timedelta64(12 * 86400 * 10**6, "us"))
    users = rng.integers(0, 40, n_ev)
    users[: int(n_ev * (0.9 if "hot_key" in axes else 0.3))] = 7  # hot key
    write("events", pa.table({
        "event_id": pa.array(range(1, n_ev + 1), pa.int64()),
        "ts": pa.array(np.sort(ets)),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(ev_types[rng.integers(0, 5, n_ev)]),
        # null_mass: ~30% NULL (the generic metric column every stats
        # query aggregates — the axis's main stressor)
        "value": nullify(
            maybe_nonfinite(
                np.full(n_ev, 12.5)
                if "all_ties" in axes
                # negative_mass: ~70% of event values < 0 (the generic
                # metric column every stats query aggregates)
                else np.round(rng.integers(
                    *((-14, 6) if "negative_mass" in axes else (0, 20)),
                    n_ev) * 12.5, 2)
            ),
            0.30,
        ),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
    }))

    # --- documents: English-heavy (q214 infeasible regime), natural dups
    langs = np.array(["en", "de", "fr", "es", "zh"])
    lang_p = np.array([0.72, 0.07, 0.07, 0.07, 0.07])
    if "single_lang" in axes:
        lang_p = np.array([1.0, 0.0, 0.0, 0.0, 0.0])
    texts, lang_col = [], []
    for i in range(n_doc):
        lang = str(rng.choice(langs, p=lang_p))
        # unicode_text axis: ~half the vocabulary turns multi-script
        # (the English half keeps stop-gram / blocklist / langid
        # queries non-vacuous)
        t = _sentence(
            rng,
            int(rng.integers(20, 120)),
            vocab=(WORDS + UWORDS) if "unicode_text" in axes else WORDS,
        )
        texts.append(t)
        lang_col.append(lang)
    # exact duplicates: docs 10..19 copy docs 0..9 (clamped so tiny
    # --scale fixtures still generate)
    for j in range(min(10, max(0, n_doc - 10))):
        texts[10 + j] = texts[j]
    # near-duplicates: docs 30..39 mutate every 17th word of docs 0..9
    for j in range(min(10, max(0, n_doc - 30))):
        w = texts[j].split()
        for p in range(0, len(w), 17):
            w[p] = "zzz"
        texts[30 + j] = " ".join(w)
    # degenerate / hostile text shapes (docs 40..46): empty string,
    # whitespace-only, below-shingle token counts (1 and 2 words),
    # internal tabs/newlines/runs of spaces, unicode (accents, CJK,
    # emoji). These stress trim/split(\s+)/shingle-EMPTY sentinel
    # paths and any per-token or per-sentence denominator.
    if n_doc > 46:
        texts[40] = ""
        texts[41] = "   \t  "
        texts[42] = "single"
        texts[43] = "two words"
        texts[44] = "tab\tseparated  double  spaced\nnewline line"
        texts[45] = "café naïve résumé Zürich façade coöperate"
        texts[46] = "数据 处理 引擎 测试 🚀 emoji 混合 text"
    src_ids = rng.integers(0, 12, n_doc)
    if "hot_key" in axes:
        src_ids[: 9 * n_doc // 10] = 0
    if "null_text" in axes:
        # null text (with n_chars nulled on the same rows) and an
        # independent null-lang draw; only above the planted rows so
        # the dup/near-dup/degenerate structure survives
        for i in range(47, n_doc):
            if rng.random() < 0.10:
                texts[i] = None
            if rng.random() < 0.10:
                lang_col[i] = None
    write("documents", pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(lang_col),
        "source": pa.array([f"src{int(s)}" for s in src_ids]),
        "n_chars": pa.array(
            [len(t) if t is not None else None for t in texts],
            pa.int64(),
        ),
    }))

    # --- embeddings: 64-dim, clustered + exact-duplicate vectors
    dim = 64
    centers = rng.normal(0, 1, (10, dim))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 0.3, (n_emb, dim))
    if n_emb >= 25:
        vecs[20:25] = vecs[0:5]  # exact dup vectors
    if n_emb > 30:
        # degenerate-vector axis: zero-norm (cosine 0/0) and a
        # tiny-magnitude vector (float32 underflow territory in
        # norm/products)
        vecs[26] = 0.0
        vecs[27] = 1e-30
    emb_col = [v.astype("float32") for v in vecs]
    if "null_text" in axes:
        # ~5% NULL vectors, above the dup/degenerate plants
        for i in range(31, n_emb):
            if rng.random() < 0.05:
                emb_col[i] = None
    write("embeddings", pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(emb_col, pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32")),
    }))


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/testdata_alt/sfA"
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    scale = float(sys.argv[3]) if len(sys.argv) > 3 else 1.0
    axis = sys.argv[4] if len(sys.argv) > 4 else None
    generate(out, seed, scale, axis)
    print("wrote", out)

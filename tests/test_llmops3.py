"""Semantic invariants for the session-6 batches (q240-q252) — pure-
Python model replays and conservation laws the DuckDB hash-match
can't express (the hash proves Spark==DuckDB; these prove both match
the intended semantics)."""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from airquality_data_pipeline_spark.io import table
from airquality_data_pipeline_spark.queries import QUERIES


def _docs(spark, sf_dir):
    return table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    ).collect()


def test_bpe_pairs_match_python_model(spark, sf_dir):
    counts = Counter()
    for r in _docs(spark, sf_dir):
        t = r.text.lower()
        for i in range(len(t) - 1):
            pair = t[i : i + 2]
            if re.fullmatch(r"[a-z]{2}", pair):
                counts[pair] += 1
    expect = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = QUERIES["q252_bpe_pair_stats"](spark, sf_dir).collect()
    got = [
        (r.pair, r.pair_count)
        for r in sorted(rows, key=lambda r: r.merge_rank)
    ]
    assert got == expect
    assert [r.merge_rank for r in sorted(rows, key=lambda r: r.merge_rank)] == list(
        range(1, len(rows) + 1)
    )


def test_dsir_direction_and_model(spark, sf_dir):
    # Pure-Python replay of the hashed-bucket importance model, then
    # two semantic checks: per-doc scores match, and English docs (the
    # target distribution) score higher on average than non-English.
    import hashlib

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 1024

    docs = _docs(spark, sf_dir)
    cs: dict[int, int] = defaultdict(int)
    ct: dict[int, int] = defaultdict(int)
    toks_by_doc = {}
    for r in docs:
        toks = re.split(r"\s+", r.text.lower().strip())
        toks_by_doc[r.doc_id] = toks
        for tok in toks:
            b = bucket(tok)
            cs[b] += 1
            if r.lang == "en":
                ct[b] += 1
    ns, nt = sum(cs.values()), sum(ct.values())
    w = {
        b: round(
            math.log(
                ((ct.get(b, 0) + 1.0) * (ns + 1024))
                / ((cs[b] + 1.0) * (nt + 1024))
            ),
            6,
        )
        for b in cs
    }
    expect = {
        r.doc_id: round(sum(w[bucket(t)] for t in toks_by_doc[r.doc_id]), 6)
        for r in docs
    }
    rows = QUERIES["q250_dsir_selection"](spark, sf_dir).collect()
    assert len(rows) == len(docs)
    # the pure-Python replay tokenizes with str.strip()/re.split, which
    # differs from SQL trim (spaces only) on tab/empty-text docs; the
    # exact-score pin only holds on fixtures without such docs
    pathological = any(
        (not r.text) or r.text != r.text.strip(" ") or "\t" in r.text
        for r in docs
    )
    for r in rows:
        if not pathological:
            assert abs(r.dsir_score - expect[r.doc_id]) < 1e-6, r.doc_id
        assert r.selected == (r.dsir_score > 0)
    lang_of = {d.doc_id: d.lang for d in docs}
    en = [r.dsir_score for r in rows if lang_of[r.doc_id] == "en"]
    other = [r.dsir_score for r in rows if lang_of[r.doc_id] != "en"]
    assert sum(en) / len(en) > sum(other) / len(other)


def test_perplexity_terciles_partition_docs(spark, sf_dir):
    rows = QUERIES["q251_perplexity_terciles"](spark, sf_dir).collect()
    docs = _docs(spark, sf_dir)
    n_by_lang = Counter(d.lang for d in docs)
    # conservation: every doc lands in exactly one (lang, tercile) cell
    got_by_lang = defaultdict(int)
    for r in rows:
        got_by_lang[r.lang] += r.n_docs
    assert dict(got_by_lang) == dict(n_by_lang)
    # NTILE balance: within a language, cell sizes differ by <= 1
    sizes = defaultdict(list)
    for r in rows:
        sizes[r.lang].append(r.n_docs)
    for lang, ns in sizes.items():
        assert max(ns) - min(ns) <= 1, (lang, ns)
    # monotone: mean NLL rises from head (1) to tail (3) per language
    by_cell = {(r.lang, r.tercile): r.mean_nll for r in rows}
    for lang in sizes:
        assert by_cell[(lang, 1)] <= by_cell[(lang, 2)] <= by_cell[(lang, 3)]


def test_large_volume_customers_threshold(spark, sf_dir):
    rows = QUERIES["q246_large_volume_customers"](spark, sf_dir).collect()
    assert all(r.sum_qty > 250 for r in rows)
    # replay: the qualifying orderkey set matches a python groupBy
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .collect()
    )
    qty = defaultdict(float)
    for r in li:
        qty[r.l_orderkey] += r.l_quantity
    expect = {k for k, v in qty.items() if v > 250}
    assert {r.orderkey for r in rows} == expect


def test_dominant_widget_suppliers_dominance(spark, sf_dir):
    # every reported supplier dominates >= 1 widget part at > 2x the
    # part's mean per-supplier quantity, replayed in pure python
    li = (
        table(spark, sf_dir, "lineitem")
        .join(
            table(spark, sf_dir, "part").where(
                F.col("p_name").like("%widget")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
        .collect()
    )
    q = defaultdict(float)
    for r in li:
        q[(r.l_partkey, r.l_suppkey)] += r.l_quantity
    per_part = defaultdict(list)
    for (pk, sk), v in q.items():
        per_part[pk].append(v)
    dominated = defaultdict(int)
    for (pk, sk), v in q.items():
        if v > 2.0 * (sum(per_part[pk]) / len(per_part[pk])):
            dominated[sk] += 1
    rows = QUERIES["q248_dominant_widget_suppliers"](spark, sf_dir).collect()
    assert {r.suppkey: r.n_parts_dominated for r in rows} == dict(dominated)


def test_ndcg_matches_python_model(spark, sf_dir):
    # pure-python replay: take the engine's own top-10 (q119-parity
    # already proves the ranking), recompute DCG/IDCG/nDCG from the
    # source-label ground truth
    import math

    top10 = QUERIES["q119_bm25_topk"](spark, sf_dir).collect()
    src = {
        r.doc_id: r.source
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .collect()
    }
    n_rel = {
        q: sum(1 for s in src.values() if s == f"src{q}") for q in (1, 2, 3)
    }

    def disc(r):
        return round(1.0 / math.log2(r + 1), 6)

    expect = {}
    for q in (1, 2, 3):
        dcg = round(
            sum(
                disc(r.rank)
                for r in top10
                if r.query_id == q and src[r.doc_id] == f"src{q}"
            ),
            6,
        )
        idcg = round(
            sum(disc(i) for i in range(1, min(n_rel[q], 10) + 1)), 6
        )
        expect[q] = (n_rel[q], dcg, idcg, round(dcg / idcg, 6))
    rows = QUERIES["q254_ndcg_at_10"](spark, sf_dir).collect()
    assert len(rows) == 3
    for r in rows:
        nr, dcg, idcg, ndcg = expect[r.query_id]
        assert r.n_rel == nr
        assert abs(r.dcg - dcg) < 1e-6
        assert abs(r.idcg - idcg) < 1e-6
        assert abs(r.ndcg - ndcg) < 1e-6


def test_zone_map_skipping_python_model(spark, sf_dir):
    # replay both layouts + zone maps in pure python; skip counts and
    # the random-vs-clustered ordering must match
    import hashlib
    from collections import defaultdict as dd

    ev = (
        table(spark, sf_dir, "events")
        .select("event_id", "value")
        .collect()
    )
    vmin = min(r.value for r in ev)
    vmax = max(r.value for r in ev)
    w = (vmax - vmin) / 64.0
    zones = dd(lambda: [float("inf"), float("-inf"), 0])
    for r in ev:
        fa = int(
            hashlib.md5(str(r.event_id).encode()).hexdigest()[:8], 16
        ) % 64
        fb = min(63, int((r.value - vmin) // w))
        for layout, f in (("random", fa), ("value_clustered", fb)):
            z = zones[(layout, f)]
            z[0] = min(z[0], r.value)
            z[1] = max(z[1], r.value)
            z[2] += 1
    expect = dd(lambda: [0, 0, 0])
    for (layout, f), (mn, mx, cnt) in zones.items():
        e = expect[layout]
        e[0] += 1
        if mx < 20 or mn > 50:
            e[1] += 1
            e[2] += cnt
    rows = QUERIES["q253_zone_map_skipping"](spark, sf_dir).collect()
    got = {r.layout: (r.n_files, r.files_skipped, r.rows_skipped) for r in rows}
    assert got == {k: tuple(v) for k, v in expect.items()}
    by = {r.layout: r.skip_ratio for r in rows}
    assert by["value_clustered"] > by["random"]


def test_temperature_sampling_invariants(spark, sf_dir):
    rows = QUERIES["q256_temperature_sampling"](spark, sf_dir).collect()
    # alpha=1.0: sampling must reduce to the raw distribution
    for r in rows:
        if abs(r.alpha - 1.0) < 1e-9:
            assert abs(r.sample_weight - r.raw_share) < 2e-6
            assert abs(r.resample_factor - 1.0) < 1e-4
    # alpha<1: low-resource languages get boosted, high-resource damped
    a03 = sorted(
        (r.raw_share, r.resample_factor)
        for r in rows
        if abs(r.alpha - 0.3) < 1e-9
    )
    assert a03[0][1] > 1.0  # smallest share upsampled
    assert a03[-1][1] < 1.0  # largest share downsampled
    # weights normalize per alpha
    from collections import defaultdict as dd

    sums = dd(float)
    for r in rows:
        sums[r.alpha] += r.sample_weight
    for a, s in sums.items():
        assert abs(s - 1.0) < 1e-4, (a, s)


def test_ushaped_attribution_conserves_revenue(spark, sf_dir):
    # conservation: total credited revenue equals total purchase value
    # (every purchase's weights sum to 1, pathless purchases go to
    # 'none'), and the weight model replays in pure python
    ev = (
        table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type", "value")
        .collect()
    )
    from collections import defaultdict as dd

    by_user = dd(list)
    for r in ev:
        by_user[r.user_id].append(r)
    expect = dd(float)
    total_purchases = 0.0
    for rows in by_user.values():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        path = []
        for r in rows:
            if r.event_type == "purchase":
                total_purchases += r.value
                n = len(path)
                if n == 0:
                    expect["none"] += r.value
                else:
                    for i, ch in enumerate(path):
                        if n == 1:
                            w = 1.0
                        elif n == 2:
                            w = 0.5
                        elif i == 0 or i == n - 1:
                            w = 0.4
                        else:
                            w = 0.2 / (n - 2)
                        expect[ch] += w * r.value
                    path = []
                if n == 0:
                    path = []
            else:
                path.append(r.event_type)
    got = {
        r.channel: r.credited_revenue
        for r in QUERIES["q257_ushaped_attribution"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(expect)
    for ch, v in expect.items():
        assert abs(got[ch] - v) < 1e-3, (ch, got[ch], v)
    assert abs(sum(got.values()) - total_purchases) < 1e-3


def test_psi_terms_and_convention(spark, sf_dir):
    rows = QUERIES["q259_psi_drift"](spark, sf_dir).collect()
    assert sorted(r.bin for r in rows) == list(range(1, 11))
    # shares are floored at 0.0001 and the total is the term sum
    for r in rows:
        assert r.p_ref >= 0.0001 and r.p_cur >= 0.0001
    tot = rows[0].psi_total
    assert abs(sum(r.psi_term for r in rows) - tot) < 1e-5
    # PSI is non-negative up to per-term rounding (each term
    # (p-q)ln(p/q) >= 0; rounding can shave at most 5e-7 per bin)
    assert tot >= -1e-5
    assert all(r.psi_term >= -1e-6 for r in rows)


def test_conformal_coverage_guarantee(spark, sf_dir):
    r = QUERIES["q260_conformal_calibration"](spark, sf_dir).first()
    # finite-sample conformal bound: coverage ~ 0.9, one-sided slack
    # for test-set noise at sf0.001 (n_test ~ 200)
    assert r.coverage >= 0.85, r
    assert r.n_covered <= r.n_test
    assert r.q_hat > 0


def test_recursive_cte_equals_array_rollup(spark, sf_dir):
    # q266 (WITH RECURSIVE) must equal q198 (row-local ancestor-array
    # explode) node for node — same aggregation, two engine paths
    a = {
        r.node: (r.n_members, r.subtree_revenue)
        for r in QUERIES["q198_hierarchy_rollup"](spark, sf_dir).collect()
    }
    b = {
        r.node: (r.n_members, r.subtree_revenue)
        for r in QUERIES["q266_recursive_hierarchy"](
            spark, sf_dir
        ).collect()
    }
    assert a == b and len(a) > 0

"""Semantic invariants for the session-5 batch (q190-q197) — pure-Python
model replays and conservation laws the DuckDB hash-match can't express."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from airquality_data_pipeline_spark.io import table
from airquality_data_pipeline_spark.queries import QUERIES


def test_roc_auc_matches_pairwise_model(spark, sf_dir):
    # O(n_pos * n_neg) literal pair count — feasible at sf0.001 only,
    # which is what the default test fixture is.
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click"))
        .select("event_type", F.round(F.col("value") * 100, 0).alias("s"))
        .collect()
    )
    pos = sorted(r.s for r in ev if r.event_type == "purchase")
    neg = sorted(r.s for r in ev if r.event_type != "purchase")
    wins = ties = 0
    import bisect

    for p in pos:
        lo = bisect.bisect_left(neg, p)
        hi = bisect.bisect_right(neg, p)
        wins += lo
        ties += hi - lo
    expect = (wins + ties / 2) / (len(pos) * len(neg))
    row = QUERIES["q190_roc_auc"](spark, sf_dir).first()
    assert row.n_pos == len(pos) and row.n_neg == len(neg)
    assert abs(row.auc - expect) < 1e-6


def test_acf_bounded(spark, sf_dir):
    rows = QUERIES["q191_acf"](spark, sf_dir).collect()
    assert sorted(r.lag for r in rows) == [1, 2, 3]
    assert all(abs(r.acf) <= 1.0 + 1e-9 for r in rows)
    # lag-k pair count shrinks by exactly one pair per extra lag step
    by_lag = {r.lag: r.n for r in rows}
    assert by_lag[1] - 1 == by_lag[2] == by_lag[3] + 1


def test_cusum_matches_python_model(spark, sf_dir):
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("v"))
        .collect()
    )
    series = defaultdict(list)
    for r in daily:
        series[r.event_type].append((r.d, r.v))
    expect = {}
    for et, pts in series.items():
        pts.sort()
        tot = sum(v for _, v in pts)
        mean = tot / len(pts)
        cum, best = 0, None
        for t, (d, v) in enumerate(pts, start=1):
            cum += v
            s = cum - t * mean
            key = (-abs(s), d)
            if best is None or key < best[0]:
                best = (key, d, s)
        expect[et] = (len(pts), best[1], round(best[2], 6))
    rows = QUERIES["q192_cusum_changepoint"](spark, sf_dir).collect()
    assert len(rows) == len(expect)
    import datetime as dt

    epoch = dt.date(1970, 1, 1)
    for r in rows:
        n, d, s = expect[r.event_type]
        assert r.n_days == n
        assert r.chg_epoch_day == (d - epoch).days
        assert abs(r.cusum_peak - s) < 1e-6


def test_km_risk_sets_monotone(spark, sf_dir):
    rows = sorted(
        QUERIES["q193_survival_km"](spark, sf_dir).collect(),
        key=lambda r: r.wk,
    )
    n_cust = (
        table(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert rows, "no event weeks"
    assert rows[0].n_risk <= n_cust
    for a, b in zip(rows, rows[1:]):
        assert b.n_risk < a.n_risk or (
            b.n_risk == a.n_risk and a.d_events == 0
        )
    for r in rows:
        assert 0 < r.d_events <= r.n_risk
        assert 0 < r.hazard <= 1.0


def test_interval_union_matches_python_sweep(spark, sf_dir):
    li = (
        table(spark, sf_dir, "lineitem")
        .select(
            "l_suppkey",
            F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01")).alias(
                "s"
            ),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .collect()
    )
    iv = defaultdict(list)
    for r in li:
        iv[r.l_suppkey].append((r.s, r.s + r.q))
    expect = {}
    for k, items in iv.items():
        items.sort()
        merged = []
        for s, e in items:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        expect[k] = (
            len(items),
            len(merged),
            sum(e - s for s, e in merged),
        )
    rows = QUERIES["q194_interval_union"](spark, sf_dir).collect()
    assert len(rows) == len(expect)
    for r in rows:
        assert (
            r.n_intervals,
            r.n_merged,
            r.covered_days,
        ) == expect[r.l_suppkey]


def test_streaks_match_python_model(spark, sf_dir):
    ev = (
        table(spark, sf_dir, "events")
        .select("user_id", F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day"))
        .distinct()
        .collect()
    )
    days = defaultdict(set)
    for r in ev:
        days[r.user_id].add(r.day)
    hist = defaultdict(int)
    for u, ds in days.items():
        best = cur = 0
        prev = None
        for d in sorted(ds):
            cur = cur + 1 if prev is not None and d == prev + 1 else 1
            best = max(best, cur)
            prev = d
        hist[best] += 1
    rows = QUERIES["q195_activity_streaks"](spark, sf_dir).collect()
    assert {r.streak_len: r.n_users for r in rows} == dict(hist)


def test_decile_lift_conservation(spark, sf_dir):
    rows = sorted(
        QUERIES["q196_decile_lift"](spark, sf_dir).collect(),
        key=lambda r: r.decile,
    )
    ev = table(spark, sf_dir, "events")
    n_total = ev.count()
    pos_total = ev.where(F.col("event_type") == "purchase").count()
    assert [r.decile for r in rows] == list(range(1, 11))
    assert sum(r.n for r in rows) == n_total
    assert sum(r.n_pos for r in rows) == pos_total
    captures = [r.capture for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(captures, captures[1:]))
    assert abs(captures[-1] - 1.0) < 1e-9
    # rank-decile sizes differ by at most 1 from n/10
    import math

    for r in rows:
        assert abs(r.n - n_total / 10) <= math.ceil(n_total / 10) - n_total // 10 + 1


def test_attribution_conserves_revenue(spark, sf_dir):
    rows = QUERIES["q197_last_touch_attribution"](spark, sf_dir).collect()
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    n_purchases = ev.count()
    total = ev.agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
    ).first()[0]
    assert sum(r.n_purchases for r in rows) == n_purchases
    assert abs(sum(r.revenue for r in rows) - total) < 1e-4
    assert all(r.channel in {"click", "view", "signup", "error", "none"} for r in rows)


def test_hierarchy_rollup_conserves_revenue(spark, sf_dir):
    rows = QUERIES["q198_hierarchy_rollup"](spark, sf_dir).collect()
    by_node = {r.node: r for r in rows}
    leaves = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("rev")
        )
        .collect()
    )
    # every supplier's revenue lands in each of its ancestors' subtotals
    for leaf in leaves:
        node = leaf.l_suppkey
        while True:
            assert node in by_node
            assert by_node[node].subtree_revenue >= leaf.rev - 1e-6
            if node == 0:
                break
            node //= 10
    # root node 0 carries the grand total over all suppliers
    total = sum(leaf.rev for leaf in leaves)
    assert abs(by_node[0].subtree_revenue - total) < 1e-4
    assert by_node[0].n_members == len(leaves)


def test_calibration_bins_mass_and_bounds(spark, sf_dir):
    rows = sorted(
        QUERIES["q199_calibration_bins"](spark, sf_dir).collect(),
        key=lambda r: r.bin,
    )
    n_total = table(spark, sf_dir, "events").count()
    assert sum(r.n for r in rows) == n_total
    for r in rows:
        assert 0 <= r.bin <= 9
        lo, hi = r.bin / 10, (r.bin + 1) / 10 if r.bin < 9 else 1.0 + 1e-9
        assert lo - 1e-6 <= r.mean_pred <= hi + 1e-6
        assert 0.0 <= r.obs_rate <= 1.0
        assert 0.0 <= r.brier <= 1.0 + 1e-9


def test_ols_matches_numpy(spark, sf_dir):
    import numpy as np

    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_quantity", "l_discount", "l_extendedprice")
        .collect()
    )
    X = np.array([[1.0, r.l_quantity, r.l_discount] for r in li])
    y = np.array([r.l_extendedprice for r in li])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    row = QUERIES["q200_ols_two_feature"](spark, sf_dir).first()
    assert row.n == len(li)
    assert abs(row.beta0 - beta[0]) < 1e-3
    assert abs(row.beta1 - beta[1]) < 1e-4
    assert abs(row.beta2 - beta[2]) < 1e-3


def test_nation_trade_cross_border_only(spark, sf_dir):
    rows = QUERIES["q201_nation_trade"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.supp_nation != r.cust_nation
        assert r.ship_year in (1996, 1997)
        assert r.n_items > 0 and r.revenue > 0


def test_market_share_bounds_and_total(spark, sf_dir):
    rows = QUERIES["q202_market_share"](spark, sf_dir).collect()
    assert all(0.0 <= r.nation0_share <= 1.0 for r in rows)
    total = sum(r.total_revenue for r in rows)
    expect = (
        table(spark, sf_dir, "lineitem")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ).cast("double")
        )
        .first()[0]
    )
    assert abs(total - expect) < 1e-3


def test_info_gain_nonnegative(spark, sf_dir):
    row = QUERIES["q204_info_gain"](spark, sf_dir).first()
    assert 0.0 <= row.h_y <= 1.0
    assert 0.0 <= row.h_y_given_x <= 1.0
    assert row.info_gain >= -1e-6
    assert abs((row.h_y - row.h_y_given_x) - row.info_gain) < 2e-6


def test_rolling_median_matches_python(spark, sf_dir):
    rows = QUERIES["q205_rolling_median"](spark, sf_dir).collect()
    series = defaultdict(list)
    for r in rows:
        series[r.event_type].append((r.d, r.v, r.med7))
    for pts in series.values():
        pts.sort()
        vals = [v for _, v, _ in pts]
        for i, (_, _, med) in enumerate(pts):
            win = sorted(vals[max(0, i - 6) : i + 1])
            n = len(win)
            if n % 2:
                expect = float(win[n // 2])
            else:
                a, b = win[n // 2 - 1], win[n // 2]
                expect = a + (b - a) * 0.5
            assert abs(med - expect) < 1e-9


def test_khop_frontier_sane(spark, sf_dir):
    rows = {r.hop: r.n_reached for r in QUERIES[
        "q206_khop_reachability"
    ](spark, sf_dir).collect()}
    n_parts = table(spark, sf_dir, "part").count()
    assert set(rows) == {1, 2}
    if rows[1] == 0:
        import pytest

        pytest.skip("fixture graph has an empty 1-hop frontier")
    assert rows[1] + rows[2] <= n_parts - 1


def test_table_profile_key_columns(spark, sf_dir):
    rows = {r.col: r for r in QUERIES["q207_table_profile"](
        spark, sf_dir
    ).collect()}
    n_orders = table(spark, sf_dir, "orders").count()
    assert rows["o_orderkey"].n_nulls == 0
    assert rows["o_orderkey"].n_distinct == n_orders
    assert int(rows["o_orderkey"].min_val) <= int(rows["o_orderkey"].max_val)
    assert rows["o_orderstatus"].n_distinct <= 3


def test_topn_other_conserves_orders(spark, sf_dir):
    rows = QUERIES["q208_topn_with_other"](spark, sf_dir).collect()
    n_orders = table(spark, sf_dir, "orders").count()
    assert sum(r.n_orders for r in rows) == n_orders
    by_seg = defaultdict(list)
    for r in rows:
        by_seg[r.segment].append(r.bucket)
    for seg, buckets in by_seg.items():
        named = [b for b in buckets if b != "OTHER"]
        assert len(named) <= 3
        assert len(named) == len(set(named))


def test_binary_segmentation_is_optimal(spark, sf_dir):
    row = QUERIES["q209_binary_segmentation"](spark, sf_dir).first()
    daily = sorted(
        (r.d, r.v)
        for r in table(spark, sf_dir, "events")
        .groupBy(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("d")
        )
        .agg(F.count(F.lit(1)).alias("v"))
        .collect()
    )
    vals = [v for _, v in daily]
    n = len(vals)

    def sse(xs):
        if not xs:
            return 0.0
        m = sum(xs) / len(xs)
        return sum((x - m) ** 2 for x in xs)

    best = min(
        (sse(vals[:k]) + sse(vals[k:]), daily[k - 1][0])
        for k in range(1, n)
    )
    assert row.split_epoch_day == best[1]
    assert abs(row.sse_split - best[0]) < 1e-4
    assert row.sse_reduction >= -1e-9
    assert row.n_left + row.n_right == n


def test_pareto_frontier_undominated(spark, sf_dir):
    rows = sorted(
        QUERIES["q210_pareto_frontier"](spark, sf_dir).collect(),
        key=lambda r: r.price,
    )
    pts = [
        (r.p_retailprice, r.p_size)
        for r in table(spark, sf_dir, "part")
        .select("p_retailprice", "p_size")
        .collect()
    ]
    frontier = [(r.price, r.size) for r in rows]
    # strictly increasing size along increasing price
    for a, b in zip(frontier, frontier[1:]):
        assert a[0] < b[0] and a[1] < b[1]
    # no frontier point dominated by any part
    for fp, fs in frontier:
        assert not any(
            (p <= fp and s >= fs) and (p < fp or s > fs) for p, s in pts
        )
    # every non-frontier point is dominated by some frontier point
    fset = set(frontier)
    for p, s in pts:
        if (p, s) not in fset:
            assert any(
                fp <= p and fs >= s and (fp < p or fs > s)
                for fp, fs in frontier
            )


def test_robust_means_inequality(spark, sf_dir):
    for r in QUERIES["q211_robust_means"](spark, sf_dir).collect():
        assert r.mean_harm <= r.mean_geom + 1e-6
        assert r.mean_geom <= r.mean_arith + 1e-6
        assert r.n > 0


def test_survivorship_rules(spark, sf_dir):
    rows = QUERIES["q212_survivorship"](spark, sf_dir).collect()
    import datetime as dt

    orders = table(spark, sf_dir, "orders").collect()
    groups = defaultdict(list)
    for o in orders:
        groups[(o.o_custkey, o.o_orderdate)].append(o)
    dup_groups = {k: v for k, v in groups.items() if len(v) > 1}
    assert len(rows) == len(dup_groups)
    for r in rows:
        key = (
            r.o_custkey,
            dt.datetime.fromtimestamp(
                r.order_day_ms / 1000, dt.timezone.utc
            ).replace(tzinfo=None),
        )
        g = dup_groups[key]
        assert r.n_dupes == len(g)
        assert r.golden_key == max(o.o_orderkey for o in g)
        assert r.golden_status == max(g, key=lambda o: o.o_orderkey).o_orderstatus
        assert r.golden_amount == max(o.o_totalprice for o in g)
        assert r.golden_priority == min(o.o_orderpriority for o in g)


def test_backtest_error_bounds(spark, sf_dir):
    rows = QUERIES["q213_backtest_smape"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_days > 0
        assert r.mae >= 0.0
        assert r.mape >= 0.0
        assert 0.0 <= r.smape <= 2.0 + 1e-9


def test_waterfill_budget_and_caps(spark, sf_dir):
    rows = QUERIES["q214_epoch_capped_mixture"](spark, sf_dir).collect()
    total_tokens = sum(r.lang_tokens for r in rows)
    budget = 2.5 * total_tokens
    for r in rows:
        assert r.alloc_tokens <= r.cap + 1e-6
        cap_epochs = 1 if r.lang == "en" else 4
        assert r.epochs <= cap_epochs + 1e-6
        assert abs(r.cap - cap_epochs * r.lang_tokens) < 1e-9
    allocated = sum(r.alloc_tokens for r in rows)
    capped = [r for r in rows if abs(r.alloc_tokens - r.cap) < 1e-6]
    floating = [r for r in rows if r.alloc_tokens < r.cap - 1e-6]
    if budget <= sum(r.cap for r in rows):
        # feasible budget must be spent exactly, with at least one
        # language capped and one at the water level
        assert abs(allocated - budget) < 0.01
        assert capped and floating
    else:
        # infeasible (en-heavy hostile fixtures): every language keeps
        # alloc = cap (the q214 LEFT-JOIN regression's regime)
        assert len(capped) == len(rows) and not floating


def test_waterfill_infeasible_budget_keeps_all_caps(spark, tmp_path):
    # en-heavy corpus: B = 2.5x total tokens exceeds the cap sum
    # (en caps at 1 epoch), so NO rank satisfies the water-level
    # condition and lambda is undefined. The regression this pins: the
    # level frame must still be one row (lambda_ NULL) so every
    # language keeps alloc = cap — the old inner-join construction
    # returned an EMPTY allocation table on this shape while the
    # DuckDB oracle (LEFT JOIN level ON TRUE) kept every row.
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "lang": ["en"] * 8 + ["de", "pl"],
            "text": ["alpha beta gamma delta"] * 8
            + ["ein zwei", "raz dwa"],
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = QUERIES["q214_epoch_capped_mixture"](
        spark, str(tmp_path)
    ).collect()
    # tokens: en 32, de 2, pl 2 -> B = 90 > cap sum 48 (32 + 8 + 8)
    assert {r.lang for r in rows} == {"en", "de", "pl"}
    for r in rows:
        cap_epochs = 1 if r.lang == "en" else 4
        assert abs(r.cap - cap_epochs * r.lang_tokens) < 1e-9
        assert abs(r.alloc_tokens - r.cap) < 1e-9


def test_template_prefix_recovers_plant(spark, sf_dir):
    rows = QUERIES["q215_template_prefix"](spark, sf_dir).collect()
    planted_prefix = "TEMPLATE HEADER v1: all rights re"[:32]
    hit = [r for r in rows if r.prefix == planted_prefix]
    assert len(hit) == 1
    n_expected = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 11 == 0)
        .count()
    )
    assert hit[0].n_docs == n_expected
    assert hit[0].n_sources >= 2


def test_fertility_at_least_one(spark, sf_dir):
    rows = QUERIES["q216_tokenizer_fertility"](spark, sf_dir).collect()
    assert {r.lang for r in rows} >= {"en"}
    n_degenerate = (
        table(spark, sf_dir, "documents")
        .where(
            (F.length(F.regexp_replace("text", r"\s", "")) == 0)
            | F.col("text").rlike("[^\x00-\x7f]")
        )
        .count()
    )
    for r in rows:
        assert r.chars_per_subword > 0
        if n_degenerate == 0:
            # every word has >= 1 regex-matchable char: the BPE-ish
            # splitter can only add boundaries
            assert r.subwords >= r.words
            assert r.fertility >= 1.0
        else:
            # empty/non-latin words legitimately yield 0 subwords
            assert r.fertility > 0.95


def test_curriculum_round_robin(spark, sf_dir):
    rows = sorted(
        QUERIES["q217_curriculum_interleave"](spark, sf_dir).collect(),
        key=lambda r: r.position,
    )
    assert [r.position for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) == 30
    # slot-major order: slots non-decreasing; within a slot, strata increase
    for a, b in zip(rows, rows[1:]):
        assert (a.slot, a.stratum) < (b.slot, b.stratum)
    assert len({r.doc_id for r in rows}) == 30


def test_matryoshka_recall_bounds(spark, sf_dir):
    rows = QUERIES["q218_matryoshka_recall"](spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r.n_hits <= 5
        assert abs(r.recall - r.n_hits / 5) < 1e-9


def test_fisher_dims_ranked(spark, sf_dir):
    rows = sorted(
        QUERIES["q219_fisher_dims"](spark, sf_dir).collect(),
        key=lambda r: -r.fisher,
    )
    assert len(rows) == 10
    assert all(r.fisher >= 0 for r in rows)
    assert all(1 <= r.dim <= 64 for r in rows)
    assert all(r.n_classes == rows[0].n_classes for r in rows)
    scores = [r.fisher for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_cuped_reduces_variance(spark, sf_dir):
    rows = QUERIES["q220_cuped"](spark, sf_dir).collect()
    assert {r.variant for r in rows} == {0, 1}
    for r in rows:
        assert r.n_users > 1
        assert r.var_y > 0
        # theta is the global OLS minimizer, so adjusted variance can
        # exceed the raw variance per-variant only slightly
        assert r.var_y_adj <= r.var_y * 1.05


def test_did_consistency(spark, sf_dir):
    r = QUERIES["q221_diff_in_diff"](spark, sf_dir).first()
    assert r.n_events == table(spark, sf_dir, "events").count()
    assert abs(
        (r.treated_post - r.treated_pre)
        - (r.control_post - r.control_pre)
        - r.did_estimate
    ) < 5e-6
    for v in (r.treated_pre, r.treated_post, r.control_pre, r.control_post):
        assert v > 0


def test_poisson_bootstrap_ci_brackets_estimate(spark, sf_dir):
    r = QUERIES["q222_poisson_bootstrap"](spark, sf_dir).first()
    assert r.n_reps == 20
    assert r.ci_lo < r.ci_hi
    assert r.ci_lo <= r.estimate <= r.ci_hi
    assert r.n_users == (
        table(spark, sf_dir, "events").select("user_id").distinct().count()
    )


def test_cohort_ltv_monotone_and_conserved(spark, sf_dir):
    rows = QUERIES["q223_cohort_ltv"](spark, sf_dir).collect()
    series = defaultdict(list)
    for r in rows:
        series[r.cohort_wk].append((r.offset_wk, r.cum_revenue_cents))
    for pts in series.values():
        pts.sort()
        assert all(a[1] <= b[1] for a, b in zip(pts, pts[1:]))
        assert all(c >= 0 for _, c in pts)
    total = sum(max(c for _, c in pts) for pts in series.values())
    expect = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(F.round(F.col("value") * 100, 0).cast("long").alias("c"))
        .agg(F.sum("c"))
        .first()[0]
    )
    assert total == expect


def test_negative_sampling_shape(spark, sf_dir):
    rows = QUERIES["q224_negative_sampling"](spark, sf_dir).collect()
    by_q = defaultdict(lambda: {"pos": set(), "neg": set()})
    for r in rows:
        by_q[r.query_id][r.label].add(r.cand_id)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for qid, d in by_q.items():
        assert len(d["pos"]) == 3
        assert len(d["neg"]) == 5
        assert not d["pos"] & d["neg"]
        assert qid not in d["pos"] | d["neg"]


def test_seasonal_decompose_reconstructs(spark, sf_dir):
    rows = QUERIES["q225_seasonal_decompose"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        # v == trend + seasonal + residual up to the rounding grid
        assert abs(r.v - (r.trend + r.seasonal + r.residual)) < 5e-6
    # seasonal means over the interior days sum to ~0 per construction
    by_dow = defaultdict(list)
    for r in rows:
        by_dow[r.d % 7].append(r.residual)
    for res in by_dow.values():
        assert abs(sum(res)) < 1e-3 * max(1, len(res))


def test_burst_detection_recovers_plant(spark, sf_dir):
    rows = QUERIES["q226_burst_detection"](spark, sf_dir).collect()
    planted = [r for r in rows if r.start_h <= 473826 <= r.end_h]
    # the planted 10x spike must be flagged for at least one type
    # (sparse fixtures may have types with no event in that hour);
    # a single-hour planted episode's peak is the scaled 10x count
    if not planted:
        n_in_hour = (
            table(spark, sf_dir, "events")
            .where(
                (F.unix_seconds(F.date_trunc("hour", "ts")) / 3600)
                .cast("long")
                == 473826
            )
            .count()
        )
        if n_in_hour == 0:
            import pytest

            pytest.skip("no event lands in the plantable hour 473826")
    assert planted
    for r in planted:
        if r.start_h == r.end_h == 473826:
            assert r.peak_v % 10 == 0
    for r in rows:
        assert r.start_h <= r.end_h
        assert r.n_hours == r.end_h - r.start_h + 1
        assert r.peak_v > 0


def test_mann_kendall_matches_python(spark, sf_dir):
    daily = sorted(
        (r.d, r.v)
        for r in table(spark, sf_dir, "events")
        .groupBy(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("d")
        )
        .agg(F.count(F.lit(1)).alias("v"))
        .collect()
    )
    vals = [v for _, v in daily]
    s = sum(
        (1 if vals[j] > vals[i] else -1 if vals[j] < vals[i] else 0)
        for i in range(len(vals))
        for j in range(i + 1, len(vals))
    )
    row = QUERIES["q227_mann_kendall"](spark, sf_dir).first()
    assert row.n == len(vals)
    assert row.s_stat == s
    assert row.var_s > 0
    if s > 0:
        assert row.direction == "increasing" and row.z > 0
    elif s < 0:
        assert row.direction == "decreasing" and row.z < 0


def test_runs_test_bounds(spark, sf_dir):
    r = QUERIES["q228_runs_test"](spark, sf_dir).first()
    assert 1 <= r.r <= r.n1 + r.n2
    assert r.r <= 2 * min(r.n1, r.n2) + 1
    assert r.expected_r > 1


def test_dedup_pr_harness_full_recall(spark, sf_dir):
    r = QUERIES["q229_dedup_pr_harness"](spark, sf_dir).first()
    assert r.n_planted > 0
    # ~0.7-Jaccard plants against a 0.375-estimate band threshold:
    # the candidate stage must recover every planted pair
    assert r.n_hits == r.n_planted and r.recall == 1.0
    assert r.n_candidates >= r.n_hits
    assert 0.0 <= r.precision_proxy <= 1.0


def test_band_sweep_monotone_and_consistent(spark, sf_dir):
    rows = sorted(
        QUERIES["q230_band_threshold_sweep"](spark, sf_dir).collect(),
        key=lambda r: r.threshold,
    )
    assert [r.threshold for r in rows] == [4, 6, 8, 10]
    for a, b in zip(rows, rows[1:]):
        assert a.n_candidates >= b.n_candidates
        assert a.n_hits >= b.n_hits
        assert a.recall >= b.recall - 1e-9
    # the t=6 point must agree with q229's single-threshold harness
    t6 = rows[1]
    pr = QUERIES["q229_dedup_pr_harness"](spark, sf_dir).first()
    assert t6.n_candidates == pr.n_candidates
    assert t6.n_hits == pr.n_hits
    assert t6.recall == pr.recall


def test_srm_check_counts(spark, sf_dir):
    r = QUERIES["q231_srm_check"](spark, sf_dir).first()
    n_users = (
        table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert r.n0 + r.n1 == n_users
    assert r.chi_square >= 0
    # deterministic user_id % 2 split: flag only on a real imbalance
    assert r.srm_flag == (abs(r.n0 - r.n1) > 2 * (n_users ** 0.5))


def test_capping_sensitivity_ordering(spark, sf_dir):
    r = QUERIES["q232_capping_sensitivity"](spark, sf_dir).first()
    assert r.mean_cap_p90 <= r.mean_cap_p95 + 1e-9
    assert r.mean_cap_p95 <= r.mean_cap_p99 + 1e-9
    assert r.mean_cap_p99 <= r.mean_raw + 1e-9
    assert r.n == table(spark, sf_dir, "events").count()


def test_readability_bounds(spark, sf_dir):
    rows = QUERIES["q233_readability_lix"](spark, sf_dir).collect()
    n_docs = (
        table(spark, sf_dir, "documents")
        .where(F.length(F.regexp_replace("text", r"\s", "")) > 0)
        .count()
    )
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert r.long_words <= r.words
        # LIX >= 1 (at least words/sentences >= ~1) and bounded above
        # by words/1 + 100
        assert 0.0 < r.mean_lix < r.words + 100.0
        assert 0.0 <= r.hard_share <= 1.0


def test_code_screen_catches_plants(spark, sf_dir):
    rows = QUERIES["q234_code_screen"](spark, sf_dir).collect()
    n_planted = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 13 == 0)
        .count()
    )
    assert sum(r.n_planted_caught for r in rows) == n_planted
    # organic prose should be overwhelmingly clean
    organic_flags = sum(r.n_code - r.n_planted_caught for r in rows)
    total_docs = sum(r.n_docs for r in rows) - n_planted
    assert organic_flags / total_docs < 0.05


def test_dp_noise_bounded_and_centered(spark, sf_dir):
    rows = QUERIES["q235_dp_noisy_counts"](spark, sf_dir).collect()
    for r in rows:
        # Laplace(b=1) noise: |noise| beyond 15 has probability ~3e-7
        assert abs(r.noisy_count - r.true_count) < 15.0


def test_k_anonymity_consistency(spark, sf_dir):
    r = QUERIES["q236_k_anonymity"](spark, sf_dir).first()
    assert r.n_below_k <= r.n_classes
    assert r.rows_at_risk <= r.n_below_k * 4
    assert 0 <= r.risk_share <= 1
    assert r.min_class >= 1


def test_uplift_deciles_conservation(spark, sf_dir):
    rows = sorted(
        QUERIES["q237_uplift_deciles"](spark, sf_dir).collect(),
        key=lambda r: r.decile,
    )
    n_users = (
        table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert sum(r.n_t + r.n_c for r in rows) == n_users
    for r in rows:
        assert r.c_t <= r.n_t and r.c_c <= r.n_c
        if r.uplift is not None:
            assert -1.0 <= r.uplift <= 1.0


def test_watermark_lateness_quantile_order(spark, sf_dir):
    r = QUERIES["q238_watermark_lateness"](spark, sf_dir).first()
    assert r.n_events == table(spark, sf_dir, "events").count()
    assert 0 <= r.n_late <= r.n_events
    assert 0 <= r.p50_ms <= r.p95_ms <= r.p99_ms <= r.max_ms
    assert 0.0 <= r.dropped_at_1m <= 1.0


def test_compaction_plan_conserves_bytes(spark, sf_dir):
    rows = QUERIES["q239_compaction_plan"](spark, sf_dir).collect()
    expect = {
        r.source: r.total
        for r in table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(F.length("text")).alias("total"))
        .collect()
    }
    assert {r.source: r.total_bytes for r in rows} == expect
    for r in rows:
        assert r.n_output_files <= r.n_input_files
        assert r.fill_ratio > 0
        # a bin overshoots the 16 KiB target by at most one file
        assert r.max_bin_bytes <= 2 * 16384 or r.n_output_files == 1

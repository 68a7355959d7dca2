"""Round-11 tests: auto-dispatch of the rank-window family
(mann_whitney_u / bh_fdr / auc / spearman_corr) between the cheap
window form and the distributed groups×buckets rank path
(VERDICT r10 item 2), plus this round's additions.
"""
import pytest

from pyspark.sql import functions as F

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events(spark):
    # parquet-backed so Catalyst has a REAL size estimate (the
    # dispatch input); ~6k rows at sf0.001
    return spark.read.parquet(f"{SF_SMOKE}/events.parquet")


# ---------------------------------------------------------------------------
# dispatch: default stays on the window form at test scale
# ---------------------------------------------------------------------------

class TestRankPathDispatchWindowDirection:
    def test_small_input_never_routes_distributed(self, spark, events,
                                                  rank_paths):
        from pandas_ai_spark.functions import classify, stats

        stats.mann_whitney_u(events, "value", "event_type",
                             "view", "click").collect()
        stats.spearman_corr(events, "value", "user_id").collect()
        hyp = events.groupBy("event_type").agg(
            (F.rand(7)).alias("p"))  # tiny post-agg hypothesis grain
        stats.bh_fdr(hyp, "p", tiebreak_cols=["event_type"]).collect()
        classify.auc(events, "value", "event_type = 'click'").collect()
        # sf0.001 is far below RANK_WINDOW_MAX_BYTES
        assert rank_paths == [("mann_whitney_u", False),
                              ("spearman_corr", False),
                              ("bh_fdr", False),
                              ("mann_whitney_u", False)]

    def test_explicit_false_wins_over_low_threshold(self, spark, events,
                                                    monkeypatch,
                                                    rank_paths):
        from pandas_ai_spark.functions import stats

        monkeypatch.setattr(stats, "RANK_WINDOW_MAX_BYTES", 1)
        stats.mann_whitney_u(events, "value", "event_type",
                             "view", "click",
                             distributed=False).collect()
        assert rank_paths == [("mann_whitney_u", False)]


# ---------------------------------------------------------------------------
# dispatch: lowered threshold routes to the distributed path — and the
# outputs are identical either way (the q182/q183/q184/q180 contract)
# ---------------------------------------------------------------------------

class TestRankPathDispatchDistributedDirection:
    def test_mann_whitney_routes_and_matches(self, spark, events,
                                             monkeypatch, rank_paths):
        from pandas_ai_spark.functions import stats

        window = stats.mann_whitney_u(
            events, "value", "event_type", "view", "click",
            distributed=False).collect()
        monkeypatch.setattr(stats, "RANK_WINDOW_MAX_BYTES", 1)
        routed = stats.mann_whitney_u(
            events, "value", "event_type", "view", "click").collect()
        assert rank_paths == [("mann_whitney_u", False),
                              ("mann_whitney_u", True)]
        assert [tuple(r) for r in routed] == [tuple(r) for r in window]

    def test_grouped_mann_whitney_routes_by_per_group_share(
            self, spark, events, monkeypatch, rank_paths):
        # few groups (user_id % 3) -> per-group share stays over a
        # 1-byte threshold -> distributed; the group-count HLL pass
        # runs only because size > threshold
        from pandas_ai_spark.functions import stats

        grouped = events.withColumn("grp", F.pmod("user_id", F.lit(3)))
        monkeypatch.setattr(stats, "RANK_WINDOW_MAX_BYTES", 1)
        out = stats.mann_whitney_u(
            grouped, "value", "event_type", "view", "click",
            by=["grp"]).collect()
        assert rank_paths == [("mann_whitney_u", True)]
        assert len(out) > 0

    def test_spearman_routes_and_matches(self, spark, events,
                                         monkeypatch, rank_paths):
        from pandas_ai_spark.functions import stats

        window = stats.spearman_corr(
            events, "value", "user_id", distributed=False).collect()
        monkeypatch.setattr(stats, "RANK_WINDOW_MAX_BYTES", 1)
        routed = stats.spearman_corr(events, "value",
                                     "user_id").collect()
        assert rank_paths == [("spearman_corr", False),
                              ("spearman_corr", True)]
        assert [tuple(r) for r in routed] == [tuple(r) for r in window]

    def test_bh_fdr_routes_and_matches(self, spark, events,
                                       monkeypatch, rank_paths):
        from pandas_ai_spark.functions import stats

        hyp = events.groupBy(
            "event_type",
            F.pmod("user_id", F.lit(10)).alias("seg")).agg(
            ((F.xxhash64(F.min("event_id")) % 1000 + 1000) % 1000
             / 1000.0).alias("p"))
        window = sorted(
            tuple(r) for r in stats.bh_fdr(
                hyp, "p", tiebreak_cols=["event_type", "seg"],
                distributed=False).collect())
        monkeypatch.setattr(stats, "RANK_WINDOW_MAX_BYTES", 1)
        routed = sorted(
            tuple(r) for r in stats.bh_fdr(
                hyp, "p",
                tiebreak_cols=["event_type", "seg"]).collect())
        assert rank_paths == [("bh_fdr", False), ("bh_fdr", True)]
        assert routed == window

    def test_auc_inherits_dispatch(self, spark, events, monkeypatch,
                                   rank_paths):
        from pandas_ai_spark.functions import classify, stats

        window = classify.auc(events, "value", "event_type = 'click'",
                              distributed=False).collect()
        monkeypatch.setattr(stats, "RANK_WINDOW_MAX_BYTES", 1)
        routed = classify.auc(events, "value",
                              "event_type = 'click'").collect()
        assert rank_paths == [("mann_whitney_u", False),
                              ("mann_whitney_u", True)]
        assert [tuple(r) for r in routed] == [tuple(r) for r in window]


# ---------------------------------------------------------------------------
# r11 additions: ks_test(distributed=True) / wasserstein_1d /
# kendall_tau_b
# ---------------------------------------------------------------------------

class TestKsTestDistributed:
    def test_matches_window_form_with_ties(self, spark):
        from pandas_ai_spark.functions.stats import ks_test

        rows = [("g1", float(v % 7), "a" if i % 3 else "b")
                for i, v in enumerate(range(200))] + \
               [("g2", float(v % 4), "a" if i % 2 else "b")
                for i, v in enumerate(range(120))] + \
               [("g3", 1.0, "a")]  # one-sample group -> NULL d_stat
        df = spark.createDataFrame(rows, "g string, v double, s string")
        w = sorted(tuple(r) for r in ks_test(
            df, "g", "v", "s", "a", "b", distributed=False).collect())
        d = sorted(tuple(r) for r in ks_test(
            df, "g", "v", "s", "a", "b", distributed=True,
            buckets=5).collect())
        assert w == d

    def test_events_parity(self, spark, events):
        from pandas_ai_spark.functions.stats import ks_test
        from pyspark.sql import functions as F

        ev = events.withColumn(
            "wk", F.when(F.dayofweek("ts").isin(1, 7), "we")
                   .otherwise("wd"))
        w = sorted(tuple(r) for r in ks_test(
            ev, "event_type", "value", "wk", "we", "wd",
            distributed=False).collect())
        d = sorted(tuple(r) for r in ks_test(
            ev, "event_type", "value", "wk", "we", "wd",
            distributed=True, buckets=64).collect())
        assert w == d

    def test_dispatch_routes(self, spark, events, monkeypatch,
                             rank_paths):
        from pandas_ai_spark.functions import stats

        monkeypatch.setattr(stats, "RANK_WINDOW_MAX_BYTES", 1)
        ev = events.withColumn(
            "wk", F.when(F.dayofweek("ts").isin(1, 7), "we")
                   .otherwise("wd"))
        stats.ks_test(ev, "event_type", "value", "wk",
                      "we", "wd").collect()
        assert rank_paths == [("ks_test", True)]

    def test_validation(self, spark, events):
        from pandas_ai_spark.functions.stats import ks_test

        with pytest.raises(ValueError):
            ks_test(events, "event_type", "value", "event_type", "a",
                    "b", distributed=True, buckets=1)


class TestWasserstein1d:
    def test_hand_computed(self, spark):
        # a = [0,0,1], b = [1]: F_a = 2/3 on [0,1), F_b = 0 -> W1 = 2/3
        from pandas_ai_spark.functions.stats import wasserstein_1d

        df = spark.createDataFrame(
            [("g", 0, "a"), ("g", 0, "a"), ("g", 1, "a"), ("g", 1, "b")],
            "g string, v long, s string")
        r = wasserstein_1d(df, "g", "v", "s", "a", "b").collect()[0]
        assert (r.n_a, r.n_b) == (3, 1)
        assert abs(r.w1 - 2.0 / 3.0) < 1e-12

    def test_identical_samples_zero(self, spark):
        from pandas_ai_spark.functions.stats import wasserstein_1d

        rows = [("g", float(i % 10), s) for i in range(100)
                for s in ("a", "b")]
        df = spark.createDataFrame(rows, "g string, v double, s string")
        r = wasserstein_1d(df, "g", "v", "s", "a", "b").collect()[0]
        assert r.w1 == 0.0

    def test_shift_equals_distance(self, spark):
        # shifting a distribution by c moves W1 by exactly c
        from pandas_ai_spark.functions.stats import wasserstein_1d

        rows = [("g", i % 10, "a") for i in range(100)] + \
               [("g", i % 10 + 5, "b") for i in range(100)]
        df = spark.createDataFrame(rows, "g string, v long, s string")
        r = wasserstein_1d(df, "g", "v", "s", "a", "b").collect()[0]
        assert abs(r.w1 - 5.0) < 1e-12

    def test_integral_vs_double_path_agree(self, spark):
        from pandas_ai_spark.functions.stats import wasserstein_1d
        from pyspark.sql import functions as F

        rows = [("g", float((i * 13) % 29), "a" if i % 3 else "b")
                for i in range(300)]
        df = spark.createDataFrame(rows, "g string, v double, s string")
        d = wasserstein_1d(df, "g", "v", "s", "a", "b").collect()[0]
        i = wasserstein_1d(
            df.withColumn("v", F.col("v").cast("bigint")),
            "g", "v", "s", "a", "b").collect()[0]
        assert abs(d.w1 - i.w1) < 1e-9  # values are whole numbers


def _tau_b_reference(pairs):
    """O(n^2) textbook tau-b: (C-D)/sqrt((n0-T_x)(n0-T_y))."""
    import math

    n = len(pairs)
    c = d = 0
    for i in range(n):
        for j in range(i + 1, n):
            (x1, y1), (x2, y2) = pairs[i], pairs[j]
            if x1 == x2 or y1 == y2:
                continue  # ties contribute to neither C nor D
            if (x1 < x2) == (y1 < y2):
                c += 1
            else:
                d += 1
    n0 = n * (n - 1) // 2
    # T_x counts ALL pairs tied on x; T_y all tied on y (a pair tied
    # on both counts in both) — the textbook tau-b denominator
    from collections import Counter

    cx = Counter(x for x, _ in pairs)
    cy = Counter(y for _, y in pairs)
    t_x = sum(t * (t - 1) // 2 for t in cx.values())
    t_y = sum(t * (t - 1) // 2 for t in cy.values())
    den = math.sqrt((n0 - t_x) * (n0 - t_y))
    return (c - d) / den if den > 0 else None


class TestKendallTauB:
    def test_perfect_concordance_and_discordance(self, spark):
        from pandas_ai_spark.functions.stats import kendall_tau_b

        up = [("g", i, i * 2) for i in range(20)]
        dn = [("h", i, -i) for i in range(20)]
        df = spark.createDataFrame(up + dn, "g string, x long, y long")
        got = {r.g: r.tau_b for r in kendall_tau_b(
            df, "x", "y", by=["g"]).collect()}
        assert abs(got["g"] - 1.0) < 1e-12
        assert abs(got["h"] + 1.0) < 1e-12

    def test_matches_reference_with_ties(self, spark):
        from pandas_ai_spark.functions.stats import kendall_tau_b

        import random

        rng = random.Random(42)
        pts = [(rng.randrange(6), rng.randrange(5)) for _ in range(150)]
        ref = _tau_b_reference(pts)
        df = spark.createDataFrame([("g", x, y) for x, y in pts],
                                   "g string, x long, y long")
        r = kendall_tau_b(df, "x", "y", by=["g"]).collect()[0]
        assert r.n == 150
        assert abs(r.tau_b - ref) < 1e-12

    def test_global_no_by(self, spark):
        from pandas_ai_spark.functions.stats import kendall_tau_b

        pts = [(i % 4, (i * 7) % 5) for i in range(60)]
        ref = _tau_b_reference(pts)
        df = spark.createDataFrame(pts, "x long, y long")
        r = kendall_tau_b(df, "x", "y").collect()[0]
        assert abs(r.tau_b - ref) < 1e-12

    def test_constant_column_null_tau(self, spark):
        from pandas_ai_spark.functions.stats import kendall_tau_b

        df = spark.createDataFrame([(1, i) for i in range(10)],
                                   "x long, y long")
        assert kendall_tau_b(df, "x", "y").collect()[0].tau_b is None


class TestWassersteinDistributed:
    def test_matches_window_form_integral_exact(self, spark):
        from pandas_ai_spark.functions.stats import wasserstein_1d

        rows = [("g1", (i * 13) % 29, "a" if i % 3 else "b")
                for i in range(300)] + \
               [("g2", i % 7, "a" if i % 2 else "b")
                for i in range(140)]
        df = spark.createDataFrame(rows, "g string, v long, s string")
        w = sorted(tuple(r) for r in wasserstein_1d(
            df, "g", "v", "s", "a", "b",
            distributed=False).collect())
        d = sorted(tuple(r) for r in wasserstein_1d(
            df, "g", "v", "s", "a", "b", distributed=True,
            buckets=5).collect())
        assert w == d  # exact integral arithmetic both paths

    def test_events_cents_parity(self, spark, events):
        from pandas_ai_spark.functions.stats import wasserstein_1d

        ev = events.withColumn(
            "wk", F.when(F.dayofweek("ts").isin(1, 7), "we")
                   .otherwise("wd")).withColumn(
            "vc", F.round(F.col("value") * 100).cast("bigint"))
        w = sorted(tuple(r) for r in wasserstein_1d(
            ev, "event_type", "vc", "wk", "we", "wd",
            distributed=False).collect())
        d = sorted(tuple(r) for r in wasserstein_1d(
            ev, "event_type", "vc", "wk", "we", "wd",
            distributed=True, buckets=64).collect())
        assert w == d

    def test_dispatch_routes(self, spark, events, monkeypatch,
                             rank_paths):
        from pandas_ai_spark.functions import stats

        monkeypatch.setattr(stats, "RANK_WINDOW_MAX_BYTES", 1)
        ev = events.withColumn(
            "wk", F.when(F.dayofweek("ts").isin(1, 7), "we")
                   .otherwise("wd")).withColumn(
            "vc", F.round(F.col("value") * 100).cast("bigint"))
        stats.wasserstein_1d(ev, "event_type", "vc", "wk",
                             "we", "wd").collect()
        assert rank_paths == [("wasserstein_1d", True)]

    def test_validation(self, spark, events):
        from pandas_ai_spark.functions.stats import wasserstein_1d

        with pytest.raises(ValueError):
            wasserstein_1d(events, "event_type", "value", "event_type",
                           "a", "b", distributed=True, buckets=1)

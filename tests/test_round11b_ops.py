"""Round-11 additions, second batch: Kruskal-Wallis H (window +
bucketed rank paths, auto-dispatch), and the operators added
alongside it this session."""
import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from conftest import SF_SMOKE


def _kw_reference(pairs):
    """Independent O(n²) Kruskal-Wallis for tiny inputs:
    pairs = [(level, value)]. Returns tie-corrected H (or None)."""
    vals = [v for _, v in pairs]
    n = len(vals)
    if n <= 1:
        return None

    def midrank(x):
        lt = sum(1 for o in vals if o < x)
        eq = sum(1 for o in vals if o == x)
        return lt + (eq + 1) / 2.0

    levels = sorted({g for g, _ in pairs})
    s = 0.0
    for lev in levels:
        rs = sum(midrank(v) for g, v in pairs if g == lev)
        ni = sum(1 for g, _ in pairs if g == lev)
        s += rs * rs / ni
    h = 12.0 / (n * (n + 1)) * s - 3.0 * (n + 1)
    ties = sum(t ** 3 - t for t in
               (vals.count(u) for u in set(vals)))
    corr = 1.0 - ties / (n ** 3 - n)
    if corr <= 0:
        return None
    return h / corr


class TestKruskalWallis:
    def test_matches_reference_grouped(self, spark):
        from pandas_ai_spark.functions.stats import kruskal_wallis

        rows = [("g1", "a", 1.0), ("g1", "a", 2.0), ("g1", "b", 3.0),
                ("g1", "b", 4.0), ("g1", "c", 2.0), ("g1", "c", 5.0),
                ("g2", "a", 1.0), ("g2", "b", 1.0), ("g2", "c", 1.0),
                ("g2", "a", 2.0), ("g2", "b", 7.0)]
        df = spark.createDataFrame(
            rows, "grp string, lev string, v double")
        out = {r["grp"]: r for r in kruskal_wallis(
            df, "v", "lev", by=["grp"],
            distributed=False).collect()}
        for grp in ("g1", "g2"):
            pairs = [(lv, v) for g, lv, v in rows if g == grp]
            want = _kw_reference(pairs)
            assert out[grp]["k"] == len({lv for lv, _ in pairs})
            assert out[grp]["n"] == len(pairs)
            assert out[grp]["h"] == pytest.approx(want, abs=1e-12)

    def test_global_no_by(self, spark):
        from pandas_ai_spark.functions.stats import kruskal_wallis

        rows = [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 3.0),
                ("c", 9.0)]
        df = spark.createDataFrame(rows, "lev string, v double")
        r = kruskal_wallis(df, "v", "lev", distributed=False) \
            .collect()[0]
        assert r["k"] == 3 and r["n"] == 5
        assert r["h"] == pytest.approx(_kw_reference(rows), abs=1e-12)

    def test_null_values_and_levels_dropped(self, spark):
        from pandas_ai_spark.functions.stats import kruskal_wallis

        df = spark.createDataFrame(
            [("a", 1.0), ("a", None), (None, 5.0), ("b", 2.0),
             ("b", 4.0)], "lev string, v double")
        r = kruskal_wallis(df, "v", "lev", distributed=False) \
            .collect()[0]
        assert r["n"] == 3 and r["k"] == 2

    def test_degenerate_all_tied(self, spark):
        # every value identical -> tie correction hits 0 -> h is NULL
        from pandas_ai_spark.functions.stats import kruskal_wallis

        df = spark.createDataFrame(
            [("a", 1.0), ("b", 1.0), ("b", 1.0)],
            "lev string, v double")
        r = kruskal_wallis(df, "v", "lev", distributed=False) \
            .collect()[0]
        assert r["h"] is None

    def test_distributed_equals_window_on_events(self, spark):
        from pandas_ai_spark.functions.stats import kruskal_wallis

        ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet") \
            .withColumn("grp", F.pmod("user_id", F.lit(4)))
        a = sorted(tuple(r) for r in kruskal_wallis(
            ev, "value", "event_type", by=["grp"],
            distributed=False).collect())
        b = sorted(tuple(r) for r in kruskal_wallis(
            ev, "value", "event_type", by=["grp"],
            distributed=True, buckets=8).collect())
        assert a == b  # bit-identical, not approx

    def test_auto_dispatch_routes_distributed(self, spark,
                                              monkeypatch, rank_paths):
        from pandas_ai_spark.functions import stats

        ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        window = stats.kruskal_wallis(
            ev, "value", "event_type", distributed=False).collect()
        monkeypatch.setattr(stats, "RANK_WINDOW_MAX_BYTES", 1)
        routed = stats.kruskal_wallis(ev, "value",
                                      "event_type").collect()
        assert rank_paths == [("kruskal_wallis", False),
                              ("kruskal_wallis", True)]
        assert [tuple(r) for r in routed] == \
            [tuple(r) for r in window]

    def test_auto_dispatch_stays_window_when_small(self, spark,
                                                   rank_paths):
        from pandas_ai_spark.functions import stats

        ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        stats.kruskal_wallis(ev, "value", "event_type").collect()
        assert rank_paths == [("kruskal_wallis", False)]

    def test_two_levels_consistent_with_mann_whitney(self, spark):
        # with k=2, H == z² of the (tie-corrected) Mann-Whitney —
        # the standard identity; checks both against each other
        from pandas_ai_spark.functions.stats import (
            kruskal_wallis, mann_whitney_u)

        ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet") \
            .where(F.col("event_type").isin("view", "click"))
        h = kruskal_wallis(ev, "value", "event_type",
                           distributed=False).collect()[0]["h"]
        z = mann_whitney_u(ev, "value", "event_type", "view",
                           "click").collect()[0]["z"]
        # H uses n(n+1) normalization, z² uses (n+1 - T/(n(n-1)));
        # they agree asymptotically and exactly when the tie terms
        # line up — allow small relative slack
        assert h == pytest.approx(z * z, rel=1e-6)


@given(st.lists(st.tuples(st.sampled_from("abc"),
                          st.integers(min_value=0, max_value=4)),
                min_size=3, max_size=18),
       st.integers(min_value=2, max_value=4))
@settings(max_examples=5, deadline=None)
def test_kw_distributed_equals_window_property(spark, rows, buckets):
    from pandas_ai_spark.functions.stats import kruskal_wallis

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "lev string, v double")
    a = [tuple(r) for r in
         kruskal_wallis(df, "v", "lev", distributed=False).collect()]
    b = [tuple(r) for r in
         kruskal_wallis(df, "v", "lev", distributed=True,
                        buckets=buckets).collect()]
    assert a == b


class TestCramersVMatrix:
    def test_pairs_and_single_pair_consistency(self, spark):
        from pandas_ai_spark.functions.stats import (
            chi_square_independence, cramers_v_matrix)

        ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet") \
            .select("event_type",
                    F.pmod("event_id", F.lit(2)).alias("par"),
                    F.pmod("user_id", F.lit(3)).alias("bucket"))
        m = {(r.col_x, r.col_y): r for r in cramers_v_matrix(
            ev, ["event_type", "par", "bucket"]).collect()}
        assert set(m) == {("event_type", "par"),
                          ("event_type", "bucket"),
                          ("par", "bucket")}
        one = chi_square_independence(ev, "event_type",
                                      "par").collect()[0]
        got = m[("event_type", "par")]
        assert got["chi2"] == pytest.approx(one["chi2"], abs=1e-9)
        assert got["v"] == pytest.approx(one["cramers_v"], abs=1e-12)
        assert got["n"] == one["n"]

    def test_bias_correction_shrinks(self, spark):
        # corrected V <= classic V, and both in [0, 1]
        from pandas_ai_spark.functions.stats import cramers_v_matrix

        ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet") \
            .withColumn("par", F.pmod("event_id", F.lit(2)))
        for r in cramers_v_matrix(
                ev, ["event_type", "par"]).collect():
            assert 0.0 <= r["v_corrected"] <= r["v"] <= 1.0

    def test_null_rows_pairwise_complete(self, spark):
        from pandas_ai_spark.functions.stats import cramers_v_matrix

        df = spark.createDataFrame(
            [("a", "u", "p"), ("a", None, "q"), ("b", "u", None),
             ("b", "v", "p"), (None, "v", "q")],
            "c1 string, c2 string, c3 string")
        m = {(r.col_x, r.col_y): r for r in cramers_v_matrix(
            df, ["c1", "c2", "c3"]).collect()}
        # each pair drops only ITS null rows
        assert m[("c1", "c2")]["n"] == 3
        assert m[("c1", "c3")]["n"] == 3
        assert m[("c2", "c3")]["n"] == 3

    def test_perfect_association(self, spark):
        from pandas_ai_spark.functions.stats import cramers_v_matrix

        rows = [(x, x.upper()) for x in "aabbccdd"]
        df = spark.createDataFrame(rows, "c1 string, c2 string")
        r = cramers_v_matrix(df, ["c1", "c2"]).collect()[0]
        assert r["v"] == pytest.approx(1.0, abs=1e-12)

    def test_requires_two_columns(self, spark):
        from pandas_ai_spark.functions.stats import cramers_v_matrix

        with pytest.raises(ValueError):
            cramers_v_matrix(spark.range(3), ["id"])


class TestPermutationTest:
    def test_null_hypothesis_uniformish_p(self, spark):
        # identical distributions in both arms -> p should not be
        # tiny; and p is in [1/(B+1), 1]
        from pandas_ai_spark.functions.stats import permutation_test

        rows = [(i, "a" if i % 2 == 0 else "b", float(i % 7))
                for i in range(60)]
        df = spark.createDataFrame(rows, "id long, s string, v double")
        r = permutation_test(df, "v", "s", "a", "b", ["id"],
                             n_perm=40).collect()[0]
        assert r["n_a"] == 30 and r["n_b"] == 30
        assert 1.0 / 41 <= r["p_value"] <= 1.0
        assert r["p_value"] > 0.05  # no real effect

    def test_detects_huge_effect(self, spark):
        from pandas_ai_spark.functions.stats import permutation_test

        rows = [(i, "a", 100.0 + (i % 3)) for i in range(30)] + \
               [(i + 100, "b", 1.0 + (i % 3)) for i in range(30)]
        df = spark.createDataFrame(rows, "id long, s string, v double")
        r = permutation_test(df, "v", "s", "a", "b", ["id"],
                             n_perm=40).collect()[0]
        assert r["p_value"] == pytest.approx(1.0 / 41)
        assert r["diff"] == pytest.approx(99.0)

    def test_seed_changes_draws_sizes_fixed(self, spark):
        from pandas_ai_spark.functions.stats import permutation_test

        rows = [(i, "a" if i % 3 == 0 else "b", float(i % 11))
                for i in range(45)]
        df = spark.createDataFrame(rows, "id long, s string, v double")
        r1 = permutation_test(df, "v", "s", "a", "b", ["id"],
                              n_perm=30, seed="x").collect()[0]
        r2 = permutation_test(df, "v", "s", "a", "b", ["id"],
                              n_perm=30, seed="y").collect()[0]
        # arm sizes and observed diff are seed-independent
        assert (r1["n_a"], r1["n_b"], r1["diff"]) == \
            (r2["n_a"], r2["n_b"], r2["diff"])

    def test_validates_args(self, spark):
        from pandas_ai_spark.functions.stats import permutation_test

        df = spark.createDataFrame([(1, "a", 1.0)],
                                   "id long, s string, v double")
        with pytest.raises(ValueError):
            permutation_test(df, "v", "s", "a", "b", ["id"], n_perm=0)
        with pytest.raises(ValueError):
            permutation_test(df, "v", "s", "a", "b", [])


class TestEncodingAnomalies:
    def test_signature_counts(self, spark):
        from pandas_ai_spark.functions.text import encoding_anomalies

        rows = [
            (1, "clean ascii text, nothing wrong here"),
            (2, "damaged: cafÃ© and Ã¨ two marks"),
            (3, "repl � char"),
            (4, "ctrl\x00\x01 bytes\x1f but tab\tand\nnewline ok"),
            (5, None),
            (6, "smart quote gone wrong: â€™s"),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = {r["doc_id"]: r for r in encoding_anomalies(
            df, "text", keep=["doc_id"]).collect()}
        assert out[1]["repl_chars"] == 0
        assert out[1]["mojibake_marks"] == 0
        assert out[1]["ctrl_chars"] == 0
        assert out[1]["enc_suspect"] is False
        assert out[2]["mojibake_marks"] == 2
        assert out[2]["enc_suspect"] is True
        assert out[3]["repl_chars"] == 1
        assert out[3]["enc_suspect"] is True
        # tab and newline are NOT control anomalies; NUL/SOH/US are
        assert out[4]["ctrl_chars"] == 3
        assert out[4]["enc_suspect"] is True
        assert out[5]["n_chars"] is None
        assert out[5]["enc_suspect"] is None
        # the a-circumflex + euro pair counts once
        assert out[6]["mojibake_marks"] == 1

    def test_density_threshold_integer_exact(self, spark):
        from pandas_ai_spark.functions.text import encoding_anomalies

        # exactly at the default 5-per-mille boundary: 1 mark in 200
        # chars -> 1000*1 > 5*200 is FALSE (strict), 1 mark in 199 ->
        # 1000 > 995 TRUE
        at = "Ã" + "a" * 199     # 200 chars, density == 5/1000
        over = "Ã" + "a" * 198   # 199 chars, just over
        df = spark.createDataFrame(
            [(1, at), (2, over)], "doc_id int, text string")
        out = {r["doc_id"]: r["enc_suspect"] for r in
               encoding_anomalies(df, "text",
                                  keep=["doc_id"]).collect()}
        assert out[1] is False and out[2] is True


class TestMantelHaenszel:
    def test_matches_independent_computation(self, spark):
        import random

        from pandas_ai_spark.functions.stats import mantel_haenszel

        random.seed(11)
        rows = []
        for stratum in ("s1", "s2", "s3"):
            base = {"s1": 0.2, "s2": 0.5, "s3": 0.7}[stratum]
            for _ in range(200):
                e = random.random() < 0.5
                o = random.random() < base + (0.1 if e else 0.0)
                rows.append((stratum, e, o))
        df = spark.createDataFrame(rows,
                                   "st string, e boolean, o boolean")
        got = mantel_haenszel(df, "e", "o", ["st"]).collect()[0]
        from collections import defaultdict
        cell = defaultdict(lambda: [0, 0, 0, 0])
        for st, e, o in rows:
            idx = 0 if (e and o) else 1 if e else 2 if o else 3
            cell[st][idx] += 1
        num = den = s_num = s_var = 0.0
        for st in sorted(cell):
            a, b, c, d = cell[st]
            n = a + b + c + d
            num += a * d / n
            den += b * c / n
            s_num += a - (a + b) * (a + c) / n
            s_var += ((a + b) * (c + d) * (a + c) * (b + d)
                      / (n * n * (n - 1)))
        assert got["n_strata"] == 3 and got["n"] == 600
        assert got["or_mh"] == pytest.approx(num / den, abs=1e-12)
        assert got["chi2_cmh"] == pytest.approx(
            s_num * s_num / s_var, abs=1e-10)

    def test_simpsons_paradox_direction(self, spark):
        # classic setup: within every stratum the exposure HURTS
        # (OR < 1), but the collapsed table says it helps; MH must
        # report the stratified truth
        from pandas_ai_spark.functions.stats import mantel_haenszel

        rows = []
        # stratum A: mostly exposed, high base rate
        rows += [("A", True, True)] * 70 + [("A", True, False)] * 30
        rows += [("A", False, True)] * 8 + [("A", False, False)] * 2
        # stratum B: mostly unexposed, low base rate
        rows += [("B", True, True)] * 2 + [("B", True, False)] * 8
        rows += [("B", False, True)] * 30 + [("B", False, False)] * 70
        df = spark.createDataFrame(rows,
                                   "st string, e boolean, o boolean")
        got = mantel_haenszel(df, "e", "o", ["st"]).collect()[0]
        # within-stratum ORs: A: (70*2)/(30*8)=0.583, B: (2*70)/(8*30)
        # =0.583 -> pooled < 1
        assert got["or_mh"] < 1.0
        # collapsed OR: ((72)*(72))/((38)*(38)) > 1 — the paradox
        a, b = 72, 38
        assert (a * 72) / (b * 38) > 1.0

    def test_degenerate_single_row_strata(self, spark):
        from pandas_ai_spark.functions.stats import mantel_haenszel

        df = spark.createDataFrame(
            [("x", True, True), ("y", False, False)],
            "st string, e boolean, o boolean")
        r = mantel_haenszel(df, "e", "o", ["st"]).collect()[0]
        # no stratum has variance; chi2 is NULL, or_mh NULL (bcn=0)
        assert r["chi2_cmh"] is None and r["or_mh"] is None

    def test_requires_strata(self, spark):
        from pandas_ai_spark.functions.stats import mantel_haenszel

        with pytest.raises(ValueError):
            mantel_haenszel(spark.range(2), "id", "id", [])


class TestDunnTest:
    def test_pair_family_and_symmetry(self, spark):
        from pandas_ai_spark.functions.stats import dunn_test

        ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        out = dunn_test(ev, "value", "event_type").collect()
        k = ev.select("event_type").distinct().count()
        assert len(out) == k * (k - 1) // 2
        for r in out:
            assert r["lev_a"] < r["lev_b"]
            assert 0.0 <= r["p_value"] <= 1.0
            assert 0.0 <= r["p_adj"] <= 1.0
            assert r["p_adj"] >= r["p_value"] - 1e-15

    def test_z_matches_manual_two_group_case(self, spark):
        # with exactly two levels and no ties across levels, Dunn's z
        # equals the standard large-sample rank-sum z
        from pandas_ai_spark.functions.stats import dunn_test

        rows = [("a", float(v)) for v in (1, 3, 5, 7, 9, 11)] + \
               [("b", float(v)) for v in (2, 4, 6, 8, 10, 12)]
        df = spark.createDataFrame(rows, "lev string, v double")
        r = dunn_test(df, "v", "lev").collect()[0]
        # manual: midranks 1..12, mean rank a = (1+3+..+11+... )
        ranks = {v: i + 1 for i, v in enumerate(sorted(
            x for _, x in rows))}
        ra = sum(ranks[v] for g, v in rows if g == "a") / 6
        rb = sum(ranks[v] for g, v in rows if g == "b") / 6
        n = 12
        sigma2 = n * (n + 1) / 12.0
        se = (sigma2 * (1 / 6 + 1 / 6)) ** 0.5
        assert r["z"] == pytest.approx((ra - rb) / se, abs=1e-12)

    def test_detects_shifted_level(self, spark):
        from pandas_ai_spark.functions.stats import dunn_test

        rows = []
        for i in range(120):
            rows.append(("base1", float(i % 13)))
            rows.append(("base2", float((i + 5) % 13)))
            rows.append(("shifted", 50.0 + (i % 13)))
        df = spark.createDataFrame(rows, "lev string, v double")
        out = {(r["lev_a"], r["lev_b"]): r
               for r in dunn_test(df, "v", "lev").collect()}
        assert out[("base1", "base2")]["reject"] is False
        assert out[("base1", "shifted")]["reject"] is True
        assert out[("base2", "shifted")]["reject"] is True


class TestTheilSen:
    def test_exact_line_with_outliers(self, spark):
        from pandas_ai_spark.functions.stats import theil_sen

        rows = []
        for g, mult in (("g1", 3.0), ("g2", -2.0)):
            rows += [(g, x, mult * x + 2.0) for x in range(1, 26)]
            rows += [(g, x, 999.0) for x in (5, 10, 15, 20, 25)]
        df = spark.createDataFrame(rows, "g string, x int, y double")
        out = {r["g"]: r for r in
               theil_sen(df, "x", "y", by=["g"]).collect()}
        assert out["g1"]["slope"] == pytest.approx(3.0, abs=1e-12)
        assert out["g2"]["slope"] == pytest.approx(-2.0, abs=1e-12)
        assert out["g1"]["intercept"] == pytest.approx(2.0, abs=1e-9)
        assert out["g1"]["n"] == 30

    def test_weighted_cells_equal_expanded_rows(self, spark):
        # duplicate rows (cell weights) must give the same estimate
        # as the expanded row set
        from pandas_ai_spark.functions.stats import theil_sen

        compact = [(1, 10.0)] * 3 + [(2, 12.0)] * 2 + [(3, 99.0),
                                                       (4, 16.0)]
        df = spark.createDataFrame(compact, "x int, y double")
        r = theil_sen(df, "x", "y").collect()[0]
        assert r["n"] == 7
        # pairwise count: only x_i < x_j pairs
        assert r["n_pairs"] == 3 * 2 + 3 + 3 + 2 + 2 + 1
        # slope finite and pulled toward the 2-per-x trend, not the
        # single 99 outlier
        assert r["slope"] < 30

    def test_median_convention_lower(self, spark):
        # two pairs -> even weight: lower median = smaller slope
        from pandas_ai_spark.functions.stats import theil_sen

        df = spark.createDataFrame(
            [(0, 0.0), (1, 1.0), (2, 4.0)], "x int, y double")
        # slopes: (0,1)->1, (0,2)->2, (1,2)->3 ; median = 2 (odd)
        r = theil_sen(df, "x", "y").collect()[0]
        assert r["slope"] == pytest.approx(2.0)
        df2 = spark.createDataFrame(
            [(0, 0.0), (1, 1.0), (2, 4.0), (2, 4.0)],
            "x int, y double")
        # slopes with weights: 1 (w1), 2 (w2), 3 (w2) -> total 5,
        # cum at slope=2 is 3 -> 2*3 >= 5 -> lower median 2
        r2 = theil_sen(df2, "x", "y").collect()[0]
        assert r2["slope"] == pytest.approx(2.0)


class TestCochranArmitage:
    def test_matches_independent_computation(self, spark):
        import random

        from pandas_ai_spark.functions.stats import cochran_armitage

        random.seed(3)
        rows = [(w, random.random() < 0.1 + 0.08 * w)
                for w in (0, 1, 2, 3) for _ in range(300)]
        df = spark.createDataFrame(rows, "w int, o boolean")
        r = cochran_armitage(df, "o", "w").collect()[0]
        n = len(rows)
        m1 = sum(o for _, o in rows)
        sw = sum(w for w, _ in rows)
        sow = sum(w for w, o in rows if o)
        sw2 = sum(w * w for w, _ in rows)
        t = sow - m1 * sw / n
        v = m1 * (n - m1) / (n * (n - 1)) * (sw2 - sw * sw / n)
        assert r["z"] == pytest.approx(t / v ** 0.5, abs=1e-12)
        assert r["n"] == n and r["n_pos"] == m1 and r["k"] == 4
        assert r["z"] > 3  # real upward trend detected

    def test_no_trend_small_z(self, spark):
        from pandas_ai_spark.functions.stats import cochran_armitage

        rows = [(w, i % 5 == 0) for w in (0, 1, 2)
                for i in range(200)]
        df = spark.createDataFrame(rows, "w int, o boolean")
        r = cochran_armitage(df, "o", "w").collect()[0]
        assert abs(r["z"]) < 1e-9  # identical rate at every dose

    def test_degenerate_single_score_null_z(self, spark):
        from pandas_ai_spark.functions.stats import cochran_armitage

        df = spark.createDataFrame(
            [(1, True), (1, False), (1, True)], "w int, o boolean")
        r = cochran_armitage(df, "o", "w").collect()[0]
        assert r["z"] is None  # zero score variance


class TestBrownForsythe:
    def test_matches_independent_computation(self, spark):
        import random
        import statistics
        from collections import defaultdict

        from pandas_ai_spark.functions.stats import brown_forsythe

        random.seed(5)
        rows = []
        for g, sd in (("a", 1.0), ("b", 1.0), ("c", 4.0)):
            rows += [(g, round(random.gauss(10, sd), 2))
                     for _ in range(120)]
        df = spark.createDataFrame(rows, "g string, v double")
        r = brown_forsythe(df, "v", "g").collect()[0]
        vals = defaultdict(list)
        for g, v in rows:
            vals[g].append(round(v * 100))
        z = {g: [abs(x - statistics.median(vs)) for x in vs]
             for g, vs in vals.items()}
        allz = [x for zs in z.values() for x in zs]
        n, k = len(allz), len(z)
        gm = sum(allz) / n
        between = sum(len(zs) * ((sum(zs) / len(zs)) - gm) ** 2
                      for zs in z.values())
        within = sum((x - sum(zs) / len(zs)) ** 2
                     for zs in z.values() for x in zs)
        want = ((n - k) / (k - 1)) * between / within
        assert r["f"] == pytest.approx(want, rel=1e-10)
        assert r["f"] > 10  # heterogeneous spread detected

    def test_equal_spread_small_f(self, spark):
        from pandas_ai_spark.functions.stats import brown_forsythe

        rows = [(g, float(v % 7)) for g in ("a", "b")
                for v in range(140)]
        df = spark.createDataFrame(rows, "g string, v double")
        r = brown_forsythe(df, "v", "g").collect()[0]
        assert abs(r["f"]) < 1e-9  # identical distributions

    def test_degenerate_constant_values_null_f(self, spark):
        from pandas_ai_spark.functions.stats import brown_forsythe

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 1.0), ("b", 1.0), ("b", 1.0)],
            "g string, v double")
        r = brown_forsythe(df, "v", "g").collect()[0]
        assert r["f"] is None  # zero within-group deviation


class TestDunnDispatch:
    def test_distributed_equals_window(self, spark):
        from pandas_ai_spark.functions.stats import dunn_test

        ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet") \
            .withColumn("grp", F.pmod("user_id", F.lit(3)))
        a = sorted(tuple(r) for r in dunn_test(
            ev, "value", "event_type", by=["grp"],
            distributed=False).collect())
        b = sorted(tuple(r) for r in dunn_test(
            ev, "value", "event_type", by=["grp"],
            distributed=True).collect())
        assert a == b  # bit-identical

    def test_auto_dispatch_routes(self, spark, monkeypatch,
                                  rank_paths):
        from pandas_ai_spark.functions import stats

        ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        window = sorted(tuple(r) for r in stats.dunn_test(
            ev, "value", "event_type", distributed=False).collect())
        monkeypatch.setattr(stats, "RANK_WINDOW_MAX_BYTES", 1)
        routed = sorted(tuple(r) for r in stats.dunn_test(
            ev, "value", "event_type").collect())
        # the pair family's BH step is pinned to the window form
        assert rank_paths == [("dunn_test", False), ("bh_fdr", False),
                              ("dunn_test", True), ("bh_fdr", False)]
        assert routed == window


class TestCliffsDelta:
    def test_matches_bruteforce(self, spark):
        from pandas_ai_spark.functions.stats import cliffs_delta

        xa = [1.0, 2.0, 2.0, 3.0, 5.0, 7.0]
        xb = [2.0, 4.0, 4.0, 6.0, 6.0, 8.0]
        rows = [("a", v) for v in xa] + [("b", v) for v in xb]
        df = spark.createDataFrame(rows, "s string, v double")
        r = cliffs_delta(df, "v", "s", "a", "b").collect()[0]
        gt = sum(1 for x in xa for y in xb if x > y)
        lt = sum(1 for x in xa for y in xb if x < y)
        want = (gt - lt) / (len(xa) * len(xb))
        assert r["delta"] == pytest.approx(want, abs=1e-15)
        assert r["n_a"] == 6 and r["n_b"] == 6

    def test_extremes(self, spark):
        from pandas_ai_spark.functions.stats import cliffs_delta

        rows = [("a", float(v)) for v in (10, 11, 12)] + \
               [("b", float(v)) for v in (1, 2, 3)]
        df = spark.createDataFrame(rows, "s string, v double")
        assert cliffs_delta(df, "v", "s", "a", "b") \
            .collect()[0]["delta"] == pytest.approx(1.0)
        assert cliffs_delta(df, "v", "s", "b", "a") \
            .collect()[0]["delta"] == pytest.approx(-1.0)

    def test_identical_distributions_zero(self, spark):
        from pandas_ai_spark.functions.stats import cliffs_delta

        rows = [(s, float(v % 5)) for s in "ab" for v in range(50)]
        df = spark.createDataFrame(rows, "s string, v double")
        assert cliffs_delta(df, "v", "s", "a", "b") \
            .collect()[0]["delta"] == pytest.approx(0.0)


class TestHodgesLehmann:
    def test_matches_bruteforce_lower_median(self, spark):
        from pandas_ai_spark.functions.stats import hodges_lehmann

        xa = [1, 2, 2, 3, 5, 7]
        xb = [2, 4, 4, 6, 6, 8]
        rows = [("a", v) for v in xa] + [("b", v) for v in xb]
        df = spark.createDataFrame(rows, "s string, v long")
        r = hodges_lehmann(df, "v", "s", "a", "b").collect()[0]
        diffs = sorted(x - y for x in xa for y in xb)
        want = diffs[(len(diffs) + 1) // 2 - 1]
        assert r["shift"] == want

    def test_pure_shift_recovered(self, spark):
        from pandas_ai_spark.functions.stats import hodges_lehmann

        base = [v % 9 for v in range(90)]
        rows = [("a", v + 7) for v in base] + [("b", v) for v in base]
        df = spark.createDataFrame(rows, "s string, v long")
        r = hodges_lehmann(df, "v", "s", "a", "b").collect()[0]
        assert r["shift"] == 7  # exact shift recovered

    def test_grouped(self, spark):
        from pandas_ai_spark.functions.stats import hodges_lehmann

        rows = [("g1", "a", v + 3) for v in range(20)] + \
               [("g1", "b", v) for v in range(20)] + \
               [("g2", "a", v - 5) for v in range(20)] + \
               [("g2", "b", v) for v in range(20)]
        df = spark.createDataFrame(rows, "g string, s string, v long")
        out = {r["g"]: r["shift"] for r in hodges_lehmann(
            df, "v", "s", "a", "b", by=["g"]).collect()}
        assert out["g1"] == 3 and out["g2"] == -5


class TestKCore:
    def _sym(self, spark, und):
        edges = und + [(b, a) for a, b in und]
        return spark.createDataFrame(edges, "src long, dst long")

    def test_triangle_with_tail(self, spark):
        from pandas_ai_spark.functions.graph import kcore

        df = self._sym(spark, [(1, 2), (2, 3), (1, 3), (3, 4),
                               (4, 5)])
        out = {r["node"]: r["degree"]
               for r in kcore(df, 2, rounds=5).collect()}
        assert out == {1: 2, 2: 2, 3: 2}

    def test_cascading_peel(self, spark):
        # a chain peels completely under k=2, one shell per round
        from pandas_ai_spark.functions.graph import kcore

        df = self._sym(spark, [(i, i + 1) for i in range(8)])
        assert kcore(df, 2, rounds=8).count() == 0

    def test_matches_python_reference(self, spark):
        import random
        from collections import defaultdict

        from pandas_ai_spark.functions.graph import kcore

        random.seed(9)
        und = list({(min(a, b), max(a, b)) for _ in range(250)
                    for a, b in [(random.randrange(35),
                                  random.randrange(35))] if a != b})
        df = self._sym(spark, und)
        got = {r["node"]: r["degree"]
               for r in kcore(df, 5, rounds=10).collect()}
        adj = defaultdict(set)
        for a, b in und:
            adj[a].add(b)
            adj[b].add(a)
        alive = set(adj)
        while True:
            bad = {n for n in alive if len(adj[n] & alive) < 5}
            if not bad:
                break
            alive -= bad
        want = {n: len(adj[n] & alive) for n in alive}
        assert got == want

    def test_fixpoint_detectable(self, spark):
        # once converged, more rounds change nothing
        from pandas_ai_spark.functions.graph import kcore

        df = self._sym(spark, [(1, 2), (2, 3), (1, 3), (3, 4),
                               (4, 5)])
        a = sorted(tuple(r) for r in kcore(df, 2, rounds=3).collect())
        b = sorted(tuple(r) for r in kcore(df, 2, rounds=6).collect())
        assert a == b

    def test_validates_args(self, spark):
        from pandas_ai_spark.functions.graph import kcore

        df = self._sym(spark, [(1, 2)])
        with pytest.raises(ValueError):
            kcore(df, 0)
        with pytest.raises(ValueError):
            kcore(df, 2, rounds=0)


class TestFriedman:
    def test_matches_independent_computation(self, spark):
        import random
        from collections import defaultdict

        from pandas_ai_spark.functions.stats import friedman_test

        random.seed(13)
        rows = []
        for b in range(25):
            base = random.randrange(100)
            for trt in "abcd":
                shift = 5 if trt == "c" else 0
                rows.append((f"b{b:02d}", trt,
                             float(base + random.randrange(10)
                                   + shift)))
        df = spark.createDataFrame(rows,
                                   "blk string, trt string, v double")
        r = friedman_test(df, "blk", "trt", "v").collect()[0]
        blocks = defaultdict(dict)
        for b, t, v in rows:
            blocks[b][t] = v

        def midranks(vals):
            return [sum(1 for o in vals if o < x)
                    + (sum(1 for o in vals if o == x) + 1) / 2
                    for x in vals]

        k, n = 4, len(blocks)
        R = defaultdict(float)
        T = 0
        for cells in blocks.values():
            trts = sorted(cells)
            vals = [cells[t] for t in trts]
            for t, rk in zip(trts, midranks(vals)):
                R[t] += rk
            cnt = defaultdict(int)
            for v in vals:
                cnt[v] += 1
            T += sum(c ** 3 - c for c in cnt.values())
        S = sum(R[t] ** 2 for t in R)
        q_raw = 12.0 / (n * k * (k + 1)) * S - 3 * n * (k + 1)
        want = q_raw / (1 - T / (n * k * (k * k - 1)))
        assert r["k"] == 4 and r["n_blocks"] == n
        assert r["q"] == pytest.approx(want, abs=1e-9)

    def test_incomplete_blocks_dropped(self, spark):
        from pandas_ai_spark.functions.stats import friedman_test

        rows = [("b1", "a", 1.0), ("b1", "b", 2.0),
                ("b2", "a", 3.0), ("b2", "b", 1.0),
                ("b3", "a", 5.0)]  # b3 misses treatment b
        df = spark.createDataFrame(rows,
                                   "blk string, trt string, v double")
        r = friedman_test(df, "blk", "trt", "v").collect()[0]
        assert r["n_blocks"] == 2 and r["k"] == 2

    def test_consistent_ordering_detected(self, spark):
        # treatment b always above a: maximal q for k=2
        from pandas_ai_spark.functions.stats import friedman_test

        rows = []
        for b in range(20):
            rows.append((f"b{b}", "a", float(b)))
            rows.append((f"b{b}", "b", float(b) + 0.5))
        df = spark.createDataFrame(rows,
                                   "blk string, trt string, v double")
        r = friedman_test(df, "blk", "trt", "v").collect()[0]
        assert r["q"] == pytest.approx(20.0)  # n*(k-1) for perfect


class TestJonckheereTerpstra:
    def test_matches_bruteforce(self, spark):
        import random
        from collections import defaultdict

        from pandas_ai_spark.functions.stats import \
            jonckheere_terpstra

        random.seed(17)
        rows = [(d, float(random.gauss(d * 0.5, 2)))
                for d in (0, 1, 2, 3) for _ in range(50)]
        df = spark.createDataFrame(rows, "d int, v double")
        r = jonckheere_terpstra(df, "v", "d").collect()[0]
        groups = defaultdict(list)
        for d, v in rows:
            groups[d].append(v)
        ks = sorted(groups)
        jt = sum((1.0 if x < y else 0.5 if x == y else 0.0)
                 for i in range(len(ks)) for j in range(i + 1, len(ks))
                 for x in groups[ks[i]] for y in groups[ks[j]])
        n = len(rows)
        sn2 = sum(len(g) ** 2 for g in groups.values())
        sn3 = sum(len(g) ** 2 * (2 * len(g) + 3)
                  for g in groups.values())
        e = (n * n - sn2) / 4
        v = (n * n * (2 * n + 3) - sn3) / 72
        assert r["z"] == pytest.approx((jt - e) / v ** 0.5, abs=1e-9)
        assert r["z"] > 2  # real upward trend

    def test_no_trend_near_zero(self, spark):
        from pandas_ai_spark.functions.stats import \
            jonckheere_terpstra

        rows = [(d, float(i % 7)) for d in (0, 1, 2)
                for i in range(60)]
        df = spark.createDataFrame(rows, "d int, v double")
        r = jonckheere_terpstra(df, "v", "d").collect()[0]
        assert abs(r["z"]) < 1e-9  # identical distribution per dose

    def test_downward_trend_negative(self, spark):
        from pandas_ai_spark.functions.stats import \
            jonckheere_terpstra

        rows = [(d, float(100 - 10 * d + (i % 3)))
                for d in (0, 1, 2, 3) for i in range(30)]
        df = spark.createDataFrame(rows, "d int, v double")
        r = jonckheere_terpstra(df, "v", "d").collect()[0]
        assert r["z"] < -5


class TestNormalTailApproximation:
    def test_abramowitz_stegun_error_bound(self, spark):
        # the shared A&S 26.2.17 tail vs the stdlib erfc ground truth:
        # documented |error| < 7.5e-8 across the z range Dunn uses
        import math

        from pandas_ai_spark.functions.stats import _normal_upper_tail

        zs = [0.0, 0.1, 0.5, 1.0, 1.645, 1.96, 2.575, 3.0, 4.0, 6.0]
        df = spark.createDataFrame([(z,) for z in zs], "z double")
        got = {r["z"]: r["p"] for r in df.select(
            F.col("z"),
            _normal_upper_tail(F.col("z")).alias("p")).collect()}
        for z in zs:
            want = 0.5 * math.erfc(z / math.sqrt(2.0))
            assert abs(got[z] - want) < 7.5e-8, (z, got[z], want)

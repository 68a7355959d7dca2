"""Round-12 tests: the ADVICE r11 hardening batch (tie-corrected
Jonckheere-Terpstra variance, constant-group rows for cliffs_delta /
theil_sen, cramers_v_matrix duplicate-column guard, permutation_test
id-uniqueness check, friedman_test block-broadcast size gate) plus the
graph.py broadcast gate + convergence flag (VERDICT r11 items 4 and 8).
"""
import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# jonckheere_terpstra: tie-corrected variance
# ---------------------------------------------------------------------------

def _jt_reference(values, doses, tie_correction):
    """Brute-force JT (ties half) + normal z, pure Python."""
    import itertools
    from collections import Counter

    groups = sorted(set(doses))
    byg = {g: [v for v, d in zip(values, doses) if d == g]
           for g in groups}
    jt = 0.0
    for gi, gj in itertools.combinations(groups, 2):
        for x in byg[gi]:
            for y in byg[gj]:
                jt += 1.0 if x < y else (0.5 if x == y else 0.0)
    n = len(values)
    sizes = [len(byg[g]) for g in groups]
    e = (n * n - sum(s * s for s in sizes)) / 4.0
    if tie_correction:
        t = Counter(values)
        a = (n * (n - 1) * (2 * n + 5)
             - sum(s * (s - 1) * (2 * s + 5) for s in sizes)
             - sum(u * (u - 1) * (2 * u + 5) for u in t.values()))
        b = (sum(s * (s - 1) * (s - 2) for s in sizes)
             * sum(u * (u - 1) * (u - 2) for u in t.values()))
        c = (sum(s * (s - 1) for s in sizes)
             * sum(u * (u - 1) for u in t.values()))
        var = (a / 72.0
               + (b / (36.0 * n * (n - 1) * (n - 2)) if n > 2 else 0.0)
               + c / (8.0 * n * (n - 1)))
    else:
        var = (n * n * (2 * n + 3)
               - sum(s * s * (2 * s + 3) for s in sizes)) / 72.0
    return (jt - e) / var ** 0.5


class TestJonckheereTieCorrection:
    ROWS = [  # heavy ties: 4 distinct values over 3 doses, n=18
        (1, 1), (1, 1), (2, 1), (2, 1), (3, 1), (1, 1),
        (2, 2), (2, 2), (3, 2), (3, 2), (1, 2), (4, 2),
        (3, 3), (4, 3), (4, 3), (4, 3), (2, 3), (3, 3),
    ]

    def _run(self, spark, tie_correction):
        from pandas_ai_spark.functions.stats import jonckheere_terpstra

        df = spark.createDataFrame(self.ROWS, ["v", "d"])
        row = jonckheere_terpstra(
            df, "v", "d", tie_correction=tie_correction).collect()[0]
        return row

    def test_tie_corrected_matches_bruteforce(self, spark):
        vals = [r[0] for r in self.ROWS]
        doses = [r[1] for r in self.ROWS]
        row = self._run(spark, True)
        assert row["k"] == 3 and row["n"] == 18
        assert row["z"] == pytest.approx(
            _jt_reference(vals, doses, True), rel=1e-12)

    def test_no_tie_form_matches_bruteforce(self, spark):
        vals = [r[0] for r in self.ROWS]
        doses = [r[1] for r in self.ROWS]
        row = self._run(spark, False)
        assert row["z"] == pytest.approx(
            _jt_reference(vals, doses, False), rel=1e-12)

    def test_correction_shrinks_variance_on_ties(self, spark):
        # tie-heavy data: corrected variance is smaller, so |z| grows
        z_corr = self._run(spark, True)["z"]
        z_none = self._run(spark, False)["z"]
        assert abs(z_corr) > abs(z_none)

    def test_forms_agree_without_ties(self, spark):
        from pandas_ai_spark.functions.stats import jonckheere_terpstra

        rows = [(v, 1 + (v % 3)) for v in range(1, 19)]  # all distinct
        df = spark.createDataFrame(rows, ["v", "d"])
        z1 = jonckheere_terpstra(df, "v", "d",
                                 tie_correction=True).collect()[0]["z"]
        z2 = jonckheere_terpstra(df, "v", "d",
                                 tie_correction=False).collect()[0]["z"]
        assert z1 == pytest.approx(z2, rel=1e-12)

    def test_by_groups(self, spark):
        from pandas_ai_spark.functions.stats import jonckheere_terpstra

        rows = ([("a", *r) for r in self.ROWS]
                + [("b", v, d) for v, d in self.ROWS])
        df = spark.createDataFrame(rows, ["g", "v", "d"])
        out = {r["g"]: r["z"] for r in jonckheere_terpstra(
            df, "v", "d", by=["g"]).collect()}
        vals = [r[0] for r in self.ROWS]
        doses = [r[1] for r in self.ROWS]
        want = _jt_reference(vals, doses, True)
        assert out["a"] == pytest.approx(want, rel=1e-12)
        assert out["b"] == pytest.approx(want, rel=1e-12)


# ---------------------------------------------------------------------------
# cliffs_delta / theil_sen: constant-valued groups emit instead of vanish
# ---------------------------------------------------------------------------

class TestConstantGroupRows:
    def test_cliffs_delta_constant_group_is_zero(self, spark):
        from pandas_ai_spark.functions.stats import cliffs_delta

        rows = [("flat", 5.0, "x"), ("flat", 5.0, "y"),
                ("flat", 5.0, "x"), ("flat", 5.0, "y"),
                ("vary", 1.0, "x"), ("vary", 9.0, "y"),
                ("vary", 2.0, "x"), ("vary", 8.0, "y")]
        df = spark.createDataFrame(rows, ["g", "v", "arm"])
        out = {r["g"]: r for r in cliffs_delta(
            df, "v", "arm", "x", "y", by=["g"]).collect()}
        assert set(out) == {"flat", "vary"}
        assert out["flat"]["n_a"] == 2 and out["flat"]["n_b"] == 2
        assert out["flat"]["delta"] == 0.0
        assert out["vary"]["delta"] == -1.0  # every x below every y

    def test_cliffs_delta_constant_no_by(self, spark):
        from pandas_ai_spark.functions.stats import cliffs_delta

        df = spark.createDataFrame(
            [(5.0, "x"), (5.0, "y"), (5.0, "x")], ["v", "arm"])
        row = cliffs_delta(df, "v", "arm", "x", "y").collect()[0]
        assert row["n_a"] == 2 and row["n_b"] == 1
        assert row["delta"] == 0.0

    def test_theil_sen_constant_x_group_emits(self, spark):
        from pandas_ai_spark.functions.stats import theil_sen

        rows = [("flat", 3, 10), ("flat", 3, 20), ("flat", 3, 30),
                ("line", 1, 2), ("line", 2, 4), ("line", 3, 6)]
        df = spark.createDataFrame(rows, ["g", "x", "y"])
        out = {r["g"]: r for r in theil_sen(
            df, "x", "y", by=["g"]).collect()}
        assert set(out) == {"flat", "line"}
        assert out["flat"]["n"] == 3
        assert out["flat"]["n_pairs"] == 0
        assert out["flat"]["slope"] is None
        assert out["flat"]["intercept"] is None
        assert out["line"]["slope"] == pytest.approx(2.0)
        assert out["line"]["intercept"] == pytest.approx(0.0)

    def test_theil_sen_constant_x_no_by(self, spark):
        from pandas_ai_spark.functions.stats import theil_sen

        df = spark.createDataFrame(
            [(7, 1), (7, 2), (7, 3)], ["x", "y"])
        row = theil_sen(df, "x", "y").collect()[0]
        assert row["n"] == 3 and row["n_pairs"] == 0
        assert row["slope"] is None and row["intercept"] is None

    def test_theil_sen_unchanged_on_varying_x(self, spark):
        from pandas_ai_spark.functions.stats import theil_sen

        rows = [(x, 3 * x + 1 + (x % 2)) for x in range(1, 11)]
        df = spark.createDataFrame(rows, ["x", "y"])
        row = theil_sen(df, "x", "y").collect()[0]
        assert row["n"] == 10 and row["n_pairs"] == 45
        assert row["slope"] == pytest.approx(3.0)


# ---------------------------------------------------------------------------
# cramers_v_matrix: duplicate-column guard
# ---------------------------------------------------------------------------

class TestCramersDuplicateGuard:
    def test_duplicate_cols_raise(self, spark):
        from pandas_ai_spark.functions.stats import cramers_v_matrix

        df = spark.createDataFrame([("a", "b")], ["x", "y"])
        with pytest.raises(ValueError, match="distinct"):
            cramers_v_matrix(df, ["x", "x"])
        with pytest.raises(ValueError, match="distinct"):
            cramers_v_matrix(df, ["x", "y", "x"])

    def test_distinct_cols_still_work(self, spark):
        from pandas_ai_spark.functions.stats import cramers_v_matrix

        df = spark.createDataFrame(
            [("a", "p"), ("a", "p"), ("b", "q"), ("b", "q")],
            ["x", "y"])
        out = cramers_v_matrix(df, ["x", "y"]).collect()
        assert len(out) == 1
        assert out[0]["v"] == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# permutation_test: id-uniqueness contract check
# ---------------------------------------------------------------------------

class TestPermutationUniqueIds:
    def test_duplicate_ids_fail_when_checked(self, spark):
        from pandas_ai_spark.functions.stats import permutation_test

        rows = [(1, "x", 1.0), (1, "y", 2.0),
                (2, "x", 3.0), (2, "y", 4.0)]  # id 1 and 2 duplicated
        df = spark.createDataFrame(rows, ["id", "arm", "v"])
        out = permutation_test(df, "v", "arm", "x", "y", ["id"],
                               n_perm=5, check_unique_ids=True)
        with pytest.raises(Exception, match="uniquely"):
            out.collect()

    def test_unique_ids_pass_check_and_match_unchecked(self, spark):
        from pandas_ai_spark.functions.stats import permutation_test

        rows = [(i, "x" if i % 2 else "y", float(i % 7))
                for i in range(1, 21)]
        df = spark.createDataFrame(rows, ["id", "arm", "v"])
        checked = permutation_test(
            df, "v", "arm", "x", "y", ["id"], n_perm=19,
            check_unique_ids=True).collect()[0]
        plain = permutation_test(
            df, "v", "arm", "x", "y", ["id"],
            n_perm=19).collect()[0]
        assert checked.asDict() == plain.asDict()


# ---------------------------------------------------------------------------
# friedman_test: block-grain broadcast size gate
# ---------------------------------------------------------------------------

class TestFriedmanBroadcastGate:
    ROWS = [(b, t, float((b * 7 + len(t)) % 5))
            for b in range(1, 9) for t in ("a", "b", "c")]

    @pytest.fixture()
    def pq(self, spark, tmp_path):
        # parquet-backed so Catalyst carries a REAL size estimate -
        # the gate's input (a LogicalRDD has none and always takes
        # the plain-join side)
        path = str(tmp_path / "friedman.parquet")
        spark.createDataFrame(self.ROWS, ["blk", "trt", "v"]) \
            .write.parquet(path)
        return spark.read.parquet(path)

    def test_outputs_identical_both_sides_of_gate(self, spark, pq,
                                                  monkeypatch):
        from pandas_ai_spark.functions import stats

        base = stats.friedman_test(pq, "blk", "trt", "v").collect()

        # force the plain-join side (estimate always above the gate)
        monkeypatch.setattr(stats, "RANK_WINDOW_MAX_BYTES", -1)
        gated = stats.friedman_test(pq, "blk", "trt", "v").collect()
        assert [r.asDict() for r in gated] == \
            [r.asDict() for r in base]

    def test_gate_actually_switches_plan(self, spark, pq,
                                         monkeypatch):
        from pandas_ai_spark.functions import stats

        assert stats._plan_size(pq) is not None
        lo = stats.friedman_test(pq, "blk", "trt", "v")
        monkeypatch.setattr(stats, "RANK_WINDOW_MAX_BYTES", -1)
        hi = stats.friedman_test(pq, "blk", "trt", "v")
        # the broadcast hint on the block-grain side must disappear
        # from the analyzed plan when the gate trips
        lo_plan = lo._jdf.queryExecution().analyzed().toString()
        hi_plan = hi._jdf.queryExecution().analyzed().toString()
        assert lo_plan.count("ResolvedHint") > hi_plan.count(
            "ResolvedHint")

    def test_unknown_size_takes_plain_join(self, spark, pq,
                                           monkeypatch):
        from pandas_ai_spark.functions import stats

        df = spark.createDataFrame(self.ROWS, ["blk", "trt", "v"])
        assert stats._plan_size(df) is None  # LogicalRDD: no estimate
        unknown = stats.friedman_test(df, "blk", "trt", "v") \
            ._jdf.queryExecution().analyzed().toString()
        monkeypatch.setattr(stats, "RANK_WINDOW_MAX_BYTES", -1)
        forced = stats.friedman_test(pq, "blk", "trt", "v") \
            ._jdf.queryExecution().analyzed().toString()
        # unknown estimate takes the same un-hinted block join as an
        # above-gate estimate: a broadcast must never be forced blind
        assert unknown.count("ResolvedHint") == \
            forced.count("ResolvedHint")


# ---------------------------------------------------------------------------
# kcore: broadcast gate + convergence flag (VERDICT r11 items 4 + 8)
# ---------------------------------------------------------------------------

def _sym(edges):
    return edges + [(d, s) for s, d in edges]


class TestKcoreGateAndConvergence:
    # triangle {1,2,3} plus a tail 3-4: 2-core = the triangle, peel
    # converges at round 2 (round 1 drops node 4, round 2 re-checks)
    TRIANGLE_TAIL = _sym([(1, 2), (2, 3), (1, 3), (3, 4)])
    # a length-6 path: 2-core empty, but the peel eats one endpoint
    # shell per round - NOT converged after a single round
    PATH = _sym([(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)])

    def test_gate_outputs_identical(self, spark):
        from pandas_ai_spark.functions.graph import kcore

        df = spark.createDataFrame(self.TRIANGLE_TAIL, ["src", "dst"])
        bc = sorted(tuple(r) for r in kcore(df, 2, rounds=4).collect())
        shuffled = sorted(tuple(r) for r in kcore(
            df, 2, rounds=4, broadcast_nodes_below=0).collect())
        assert bc == shuffled
        assert {n for n, _ in bc} == {1, 2, 3}

    def test_converged_flag_true(self, spark):
        from pandas_ai_spark.functions.graph import kcore

        df = spark.createDataFrame(self.TRIANGLE_TAIL, ["src", "dst"])
        out, converged = kcore(df, 2, rounds=4,
                               return_convergence=True)
        assert converged is True
        assert {r["node"] for r in out.collect()} == {1, 2, 3}

    def test_converged_flag_false_when_budget_too_small(self, spark):
        from pandas_ai_spark.functions.graph import kcore

        df = spark.createDataFrame(self.PATH, ["src", "dst"])
        out, converged = kcore(df, 2, rounds=1,
                               return_convergence=True)
        assert converged is False
        assert out.count() > 0  # peel not finished - interior remains

    def test_early_stop_matches_fixed_rounds(self, spark):
        from pandas_ai_spark.functions.graph import kcore

        df = spark.createDataFrame(self.TRIANGLE_TAIL, ["src", "dst"])
        few = sorted(tuple(r) for r in kcore(df, 2, rounds=3).collect())
        many = sorted(tuple(r) for r in kcore(df, 2,
                                              rounds=12).collect())
        assert few == many

    def test_empty_core_converges(self, spark):
        from pandas_ai_spark.functions.graph import kcore

        df = spark.createDataFrame(self.PATH, ["src", "dst"])
        out, converged = kcore(df, 3, rounds=8,
                               return_convergence=True)
        assert converged is True
        assert out.count() == 0

# ---------------------------------------------------------------------------
# bench.py streaming floors: derived constants + deliberate-slowdown trip
# ---------------------------------------------------------------------------

class TestStreamFloors:
    BASE = 50000.0  # sf0.1 base floor

    def test_derived_floors_pass_on_recorded_steady_rates(self):
        import bench

        recorded = {  # r12/r13 idle-probe session-cold steady rates
            "q100_alerts_ab12cd34": {"steady_rows_per_sec": 49217.6},
            "q67_stream_near_dup": {"steady_rows_per_sec": 1160.0},
            "q174_stream_reservoir": {"steady_rows_per_sec": 37921.5},
            "entry_stream_windowed": {"steady_rows_per_sec": 28006.7},
            "entry_stream_interval_join":
                {"steady_rows_per_sec": 33535.4},
        }
        v = bench.stream_floor_verdicts(recorded, self.BASE)
        assert all(v.values()), v

    def test_deliberate_slowdown_trips_every_floor(self):
        import bench

        # a 2.5x regression from each recorded steady rate must FAIL -
        # the old q67 carve-out (0.01x base = 500) would have passed
        # a 10x regression; the derived floors catch ~2x
        slowed = {
            "q100_alerts_ab12cd34": {"steady_rows_per_sec": 20000.0},
            "q67_stream_near_dup": {"steady_rows_per_sec": 460.0},
            "q174_stream_reservoir": {"steady_rows_per_sec": 15000.0},
            "entry_stream_windowed": {"steady_rows_per_sec": 11200.0},
            "entry_stream_interval_join":
                {"steady_rows_per_sec": 13400.0},
        }
        v = bench.stream_floor_verdicts(slowed, self.BASE)
        assert not any(v.values()), v

    def test_floor_margin_is_about_half_of_steady(self):
        import bench

        # the derivation contract: each override floor sits at
        # 0.45-0.55x its recorded session-cold steady rate
        steady = {"q100_alerts": 49217.6,
                  "q67_stream_near_dup": 1160.0,
                  "q174_stream_reservoir": 37921.5,
                  "entry_stream_windowed": 28006.7,
                  "entry_stream_interval_join": 33535.4}
        for name, rate in steady.items():
            floor = bench.stream_floor(name, self.BASE)
            assert 0.45 <= floor / rate <= 0.55, (name, floor / rate)

    def test_missing_rate_fails(self):
        import bench

        v = bench.stream_floor_verdicts(
            {"q100_alerts_x": {}}, self.BASE)
        assert v == {"q100_alerts_x": False}

# ---------------------------------------------------------------------------
# round-12 additive operators: ordinal association, McNemar, Page, Mood
# ---------------------------------------------------------------------------

class TestOrdinalAssociation:
    def test_perfect_concordance(self, spark):
        from pandas_ai_spark.functions.stats import ordinal_association

        df = spark.createDataFrame(
            [(i, i * 2) for i in range(1, 7)], ["x", "y"])
        row = ordinal_association(df, "x", "y").collect()[0]
        assert row["n"] == 6
        assert row["c_pairs"] == 15 and row["d_pairs"] == 0
        assert row["gamma"] == pytest.approx(1.0)
        assert row["somers_d_yx"] == pytest.approx(1.0)
        assert row["somers_d_xy"] == pytest.approx(1.0)

    def test_known_table(self, spark):
        from pandas_ai_spark.functions.stats import ordinal_association

        # 2x2 with counts [[3, 1], [1, 3]]: C = 3*3 = 9, D = 1*1 = 1
        rows = ([(0, 0)] * 3 + [(0, 1)] * 1
                + [(1, 0)] * 1 + [(1, 1)] * 3)
        df = spark.createDataFrame(rows, ["x", "y"])
        row = ordinal_association(df, "x", "y").collect()[0]
        assert row["c_pairs"] == 9 and row["d_pairs"] == 1
        assert row["gamma"] == pytest.approx(0.8)
        # n0 = 28, Tx = Ty = 2 * C(4,2) = 12 -> D = 8/16 = 0.5
        assert row["somers_d_yx"] == pytest.approx(0.5)
        assert row["somers_d_xy"] == pytest.approx(0.5)
        # tau_c = 2*2*(9-1)/(64*(2-1)) = 0.5
        assert row["tau_c"] == pytest.approx(0.5)

    def test_by_groups_and_constant_group(self, spark):
        from pandas_ai_spark.functions.stats import ordinal_association

        rows = ([("up", i, i) for i in range(5)]
                + [("flat", 1, 1)] * 4)
        df = spark.createDataFrame(rows, ["g", "x", "y"])
        out = {r["g"]: r for r in ordinal_association(
            df, "x", "y", by=["g"]).collect()}
        assert out["up"]["gamma"] == pytest.approx(1.0)
        assert out["flat"]["c_pairs"] == 0  # single cell: no pairs
        assert out["flat"]["gamma"] is None


class TestMcNemar:
    def test_known_2x2(self, spark):
        from pandas_ai_spark.functions.stats import mcnemar_test

        # n01 = 6, n10 = 2: corrected chi2 = (|4|-1)^2/8 = 1.125
        rows = ([(0, 1)] * 6 + [(1, 0)] * 2 + [(1, 1)] * 5
                + [(0, 0)] * 3)
        df = spark.createDataFrame(rows, ["a", "b"])
        row = mcnemar_test(df, "a", "b").collect()[0]
        assert row["n"] == 16
        assert row["n01"] == 6 and row["n10"] == 2
        assert row["chi2"] == pytest.approx(1.125)
        plain = mcnemar_test(df, "a", "b",
                             continuity=False).collect()[0]
        assert plain["chi2"] == pytest.approx(16.0 / 8.0)

    def test_no_discordant_pairs_null(self, spark):
        from pandas_ai_spark.functions.stats import mcnemar_test

        df = spark.createDataFrame([(1, 1), (0, 0)], ["a", "b"])
        row = mcnemar_test(df, "a", "b").collect()[0]
        assert row["chi2"] is None


class TestPageTrend:
    def test_perfect_trend(self, spark):
        from pandas_ai_spark.functions.stats import page_trend

        # 4 blocks x 4 doses, value strictly increasing with dose:
        # every block ranks 1..4 in dose order -> L = n * sum(j*j)
        rows = [(b, j, b * 10 + j) for b in range(1, 5)
                for j in range(1, 5)]
        df = spark.createDataFrame(rows, ["blk", "dose", "v"])
        row = page_trend(df, "blk", "dose", "v").collect()[0]
        assert row["k"] == 4 and row["n_blocks"] == 4
        assert row["l_stat"] == pytest.approx(4 * 30.0)  # 1+4+9+16
        # z = (L - E)/sqrt(Var), E = 4*4*25/4 = 100,
        # Var = 4*16*5*15/144
        want = (120.0 - 100.0) / (4 * 16 * 5 * 15 / 144.0) ** 0.5
        assert row["z"] == pytest.approx(want, rel=1e-12)

    def test_no_trend_z_near_zero(self, spark):
        from pandas_ai_spark.functions.stats import page_trend

        # value pattern deterministic but dose-unrelated
        rows = [(b, j, (b * 7 + j * 13) % 5) for b in range(1, 9)
                for j in range(1, 5)]
        df = spark.createDataFrame(rows, ["blk", "dose", "v"])
        z = page_trend(df, "blk", "dose", "v").collect()[0]["z"]
        assert abs(z) < 2.0

    def test_incomplete_blocks_dropped(self, spark):
        from pandas_ai_spark.functions.stats import page_trend

        rows = [(b, j, b + j) for b in range(1, 4)
                for j in range(1, 4)]
        rows.append((9, 1, 5))  # block 9 has only one dose
        df = spark.createDataFrame(rows, ["blk", "dose", "v"])
        row = page_trend(df, "blk", "dose", "v").collect()[0]
        assert row["n_blocks"] == 3


class TestMoodMedian:
    def test_identical_samples_chi2_zero(self, spark):
        from pandas_ai_spark.functions.stats import mood_median_test

        rows = [(s, v) for s in ("a", "b") for v in range(1, 11)]
        df = spark.createDataFrame(rows, ["s", "v"])
        row = mood_median_test(df, "v", "s").collect()[0]
        assert row["k"] == 2 and row["n"] == 20
        assert row["chi2"] == pytest.approx(0.0)

    def test_separated_samples_large_chi2(self, spark):
        from pandas_ai_spark.functions.stats import mood_median_test

        rows = ([("lo", v) for v in range(1, 11)]
                + [("hi", v) for v in range(100, 110)])
        df = spark.createDataFrame(rows, ["s", "v"])
        row = mood_median_test(df, "v", "s").collect()[0]
        # perfect separation of the 2x2 table -> chi2 = n = 20
        assert row["chi2"] == pytest.approx(20.0)

    def test_by_groups(self, spark):
        from pandas_ai_spark.functions.stats import mood_median_test

        rows = ([("g1", "lo", v) for v in range(1, 11)]
                + [("g1", "hi", v) for v in range(100, 110)]
                + [("g2", s, v) for s in ("a", "b")
                   for v in range(1, 11)])
        df = spark.createDataFrame(rows, ["g", "s", "v"])
        out = {r["g"]: r for r in mood_median_test(
            df, "v", "s", by=["g"]).collect()}
        assert out["g1"]["chi2"] == pytest.approx(20.0)
        assert out["g2"]["chi2"] == pytest.approx(0.0)

# ---------------------------------------------------------------------------
# round-12 batch 2: Kendall's W, Siegel slopes, Quade, Cronbach's alpha
# ---------------------------------------------------------------------------

class TestKendallsW:
    def test_perfect_agreement(self, spark):
        from pandas_ai_spark.functions.stats import kendalls_w

        rows = [(r, o, o * 10 + 0.0) for r in range(1, 5)
                for o in range(1, 6)]
        df = spark.createDataFrame(rows, ["rater", "obj", "v"])
        row = kendalls_w(df, "rater", "obj", "v").collect()[0]
        assert row["k"] == 5 and row["m"] == 4
        assert row["w"] == pytest.approx(1.0)
        assert row["chi2"] == pytest.approx(4 * 4 * 1.0)

    def test_reversed_rater_lowers_w(self, spark):
        from pandas_ai_spark.functions.stats import kendalls_w

        rows = ([(r, o, float(o)) for r in (1, 2, 3) for o in range(1, 6)]
                + [(4, o, float(-o)) for o in range(1, 6)])
        df = spark.createDataFrame(rows, ["rater", "obj", "v"])
        row = kendalls_w(df, "rater", "obj", "v").collect()[0]
        # 3 agree, 1 reversed: W = S/S_max with R_j = 3j + (6-j) = 2j+6
        # dev from mean 12: (-4,-2,0,2,4) -> S=40; S_max = m^2(k^3-k)/12
        want = 40.0 / (16 * 120 / 12.0)
        assert row["w"] == pytest.approx(want, rel=1e-12)

    def test_python_reference_with_ties(self, spark):
        from pandas_ai_spark.functions.stats import kendalls_w

        rows = [(1, 1, 1.0), (1, 2, 1.0), (1, 3, 2.0),
                (2, 1, 1.0), (2, 2, 2.0), (2, 3, 3.0)]
        df = spark.createDataFrame(rows, ["rater", "obj", "v"])
        row = kendalls_w(df, "rater", "obj", "v").collect()[0]
        # rater1 midranks: 1.5, 1.5, 3; rater2: 1, 2, 3
        # R = (2.5, 3.5, 6), mean 4 -> S = 2.25+0.25+4 = 6.5
        # T1 = 2^3-2 = 6; den = (m^2(k^3-k) - m*T)/12 = (96-12)/12 = 7
        assert row["w"] == pytest.approx(6.5 / 7.0, rel=1e-12)


class TestSiegelSlopes:
    def test_recovers_clean_line(self, spark):
        from pandas_ai_spark.functions.stats import siegel_slopes

        rows = [(x, 3 * x + 2) for x in range(1, 11)]
        df = spark.createDataFrame(rows, ["x", "y"])
        row = siegel_slopes(df, "x", "y").collect()[0]
        assert row["n"] == 10 and row["n_cells"] == 10
        assert row["slope"] == pytest.approx(3.0)
        assert row["intercept"] == pytest.approx(2.0)

    def test_survives_heavy_contamination(self, spark):
        from pandas_ai_spark.functions.stats import siegel_slopes

        # 11 clean points + 9 wild outliers (45%): repeated medians
        # still recover the line (Theil-Sen single median would drift)
        rows = ([(x, 2 * x + 1) for x in range(1, 12)]
                + [(100 + i, -1000 - 17 * i) for i in range(9)])
        df = spark.createDataFrame(rows, ["x", "y"])
        row = siegel_slopes(df, "x", "y").collect()[0]
        assert row["slope"] == pytest.approx(2.0)

    def test_constant_x_group_emits(self, spark):
        from pandas_ai_spark.functions.stats import siegel_slopes

        rows = [("flat", 3, 10), ("flat", 3, 20),
                ("line", 1, 2), ("line", 2, 4), ("line", 3, 6)]
        df = spark.createDataFrame(rows, ["g", "x", "y"])
        out = {r["g"]: r for r in siegel_slopes(
            df, "x", "y", by=["g"]).collect()}
        assert out["flat"]["n"] == 2 and out["flat"]["slope"] is None
        assert out["line"]["slope"] == pytest.approx(2.0)


class TestQuade:
    def test_closed_form_no_ties(self, spark):
        from pandas_ai_spark.functions.stats import quade_test

        # 3 blocks x 3 treatments; values chosen so ranks and ranges
        # are hand-computable
        rows = [("b1", "t1", 1), ("b1", "t2", 2), ("b1", "t3", 3),
                ("b2", "t1", 10), ("b2", "t2", 30), ("b2", "t3", 50),
                ("b3", "t1", 5), ("b3", "t2", 6), ("b3", "t3", 100)]
        df = spark.createDataFrame(rows, ["blk", "trt", "v"])
        row = quade_test(df, "blk", "trt", "v").collect()[0]
        # ranges: b1=2, b2=40, b3=95 -> Q = 1,2,3; r_ij = 1,2,3 in
        # every block -> S_ij = Q_i*(j-2); S_j = (-6,0,6)
        # A = (1+4+9)*(1+0+1)... per block: Q_i^2*(1+0+1) = 2*(1+4+9)=28
        # B = (36+0+36)/3 = 24 -> F = 2*24/(28-24) = 12
        assert row["k"] == 3 and row["n_blocks"] == 3
        assert row["f"] == pytest.approx(12.0, rel=1e-12)

    def test_perfect_agreement_null(self, spark):
        from pandas_ai_spark.functions.stats import quade_test

        # every block ranks identically AND A == B -> F undefined
        rows = [(b, t, t * 10) for b in range(1, 4)
                for t in range(1, 4)]
        df = spark.createDataFrame(rows, ["blk", "trt", "v"])
        row = quade_test(df, "blk", "trt", "v").collect()[0]
        assert row["f"] is None

    def test_incomplete_block_dropped(self, spark):
        from pandas_ai_spark.functions.stats import quade_test

        rows = [("b1", "t1", 1), ("b1", "t2", 2), ("b1", "t3", 3),
                ("b2", "t1", 10), ("b2", "t2", 30), ("b2", "t3", 50),
                ("b3", "t1", 5), ("b3", "t2", 6), ("b3", "t3", 100),
                ("b9", "t1", 7)]
        df = spark.createDataFrame(rows, ["blk", "trt", "v"])
        row = quade_test(df, "blk", "trt", "v").collect()[0]
        assert row["n_blocks"] == 3
        assert row["f"] == pytest.approx(12.0, rel=1e-12)


class TestCronbachAlpha:
    def test_known_value(self, spark):
        from pandas_ai_spark.functions.stats import cronbach_alpha

        rows = [  # 4 subjects x 3 items
            (1, "a", 2), (1, "b", 3), (1, "c", 3),
            (2, "a", 4), (2, "b", 4), (2, "c", 5),
            (3, "a", 3), (3, "b", 4), (3, "c", 4),
            (4, "a", 5), (4, "b", 5), (4, "c", 6),
        ]
        df = spark.createDataFrame(rows, ["sub", "item", "v"])
        row = cronbach_alpha(df, "sub", "item", "v").collect()[0]
        assert row["k_items"] == 3 and row["n_subjects"] == 4

        import statistics
        items = {"a": [2, 4, 3, 5], "b": [3, 4, 4, 5],
                 "c": [3, 5, 4, 6]}
        tots = [sum(items[i][s] for i in items) for s in range(4)]
        want = (3 / 2) * (1 - sum(statistics.variance(v)
                                  for v in items.values())
                          / statistics.variance(tots))
        assert row["alpha"] == pytest.approx(want, rel=1e-12)

    def test_incomplete_subject_dropped(self, spark):
        from pandas_ai_spark.functions.stats import cronbach_alpha

        rows = [(s, i, s + len(i)) for s in (1, 2, 3)
                for i in ("a", "b")] + [(9, "a", 5)]
        df = spark.createDataFrame(rows, ["sub", "item", "v"])
        row = cronbach_alpha(df, "sub", "item", "v").collect()[0]
        assert row["n_subjects"] == 3

    def test_zero_total_variance_null(self, spark):
        from pandas_ai_spark.functions.stats import cronbach_alpha

        rows = [(s, i, 5) for s in (1, 2, 3) for i in ("a", "b")]
        df = spark.createDataFrame(rows, ["sub", "item", "v"])
        row = cronbach_alpha(df, "sub", "item", "v").collect()[0]
        assert row["alpha"] is None

    def test_single_subject_group_null_not_error(self, spark):
        """A by group with ONE complete subject has no sample variance:
        its alpha is NULL, and the other group's alpha is what it gets
        alone (the variances once divided by n(n-1) = 0 under ANSI
        and failed the whole query)."""
        from pyspark.sql import functions as F

        from pandas_ai_spark.functions.stats import cronbach_alpha

        rows = ([("one", 1, i, v) for i, v in (("a", 2), ("b", 3))]
                + [("two", s, i, s * 2 + len(i) + (s % 2))
                   for s in (1, 2, 3, 4) for i in ("a", "b", "c")])
        df = spark.createDataFrame(rows, ["g", "sub", "item", "v"])
        out = {r["g"]: r for r in
               cronbach_alpha(df, "sub", "item", "v", by=["g"]).collect()}
        assert out["one"]["n_subjects"] == 1
        assert out["one"]["alpha"] is None
        alone = cronbach_alpha(df.where(F.col("g") == "two"), "sub",
                               "item", "v", by=["g"]).collect()[0]
        assert alone["alpha"] is not None
        assert out["two"]["alpha"] == alone["alpha"]

# ---------------------------------------------------------------------------
# wilcoxon signed-rank (paired continuous)
# ---------------------------------------------------------------------------

class TestWilcoxonSignedRank:
    def test_known_small_sample(self, spark):
        from pandas_ai_spark.functions.stats import wilcoxon_signed_rank

        # diffs d = a-b: [1, -2, 3, 4, 5]; |d| ranks: 1,2,3,4,5
        # W+ = 1+3+4+5 = 13; n=5, E = 7.5, Var = 5*6*11/24 = 13.75
        rows = [(11, 10), (10, 12), (13, 10), (14, 10), (15, 10)]
        df = spark.createDataFrame(rows, ["a", "b"])
        row = wilcoxon_signed_rank(df, "a", "b").collect()[0]
        assert row["n"] == 5
        assert row["z"] == pytest.approx((13 - 7.5) / 13.75 ** 0.5,
                                         rel=1e-12)

    def test_zeros_dropped_and_ties_midranked(self, spark):
        from pandas_ai_spark.functions.stats import wilcoxon_signed_rank

        # d: [0, 1, -1, 2] -> zero dropped, n=3; |d| = 1,1,2 ->
        # midranks 1.5, 1.5, 3; W+ = 1.5 + 3 = 4.5; E = 3
        # Var = 3*4*7/24 - (2^3-2)/48 = 3.5 - 0.125 = 3.375
        rows = [(5, 5), (6, 5), (5, 6), (7, 5)]
        df = spark.createDataFrame(rows, ["a", "b"])
        row = wilcoxon_signed_rank(df, "a", "b").collect()[0]
        assert row["n"] == 3
        assert row["z"] == pytest.approx((4.5 - 3) / 3.375 ** 0.5,
                                         rel=1e-12)

    def test_symmetric_shifts_cancel(self, spark):
        from pandas_ai_spark.functions.stats import wilcoxon_signed_rank

        rows = [(10 + d, 10) for d in (1, -1, 2, -2, 3, -3)]
        df = spark.createDataFrame(rows, ["a", "b"])
        row = wilcoxon_signed_rank(df, "a", "b").collect()[0]
        assert row["z"] == pytest.approx(0.0)

    def test_by_groups(self, spark):
        from pandas_ai_spark.functions.stats import wilcoxon_signed_rank

        rows = ([("up", 10 + d, 10) for d in (1, 2, 3, 4, 5)]
                + [("flat", 10, 10), ("flat", 11, 10), ("flat", 9, 10)])
        df = spark.createDataFrame(rows, ["g", "a", "b"])
        out = {r["g"]: r for r in wilcoxon_signed_rank(
            df, "a", "b", by=["g"]).collect()}
        assert out["up"]["n"] == 5
        assert out["up"]["z"] == pytest.approx(
            (15 - 7.5) / 13.75 ** 0.5, rel=1e-12)
        assert out["flat"]["n"] == 2
        assert out["flat"]["z"] == pytest.approx(0.0)

# ---------------------------------------------------------------------------
# mood scale (dispersion) test
# ---------------------------------------------------------------------------

class TestMoodScale:
    def test_known_small_sample(self, spark):
        from pandas_ai_spark.functions.stats import mood_scale_test

        # pooled ranks 1..6, no ties; sample a = values {1, 6}
        # (extremes -> big T), b = {2,3,4,5}
        rows = [(1, "a"), (6, "a"), (2, "b"), (3, "b"),
                (4, "b"), (5, "b")]
        df = spark.createDataFrame(rows, ["v", "s"])
        row = mood_scale_test(df, "v", "s", "a", "b").collect()[0]
        n = 6.0
        t = (1 - 3.5) ** 2 + (6 - 3.5) ** 2
        e = 2 * (n * n - 1) / 12
        var = 2 * 4 * (n + 1) * (n * n - 4) / 180
        assert row["n_a"] == 2 and row["n_b"] == 4
        assert row["z"] == pytest.approx((t - e) / var ** 0.5,
                                         rel=1e-12)

    def test_tied_values_midranked(self, spark):
        from pandas_ai_spark.functions.stats import mood_scale_test

        # values: a={1,1}, b={1,2}; the three 1s share midrank 2
        rows = [(1, "a"), (1, "a"), (1, "b"), (2, "b")]
        df = spark.createDataFrame(rows, ["v", "s"])
        row = mood_scale_test(df, "v", "s", "a", "b").collect()[0]
        n = 4.0
        t = 2 * (2 - 2.5) ** 2
        e = 2 * (n * n - 1) / 12
        var = 2 * 2 * (n + 1) * (n * n - 4) / 180
        assert row["z"] == pytest.approx((t - e) / var ** 0.5,
                                         rel=1e-12)

    def test_wider_sample_positive_z(self, spark):
        from pandas_ai_spark.functions.stats import mood_scale_test

        rows = ([(v, "wide") for v in (1, 2, 19, 20)]
                + [(v, "tight") for v in (9, 10, 11, 12)])
        df = spark.createDataFrame(rows, ["v", "s"])
        row = mood_scale_test(df, "v", "s", "wide",
                              "tight").collect()[0]
        assert row["z"] > 1.5  # wide sample owns the extreme ranks

    def test_by_groups(self, spark):
        from pandas_ai_spark.functions.stats import mood_scale_test

        rows = ([("g1", v, "a") for v in (1, 6)]
                + [("g1", v, "b") for v in (2, 3, 4, 5)]
                + [("g2", v, "a") for v in (3, 4)]
                + [("g2", v, "b") for v in (1, 2, 5, 6)])
        df = spark.createDataFrame(rows, ["g", "v", "s"])
        out = {r["g"]: r for r in mood_scale_test(
            df, "v", "s", "a", "b", by=["g"]).collect()}
        assert out["g1"]["z"] > 0 > out["g2"]["z"]

"""Round-15 (optimization round 2) tests.

Covers the operator-internal restructurings of this round — every one
is REQUIRED to be output-identical to the shape it replaced:

- the bucketed rank/ECDF device (midranks, ks_test, wasserstein_1d,
  bh_fdr with distributed=True): fully lazy form
  (deterministic slog-width buckets + window prefix-sum offsets) —
  zero internal Spark jobs at plan-build, outputs identical to the
  window forms across ties / negatives / wide magnitudes / NULLs.
- poisson_bootstrap_ci: hex-threshold inverse CDF — weights identical
  to an independent hashlib/python reference.
- graph ADVICE fixes: _kcore_local / _cc_local NULL endpoints match
  the distributed paths instead of crashing / mislabeling.
- triangle_counts: local fast path + assume_canonical are
  count-identical to the distributed join chain.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

def _rows(df, cols=None):
    cols = cols or df.columns
    return sorted((tuple(r[c] for c in cols) for r in df.collect()),
                  key=lambda t: tuple(str(x) for x in t))


# ---------------------------------------------------------------------
# merged rank/ECDF operators: zero build jobs on both devices, and the
# bucketed device (distributed=True) equals the window form
# ---------------------------------------------------------------------

def _merged_ops():
    """The seven rank/ECDF operators with one body and two devices,
    each over the fixture frame ``(g, s, v, w)``."""
    from pandas_ai_spark.functions import classify, stats
    return {
        "spearman_corr": lambda df, **k: stats.spearman_corr(
            df, "v", "w", by=["g"], **k),
        "mann_whitney_u": lambda df, **k: stats.mann_whitney_u(
            df, "v", "s", "x", "y", by=["g"], **k),
        "bh_fdr": lambda df, **k: stats.bh_fdr(
            df, "w", family_cols=["g"], tiebreak_cols=["v"], **k),
        "ks_test": lambda df, **k: stats.ks_test(
            df, "g", "v", "s", "x", "y", **k),
        "wasserstein_1d": lambda df, **k: stats.wasserstein_1d(
            df, "g", "v", "s", "x", "y", **k),
        "kruskal_wallis": lambda df, **k: stats.kruskal_wallis(
            df, "v", "s", by=["g"], **k),
        "auc": lambda df, **k: classify.auc(df, "v", "s = 'x'", **k),
    }


def _routed_ops():
    """The six operators whose ranks come from _midranks with
    ``distributed=False``, each over the fixture frame
    ``(g, blk, trt, s, v, w)`` with a ``by`` list."""
    from pandas_ai_spark.functions import stats
    return {
        "friedman_test": lambda df, by: stats.friedman_test(
            df, "blk", "trt", "v", by=by),
        "page_trend": lambda df, by: stats.page_trend(
            df, "blk", "trt", "v", by=by),
        "kendalls_w": lambda df, by: stats.kendalls_w(
            df, "blk", "trt", "v", by=by),
        "quade_test": lambda df, by: stats.quade_test(
            df, "blk", "trt", "v", by=by),
        "wilcoxon_signed_rank": lambda df, by:
            stats.wilcoxon_signed_rank(df, "v", "w", by=by),
        "mood_scale_test": lambda df, by: stats.mood_scale_test(
            df, "v", "s", "x", "y", by=by),
    }


class TestLazyTwins:
    def _mixed_df(self, spark):
        # ties, negatives, zero, wide magnitudes, NULLs, two groups
        vals = [
            ("g1", 3.5), ("g1", 3.5), ("g1", -2.0), ("g1", 0.0),
            ("g1", 1e8), ("g1", 1e-8), ("g1", None), ("g1", 42.0),
            ("g2", -1e6), ("g2", -1e6), ("g2", 7.0), ("g2", 7.0),
            ("g2", 7.0), ("g2", None), ("g2", 123.456), ("g2", -0.5),
        ]
        return spark.createDataFrame(vals, "grp string, v double")

    def test_midrank_build_runs_zero_jobs(self, spark):
        from pandas_ai_spark.functions.stats import _midranks
        df = self._mixed_df(spark)
        sc = spark.sparkContext
        sc.setJobGroup("midrank_build_r15", "lazy check")
        try:
            out = _midranks(df, ["v"], ["r2"], ["grp"], True, buckets=4)
            jobs = sc.statusTracker().getJobIdsForGroup(
                "midrank_build_r15")
        finally:
            sc.setJobGroup(None, None)
        assert list(jobs) == [], (
            f"plan-build ran Spark jobs: {jobs} — the r15 rework "
            f"made the midrank fully lazy")
        assert "r2" in out.columns

    def test_midrank_matches_window_form(self, spark):
        from pyspark.sql.window import Window
        from pandas_ai_spark.functions.stats import _midranks
        df = self._mixed_df(spark)
        wo = (Window.partitionBy("grp").orderBy("v")
              .rangeBetween(Window.unboundedPreceding, 0))
        wt = Window.partitionBy("grp", "v")
        cum = F.count(F.lit(1)).over(wo)
        t = F.count(F.lit(1)).over(wt)
        r2w = (F.lit(2) * (cum - t) + t + F.lit(1)).cast("bigint")
        want = _rows(df.select("grp", "v", r2w.alias("r2")))
        got = _rows(_midranks(
            df, ["v"], ["r2"], ["grp"], True, buckets=4)
            .select("grp", "v", "r2"))
        assert got == want

    def test_midrank_single_value_and_all_null_groups(self, spark):
        from pandas_ai_spark.functions.stats import _midranks
        df = spark.createDataFrame(
            [("a", 5.0), ("b", None), ("b", None)],
            "grp string, v double")
        got = {(r["grp"], r["v"]): r["r2"]
               for r in _midranks(
                   df, ["v"], ["r2"], ["grp"], True,
                   buckets=4).collect()}
        # single value: midrank 1 doubled -> 2*0+1+1... r2 = 2*(1-1)+1+1
        assert got[("a", 5.0)] == 2
        # two tied NULLs share the lowest midrank: r2 = 2*(2-2)+2+1 = 3
        assert got[("b", None)] == 3

    def test_ks_distributed_matches_window_form(self, spark):
        from pandas_ai_spark.functions.stats import ks_test
        import random
        rnd = random.Random(7)
        rows = [("k%d" % (i % 3), rnd.choice(["x", "y"]),
                 round(rnd.gauss(0, 10 ** rnd.randint(-3, 5)), 4))
                for i in range(400)]
        df = spark.createDataFrame(rows, "g string, s string, v double")
        want = _rows(ks_test(df, "g", "v", "s", "x", "y",
                             distributed=False))
        got = _rows(ks_test(df, "g", "v", "s", "x", "y",
                            distributed=True, buckets=4))
        assert got == want

    @pytest.mark.parametrize("distributed", [True, False],
                             ids=["bucketed", "window"])
    @pytest.mark.parametrize("op", sorted(_merged_ops()))
    def test_merged_op_build_runs_zero_jobs(self, spark, op,
                                            distributed):
        # lazy by contract: with the path chosen explicitly, building
        # the plan launches no Spark job on either device
        df = spark.createDataFrame(
            [("g", "x", 1.0, 0.5), ("g", "y", 2.0, 0.25),
             ("g", "x", 3.0, 0.75)],
            "g string, s string, v double, w double")
        sc = spark.sparkContext
        group = f"build_{op}_{distributed}"
        sc.setJobGroup(group, "lazy check")
        try:
            _merged_ops()[op](df, distributed=distributed, buckets=4)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setJobGroup(None, None)
        assert list(jobs) == []

    @pytest.mark.parametrize("by", [["g"], []], ids=["by", "no_by"])
    @pytest.mark.parametrize("op", sorted(_routed_ops()))
    def test_routed_op_build_runs_zero_jobs(self, spark, op, by):
        # the blocked designs and the cell-grain tests rank through
        # _midranks (and _complete_blocks): building launches no job
        df = spark.createDataFrame(
            [("g", "b1", 1, "x", 1.0, 2.0), ("g", "b1", 2, "y", 3.0, 1.0),
             ("g", "b2", 1, "x", 2.0, 2.0), ("g", "b2", 2, "y", 2.0, 5.0)],
            "g string, blk string, trt int, s string, v double, w double")
        sc = spark.sparkContext
        group = f"build_{op}_{len(by)}"
        sc.setJobGroup(group, "lazy check")
        try:
            _routed_ops()[op](df, by)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setJobGroup(None, None)
        assert list(jobs) == []

    def test_mw_distributed_over_joined_input_builds_zero_jobs(
            self, spark):
        # an exchange-fed input is left unfanned instead of having its
        # partition count read, which would run the join under AQE
        from pandas_ai_spark.functions.stats import mann_whitney_u
        left = spark.createDataFrame(
            [(i % 3, float(i % 7), "x" if i % 2 else "y")
             for i in range(40)], "k int, v double, s string")
        right = spark.createDataFrame(
            [(k, f"g{k % 2}") for k in range(3)], "k int, g string")
        joined = left.join(right, "k")
        sc = spark.sparkContext
        sc.setJobGroup("mw_joined_build", "lazy check")
        try:
            out = mann_whitney_u(joined, "v", "s", "x", "y", by=["g"],
                                 distributed=True, buckets=4)
            jobs = sc.statusTracker().getJobIdsForGroup(
                "mw_joined_build")
        finally:
            sc.setJobGroup(None, None)
        assert list(jobs) == []
        assert _rows(out) == _rows(mann_whitney_u(
            joined, "v", "s", "x", "y", by=["g"], distributed=False))

    def test_wasserstein_distributed_matches_window_form(self, spark):
        from pandas_ai_spark.functions.stats import wasserstein_1d
        import random
        rnd = random.Random(11)
        rows = [("k%d" % (i % 2), rnd.choice(["x", "y"]),
                 float(rnd.randint(-50, 50)))
                for i in range(300)]
        df = spark.createDataFrame(rows, "g string, s string, v double")
        want = _rows(wasserstein_1d(df, "g", "v", "s", "x", "y",
                                    distributed=False))
        got = _rows(wasserstein_1d(df, "g", "v", "s", "x", "y",
                                   distributed=True, buckets=4))
        assert got == want

    def test_bh_fdr_distributed_matches_window_form(self, spark):
        from pandas_ai_spark.functions.stats import bh_fdr
        rows = [("t%02d" % i, p) for i, p in enumerate(
            [0.001, 0.004, 0.004, 0.02, 0.03, 0.5, 0.5, 0.8, None,
             0.049, 0.051, 1.0, 0.0001, 0.25])]
        df = spark.createDataFrame(rows, "test string, p double")
        want = _rows(bh_fdr(df, "p", alpha=0.05,
                            tiebreak_cols=["test"], distributed=False))
        got = _rows(bh_fdr(df, "p", alpha=0.05, tiebreak_cols=["test"],
                           distributed=True, buckets=4))
        assert got == want

    def test_mw_kw_distributed_match_window_forms(self, spark):
        from pandas_ai_spark.functions.stats import (
            kruskal_wallis, mann_whitney_u)
        import random
        rnd = random.Random(3)
        rows = [("b%d" % (i % 2), "l%d" % (i % 3),
                 float(rnd.randint(0, 30)))
                for i in range(240)]
        df = spark.createDataFrame(rows, "byk string, lev string, "
                                         "v double")
        want = _rows(mann_whitney_u(df, "v", "lev", "l0", "l1",
                                    by=["byk"], distributed=False))
        got = _rows(mann_whitney_u(df, "v", "lev", "l0", "l1",
                                   by=["byk"], distributed=True,
                                   buckets=4))
        assert got == want
        want = _rows(kruskal_wallis(df, "v", "lev", by=["byk"],
                                    distributed=False))
        got = _rows(kruskal_wallis(df, "v", "lev", by=["byk"],
                                   distributed=True, buckets=4))
        assert got == want


class TestInfiniteValues:
    """ADVICE r15: one ±inf made the slog span infinite, collapsing
    every finite value into a single bucket (a one-task rank/ECDF pass
    — the parallelism the bucketed device exists for). Infinities are
    now excluded from the bucket bounds like NaN, and still sort into
    the end buckets."""

    def _df(self, spark):
        import random
        rnd = random.Random(15)
        vals = [round(rnd.gauss(0, 10 ** rnd.randint(-2, 4)), 3)
                for _ in range(1000)]
        rows = [("g%d" % (i % 2), "a" if rnd.random() < 0.5 else "b",
                 v, float(i % 17)) for i, v in enumerate(vals)]
        rows += [("g0", "a", math.inf, 1.0), ("g1", "b", -math.inf, 2.0)]
        return spark.createDataFrame(
            rows, "g string, s string, v double, w double")

    def test_finite_values_span_several_buckets(self, spark):
        from pandas_ai_spark.functions.stats import _bucket_offsets
        tagged = _bucket_offsets(
            self._df(spark), ["v"], [], 4,
            [F.count(F.lit(1)).alias("__cnt")], lambda wb, wg: [])
        finite = {r["__bkt_0"] for r in tagged.collect()
                  if math.isfinite(r["v"])}
        assert len(finite) > 1

    def test_distributed_equals_window_with_inf_nan_null(self, spark):
        # NaN sorts above +inf, so it must land in the TOP bucket; the
        # NaN-only frame keeps a finite span (floor(NaN) casts to 0)
        from pandas_ai_spark.functions.stats import (
            ks_test, mann_whitney_u, spearman_corr)
        df = self._df(spark).unionByName(spark.createDataFrame(
            [("g0", "a", math.nan, 3.0), ("g1", "b", math.nan, 4.0),
             ("g0", "b", None, 5.0), ("g1", "a", None, 6.0)],
            "g string, s string, v double, w double"))
        nan_only = df.where(F.col("v").isNull()
                            | ~F.col("v").isin(math.inf, -math.inf))
        for d in (df, nan_only):
            for op in (
                    lambda **k: spearman_corr(d, "v", "w", by=["g"], **k),
                    lambda **k: mann_whitney_u(d, "v", "s", "a", "b",
                                               by=["g"], **k),
                    lambda **k: ks_test(d, "g", "v", "s", "a", "b", **k)):
                assert _rows(op(distributed=True, buckets=4)) == \
                    _rows(op(distributed=False))


# ---------------------------------------------------------------------
# q170 hex-threshold inverse CDF: independent python reference
# ---------------------------------------------------------------------

class TestBootstrapHexThresholds:
    def test_weights_match_hashlib_reference(self, spark):
        import hashlib

        from pandas_ai_spark.functions.stats import (_POISSON1_CDF,
                                                     poisson_bootstrap_ci)
        B = 8
        rows = [("g", i, i % 7) for i in range(50)]
        df = spark.createDataFrame(rows, "g string, rid bigint, x int")
        out = poisson_bootstrap_ci(df, "x", "rid", by=["g"], B=B,
                                   seed="t15").collect()[0]

        # independent reference: hashlib md5, float division
        def weight(rid: int, b: int) -> int:
            h = hashlib.md5(
                f"t15:{rid}:{b // 4}".encode()).hexdigest()
            t = int(h[8 * (b % 4): 8 * (b % 4) + 8], 16)
            u = t / 4294967296.0
            return sum(u >= c for c in _POISSON1_CDF)

        means = []
        for b in range(B):
            sw = sum(weight(r, b) for _, r, _ in rows)
            swx = sum(weight(r, b) * x for _, r, x in rows)
            if sw > 0:
                means.append(swx / sw)
        means.sort()
        n = len(means)
        lo = means[max(math.ceil(0.025 * n), 1) - 1]
        hi = means[min(math.ceil(0.975 * n), n) - 1]
        assert out["ci_lo"] == lo
        assert out["ci_hi"] == hi

    def test_hex_threshold_identity(self, spark):
        # the exact claim behind the rewrite: for every 32-bit T,
        # T/2^32 >= c  <=>  hex8(T) >= hex8(ceil(c * 2^32))
        from pandas_ai_spark.functions.stats import _POISSON1_CDF
        import random
        rnd = random.Random(5)
        samples = [0, 1, 2 ** 32 - 1] + \
            [math.ceil(c * 4294967296.0) + d
             for c in _POISSON1_CDF for d in (-1, 0, 1)] + \
            [rnd.getrandbits(32) for _ in range(1000)]
        for T in samples:
            if not 0 <= T < 2 ** 32:
                continue
            for c in _POISSON1_CDF:
                thr = format(math.ceil(c * 4294967296.0), "08x")
                assert ((T / 4294967296.0) >= c) == \
                    (format(T, "08x") >= thr), (T, c)


# ---------------------------------------------------------------------
# graph ADVICE fixes + triangle local path
# ---------------------------------------------------------------------

class TestGraphR15:
    def test_kcore_local_null_endpoint_matches_distributed(
            self, spark, graph_distributed):
        from pandas_ai_spark.functions.graph import kcore
        # triangle a-b-c (sym) + a null-dst edge inflating a's round-1
        # degree, exactly the distributed groupBy semantics
        sym = [("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"),
               ("b", "c"), ("c", "b"), ("a", None)]
        df = spark.createDataFrame(sym, "src string, dst string")
        local = _rows(kcore(df, k=2, rounds=4))
        graph_distributed("kcore")
        dist = _rows(kcore(df, k=2, rounds=4))
        assert local == dist

    def test_cc_local_null_node_self_labeled(self, spark):
        from pandas_ai_spark.functions.graph import connected_components
        df = spark.createDataFrame(
            [("a", "b"), ("c", None), (None, None)],
            "src string, dst string")
        local = _rows(connected_components(df))
        stats: dict = {}
        dist = _rows(connected_components(df, stats=stats))
        assert local == dist
        # the null node is restored self-labeled (component NULL)
        assert (None, None) in local

    def test_triangle_local_matches_distributed_and_canonical(
            self, spark, graph_distributed):
        from pandas_ai_spark.functions.graph import triangle_counts
        import random
        rnd = random.Random(9)
        raw = {(f"n{rnd.randint(0, 15)}", f"n{rnd.randint(0, 15)}")
               for _ in range(80)}
        edges = [(u, v) for u, v in raw]
        # feed both directions + dupes to the canonicalizing path
        df = spark.createDataFrame(edges + [(v, u) for u, v in edges],
                                   "src string, dst string")
        local = _rows(triangle_counts(df))
        # canonical input, assume_canonical skips the re-dedup
        canon = sorted({(min(u, v), max(u, v))
                        for u, v in edges if u != v})
        cdf = spark.createDataFrame(canon, "src string, dst string")
        got = _rows(triangle_counts(cdf, assume_canonical=True))
        assert got == local
        graph_distributed("triangle_counts")
        dist = _rows(triangle_counts(df))
        assert local == dist
        got_dist = _rows(triangle_counts(cdf, assume_canonical=True))
        assert got_dist == local

    def test_triangle_local_empty_edges(self, spark):
        # q88 at sf0.001 yields ZERO edges above min_support — the
        # local path must return an empty frame, not a shape error
        from pandas_ai_spark.functions.graph import triangle_counts
        df = spark.createDataFrame([], "src string, dst string")
        assert triangle_counts(df).count() == 0
        assert triangle_counts(df, assume_canonical=True).count() == 0

"""Round-13 guards: signed-zero normalization (VERDICT r12 item 1).

The r12 driver failed q212 on value-hash alone: DuckDB's ``round(x, 9)``
preserves IEEE ``-0.0`` while Spark's ``F.round`` (BigDecimal HALF_UP)
normalizes it to ``+0.0``, and the driver hashes pandas frames where the
two zeros differ bitwise.  The fix is mechanical on the oracle side
(``__spark_entry__._fold_negzero_rounds`` rewrites every two-arg
``round`` as ``(round(...) + 0.0)``); this module pins the Spark side:
no registry query may emit ``-0.0`` in any float output column.
"""

import math
import sys

import pytest

sys.path.insert(0, ".")

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"


def _negzero_cols(rows) -> set:
    bad = set()
    for r in rows:
        for c, v in r.asDict().items():
            if isinstance(v, float) and v == 0.0 \
                    and math.copysign(1.0, v) < 0:
                bad.add(c)
    return bad


def test_no_entry_query_emits_negative_zero(spark):
    """Registry-wide: every queries() entry, run at sf0.001, has no
    -0.0 in any output cell (the driver-hash-visible signed-zero class;
    tools/oracle_check.py's canonical() now distinguishes the two zeros
    so the sf0.01 sweep guards the other scale)."""
    from pandas_ai_spark.functions.cache import release_operator_caches

    offenders = {}
    for name, fn in entry.queries_numeric().items():
        rows = fn(spark, SF_DIR).collect()
        release_operator_caches()
        bad = _negzero_cols(rows)
        if bad:
            offenders[name] = sorted(bad)
    assert not offenders, (
        f"entry queries emit -0.0 (driver hash mismatch): {offenders}"
    )


class TestRankDispatchNoEstimate:
    """VERDICT r12 item 7: absent-Catalyst-estimate inputs
    (createDataFrame, RDD-sourced plans) no longer silently default to
    the single-partition window form — the dispatch counts rows once
    and decides on a width×rows stand-in estimate."""

    def test_no_estimate_source_routes_distributed_over_threshold(
            self, spark, monkeypatch, rank_paths):
        from pandas_ai_spark.functions import stats

        df = spark.createDataFrame(
            [(float(i), "view" if i % 2 else "click")
             for i in range(40)], ["value", "grp"])
        assert stats._plan_size(df) is None  # the shape under test
        monkeypatch.setattr(stats, "RANK_WINDOW_MAX_BYTES", 1)
        out = stats.mann_whitney_u(
            df, "value", "grp", "view", "click").collect()
        assert rank_paths == [("mann_whitney_u", True)]
        assert len(out) == 1

    def test_no_estimate_small_input_keeps_window_form(
            self, spark, rank_paths):
        from pandas_ai_spark.functions import stats

        df = spark.createDataFrame(
            [(float(i), "view" if i % 2 else "click")
             for i in range(40)], ["value", "grp"])
        # default 1 GiB threshold: 40 counted rows stay on the window
        out = stats.mann_whitney_u(
            df, "value", "grp", "view", "click").collect()
        assert rank_paths == [("mann_whitney_u", False)]
        assert len(out) == 1


class TestExactStateThresholdConfig:
    """ADVICE r12: the exact→approx crossover is session-tunable via
    spark.pandas_ai.exactStateMaxBytes (per-call approx= still wins)."""

    def test_session_config_overrides_module_constant(
            self, spark, monkeypatch):
        from pandas_ai_spark.functions import stats

        df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        size = stats._plan_size(df)
        assert size and size > 0
        # module constant forced below the input -> approx engages
        monkeypatch.setattr(stats, "EXACT_STATE_MAX_BYTES", 1)
        stats._warned_auto.discard("big")
        assert stats._resolve_approx(df, None) is True
        # session config raises the threshold back -> exact again
        spark.conf.set("spark.pandas_ai.exactStateMaxBytes",
                       str(1 << 40))
        try:
            assert stats._resolve_approx(df, None) is False
            # explicit per-call flag always wins
            assert stats._resolve_approx(df, True) is True
        finally:
            spark.conf.unset("spark.pandas_ai.exactStateMaxBytes")

    def test_explicit_false_wins_over_tiny_threshold(
            self, spark, monkeypatch):
        from pandas_ai_spark.functions import stats

        df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        monkeypatch.setattr(stats, "EXACT_STATE_MAX_BYTES", 1)
        assert stats._resolve_approx(df, False) is False


# one by group's rows: (block, treatment, value) over 5 complete blocks
# of 3 treatments, values with ties
_ONE_GROUP = [(b, t, (b * 7 + t * 3) % 6 + t)
              for b in range(5) for t in (1, 2, 3)]

# every by-taking operator that attaches per-group tables or joins cell
# pairs: (module, call on a frame keyed by "g")
_NULL_KEY_OPS = {
    "kruskal_wallis": ("stats", lambda f, df: f(
        df, "v", "trt", by=["g"], distributed=False)),
    "dunn_test": ("stats", lambda f, df: f(
        df, "v", "trt", by=["g"], distributed=False)),
    "mood_median_test": ("stats",
                         lambda f, df: f(df, "v", "trt", by=["g"])),
    "jonckheere_terpstra": ("stats",
                            lambda f, df: f(df, "v", "trt", by=["g"])),
    "kendall_tau_b": ("stats", lambda f, df: f(df, "x", "y", by=["g"])),
    "ordinal_association": ("stats",
                            lambda f, df: f(df, "x", "y", by=["g"])),
    "theil_sen": ("stats", lambda f, df: f(df, "x", "y", by=["g"])),
    "siegel_slopes": ("stats", lambda f, df: f(
        df, "x", "y", by=["g"], x_cells_guard=None)),
    "cliffs_delta": ("stats", lambda f, df: f(
        df, "v", "s", "a", "b", by=["g"])),
    "hodges_lehmann": ("stats", lambda f, df: f(
        df, "v", "s", "a", "b", by=["g"])),
    "permutation_test": ("stats", lambda f, df: f(
        df, "v", "s", "a", "b", ["id"], by=["g"], n_perm=5)),
    "friedman_test": ("stats", lambda f, df: f(
        df, "blk", "trt", "v", by=["g"])),
    "page_trend": ("stats", lambda f, df: f(
        df, "blk", "trt", "v", by=["g"])),
    "kendalls_w": ("stats", lambda f, df: f(
        df, "blk", "trt", "v", by=["g"])),
    "quade_test": ("stats", lambda f, df: f(
        df, "blk", "trt", "v", by=["g"])),
    "cronbach_alpha": ("stats", lambda f, df: f(
        df, "blk", "trt", "v", by=["g"])),
    "cochran_q": ("stats", lambda f, df: f(
        df, "blk", "trt", "v > 3", by=["g"])),
    "weighted_kappa": ("classify", lambda f, df: f(df, "x", "y",
                                                  by=["g"])),
    "gwet_ac1": ("classify", lambda f, df: f(df, "x", "y", by=["g"])),
    "fleiss_kappa": ("classify", lambda f, df: f(df, "blk", "y",
                                                by=["g"])),
    "krippendorff_alpha": ("classify", lambda f, df: f(df, "blk", "y",
                                                      by=["g"])),
}


class TestAdviceR12Fixes:
    def test_ordinal_association_null_group_key(self, spark):
        """ADVICE r12: a NULL by-key group must carry real C/D counts
        and statistics, not c_pairs=0 / NULL gamma from the name-based
        left join silently dropping the match."""
        from pandas_ai_spark.functions.stats import ordinal_association

        rows = ([(None, 1, 1), (None, 2, 2), (None, 3, 3)]
                + [("g", 1, 3), ("g", 2, 2), ("g", 3, 1)])
        df = spark.createDataFrame(rows, "grp string, x int, y int")
        out = {r["grp"]: r for r in
               ordinal_association(df, "x", "y", by=["grp"]).collect()}
        assert out[None]["c_pairs"] == 3 and out[None]["d_pairs"] == 0
        assert out[None]["gamma"] == pytest.approx(1.0)
        assert out["g"]["gamma"] == pytest.approx(-1.0)

    @pytest.mark.parametrize("op", sorted(_NULL_KEY_OPS))
    def test_null_group_key(self, spark, op):
        """A by group whose key is NULL returns the same rows as the
        same data under a non-NULL key, for every operator whose
        per-group attaches (stats._attach) and cell-pair joins
        (stats._cell_pairs) match group keys NULL-safely. Both groups
        share one input, so a NULL key pairing with nothing, or with
        the other group, shows as a difference."""
        import importlib

        rows = [(g, f"b{b}", t, v, t, v % 4, "ab"[(b + t) % 2],
                 f"{b}-{t}")
                for g in (None, "k") for b, t, v in _ONE_GROUP]
        df = spark.createDataFrame(
            rows, "g string, blk string, trt int, v int, x int, y int, "
                  "s string, id string")
        module, call = _NULL_KEY_OPS[op]
        fn = getattr(importlib.import_module(
            f"pandas_ai_spark.functions.{module}"), op)
        out = call(fn, df).collect()

        def rows_of(key):
            return sorted(
                (tuple((k, round(v, 9) if isinstance(v, float) else v)
                       for k, v in r.asDict().items() if k != "g")
                 for r in out if r["g"] == key), key=str)

        assert rows_of("k")
        assert rows_of(None) == rows_of("k")

    def test_wilcoxon_rounds_fractional_inputs(self, spark):
        """ADVICE r12: fractional inputs are HALF-UP rounded, not
        truncated toward zero (1.6-0.4 must behave as 2-0, not 1-0)."""
        from pandas_ai_spark.functions.stats import wilcoxon_signed_rank

        frac = spark.createDataFrame(
            [(1.6, 0.4), (2.6, 1.4), (3.6, 0.4), (0.4, 2.6), (5.6, 1.4)],
            "a double, b double")
        ints = spark.createDataFrame(
            [(2, 0), (3, 1), (4, 0), (0, 3), (6, 1)],
            "a int, b int")
        got = wilcoxon_signed_rank(frac, "a", "b").collect()[0]
        want = wilcoxon_signed_rank(ints, "a", "b").collect()[0]
        assert got["n"] == want["n"]
        assert got["z"] == pytest.approx(want["z"])

    def test_kcore_converged_on_last_budgeted_round(self, spark):
        """ADVICE r12: a peel that reaches its fixpoint exactly on the
        final budgeted round must still report converged=True (one
        extra zero-delta detection round, an algebraic no-op)."""
        from pandas_ai_spark.functions.graph import kcore

        # triangle + one pendant edge: round 1 deletes the pendant,
        # the triangle is the stable 2-core — budget exactly 1 round
        edges = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
                 ("a", "c"), ("c", "a"), ("c", "d"), ("d", "c")]
        df = spark.createDataFrame(edges, ["src", "dst"])
        out, converged = kcore(df, 2, rounds=1, return_convergence=True)
        assert converged is True
        assert {r["node"] for r in out.collect()} == {"a", "b", "c"}

    def test_semantic_dedup_sample_honored_verbatim(
            self, spark, monkeypatch):
        """ADVICE r12: an explicit sample is not silently floor-raised
        to 16*n_clusters — the k-means trainer sees at most the
        requested number of vectors."""
        from pandas_ai_spark.functions import similarity as sim

        seen = {}
        orig = sim._kmeans_centroids

        def rec(M, n_centroids, *a, **k):
            seen["rows"] = M.shape[0]
            return orig(M, n_centroids, *a, **k)

        monkeypatch.setattr(sim, "_kmeans_centroids", rec)
        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet")
        sim.semantic_dedup_pairs(
            emb, threshold=0.99, n_clusters=4, sample=8).collect()
        assert seen["rows"] <= 8
        # the default remains floor-adjusted (>=16 per centroid)
        seen.clear()
        sim.semantic_dedup_pairs(
            emb, threshold=0.99, n_clusters=4).collect()
        assert seen["rows"] >= min(
            64, emb.count())  # 16*4, capped by corpus size


# ---------------------------------------------------------------------------
# round-13 additive operators: annotation-agreement battery + RBO
# (each checked against an independent pure-python reference)
# ---------------------------------------------------------------------------


class TestWeightedKappa:
    def _ref(self, pairs, q):
        cats = sorted({a for a, _ in pairs} | {b for _, b in pairs})
        ix = {c: i for i, c in enumerate(cats)}
        k, n = len(cats), len(pairs)
        if k == 1:
            return None
        obs = [[0] * k for _ in range(k)]
        for a, b in pairs:
            obs[ix[a]][ix[b]] += 1
        ra = [sum(obs[i]) for i in range(k)]
        cb = [sum(obs[i][j] for i in range(k)) for j in range(k)]
        w = lambda i, j: (abs(i - j) / (k - 1)) ** q
        do = sum(w(i, j) * obs[i][j] for i in range(k)
                 for j in range(k)) / n
        de = sum(w(i, j) * ra[i] * cb[j] for i in range(k)
                 for j in range(k)) / (n * n)
        return 1 - do / de if de else None

    def test_matches_reference_quadratic(self, spark):
        from pandas_ai_spark.functions.classify import weighted_kappa

        pairs = [(0, 0), (0, 1), (1, 1), (1, 2), (2, 2), (2, 2),
                 (3, 1), (3, 3), (4, 4), (4, 2), (0, 4), (2, 3)]
        df = spark.createDataFrame(pairs, "a int, b int")
        row = weighted_kappa(df, "a", "b").collect()[0]
        assert row["n"] == len(pairs) and row["k"] == 5
        assert row["kappa_w"] == pytest.approx(self._ref(pairs, 2))

    def test_matches_reference_linear_by_group(self, spark):
        from pandas_ai_spark.functions.classify import weighted_kappa

        g1 = [(1, 1), (2, 2), (3, 3), (1, 2), (2, 1), (3, 1)]
        g2 = [(1, 3), (3, 1), (2, 2), (1, 1)]
        rows = [("x", a, b) for a, b in g1] + [("y", a, b) for a, b in g2]
        df = spark.createDataFrame(rows, "g string, a int, b int")
        out = {r["g"]: r for r in weighted_kappa(
            df, "a", "b", weights="linear", by=["g"]).collect()}
        assert out["x"]["kappa_w"] == pytest.approx(self._ref(g1, 1))
        assert out["y"]["kappa_w"] == pytest.approx(self._ref(g2, 1))

    def test_perfect_agreement_is_one(self, spark):
        from pandas_ai_spark.functions.classify import weighted_kappa

        df = spark.createDataFrame(
            [(i % 3, i % 3) for i in range(9)], "a int, b int")
        assert weighted_kappa(df, "a", "b").collect()[0]["kappa_w"] \
            == pytest.approx(1.0)


class TestFleissKappa:
    def test_wikipedia_example(self, spark):
        """The canonical Fleiss example (14 raters, 10 items, 5
        categories): kappa ~= 0.210."""
        from pandas_ai_spark.functions.classify import fleiss_kappa

        table = [  # n_ij votes per item x category
            [0, 0, 0, 0, 14], [0, 2, 6, 4, 2], [0, 0, 3, 5, 6],
            [0, 3, 9, 2, 0], [2, 2, 8, 1, 1], [7, 7, 0, 0, 0],
            [3, 2, 6, 3, 0], [2, 5, 3, 2, 2], [6, 5, 2, 1, 0],
            [0, 2, 2, 3, 7]]
        rows = [(i, c) for i, item in enumerate(table)
                for c, cnt in enumerate(item) for _ in range(cnt)]
        df = spark.createDataFrame(rows, "item int, cat int")
        row = fleiss_kappa(df, "item", "cat").collect()[0]
        assert row["n_items"] == 10 and row["n_categories"] == 5
        assert row["p_bar"] == pytest.approx(0.378, abs=1e-3)
        assert row["p_e"] == pytest.approx(0.213, abs=1e-3)
        assert row["kappa"] == pytest.approx(0.210, abs=1e-3)

    def test_single_vote_items_dropped(self, spark):
        from pandas_ai_spark.functions.classify import fleiss_kappa

        rows = [(1, "a"), (1, "a"), (2, "b")]  # item 2 unpairable
        df = spark.createDataFrame(rows, "item int, cat string")
        row = fleiss_kappa(df, "item", "cat").collect()[0]
        assert row["n_items"] == 1


class TestKrippendorffAlpha:
    def _ref(self, votes):
        # coincidence-matrix nominal alpha over units with >=2 votes
        from collections import Counter, defaultdict
        units = defaultdict(list)
        for u, v in votes:
            units[u].append(v)
        units = {u: vs for u, vs in units.items() if len(vs) >= 2}
        if not units:
            return None
        do_num = 0.0
        tc = Counter()
        for vs in units.values():
            m = len(vs)
            cnt = Counter(vs)
            do_num += (m * m - sum(c * c for c in cnt.values())) \
                / (m - 1)
            tc.update(cnt)
        t = sum(tc.values())
        de_den = t * t - sum(c * c for c in tc.values())
        if de_den <= 0:
            return None
        return 1 - (t - 1) * do_num / de_den

    def test_matches_reference(self, spark):
        from pandas_ai_spark.functions.classify import krippendorff_alpha

        votes = [(1, "a"), (1, "a"), (1, "b"), (2, "b"), (2, "b"),
                 (3, "a"), (3, "c"), (3, "c"), (3, "c"), (4, "d"),
                 (5, "a"), (5, "a"), (5, "a"), (6, "b"), (6, "c")]
        df = spark.createDataFrame(votes, "unit int, val string")
        row = krippendorff_alpha(df, "unit", "val").collect()[0]
        assert row["n_units"] == 5  # unit 4 unpairable
        assert row["alpha"] == pytest.approx(self._ref(votes))

    def test_perfect_agreement(self, spark):
        from pandas_ai_spark.functions.classify import krippendorff_alpha

        votes = [(1, "a"), (1, "a"), (2, "b"), (2, "b")]
        df = spark.createDataFrame(votes, "unit int, val string")
        assert krippendorff_alpha(df, "unit", "val").collect()[0][
            "alpha"] == pytest.approx(1.0)


class TestGwetAC1:
    def _ref(self, pairs):
        from collections import Counter
        n = len(pairs)
        po = sum(1 for a, b in pairs if a == b) / n
        sc = Counter([a for a, _ in pairs]) + Counter(
            [b for _, b in pairs])
        k = len(sc)
        if k == 1:
            return None
        pe = sum((s / (2 * n)) * (1 - s / (2 * n))
                 for s in sc.values()) / (k - 1)
        return (po - pe) / (1 - pe)

    def test_matches_reference(self, spark):
        from pandas_ai_spark.functions.classify import gwet_ac1

        pairs = [("y", "y")] * 40 + [("n", "n")] * 3 + \
            [("y", "n")] * 2 + [("n", "y")] * 1
        df = spark.createDataFrame(pairs, "a string, b string")
        row = gwet_ac1(df, "a", "b").collect()[0]
        assert row["n"] == 46 and row["k"] == 2
        assert row["ac1"] == pytest.approx(self._ref(pairs))

    def test_skewed_labels_ac1_exceeds_kappa(self, spark):
        """the kappa-paradox case AC1 exists for: near-unanimous
        raters, rare second class."""
        from pandas_ai_spark.functions.classify import (cohens_kappa,
                                                        gwet_ac1)

        pairs = [("y", "y")] * 95 + [("y", "n")] * 3 + \
            [("n", "y")] * 1 + [("n", "n")] * 1
        df = spark.createDataFrame(pairs, "a string, b string")
        ac1 = gwet_ac1(df, "a", "b").collect()[0]["ac1"]
        kap = cohens_kappa(df, "a", "b").collect()[0]["kappa"]
        assert ac1 > kap


class TestCochranQ:
    def _ref(self, blocks):
        # blocks: dict block -> set of succeeding treatments; k fixed
        k = 3
        g = {}
        for trts in blocks.values():
            for t in trts:
                g[t] = g.get(t, 0) + 1
        t_tot = sum(g.values())
        g2 = sum(v * v for v in g.values())
        l2 = sum(len(v) ** 2 for v in blocks.values())
        den = k * t_tot - l2
        if den == 0:
            return None
        return (k - 1) * (k * g2 - t_tot * t_tot) / den

    def test_matches_reference(self, spark):
        from pandas_ai_spark.functions.stats import cochran_q

        blocks = {1: {"a"}, 2: {"a", "b"}, 3: {"a", "b", "c"},
                  4: set(), 5: {"a"}, 6: {"a", "c"}, 7: {"b"},
                  8: {"a"}, 9: {"a", "b"}, 10: set()}
        rows = []
        for blk, succ in blocks.items():
            for t in ("a", "b", "c"):
                rows.append((blk, t, 1 if t in succ else 0))
        df = spark.createDataFrame(rows, "blk int, trt string, y int")
        row = cochran_q(df, "blk", "trt", "y = 1").collect()[0]
        assert row["k"] == 3 and row["n_blocks"] == 10
        assert row["q"] == pytest.approx(self._ref(blocks))

    def test_degenerate_all_success_is_null(self, spark):
        from pandas_ai_spark.functions.stats import cochran_q

        rows = [(b, t, 1) for b in (1, 2) for t in ("a", "b")]
        df = spark.createDataFrame(rows, "blk int, trt string, y int")
        assert cochran_q(df, "blk", "trt", "y = 1").collect()[0]["q"] \
            is None


class TestRBO:
    def _ref(self, la, lb, p, d):
        sa, sb = set(), set()
        total = 0.0
        for i in range(1, d + 1):
            if i <= len(la):
                sa.add(la[i - 1])
            if i <= len(lb):
                sb.add(lb[i - 1])
            total += p ** (i - 1) * len(sa & sb) / i
        return (1 - p) * total

    def test_matches_reference(self, spark):
        from pandas_ai_spark.functions.search import rbo

        la = [1, 2, 3, 4, 5, 6, 7, 8]
        lb = [2, 1, 3, 9, 5, 10, 7, 11]
        a = spark.createDataFrame(
            [(x, i + 1) for i, x in enumerate(la)], "id int, rank int")
        b = spark.createDataFrame(
            [(x, i + 1) for i, x in enumerate(lb)], "id int, rank int")
        row = rbo(a, b, p=0.9, depth=8).collect()[0]
        assert row["rbo"] == pytest.approx(self._ref(la, lb, 0.9, 8))
        assert row["overlap_at_depth"] == len(set(la) & set(lb))

    def test_identical_lists_approach_one(self, spark):
        from pandas_ai_spark.functions.search import rbo

        la = list(range(1, 21))
        a = spark.createDataFrame(
            [(x, i + 1) for i, x in enumerate(la)], "id int, rank int")
        row = rbo(a, a, p=0.9, depth=20).collect()[0]
        # truncated RBO of identical lists = (1-p) sum p^(i-1) = 1 - p^d
        assert row["rbo"] == pytest.approx(1 - 0.9 ** 20)

    def test_disjoint_lists_zero(self, spark):
        from pandas_ai_spark.functions.search import rbo

        a = spark.createDataFrame([(1, 1), (2, 2)], "id int, rank int")
        b = spark.createDataFrame([(3, 1), (4, 2)], "id int, rank int")
        row = rbo(a, b, p=0.9, depth=2).collect()[0]
        assert row["rbo"] == 0.0 and row["overlap_at_depth"] == 0


class TestMp4Demux:
    """Round-13 VERDICT item 8: the video stub upgraded to a REAL
    pure-python ISO-BMFF demuxer (box walk + sample tables); only the
    codec decode step remains out of scope."""

    def test_build_parse_round_trip(self):
        from pandas_ai_spark.functions.multimodal import (
            build_mp4, mp4_parse, mp4_sample_ranges)

        frames = [bytes([i]) * (5 + i) for i in range(7)]
        blob = build_mp4(frames, 320, 240, 4200)
        info = mp4_parse(blob)
        assert info["brand"] == "isom"
        assert info["duration"] / info["timescale"] == 4.2
        vid = info["tracks"][0]
        assert vid["handler"] == "vide" and vid["codec"] == "mp4v"
        assert (vid["width"], vid["height"]) == (320, 240)
        assert len(vid["sample_sizes"]) == 7
        got = [blob[o:o + s] for o, s in mp4_sample_ranges(vid)]
        assert got == frames  # byte-exact payload recovery

    def test_non_mp4_rejected(self):
        from pandas_ai_spark.functions.multimodal import mp4_parse

        assert mp4_parse(b"plain text, no boxes" * 8) is None
        assert mp4_parse(b"") is None
        assert mp4_parse(None) is None

    def test_multi_chunk_sample_ranges(self):
        """general stsc mapping: two chunk runs with different
        samples-per-chunk."""
        from pandas_ai_spark.functions.multimodal import \
            mp4_sample_ranges

        track = {"stsc": [(1, 2, 1), (3, 1, 1)],
                 "chunk_offsets": [100, 200, 300, 400],
                 "sample_sizes": [10, 11, 12, 13, 14, 15]}
        # chunks 1-2 carry 2 samples each; chunks 3-4 carry 1 each
        assert mp4_sample_ranges(track) == [
            (100, 10), (110, 11), (200, 12), (212, 13),
            (300, 14), (400, 15)]

    def test_probe_video_operator(self, spark):
        from pandas_ai_spark.functions.multimodal import (build_mp4,
                                                          probe_video)

        blob = build_mp4([b"xx", b"yyy"], 128, 96, 500)
        df = spark.createDataFrame(
            [(1, bytearray(blob)), (2, bytearray(b"not a video"))],
            "doc_id long, media binary")
        rows = {r["doc_id"]: r for r in
                probe_video(df, "media", "doc_id").collect()}
        assert rows[1]["is_mp4"] and rows[1]["video_frames"] == 2
        assert rows[1]["width"] == 128 and rows[1]["codec"] == "mp4v"
        assert rows[1]["duration_sec"] == 0.5
        assert rows[2]["is_mp4"] is False and rows[2]["codec"] is None

    def test_sample_video_frames_real_demux(self, spark):
        from pandas_ai_spark.functions.multimodal import (
            build_mp4, sample_video_frames)

        frames = [bytes([65 + i]) * (i + 1) for i in range(9)]
        blob = build_mp4(frames, 64, 48, 900)
        df = spark.createDataFrame([(1, bytearray(blob))],
                                   "doc_id long, media binary")
        out = sample_video_frames(df, "media", "doc_id", every_n=4,
                                  decoder="real").collect()
        got = {r["frame_idx"]: bytes(r["frame"]) for r in out}
        assert got == {0: frames[0], 4: frames[4], 8: frames[8]}

    def test_real_decoder_raises_on_non_mp4(self, spark):
        from pandas_ai_spark.functions.multimodal import \
            sample_video_frames

        df = spark.createDataFrame([(1, bytearray(b"nope" * 64))],
                                   "doc_id long, media binary")
        with pytest.raises(Exception, match="ISO-BMFF|DecoderUnavail"):
            sample_video_frames(df, "media", "doc_id",
                                decoder="real").collect()

    def test_auto_falls_back_to_fake(self, spark):
        from pandas_ai_spark.functions.multimodal import \
            sample_video_frames

        df = spark.createDataFrame([(1, bytearray(b"z" * 256))],
                                   "doc_id long, media binary")
        out = sample_video_frames(df, "media", "doc_id",
                                  every_n=2).collect()
        assert len(out) == 2  # 4 fake 64-byte frames, every 2nd


class TestLjungBox:
    def _ref(self, xs, m):
        n = len(xs)
        mean = sum(xs) / n
        den = sum((x - mean) ** 2 for x in xs)
        q = 0.0
        for k in range(1, m + 1):
            r = sum((xs[t] - mean) * (xs[t - k] - mean)
                    for t in range(k, n)) / den
            q += r * r / (n - k)
        return n * (n + 2) * q

    def test_matches_reference(self, spark):
        from pandas_ai_spark.functions.timeseries import ljung_box

        xs = [3, 7, 2, 8, 4, 9, 1, 6, 5, 7, 3, 8, 2, 9, 4, 6]
        df = spark.createDataFrame(
            [(i, x) for i, x in enumerate(xs)], "t int, x int")
        row = ljung_box(df, "x", "t", lags=4).collect()[0]
        assert row["n"] == 16 and row["lags"] == 4
        assert row["q_lb"] == pytest.approx(self._ref(xs, 4))

    def test_strong_autocorrelation_large_q(self, spark):
        from pandas_ai_spark.functions.timeseries import ljung_box

        trend = list(range(30))
        df = spark.createDataFrame(
            [(i, x) for i, x in enumerate(trend)], "t int, x int")
        row = ljung_box(df, "x", "t", lags=3).collect()[0]
        # chi2(3) 99th pct ~ 11.3; a pure trend blows far past it
        assert row["q_lb"] > 30

    def test_constant_series_null(self, spark):
        from pandas_ai_spark.functions.timeseries import ljung_box

        df = spark.createDataFrame(
            [(i, 5) for i in range(10)], "t int, x int")
        assert ljung_box(df, "x", "t", lags=2).collect()[0]["q_lb"] \
            is None


class TestRunsTest:
    def _ref(self, seq):
        import math
        n1 = sum(seq)
        n2 = len(seq) - n1
        runs = 1 + sum(1 for a, b in zip(seq, seq[1:]) if a != b)
        n = n1 + n2
        mu = 2 * n1 * n2 / n + 1
        var = 2 * n1 * n2 * (2 * n1 * n2 - n) / (n * n * (n - 1))
        return runs, (runs - mu) / math.sqrt(var)

    def test_matches_reference(self, spark):
        from pandas_ai_spark.functions.stats import runs_test

        seq = [1, 1, 0, 1, 0, 0, 0, 1, 1, 0, 1, 0, 1, 1, 0, 0]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(seq)], "t int, v int")
        row = runs_test(df, "t", "v = 1").collect()[0]
        r_ref, z_ref = self._ref(seq)
        assert row["runs"] == r_ref
        assert row["n1"] == sum(seq)
        assert row["z"] == pytest.approx(z_ref)

    def test_alternating_sequence_positive_z(self, spark):
        from pandas_ai_spark.functions.stats import runs_test

        seq = [i % 2 for i in range(20)]  # maximal runs
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(seq)], "t int, v int")
        row = runs_test(df, "t", "v = 1").collect()[0]
        assert row["runs"] == 20 and row["z"] > 3

    def test_degenerate_one_class_null(self, spark):
        from pandas_ai_spark.functions.stats import runs_test

        df = spark.createDataFrame(
            [(i, 1) for i in range(8)], "t int, v int")
        assert runs_test(df, "t", "v = 1").collect()[0]["z"] is None


class TestRankingMetrics:
    def _ref(self, ranked, rels, k):
        """ranked: [doc...] in rank order; rels: {doc: grade}"""
        import math
        disc = {i: 1.0 / math.log2(i + 1) for i in range(1, k + 1)}
        top = ranked[:k]
        dcg = sum(rels.get(d, 0) * disc[i + 1]
                  for i, d in enumerate(top))
        ideal = sorted((g for g in rels.values() if g > 0),
                       reverse=True)[:k]
        idcg = sum(g * disc[i + 1] for i, g in enumerate(ideal))
        hits, cum, apn, first = 0, 0, 0.0, None
        for i, d in enumerate(top):
            if rels.get(d, 0) > 0:
                cum += 1
                apn += cum / (i + 1)
                if first is None:
                    first = i + 1
        nrel = sum(1 for g in rels.values() if g > 0)
        return {
            "ndcg": dcg / idcg if idcg > 0 else None,
            "mrr": 1.0 / first if first else 0.0,
            "ap": apn / min(nrel, k) if nrel else None,
            "p": cum / k,
            "r": cum / nrel if nrel else None,
        }

    def test_matches_reference(self, spark):
        from pandas_ai_spark.functions.search import ranking_metrics

        ranked = [10, 20, 30, 40, 50, 60, 70, 80]
        rels = {20: 2, 40: 1, 70: 3, 99: 1}  # 99 not retrieved
        runs = spark.createDataFrame(
            [("q1", d, i + 1) for i, d in enumerate(ranked)],
            "query_id string, doc_id int, rank int")
        qrels = spark.createDataFrame(
            [("q1", d, g) for d, g in rels.items()],
            "query_id string, doc_id int, rel int")
        row = ranking_metrics(runs, qrels, k=5).collect()[0]
        ref = self._ref(ranked, rels, 5)
        assert row["ndcg_at_k"] == pytest.approx(ref["ndcg"])
        assert row["mrr_at_k"] == pytest.approx(ref["mrr"])
        assert row["ap_at_k"] == pytest.approx(ref["ap"])
        assert row["precision_at_k"] == pytest.approx(ref["p"])
        assert row["recall_at_k"] == pytest.approx(ref["r"])
        assert row["n_rel"] == 4

    def test_perfect_ranking(self, spark):
        from pandas_ai_spark.functions.search import ranking_metrics

        runs = spark.createDataFrame(
            [("q", d, d) for d in (1, 2, 3)],
            "query_id string, doc_id int, rank int")
        qrels = spark.createDataFrame(
            [("q", 1, 3), ("q", 2, 2), ("q", 3, 1)],
            "query_id string, doc_id int, rel int")
        row = ranking_metrics(runs, qrels, k=3).collect()[0]
        assert row["ndcg_at_k"] == pytest.approx(1.0)
        assert row["mrr_at_k"] == 1.0
        assert row["ap_at_k"] == pytest.approx(1.0)
        assert row["recall_at_k"] == pytest.approx(1.0)

    def test_no_relevant_docs(self, spark):
        from pandas_ai_spark.functions.search import ranking_metrics

        runs = spark.createDataFrame(
            [("q", 1, 1), ("q", 2, 2)],
            "query_id string, doc_id int, rank int")
        qrels = spark.createDataFrame(
            [], "query_id string, doc_id int, rel int")
        row = ranking_metrics(runs, qrels, k=2).collect()[0]
        assert row["mrr_at_k"] == 0.0
        assert row["precision_at_k"] == 0.0
        assert row["ndcg_at_k"] is None and row["recall_at_k"] is None


def test_oracle_check_canonical_distinguishes_signed_zero():
    sys.path.insert(0, "tools")
    from oracle_check import canonical

    a = canonical([(0.0, "x")], ["v", "k"])
    b = canonical([(-0.0, "x")], ["v", "k"])
    assert a != b, "sweep comparator is blind to signed zero again"
    # and rounding still folds sub-9dp jitter onto equal values
    assert canonical([(1.0000000001, "x")], ["v", "k"]) == \
        canonical([(1.0000000004, "x")], ["v", "k"])

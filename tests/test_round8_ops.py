"""Round-8: the eight operators shipped unwired in the r7 snapshot,
now wired (q139-q146) and unit-tested, including the ADVICE r7
regressions: rrf_fuse non-default column names, min_label_propagation
self-loop-only node membership, gopher_rules NULL-text concrete-False
flags, neyman_allocation single-scan persist.
"""

import math

import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# stats.wilson_intervals
# ---------------------------------------------------------------------------

class TestWilsonIntervals:
    def test_known_values(self, spark):
        from pandas_ai_spark.functions.stats import wilson_intervals

        # g1: 2/4 successes; g2: 0/3
        df = spark.createDataFrame(
            [("g1", 1), ("g1", 1), ("g1", 0), ("g1", 0),
             ("g2", 0), ("g2", 0), ("g2", 0)], ["g", "s"])
        rows = {r.g: r for r in
                wilson_intervals(df, ["g"], "s = 1").collect()}
        z, n, p = 1.96, 4.0, 0.5
        z2 = z * z
        denom = 1 + z2 / n
        center = p + z2 / (2 * n)
        margin = z * math.sqrt((p * (1 - p) + z2 / (4 * n)) / n)
        assert rows["g1"].n == 4 and rows["g1"].successes == 2
        assert abs(rows["g1"].rate - 0.5) < 1e-12
        assert abs(rows["g1"].wilson_low - (center - margin) / denom) < 1e-12
        assert abs(rows["g1"].wilson_high - (center + margin) / denom) < 1e-12
        # rate 0: Wilson low is exactly 0, high strictly positive
        assert rows["g2"].successes == 0
        assert abs(rows["g2"].wilson_low) < 1e-12
        assert 0 < rows["g2"].wilson_high < 1

    def test_interval_stays_in_unit_range(self, spark):
        from pandas_ai_spark.functions.stats import wilson_intervals

        # rate 1.0 with tiny n — Wald would exceed 1, Wilson must not
        df = spark.createDataFrame([("g", 1)] * 3, ["g", "s"])
        r = wilson_intervals(df, ["g"], "s = 1").collect()[0]
        assert r.rate == 1.0
        assert r.wilson_high <= 1.0 and r.wilson_low > 0


# ---------------------------------------------------------------------------
# stats.trimmed_stats
# ---------------------------------------------------------------------------

class TestTrimmedStats:
    def test_drops_tails_known_case(self, spark):
        from pandas_ai_spark.functions.stats import trimmed_stats

        # 1..100 with trim=0.10: bounds are the exact interpolated
        # p10/p90 (10.9, 90.1); interior 11..90
        df = spark.range(1, 101).select(
            F.col("id").cast("double").alias("v"))
        r = trimmed_stats(df, "v", trim=0.10, approx=False).collect()[0]
        assert r.n == 100
        assert r.n_trimmed == 20
        assert abs(r.lo - 10.9) < 1e-9 and abs(r.hi - 90.1) < 1e-9
        assert abs(r.trimmed_mean - 50.5) < 1e-9

    def test_grouped_bounds_are_per_group(self, spark):
        from pandas_ai_spark.functions.stats import trimmed_stats

        df = spark.createDataFrame(
            [("a", float(v)) for v in range(1, 11)]
            + [("b", float(v)) for v in range(101, 111)], ["g", "v"])
        rows = {r.g: r for r in
                trimmed_stats(df, "v", by=["g"], trim=0.2,
                              approx=False).collect()}
        assert rows["a"].hi < rows["b"].lo  # bounds never cross groups
        assert rows["a"].n == 10 and rows["b"].n == 10


# ---------------------------------------------------------------------------
# text.gopher_rules
# ---------------------------------------------------------------------------

class TestGopherRules:
    def test_rules_fire_and_keep_conjunction(self, spark):
        from pandas_ai_spark.functions.text import gopher_rules

        good = " ".join(["these are the common and fine words of it"] * 5)
        df = spark.createDataFrame(
            [(1, good),
             (2, "too short"),
             (3, "- a\n- b\n- c")], ["doc_id", "text"])
        rows = {r.doc_id: r for r in
                gopher_rules(df, min_words=10, max_words=1000,
                             min_mean_word_len=2.0,
                             max_mean_word_len=8.0).collect()}
        assert rows[1].keep
        assert not rows[2].r_word_count and not rows[2].keep
        assert not rows[3].r_bullet_lines and not rows[3].keep

    def test_null_text_yields_concrete_false(self, spark):
        # ADVICE r7: NULL text must produce False (not NULL) for every
        # rule and for keep, so reject-audits count NULL docs
        from pandas_ai_spark.functions.text import gopher_rules

        df = spark.createDataFrame([(1, None), (2, "")],
                                   "doc_id: long, text: string")
        rows = {r.doc_id: r for r in gopher_rules(df).collect()}
        for c in ["r_word_count", "r_mean_word_len", "r_symbol_ratio",
                  "r_bullet_lines", "r_ellipsis_lines", "r_stopwords",
                  "keep"]:
            assert rows[1][c] is False, (c, rows[1][c])
        # empty string: ratio rules pass vacuously (0/1), but the
        # content rules and keep are still concrete False
        for c in ["r_word_count", "r_mean_word_len", "r_stopwords",
                  "keep"]:
            assert rows[2][c] is False, (c, rows[2][c])


# ---------------------------------------------------------------------------
# similarity.hard_negatives
# ---------------------------------------------------------------------------

class TestHardNegatives:
    def test_excludes_same_label_and_ranks_by_cosine(self, spark):
        from pandas_ai_spark.functions.similarity import hard_negatives

        # anchor [1,0]; same-label near-twin must be masked out even
        # though its cosine (1.0) beats every cross-label candidate
        corpus = spark.createDataFrame(
            [(10, [1.0, 0.0], "a"),
             (11, [0.9, 0.1], "b"),
             (12, [0.0, 1.0], "b"),
             (13, [1.0, 0.01], "a")],
            ["vec_id", "embedding", "label"])
        anchors = spark.createDataFrame(
            [(1, [1.0, 0.0], "a")], ["anchor_id", "embedding", "label"])
        rows = hard_negatives(corpus, anchors, k=2).collect()
        assert [r.vec_id for r in rows] == [11, 12]
        assert rows[0].rank == 1 and rows[1].rank == 2
        assert rows[0].cosine > rows[1].cosine
        assert not any(r.vec_id in (10, 13) for r in rows)

    def test_empty_anchors_raise(self, spark):
        from pandas_ai_spark.functions.similarity import hard_negatives

        corpus = spark.createDataFrame(
            [(1, [1.0], "a")], ["vec_id", "embedding", "label"])
        anchors = corpus.where(F.lit(False)).select(
            F.col("vec_id").alias("anchor_id"), "embedding", "label")
        with pytest.raises(ValueError):
            hard_negatives(corpus, anchors, k=1)


# ---------------------------------------------------------------------------
# search.rrf_fuse
# ---------------------------------------------------------------------------

class TestRrfFuse:
    def test_known_fusion(self, spark):
        from pandas_ai_spark.functions.search import rrf_fuse

        l1 = spark.createDataFrame([(1, 9.0), (2, 5.0)], ["id", "score"])
        l2 = spark.createDataFrame([(2, 7.0), (3, 6.0)], ["id", "score"])
        rows = {r.id: r for r in rrf_fuse([l1, l2], k=60).collect()}
        assert abs(rows[1].rrf - 1 / 61) < 1e-12
        assert abs(rows[2].rrf - (1 / 62 + 1 / 61)) < 1e-12
        assert abs(rows[3].rrf - 1 / 62) < 1e-12
        assert rows[2].n_lists == 2 and rows[1].n_lists == 1
        # doc 2 appears in both lists — fused top-1
        top = rrf_fuse([l1, l2], k=60, top_k=1).collect()
        assert top[0].id == 2

    def test_non_default_column_names(self, spark):
        # ADVICE r7: the rank window must run over the post-select
        # aliases — custom id/score column names used to raise
        from pandas_ai_spark.functions.search import rrf_fuse

        l1 = spark.createDataFrame([(1, 9.0), (2, 5.0)],
                                   ["doc", "bm25"])
        l2 = spark.createDataFrame([(2, 7.0)], ["doc", "bm25"])
        rows = rrf_fuse([l1, l2], id_col="doc",
                        score_col="bm25").collect()
        assert {r.id for r in rows} == {1, 2}

    def test_empty_rankings_raise(self, spark):
        from pandas_ai_spark.functions.search import rrf_fuse

        with pytest.raises(ValueError):
            rrf_fuse([])


# ---------------------------------------------------------------------------
# pipeline.neyman_allocation
# ---------------------------------------------------------------------------

class TestNeymanAllocation:
    def test_allocation_proportional_to_n_sigma(self, spark):
        from pandas_ai_spark.functions.pipeline import neyman_allocation

        # stratum a: 4 rows spread 0/10 (sd big); b: 4 rows constant
        # (sd 0) -> all budget to a, b gets 0
        df = spark.createDataFrame(
            [("a", 0.0), ("a", 10.0), ("a", 0.0), ("a", 10.0),
             ("b", 5.0), ("b", 5.0), ("b", 5.0), ("b", 5.0)],
            ["g", "v"])
        rows = {r.stratum: r for r in
                neyman_allocation(df, "g", "v", total_n=4).collect()}
        assert rows["a"].alloc == 4 and rows["b"].alloc == 0
        assert abs(rows["a"].weight - 1.0) < 1e-12

    def test_alloc_capped_at_population(self, spark):
        from pandas_ai_spark.functions.pipeline import neyman_allocation

        df = spark.createDataFrame(
            [("a", 0.0), ("a", 10.0)], ["g", "v"])
        r = neyman_allocation(df, "g", "v", total_n=100).collect()[0]
        assert r.alloc == r.n_rows == 2  # min(floor(100*1.0), 2)

    def test_all_zero_variance_raises(self, spark):
        from pandas_ai_spark.functions.pipeline import neyman_allocation

        df = spark.createDataFrame([("a", 1.0), ("a", 1.0)], ["g", "v"])
        with pytest.raises(ValueError):
            neyman_allocation(df, "g", "v", total_n=10)


# ---------------------------------------------------------------------------
# audit.k_anonymity
# ---------------------------------------------------------------------------

class TestKAnonymity:
    def test_counts(self, spark):
        from pandas_ai_spark.functions.audit import k_anonymity

        df = spark.createDataFrame(
            [(30, "x")] * 5 + [(30, "y")] * 2 + [(40, "x")],
            ["age", "zip"])
        r = k_anonymity(df, ["age", "zip"], k=5).collect()[0]
        assert r.n_rows == 8 and r.n_classes == 3
        assert r.min_class_size == 1
        assert r.n_small_classes == 2  # (30,y) and (40,x)
        assert r.n_rows_at_risk == 3
        assert abs(r.pct_at_risk - 3 / 8) < 1e-12

    def test_empty_qi_raises(self, spark):
        from pandas_ai_spark.functions.audit import k_anonymity

        df = spark.createDataFrame([(1,)], ["a"])
        with pytest.raises(ValueError):
            k_anonymity(df, [], k=5)


# ---------------------------------------------------------------------------
# stats auto exact->approx switch (VERDICT r7 item 5: evidence it)
# ---------------------------------------------------------------------------

class TestStatsAutoSwitch:
    def test_switch_crosses_threshold_and_sketch_engages(
            self, spark, monkeypatch):
        from pandas_ai_spark.functions import stats as st

        df = spark.read.parquet(
            "/root/testdata/sf0.001/lineitem.parquet")
        # below the 4 GiB threshold: exact
        assert st._resolve_approx(df, None) is False
        # shrink the threshold so this scan crosses it: approx engages
        monkeypatch.setattr(st, "EXACT_STATE_MAX_BYTES", 1)
        monkeypatch.setattr(st, "_warned_auto", set())
        with pytest.warns(UserWarning, match="bounded-memory"):
            assert st._resolve_approx(df, None) is True

        # and the auto path actually plans the GK sketch — for BOTH
        # percentile-pass operators (winsorize clamps, trimmed drops)
        for op in (st.winsorize, st.trimmed_stats):
            out = op(df, "l_extendedprice", by=["l_returnflag"])
            plan = out._jdf.queryExecution().analyzed().toString()
            assert "percentile_approx" in plan, op.__name__
            assert "percentile(" not in plan, op.__name__

    def test_approx_bounds_close_to_exact(self, spark, monkeypatch):
        from pandas_ai_spark.functions import stats as st

        df = spark.read.parquet(
            "/root/testdata/sf0.001/lineitem.parquet")
        exact = {r.l_returnflag: (r.p_lo_bound, r.p_hi_bound)
                 for r in st.winsorize(df, "l_extendedprice",
                                       by=["l_returnflag"],
                                       approx=False)
                 .select("l_returnflag", "p_lo_bound", "p_hi_bound")
                 .distinct().collect()}
        monkeypatch.setattr(st, "EXACT_STATE_MAX_BYTES", 1)
        monkeypatch.setattr(st, "_warned_auto", set())
        approx = {r.l_returnflag: (r.p_lo_bound, r.p_hi_bound)
                  for r in st.winsorize(df, "l_extendedprice",
                                        by=["l_returnflag"])
                  .select("l_returnflag", "p_lo_bound", "p_hi_bound")
                  .distinct().collect()}
        assert set(exact) == set(approx)
        for g, (lo, hi) in exact.items():
            alo, ahi = approx[g]
            assert abs(alo - lo) / lo < 0.02, (g, lo, alo)
            assert abs(ahi - hi) / hi < 0.02, (g, hi, ahi)

    def test_trimmed_stats_approx_bounds_close_to_exact(
            self, spark, monkeypatch):
        from pandas_ai_spark.functions import stats as st

        df = spark.read.parquet(
            "/root/testdata/sf0.001/lineitem.parquet")
        exact = {r.l_returnflag: (r.lo, r.hi)
                 for r in st.trimmed_stats(df, "l_extendedprice",
                                           by=["l_returnflag"],
                                           approx=False).collect()}
        monkeypatch.setattr(st, "EXACT_STATE_MAX_BYTES", 1)
        monkeypatch.setattr(st, "_warned_auto", set())
        approx = {r.l_returnflag: (r.lo, r.hi)
                  for r in st.trimmed_stats(df, "l_extendedprice",
                                            by=["l_returnflag"])
                  .collect()}
        assert set(exact) == set(approx)
        for g, (lo, hi) in exact.items():
            alo, ahi = approx[g]
            assert abs(alo - lo) / lo < 0.02, (g, lo, alo)
            assert abs(ahi - hi) / hi < 0.02, (g, hi, ahi)


# ---------------------------------------------------------------------------
# graph.min_label_propagation
# ---------------------------------------------------------------------------

class TestMinLabelPropagation:
    def test_path_graph_converges_to_min(self, spark):
        from pandas_ai_spark.functions.graph import min_label_propagation

        # path 1-2-3-4: diameter 3, so 3 iterations label all with 1;
        # separate component 10-11 labels with 10
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], ["src", "dst"])
        rows = {r.node: r.label for r in
                min_label_propagation(edges, iterations=3).collect()}
        assert rows == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    def test_bounded_rounds(self, spark):
        from pandas_ai_spark.functions.graph import min_label_propagation

        # path 1-2-3-4 with ONE round: 4 only sees 3
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4)], ["src", "dst"])
        rows = {r.node: r.label for r in
                min_label_propagation(edges, iterations=1).collect()}
        assert rows == {1: 1, 2: 1, 3: 2, 4: 3}

    def test_self_loop_only_node_is_present(self, spark):
        # ADVICE r7: a node whose only edges are self-loops must appear
        # with its own label, not vanish
        from pandas_ai_spark.functions.graph import min_label_propagation

        edges = spark.createDataFrame(
            [(1, 2), (7, 7)], ["src", "dst"])
        rows = {r.node: r.label for r in
                min_label_propagation(edges, iterations=2).collect()}
        assert rows == {1: 1, 2: 1, 7: 7}


# ---------------------------------------------------------------------------
# graph.connected_components (large-star/small-star, q147)
# ---------------------------------------------------------------------------

class TestConnectedComponents:
    def test_deep_chain_converges_in_log_rounds(self, spark):
        from pandas_ai_spark.functions.graph import connected_components

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 64)], ["src", "dst"])
        stats = {}
        rows = {r.node: r.component for r in
                connected_components(edges, stats=stats).collect()}
        assert rows == {i: 1 for i in range(1, 65)}
        # plain propagation would need 63 rounds; star contraction is
        # logarithmic — generous bound still catches an O(D) regression
        assert stats["rounds"] <= 12, stats

    def test_components_self_loops_and_isolation(self, spark):
        from pandas_ai_spark.functions.graph import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (11, 10), (20, 20)],
            ["src", "dst"])
        rows = {r.node: r.component for r in
                connected_components(edges).collect()}
        assert rows == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}

    def test_string_ids_label_lexicographic_min(self, spark):
        from pandas_ai_spark.functions.graph import connected_components

        edges = spark.createDataFrame(
            [("b", "a"), ("c", "b"), ("y", "x")], ["src", "dst"])
        rows = {r.node: r.component for r in
                connected_components(edges).collect()}
        assert rows == {"a": "a", "b": "a", "c": "a",
                        "x": "x", "y": "x"}

    def test_already_star_input_one_round(self, spark):
        from pandas_ai_spark.functions.graph import connected_components

        edges = spark.createDataFrame(
            [(2, 1), (3, 1), (4, 1)], ["src", "dst"])
        stats = {}
        rows = {r.node: r.component for r in
                connected_components(edges, stats=stats).collect()}
        assert rows == {1: 1, 2: 1, 3: 1, 4: 1}
        assert stats["rounds"] == 1

    def test_matches_dedup_clusters_union_find(self, spark):
        # parity vs a plain union-find written here, on a deterministic
        # pseudo-random graph (hash arithmetic, no RNG)
        from pandas_ai_spark.functions.graph import connected_components

        pairs = [(k * 7919 % 101, (k * 104729 + 3) % 101)
                 for k in range(80)]
        edges = spark.createDataFrame(pairs, ["src", "dst"])
        cc = {r.node: r.component for r in
              connected_components(edges).collect()}
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        uf = {x: find(x) for x in parent}
        assert cc == uf

    def test_empty_and_bad_args(self, spark):
        from pandas_ai_spark.functions.graph import connected_components

        empty = spark.createDataFrame([], "src INT, dst INT")
        assert connected_components(empty).count() == 0
        with pytest.raises(ValueError):
            connected_components(empty, max_iterations=0)


# ---------------------------------------------------------------------------
# linkage.golden_records (survivorship, q148)
# ---------------------------------------------------------------------------

class TestGoldenRecords:
    def _df(self, spark):
        return spark.createDataFrame([
            (1, "a", "addr", "ph", 1),   # complete, oldest
            (2, "a", None,   "ph", 2),   # newer, less complete
            (3, "a", "addr", "ph", 3),   # complete AND newest
            (9, "z", None,   None, 5),   # unlinked singleton
        ], ["rec_id", "name", "addr", "phone", "ts"])

    def test_completeness_beats_recency_then_recency_breaks(self, spark):
        from pandas_ai_spark.functions.linkage import golden_records

        # chain 1-2-3 merges transitively (1~3 never paired directly)
        pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
        rows = {r.entity_id: r for r in
                golden_records(self._df(spark), pairs, "rec_id",
                               ["addr", "phone"], "ts").collect()}
        assert set(rows) == {1, 9}
        # 2 is newest-but-incomplete: completeness first, then ts
        assert rows[1].rec_id == 3
        assert rows[1].completeness == 2 and rows[1].n_members == 3

    def test_singleton_passes_through(self, spark):
        from pandas_ai_spark.functions.linkage import golden_records

        pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
        rows = {r.entity_id: r for r in
                golden_records(self._df(spark), pairs, "rec_id",
                               ["addr", "phone"], "ts").collect()}
        assert rows[9].rec_id == 9
        assert rows[9].n_members == 1 and rows[9].completeness == 0

    def test_id_tiebreak_without_recency(self, spark):
        from pandas_ai_spark.functions.linkage import golden_records

        df = spark.createDataFrame(
            [(5, "x"), (4, "x")], ["rec_id", "v"])
        pairs = spark.createDataFrame([(4, 5)], ["id_a", "id_b"])
        rows = golden_records(df, pairs, "rec_id").collect()
        assert len(rows) == 1
        # no completeness cols, no recency: lowest id wins
        assert rows[0].rec_id == 4 and rows[0].entity_id == 4

    def test_unknown_completeness_col_raises(self, spark):
        from pandas_ai_spark.functions.linkage import golden_records

        df = spark.createDataFrame([(1, "x")], ["rec_id", "v"])
        pairs = spark.createDataFrame([(1, 1)], ["id_a", "id_b"])
        with pytest.raises(ValueError):
            golden_records(df, pairs, "rec_id", ["nope"])



    def test_distributed_path_same_labels(self, spark,
                                          graph_distributed):
        # the forced large-star/small-star path gives survivors
        # identical to the union-find default
        from pandas_ai_spark.functions.linkage import golden_records

        pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
        graph_distributed("connected_components")
        got = {(r.entity_id, r.rec_id) for r in
               golden_records(self._df(spark), pairs, "rec_id",
                              ["addr", "phone"], "ts").collect()}
        assert got == {(1, 3), (9, 9)}


# ---------------------------------------------------------------------------
# audit.l_diversity (q149)
# ---------------------------------------------------------------------------

class TestLDiversity:
    def test_known_values(self, spark):
        import math

        from pandas_ai_spark.functions.audit import l_diversity

        # class A: sensitive {x, x, y} -> div 2, H = ln3 - (2ln2)/3
        # class B: sensitive {x, x}    -> div 1 (homogeneous), H = 0
        df = spark.createDataFrame(
            [("A", "x"), ("A", "x"), ("A", "y"),
             ("B", "x"), ("B", "x")], ["qi", "s"])
        r = l_diversity(df, ["qi"], "s", l=2).collect()[0]
        assert r.n_rows == 5 and r.n_classes == 2
        assert r.min_diversity == 1
        assert r.n_low_classes == 1 and r.n_rows_at_risk == 2
        assert abs(r.pct_at_risk - 0.4) < 1e-12
        assert abs(r.min_entropy - 0.0) < 1e-12
        # the diverse class's entropy (not the min, checked directly)
        h_a = math.log(3) - (2 * math.log(2)) / 3

        r2 = l_diversity(df.where(F.col("qi") == "A"),
                         ["qi"], "s", l=2).collect()[0]
        assert abs(r2.min_entropy - h_a) < 1e-12
        assert r2.min_diversity == 2 and r2.n_low_classes == 0

    def test_null_sensitive_is_its_own_value(self, spark):
        from pandas_ai_spark.functions.audit import l_diversity

        df = spark.createDataFrame(
            [("A", None), ("A", "x")], "qi: string, s: string")
        r = l_diversity(df, ["qi"], "s", l=2).collect()[0]
        assert r.min_diversity == 2 and r.n_low_classes == 0

    def test_bad_args(self, spark):
        from pandas_ai_spark.functions.audit import l_diversity

        df = spark.createDataFrame([("A", "x")], ["qi", "s"])
        with pytest.raises(ValueError):
            l_diversity(df, [], "s")
        with pytest.raises(ValueError):
            l_diversity(df, ["qi"], "s", l=1)


# ---------------------------------------------------------------------------
# audit.t_closeness (q150)
# ---------------------------------------------------------------------------

class TestTCloseness:
    def test_known_values(self, spark):
        from pandas_ai_spark.functions.audit import t_closeness

        # global dist: x 3/6, y 3/6.  class A = {x,x,x} -> TVD 0.5;
        # class B = {y,y,y} -> TVD 0.5
        df = spark.createDataFrame(
            [("A", "x")] * 3 + [("B", "y")] * 3, ["qi", "s"])
        r = t_closeness(df, ["qi"], "s", t=0.4).collect()[0]
        assert r.n_rows == 6 and r.n_classes == 2
        assert abs(r.max_tvd - 0.5) < 1e-15
        assert r.n_far_classes == 2 and r.n_rows_at_risk == 6
        assert abs(r.pct_at_risk - 1.0) < 1e-15

    def test_identical_distributions_are_zero(self, spark):
        from pandas_ai_spark.functions.audit import t_closeness

        # every class mirrors the global 2:1 x:y mix -> TVD 0 everywhere
        rows = [(q, s) for q in ("A", "B")
                for s in ("x", "x", "y")]
        df = spark.createDataFrame(rows, ["qi", "s"])
        r = t_closeness(df, ["qi"], "s", t=0.01).collect()[0]
        assert r.max_tvd == 0.0 and r.n_far_classes == 0
        assert r.n_rows_at_risk == 0 and r.pct_at_risk == 0.0

    def test_null_qi_and_sensitive_form_cells(self, spark):
        from pandas_ai_spark.functions.audit import t_closeness

        # NULL qi is its own class; NULL sensitive its own value.
        # class NULL = {None,None}, class A = {x,x}: global dist is
        # 50/50 so each one-sided class has TVD 0.5
        df = spark.createDataFrame(
            [(None, None), (None, None), ("A", "x"), ("A", "x")],
            "qi: string, s: string")
        r = t_closeness(df, ["qi"], "s", t=0.4).collect()[0]
        assert r.n_classes == 2
        assert abs(r.max_tvd - 0.5) < 1e-15
        assert r.n_far_classes == 2

    def test_bad_args(self, spark):
        from pandas_ai_spark.functions.audit import t_closeness

        df = spark.createDataFrame([("A", "x")], ["qi", "s"])
        with pytest.raises(ValueError):
            t_closeness(df, [], "s")
        with pytest.raises(ValueError):
            t_closeness(df, ["qi"], "s", t=0.0)
        with pytest.raises(ValueError):
            t_closeness(df, ["qi"], "s", t=1.0)


# ---------------------------------------------------------------------------
# classify.woe_iv (q151) / classify.loo_target_encode (q152)
# ---------------------------------------------------------------------------

class TestWoeIv:
    def test_known_values(self, spark):
        import math

        from pandas_ai_spark.functions.classify import woe_iv

        # cat A: 3 events / 1 nonevent; cat B: 1 event / 3 nonevents
        rows = ([("A", 1)] * 3 + [("A", 0)]
                + [("B", 1)] + [("B", 0)] * 3)
        df = spark.createDataFrame(rows, ["f", "y"])
        out = {r.feature: r for r in
               woe_iv(df, "f", "y = 1", smoothing=0.5).collect()}
        pe_a, pne_a = 3.5 / 4.5, 1.5 / 4.5
        woe_a = math.log(pe_a / pne_a)
        assert abs(out["A"].woe - woe_a) < 1e-12
        assert abs(out["A"].iv - (pe_a - pne_a) * woe_a) < 1e-12
        # symmetric construction -> antisymmetric WOE
        assert abs(out["A"].woe + out["B"].woe) < 1e-12
        assert out["A"].n == 4 and out["A"].events == 3
        assert out["B"].nonevents == 3

    def test_empty_cell_is_finite(self, spark):
        from pandas_ai_spark.functions.classify import woe_iv

        df = spark.createDataFrame(
            [("A", 1), ("A", 1), ("B", 0)], ["f", "y"])
        out = {r.feature: r for r in
               woe_iv(df, "f", "y = 1").collect()}
        import math
        assert math.isfinite(out["A"].woe)  # zero nonevents, smoothed
        assert math.isfinite(out["B"].woe)  # zero events, smoothed

    def test_null_target_counts_as_nonevent(self, spark):
        from pandas_ai_spark.functions.classify import woe_iv

        df = spark.createDataFrame(
            [("A", True), ("A", None), ("B", False)],
            "f: string, y: boolean")
        out = {r.feature: r for r in woe_iv(df, "f", "y").collect()}
        assert out["A"].events == 1 and out["A"].nonevents == 1

    def test_bad_smoothing(self, spark):
        from pandas_ai_spark.functions.classify import woe_iv

        df = spark.createDataFrame([("A", 1)], ["f", "y"])
        with pytest.raises(ValueError):
            woe_iv(df, "f", "y = 1", smoothing=0.0)


class TestLooTargetEncode:
    def test_leave_one_out(self, spark):
        from pandas_ai_spark.functions.classify import (
            loo_target_encode)

        # cat A targets [1, 0, 1]: row with y=1 sees (2-1)/2 = 0.5,
        # row with y=0 sees (2-0)/2 = 1.0
        df = spark.createDataFrame(
            [(1, "A", 1), (2, "A", 0), (3, "A", 1)],
            ["id", "cat", "y"])
        out = {r.id: r.encoded for r in
               loo_target_encode(df, "cat", "y = 1").collect()}
        assert abs(out[1] - 0.5) < 1e-15
        assert abs(out[2] - 1.0) < 1e-15
        assert abs(out[3] - 0.5) < 1e-15

    def test_singleton_is_null(self, spark):
        from pandas_ai_spark.functions.classify import (
            loo_target_encode)

        df = spark.createDataFrame([(1, "A", 1)], ["id", "cat", "y"])
        r = loo_target_encode(df, "cat", "y = 1").collect()[0]
        assert r.encoded is None

    def test_schema_is_input_plus_encoded(self, spark):
        from pandas_ai_spark.functions.classify import (
            loo_target_encode)

        df = spark.createDataFrame(
            [(1, "A", 1), (2, "A", 0)], ["id", "cat", "y"])
        out = loo_target_encode(df, "cat", "y = 1")
        assert out.columns == ["cat", "id", "y", "encoded"] or \
            set(out.columns) == {"id", "cat", "y", "encoded"}


# ---------------------------------------------------------------------------
# timeseries.acf (q153) / timeseries.cusum_changepoint (q154)
# ---------------------------------------------------------------------------

class TestAcf:
    def _np_acf(self, xs, k):
        import numpy as np
        x = np.asarray(xs, dtype=float)
        m = x.mean()
        den = ((x - m) ** 2).sum()
        num = ((x[k:] - m) * (x[:-k] - m)).sum()
        return num / den

    def test_matches_numpy(self, spark):
        from pandas_ai_spark.functions.timeseries import acf

        xs = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(xs)], ["t", "x"])
        out = {r.lag: r.acf for r in
               acf(df, "x", "t", lags=3).collect()}
        for k in (1, 2, 3):
            assert abs(out[k] - self._np_acf(xs, k)) < 1e-12

    def test_alternating_series_lag1_negative(self, spark):
        from pandas_ai_spark.functions.timeseries import acf

        xs = [0, 10] * 10
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(xs)], ["t", "x"])
        out = {r.lag: r.acf for r in
               acf(df, "x", "t", lags=2).collect()}
        assert out[1] < -0.9 and out[2] > 0.85

    def test_constant_series_is_null(self, spark):
        from pandas_ai_spark.functions.timeseries import acf

        df = spark.createDataFrame(
            [(i, 7) for i in range(10)], ["t", "x"])
        rows = acf(df, "x", "t", lags=2).collect()
        assert all(r.acf is None for r in rows)

    def test_grouped(self, spark):
        from pandas_ai_spark.functions.timeseries import acf

        rows = ([("a", i, v) for i, v in enumerate([1, 2, 1, 2, 1, 2])]
                + [("b", i, v) for i, v in
                   enumerate([1, 1, 2, 2, 1, 1, 2, 2])])
        df = spark.createDataFrame(rows, ["g", "t", "x"])
        out = {(r.g, r.lag): r.acf for r in
               acf(df, "x", "t", lags=1, by=["g"]).collect()}
        assert out[("a", 1)] < 0 < out[("b", 1)] + 1  # a anti-corr
        assert abs(out[("a", 1)] - self._np_acf([1, 2, 1, 2, 1, 2], 1)
                   ) < 1e-12

    def test_bad_lags(self, spark):
        from pandas_ai_spark.functions.timeseries import acf

        df = spark.createDataFrame([(0, 1)], ["t", "x"])
        with pytest.raises(ValueError):
            acf(df, "x", "t", lags=0)


class TestCusumChangepoint:
    def test_clear_shift(self, spark):
        from pandas_ai_spark.functions.timeseries import (
            cusum_changepoint)

        xs = [10] * 10 + [20] * 10
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(xs)], ["t", "x"])
        r = cusum_changepoint(df, "x", "t").collect()[0]
        # |C_t| peaks at the last pre-shift index (t=9, 0-based)
        assert r.cp_order == 9
        assert r.n == 20
        assert r.max_abs_cusum == 50.0  # 10*|10-15|
        assert r.cusum_z > 1.36  # significant at the 5% bound

    def test_no_shift_low_z(self, spark):
        from pandas_ai_spark.functions.timeseries import (
            cusum_changepoint)

        xs = [5, 6] * 15
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(xs)], ["t", "x"])
        r = cusum_changepoint(df, "x", "t").collect()[0]
        assert r.cusum_z < 1.36

    def test_tie_breaks_earliest(self, spark):
        from pandas_ai_spark.functions.timeseries import (
            cusum_changepoint)

        # symmetric bump: |C| equal at the two shoulders -> earliest
        xs = [0, 10, 0]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(xs)], ["t", "x"])
        r = cusum_changepoint(df, "x", "t").collect()[0]
        assert r.cp_order == 0

    def test_grouped_constant_sd_zero(self, spark):
        from pandas_ai_spark.functions.timeseries import (
            cusum_changepoint)

        rows = ([("a", i, 5) for i in range(5)]
                + [("b", i, v) for i, v in enumerate([1, 1, 9, 9])])
        df = spark.createDataFrame(rows, ["g", "t", "x"])
        out = {r.g: r for r in
               cusum_changepoint(df, "x", "t", by=["g"]).collect()}
        assert out["a"].cusum_z is None  # zero variance
        assert out["b"].cp_order == 1


# ---------------------------------------------------------------------------
# graph.degree_assortativity (q155)
# ---------------------------------------------------------------------------

class TestDegreeAssortativity:
    def test_star_is_perfectly_disassortative(self, spark):
        from pandas_ai_spark.functions.graph import (
            degree_assortativity)

        edges = spark.createDataFrame(
            [(0, 1), (0, 2), (0, 3)], ["src", "dst"])
        r = degree_assortativity(edges).collect()[0]
        assert r.n_nodes == 4 and r.n_edges == 3
        assert abs(r.assortativity - (-1.0)) < 1e-12

    def test_matches_numpy_pearson(self, spark):
        import numpy as np

        from pandas_ai_spark.functions.graph import (
            degree_assortativity)

        # triangle 1-2-3 plus pendant 4-1
        und = [(1, 2), (1, 3), (2, 3), (1, 4)]
        deg = {1: 3, 2: 2, 3: 2, 4: 1}
        xs, ys = [], []
        for a, b in und:
            xs += [deg[a], deg[b]]
            ys += [deg[b], deg[a]]
        expected = np.corrcoef(xs, ys)[0, 1]
        edges = spark.createDataFrame(und, ["src", "dst"])
        r = degree_assortativity(edges).collect()[0]
        assert abs(r.assortativity - expected) < 1e-12

    def test_regular_graph_is_null(self, spark):
        from pandas_ai_spark.functions.graph import (
            degree_assortativity)

        # 4-cycle: every degree 2 -> zero variance -> NULL
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 1)], ["src", "dst"])
        r = degree_assortativity(edges).collect()[0]
        assert r.assortativity is None and r.n_edges == 4

    def test_self_loops_and_duplicates_ignored(self, spark):
        from pandas_ai_spark.functions.graph import (
            degree_assortativity)

        edges = spark.createDataFrame(
            [(0, 1), (1, 0), (0, 1), (2, 2), (0, 2), (0, 3)],
            ["src", "dst"])
        r = degree_assortativity(edges).collect()[0]
        # simple graph: 0-1, 0-2, 0-3 -> the K1,3 star
        assert r.n_edges == 3
        assert abs(r.assortativity - (-1.0)) < 1e-12


# ---------------------------------------------------------------------------
# dedup.dup_ngram_coverage (q156)
# ---------------------------------------------------------------------------

class TestDupNgramCoverage:
    def test_shared_vs_unique(self, spark):
        from pandas_ai_spark.functions.dedup import dup_ngram_coverage

        # doc 1 and 2 identical -> every gram duplicated; doc 3 unique
        df = spark.createDataFrame(
            [(1, "the cat sat on the mat"),
             (2, "the cat sat on the mat"),
             (3, "completely different words entirely here now")],
            ["doc_id", "text"])
        out = {r.doc_id: r for r in
               dup_ngram_coverage(df, "text", "doc_id", n=3)
               .collect()}
        assert out[1].dup_frac == 1.0 and out[2].dup_frac == 1.0
        assert out[3].dup_frac == 0.0
        assert out[1].n_grams == 4  # 6 tokens -> 4 distinct 3-grams

    def test_partial_overlap(self, spark):
        from pandas_ai_spark.functions.dedup import dup_ngram_coverage

        # doc 2 shares only its prefix 3-gram with doc 1
        df = spark.createDataFrame(
            [(1, "alpha beta gamma"),
             (2, "alpha beta gamma delta epsilon")],
            ["doc_id", "text"])
        out = {r.doc_id: r for r in
               dup_ngram_coverage(df, "text", "doc_id", n=3)
               .collect()}
        assert out[1].n_grams == 1 and out[1].n_dup == 1
        assert out[2].n_grams == 3 and out[2].n_dup == 1
        assert abs(out[2].dup_frac - 1 / 3) < 1e-12

    def test_empty_doc_null_frac(self, spark):
        from pandas_ai_spark.functions.dedup import dup_ngram_coverage

        df = spark.createDataFrame(
            [(1, ""), (2, "some real text content here")],
            ["doc_id", "text"])
        out = {r.doc_id: r for r in
               dup_ngram_coverage(df, "text", "doc_id", n=3)
               .collect()}
        assert out[1].n_grams == 0 and out[1].dup_frac is None
        assert out[2].dup_frac == 0.0

    def test_short_doc_whole_shingle(self, spark):
        from pandas_ai_spark.functions.dedup import dup_ngram_coverage

        # < n tokens -> one whole-doc shingle, same rule as q21
        df = spark.createDataFrame(
            [(1, "tiny doc"), (2, "tiny doc")], ["doc_id", "text"])
        out = {r.doc_id: r for r in
               dup_ngram_coverage(df, "text", "doc_id", n=3)
               .collect()}
        assert out[1].n_grams == 1 and out[1].dup_frac == 1.0


# ---------------------------------------------------------------------------
# text.zipf_fit (q158)
# ---------------------------------------------------------------------------

class TestZipfFit:
    def test_exact_zipf_slope(self, spark):
        from pandas_ai_spark.functions.text import zipf_fit

        # construct a corpus whose token frequencies are exactly
        # proportional to 1/rank: freq = 60/rank for ranks 1..5
        words = []
        for rank, (word, freq) in enumerate(
                [("aa", 60), ("bb", 30), ("cc", 20), ("dd", 15),
                 ("ee", 12)], start=1):
            words += [word] * freq
        df = spark.createDataFrame([(" ".join(words),)], ["text"])
        r = zipf_fit(df, "text", top_k=5).collect()[0]
        assert r.k_fit == 5 and r.total_tokens == 137
        assert r.vocab_size == 5
        assert abs(r.slope - (-1.0)) < 1e-9
        assert abs(r.r2 - 1.0) < 1e-12

    def test_uniform_corpus_flat_slope(self, spark):
        from pandas_ai_spark.functions.text import zipf_fit

        df = spark.createDataFrame(
            [("one two three four five six seven eight",)], ["text"])
        r = zipf_fit(df, "text", top_k=8).collect()[0]
        # all frequencies equal -> ln(freq) constant -> slope 0
        assert abs(r.slope - 0.0) < 1e-12
        assert r.r2 is None or r.r2 == 0.0  # vy == 0

    def test_top_k_bounds_fit(self, spark):
        from pandas_ai_spark.functions.text import zipf_fit

        df = spark.createDataFrame(
            [("a a a b b c d e f g h i j k",)], ["text"])
        r = zipf_fit(df, "text", top_k=3).collect()[0]
        assert r.k_fit == 3
        assert r.vocab_size == 11  # totals still corpus-wide

    def test_bad_top_k(self, spark):
        from pandas_ai_spark.functions.text import zipf_fit

        df = spark.createDataFrame([("x",)], ["text"])
        with pytest.raises(ValueError):
            zipf_fit(df, "text", top_k=1)


# ---------------------------------------------------------------------------
# stats.mann_whitney_u (q159) / stats.bh_fdr (q160)
# ---------------------------------------------------------------------------

class TestMannWhitneyU:
    def test_matches_scipy_formula(self, spark):
        from pandas_ai_spark.functions.stats import mann_whitney_u

        # hand-checkable: A = [1,2,3], B = [2,3,4]
        rows = ([("A", 1), ("A", 2), ("A", 3),
                 ("B", 2), ("B", 3), ("B", 4)])
        df = spark.createDataFrame(rows, ["s", "v"])
        r = mann_whitney_u(df, "v", "s", "A", "B").collect()[0]
        # ranks: 1:1, 2:(2+3)/2=2.5, 3:(4+5)/2=4.5, 4:6
        # R_a = 1 + 2.5 + 4.5 = 8; U_a = 8 - 3*4/2 = 2
        assert r.n_a == 3 and r.n_b == 3
        assert abs(r.u_a - 2.0) < 1e-15
        # mu = 4.5; ties T = (2^3-2)*2 = 12
        # var = 9/12 * (7 - 12/30) = 0.75 * 6.6 = 4.95
        import math
        assert abs(r.z - (2.0 - 4.5) / math.sqrt(4.95)) < 1e-12

    def test_identical_samples_z_zero_shift_detected(self, spark):
        from pandas_ai_spark.functions.stats import mann_whitney_u

        same = [("A", v) for v in range(20)] + \
               [("B", v) for v in range(20)]
        df = spark.createDataFrame(same, ["s", "v"])
        r = mann_whitney_u(df, "v", "s", "A", "B").collect()[0]
        assert abs(r.z) < 1e-12  # identical -> U = mu

        shifted = [("A", v) for v in range(20)] + \
                  [("B", v + 15) for v in range(20)]
        df2 = spark.createDataFrame(shifted, ["s", "v"])
        r2 = mann_whitney_u(df2, "v", "s", "A", "B").collect()[0]
        assert abs(r2.z) > 1.96  # clear shift

    def test_grouped_and_constant(self, spark):
        from pandas_ai_spark.functions.stats import mann_whitney_u

        rows = ([("g1", "A", 1), ("g1", "A", 2), ("g1", "B", 5),
                 ("g1", "B", 6),
                 ("g2", "A", 7), ("g2", "B", 7)])
        df = spark.createDataFrame(rows, ["g", "s", "v"])
        out = {r.g: r for r in
               mann_whitney_u(df, "v", "s", "A", "B",
                              by=["g"]).collect()}
        assert out["g1"].u_a == 0.0  # complete separation
        assert out["g2"].z is None   # all tied -> zero variance


class TestBhFdr:
    def test_textbook_adjustment(self, spark):
        from pandas_ai_spark.functions.stats import bh_fdr

        # classic example: m=4, sorted p = .01, .02, .03, .04
        # p_adj = min-from-bottom of (.04, .04, .04, .04) etc.
        df = spark.createDataFrame(
            [("a", 0.01), ("b", 0.04), ("c", 0.03), ("d", 0.02)],
            ["h", "p"])
        out = {r.h: r for r in
               bh_fdr(df, "p", alpha=0.05,
                      tiebreak_cols=["h"]).collect()}
        assert out["a"].p_rank == 1 and out["b"].p_rank == 4
        assert abs(out["a"].p_adj - 0.04) < 1e-12
        assert abs(out["b"].p_adj - 0.04) < 1e-12
        assert all(out[h].reject for h in "abcd")

    def test_mixed_rejections(self, spark):
        from pandas_ai_spark.functions.stats import bh_fdr

        df = spark.createDataFrame(
            [("a", 0.001), ("b", 0.02), ("c", 0.9), ("d", 0.8)],
            ["h", "p"])
        out = {r.h: r for r in
               bh_fdr(df, "p", alpha=0.05,
                      tiebreak_cols=["h"]).collect()}
        assert out["a"].reject and out["b"].reject
        assert not out["c"].reject and not out["d"].reject
        assert abs(out["c"].p_adj - 0.9) < 1e-12

    def test_ties_share_adjusted_value(self, spark):
        from pandas_ai_spark.functions.stats import bh_fdr

        df = spark.createDataFrame(
            [("a", 0.02), ("b", 0.02), ("c", 0.5)], ["h", "p"])
        out = {r.h: r for r in
               bh_fdr(df, "p", tiebreak_cols=["h"]).collect()}
        # min_{j>=i} m*p_j/j: both ties get 3*.02/2 = .03
        assert abs(out["a"].p_adj - 0.03) < 1e-12
        assert abs(out["b"].p_adj - 0.03) < 1e-12
        assert {out["a"].p_rank, out["b"].p_rank} == {1, 2}

    def test_cap_at_one_and_bad_alpha(self, spark):
        from pandas_ai_spark.functions.stats import bh_fdr

        df = spark.createDataFrame(
            [("a", 0.9), ("b", 0.95)], ["h", "p"])
        out = {r.h: r for r in
               bh_fdr(df, "p", tiebreak_cols=["h"]).collect()}
        assert out["a"].p_adj <= 1.0 and out["b"].p_adj == 0.95
        with pytest.raises(ValueError):
            bh_fdr(df, "p", alpha=1.0)


# ---------------------------------------------------------------------------
# survival.nelson_aalen (q161)
# ---------------------------------------------------------------------------

class TestNelsonAalen:
    def test_known_values(self, spark):
        import math

        from pandas_ai_spark.functions.survival import nelson_aalen

        df = spark.createDataFrame(
            [(1, 1), (2, 1), (2, 0), (3, 1)], ["dur", "e"])
        rows = {r.t: r for r in
                nelson_aalen(df, "dur", "e").collect()}
        assert rows[1.0].n_risk == 4 and rows[2.0].n_risk == 3
        assert rows[3.0].n_risk == 1
        assert abs(rows[1.0].cum_hazard - 0.25) < 1e-15
        assert abs(rows[2.0].cum_hazard - (0.25 + 1 / 3)) < 1e-12
        assert abs(rows[3.0].cum_hazard
                   - (0.25 + 1 / 3 + 1.0)) < 1e-12
        assert abs(rows[1.0].hazard_var - 1 / 16) < 1e-15
        assert abs(rows[3.0].survival_fh
                   - math.exp(-(0.25 + 1 / 3 + 1.0))) < 1e-12

    def test_fh_dominates_km(self, spark):
        from pandas_ai_spark.functions.survival import (
            kaplan_meier, nelson_aalen)

        df = spark.createDataFrame(
            [(i % 7, i % 3 != 0) for i in range(60)], ["dur", "e"])
        km = {r.t: r.survival
              for r in kaplan_meier(df, "dur", "e").collect()}
        na = {r.t: r.survival_fh
              for r in nelson_aalen(df, "dur", "e").collect()}
        # exp(-d/n) >= 1 - d/n pointwise -> FH >= KM everywhere
        for t in km:
            assert na[t] >= km[t] - 1e-15

    def test_validation(self, spark):
        from pandas_ai_spark.functions.survival import nelson_aalen

        df = spark.createDataFrame([(-1, 1)], ["dur", "e"])
        with pytest.raises(ValueError):
            nelson_aalen(df, "dur", "e").collect()


# ---------------------------------------------------------------------------
# similarity.mmr_rerank (q162)
# ---------------------------------------------------------------------------

class TestMmrRerank:
    def _cand(self, spark, rows):
        return spark.createDataFrame(
            rows, "query_id: long, vec_id: long, cosine: double, "
                  "embedding: array<double>")

    def test_diversity_demotes_near_duplicate(self, spark):
        from pandas_ai_spark.functions.similarity import mmr_rerank

        # doc 1 and 2 are identical vectors (near-dups), doc 3 is
        # orthogonal with slightly lower relevance: plain top-2 picks
        # (1, 2); MMR must pick (1, 3)
        rows = [
            (0, 1, 0.99, [1.0, 0.0]),
            (0, 2, 0.98, [1.0, 0.0]),
            (0, 3, 0.90, [0.0, 1.0]),
        ]
        out = mmr_rerank(self._cand(spark, rows), k=2,
                         lam=0.7).collect()
        picked = [r.vec_id for r in
                  sorted(out, key=lambda r: r.mmr_rank)]
        assert picked == [1, 3]

    def test_lambda_one_is_relevance_order(self, spark):
        from pandas_ai_spark.functions.similarity import mmr_rerank

        rows = [
            (0, 1, 0.5, [1.0, 0.0]),
            (0, 2, 0.9, [1.0, 0.0]),
            (0, 3, 0.7, [0.0, 1.0]),
        ]
        out = mmr_rerank(self._cand(spark, rows), k=3,
                         lam=1.0).collect()
        picked = [r.vec_id for r in
                  sorted(out, key=lambda r: r.mmr_rank)]
        assert picked == [2, 3, 1]

    def test_first_pick_score_and_pool_exhaustion(self, spark):
        from pandas_ai_spark.functions.similarity import mmr_rerank

        rows = [(0, 1, 0.8, [1.0, 0.0]), (0, 2, 0.6, [0.0, 1.0])]
        out = {r.mmr_rank: r for r in
               mmr_rerank(self._cand(spark, rows), k=10,
                          lam=0.7).collect()}
        assert len(out) == 2  # pool smaller than k -> all returned
        assert abs(out[1].mmr_score - 0.7 * 0.8) < 1e-12
        # second pick: orthogonal -> zero penalty
        assert abs(out[2].mmr_score - 0.7 * 0.6) < 1e-12

    def test_multiple_queries_and_validation(self, spark):
        from pandas_ai_spark.functions.similarity import mmr_rerank

        rows = [(0, 1, 0.9, [1.0, 0.0]), (1, 2, 0.8, [0.0, 1.0])]
        out = mmr_rerank(self._cand(spark, rows), k=1).collect()
        assert {(r.query_id, r.vec_id) for r in out} == \
            {(0, 1), (1, 2)}
        with pytest.raises(ValueError):
            mmr_rerank(self._cand(spark, rows), k=0)
        with pytest.raises(ValueError):
            mmr_rerank(self._cand(spark, rows), lam=1.5)


# ---------------------------------------------------------------------------
# classify.class_balance_weights (q163) / cohens_kappa (q164) /
# classification_report (q165)
# ---------------------------------------------------------------------------

class TestClassBalanceWeights:
    def test_known_values(self, spark):
        from pandas_ai_spark.functions.classify import (
            class_balance_weights)

        df = spark.createDataFrame(
            [("a",)] * 9 + [("b",)] * 1, ["y"])
        out = {r.label: r for r in
               class_balance_weights(df, "y", beta=0.5).collect()}
        # w_a = .5/(1-.5^9), w_b = .5/(1-.5) = 1
        wa = 0.5 / (1 - 0.5 ** 9)
        assert abs(out["a"].weight - wa) < 1e-12
        assert abs(out["b"].weight - 1.0) < 1e-12
        # rare class gets the larger weight; norms sum to k=2
        assert out["b"].weight_norm > out["a"].weight_norm
        assert abs(out["a"].weight_norm + out["b"].weight_norm
                   - 2.0) < 1e-12

    def test_bad_beta(self, spark):
        from pandas_ai_spark.functions.classify import (
            class_balance_weights)

        df = spark.createDataFrame([("a",)], ["y"])
        with pytest.raises(ValueError):
            class_balance_weights(df, "y", beta=1.0)


class TestCohensKappa:
    def test_perfect_and_chance(self, spark):
        from pandas_ai_spark.functions.classify import cohens_kappa

        same = spark.createDataFrame(
            [("x", "x"), ("y", "y"), ("x", "x"), ("y", "y")],
            ["a", "b"])
        r = cohens_kappa(same, "a", "b").collect()[0]
        assert r.po == 1.0 and abs(r.kappa - 1.0) < 1e-12

        # rater b constant: pe = po -> kappa 0 (no skill over chance)
        const = spark.createDataFrame(
            [("x", "x"), ("y", "x")], ["a", "b"])
        r2 = cohens_kappa(const, "a", "b").collect()[0]
        assert abs(r2.kappa - 0.0) < 1e-12

    def test_textbook_example(self, spark):
        from pandas_ai_spark.functions.classify import cohens_kappa

        # classic 2x2: 20 yes-yes, 5 yes-no, 10 no-yes, 15 no-no
        rows = ([("y", "y")] * 20 + [("y", "n")] * 5
                + [("n", "y")] * 10 + [("n", "n")] * 15)
        r = cohens_kappa(spark.createDataFrame(rows, ["a", "b"]),
                         "a", "b").collect()[0]
        # po = 35/50 = .7; pe = (25*30 + 25*20)/2500 = .5
        assert abs(r.po - 0.7) < 1e-12
        assert abs(r.pe - 0.5) < 1e-12
        assert abs(r.kappa - 0.4) < 1e-12

    def test_both_constant_identical_is_null(self, spark):
        from pandas_ai_spark.functions.classify import cohens_kappa

        df = spark.createDataFrame([("x", "x")] * 3, ["a", "b"])
        r = cohens_kappa(df, "a", "b").collect()[0]
        assert r.kappa is None  # pe = 1, undefined


class TestClassificationReport:
    def test_known_confusion(self, spark):
        from pandas_ai_spark.functions.classify import (
            classification_report)

        # truth a a a b b; pred a a b b c
        rows = [("a", "a"), ("a", "a"), ("a", "b"),
                ("b", "b"), ("b", "c")]
        out = {r.cls: r for r in
               classification_report(
                   spark.createDataFrame(rows, ["t", "p"]),
                   "t", "p").collect()}
        assert out["a"].tp == 2 and out["a"].n_true == 3
        assert abs(out["a"].precision - 1.0) < 1e-12
        assert abs(out["a"].recall - 2 / 3) < 1e-12
        assert abs(out["a"].f1 - 0.8) < 1e-12
        # class c never true: recall NULL, precision 0
        assert out["c"].n_true == 0 and out["c"].recall is None
        assert out["c"].precision == 0.0 and out["c"].f1 is None

    def test_never_predicted_class(self, spark):
        from pandas_ai_spark.functions.classify import (
            classification_report)

        rows = [("a", "b"), ("a", "b")]
        out = {r.cls: r for r in
               classification_report(
                   spark.createDataFrame(rows, ["t", "p"]),
                   "t", "p").collect()}
        assert out["a"].n_pred == 0 and out["a"].precision is None
        assert out["a"].recall == 0.0


# ---------------------------------------------------------------------------
# classify.expected_calibration_error (q166) / classify.auc (q167)
# ---------------------------------------------------------------------------

class TestExpectedCalibrationError:
    def test_perfectly_calibrated_is_zero_ish(self, spark):
        from pandas_ai_spark.functions.classify import (
            expected_calibration_error)

        # score == outcome -> every bin has avg_score == pos_rate
        rows = [(float(i % 2), i % 2) for i in range(100)]
        df = spark.createDataFrame(rows, ["score", "outcome"])
        r = expected_calibration_error(
            df, "score", "outcome", n_buckets=2).collect()[0]
        assert r.ece < 1e-12 and r.n == 100

    def test_overconfident_model(self, spark):
        from pandas_ai_spark.functions.classify import (
            expected_calibration_error)

        # model says 0.9 everywhere, true rate 0.5 -> ECE = 0.4
        rows = [(0.9, i % 2) for i in range(100)]
        df = spark.createDataFrame(rows, ["score", "outcome"])
        r = expected_calibration_error(
            df, "score", "outcome", n_buckets=2).collect()[0]
        assert abs(r.ece - 0.4) < 1e-12


class TestAuc:
    def test_perfect_and_random(self, spark):
        from pandas_ai_spark.functions.classify import auc

        # perfect separation: every positive above every negative
        rows = [(float(i), i >= 10) for i in range(20)]
        df = spark.createDataFrame(rows, ["score", "y"])
        r = auc(df, "score", "y").collect()[0]
        assert r.n_pos == 10 and r.n_neg == 10
        assert abs(r.auc - 1.0) < 1e-15

        # anti-perfect -> 0
        rows2 = [(float(-i), i >= 10) for i in range(20)]
        r2 = auc(spark.createDataFrame(rows2, ["score", "y"]),
                 "score", "y").collect()[0]
        assert abs(r2.auc - 0.0) < 1e-15

    def test_ties_give_half_credit(self, spark):
        from pandas_ai_spark.functions.classify import auc

        # all scores identical -> AUC exactly 0.5 via midranks
        rows = [(1.0, i % 2 == 0) for i in range(10)]
        r = auc(spark.createDataFrame(rows, ["score", "y"]),
                "score", "y").collect()[0]
        assert abs(r.auc - 0.5) < 1e-15

    def test_matches_sklearn_formula(self, spark):
        from pandas_ai_spark.functions.classify import auc

        # hand-computed: pos scores [3, 2], neg scores [1, 2]
        # pairs: (3>1)=1, (3>2)=1, (2>1)=1, (2==2)=.5 -> U=3.5
        # AUC = 3.5 / 4 = 0.875
        rows = [(3.0, True), (2.0, True), (1.0, False),
                (2.0, False)]
        r = auc(spark.createDataFrame(rows, ["score", "y"]),
                "score", "y").collect()[0]
        assert abs(r.auc - 0.875) < 1e-15

    def test_degenerate_single_class(self, spark):
        from pandas_ai_spark.functions.classify import auc

        rows = [(1.0, True), (2.0, True)]
        r = auc(spark.createDataFrame(rows, ["score", "y"]),
                "score", "y").collect()[0]
        assert r.auc is None and r.n_neg == 0


# ---------------------------------------------------------------------------
# classify.isotonic_calibration (q168)
# ---------------------------------------------------------------------------

class TestIsotonicCalibration:
    def _df(self, spark, bucket_rates, per_bucket=10):
        # synthesize scores so bucket i (equi-population deciles)
        # has the requested positive rate
        rows = []
        k = len(bucket_rates)
        for i, rate in enumerate(bucket_rates):
            n_pos = int(rate * per_bucket)
            for j in range(per_bucket):
                score = (i + (j + 1) / (per_bucket + 1)) / k
                rows.append((score, 1 if j < n_pos else 0))
        return spark.createDataFrame(rows, ["score", "outcome"])

    def test_monotone_input_unchanged(self, spark):
        from pandas_ai_spark.functions.classify import (
            isotonic_calibration)

        df = self._df(spark, [0.1, 0.3, 0.5, 0.9])
        out = sorted(isotonic_calibration(
            df, "score", "outcome", n_buckets=4).collect(),
            key=lambda r: r.bucket)
        for r in out:
            assert abs(r.calibrated - r.pos_rate) < 1e-12

    def test_violators_pooled(self, spark):
        from pandas_ai_spark.functions.classify import (
            isotonic_calibration)

        # bucket rates [0.2, 0.6, 0.4, 0.8]: middle pair violates,
        # pooled to (6+4)/20 = 0.5
        df = self._df(spark, [0.2, 0.6, 0.4, 0.8])
        out = sorted(isotonic_calibration(
            df, "score", "outcome", n_buckets=4).collect(),
            key=lambda r: r.bucket)
        cal = [r.calibrated for r in out]
        assert abs(cal[0] - 0.2) < 1e-12
        assert abs(cal[1] - 0.5) < 1e-12
        assert abs(cal[2] - 0.5) < 1e-12
        assert abs(cal[3] - 0.8) < 1e-12
        # monotone non-decreasing always
        assert all(a <= b + 1e-15 for a, b in zip(cal, cal[1:]))

    def test_fully_reversed_pools_to_global_rate(self, spark):
        from pandas_ai_spark.functions.classify import (
            isotonic_calibration)

        df = self._df(spark, [0.9, 0.6, 0.4, 0.1])
        out = isotonic_calibration(
            df, "score", "outcome", n_buckets=4).collect()
        rates = {r.calibrated for r in out}
        assert len(rates) == 1
        assert abs(rates.pop() - 0.5) < 1e-12


# ---------------------------------------------------------------------------
# classify.lift_table (q169)
# ---------------------------------------------------------------------------

class TestLiftTable:
    def test_perfect_ranker(self, spark):
        from pandas_ai_spark.functions.classify import lift_table

        # 40 rows, top half all positive: top-decile lift = 2, the
        # top five buckets capture everything
        rows = [(float(i), 1 if i >= 20 else 0) for i in range(40)]
        df = spark.createDataFrame(rows, ["score", "y"])
        out = {r.bucket: r for r in
               lift_table(df, "score", "y", n_buckets=4).collect()}
        assert abs(out[4].lift - 2.0) < 1e-12
        assert abs(out[4].cum_gain - 0.5) < 1e-12
        assert abs(out[3].cum_gain - 1.0) < 1e-12
        assert abs(out[1].lift - 0.0) < 1e-12
        assert abs(out[1].cum_lift - 1.0) < 1e-12  # full population

    def test_random_scores_lift_one(self, spark):
        from pandas_ai_spark.functions.classify import lift_table

        # outcome independent of score -> every bucket rate = global
        rows = [(float(i), i % 2) for i in range(40)]
        df = spark.createDataFrame(rows, ["score", "y"])
        out = lift_table(df, "score", "y", n_buckets=4).collect()
        for r in out:
            assert abs(r.lift - 1.0) < 1e-12
            assert abs(r.cum_lift - 1.0) < 1e-12

    def test_no_events_null_metrics(self, spark):
        from pandas_ai_spark.functions.classify import lift_table

        rows = [(float(i), 0) for i in range(20)]
        df = spark.createDataFrame(rows, ["score", "y"])
        out = lift_table(df, "score", "y", n_buckets=2).collect()
        assert all(r.lift is None and r.cum_gain is None
                   for r in out)


# ---------------------------------------------------------------------------
# stats.poisson_bootstrap_ci (q170)
# ---------------------------------------------------------------------------

class TestPoissonBootstrapCi:
    def test_interval_brackets_mean(self, spark):
        from pandas_ai_spark.functions.stats import (
            poisson_bootstrap_ci)

        df = spark.createDataFrame(
            [(i, (i * 7) % 100) for i in range(2000)], ["id", "v"])
        r = poisson_bootstrap_ci(df, "v", "id", B=40).collect()[0]
        assert r.n == 2000
        assert r.ci_lo <= r.mean <= r.ci_hi
        # n=2000, sd~29 -> CI half-width around 1.3; sanity bounds
        assert r.ci_hi - r.ci_lo < 6.0
        assert r.ci_hi - r.ci_lo > 0.5

    def test_deterministic_and_seed_sensitive(self, spark):
        from pandas_ai_spark.functions.stats import (
            poisson_bootstrap_ci)

        df = spark.createDataFrame(
            [(i, i % 10) for i in range(500)], ["id", "v"])
        a = poisson_bootstrap_ci(df, "v", "id", B=20).collect()[0]
        b = poisson_bootstrap_ci(df, "v", "id", B=20).collect()[0]
        assert (a.ci_lo, a.ci_hi) == (b.ci_lo, b.ci_hi)
        c = poisson_bootstrap_ci(df, "v", "id", B=20,
                                 seed="other").collect()[0]
        assert (a.ci_lo, a.ci_hi) != (c.ci_lo, c.ci_hi)

    def test_grouped_and_validation(self, spark):
        from pandas_ai_spark.functions.stats import (
            poisson_bootstrap_ci)

        rows = ([("a", i, 10) for i in range(200)]
                + [("b", i + 1000, 50) for i in range(200)])
        df = spark.createDataFrame(rows, ["g", "id", "v"])
        out = {r.g: r for r in poisson_bootstrap_ci(
            df, "v", "id", by=["g"], B=20).collect()}
        # constant columns: every replicate mean equals the constant
        assert out["a"].ci_lo == out["a"].ci_hi == 10.0
        assert out["b"].mean == 50.0
        with pytest.raises(ValueError):
            poisson_bootstrap_ci(df, "v", "id", B=2)
        with pytest.raises(ValueError):
            poisson_bootstrap_ci(df, "v", "id", alpha=0.0)


# ---------------------------------------------------------------------------
# timeseries.ma_decompose (q171)
# ---------------------------------------------------------------------------

class TestMaDecompose:
    def test_pure_trend_plus_cycle(self, spark):
        from pandas_ai_spark.functions.timeseries import ma_decompose

        # x_t = 10*t + cycle[t % 3]; centered MA(3) recovers the
        # linear trend exactly (cycle sums to 0 over any full window)
        cycle = [3, -1, -2]
        rows = [(t, 10 * t + cycle[t % 3]) for t in range(30)]
        df = spark.createDataFrame(rows, ["t", "x"])
        out = {r.t: r for r in
               ma_decompose(df, "x", "t", period=3).collect()}
        # interior point: trend == 10*t, seasonal == cycle value,
        # residual == 0
        for t in (5, 10, 20):
            assert abs(out[t].trend - 10 * t) < 1e-9
            assert abs(out[t].seasonal - cycle[t % 3]) < 1e-9
            assert abs(out[t].residual) < 1e-9
        # edges lack a full window
        assert out[0].trend is None and out[29].residual is None

    def test_seasonal_sums_to_zero(self, spark):
        from pandas_ai_spark.functions.timeseries import ma_decompose

        rows = [(t, (t * 13) % 17) for t in range(40)]
        df = spark.createDataFrame(rows, ["t", "x"])
        out = ma_decompose(df, "x", "t", period=5).collect()
        seas = {r.position: r.seasonal for r in out
                if r.seasonal is not None}
        assert abs(sum(seas.values())) < 1e-9

    def test_grouped_and_validation(self, spark):
        from pandas_ai_spark.functions.timeseries import ma_decompose

        rows = ([("a", t, t) for t in range(10)]
                + [("b", t, 2 * t) for t in range(10)])
        df = spark.createDataFrame(rows, ["g", "t", "x"])
        out = {(r.g, r.t): r for r in
               ma_decompose(df, "x", "t", period=3,
                            by=["g"]).collect()}
        assert abs(out[("a", 5)].trend - 5.0) < 1e-12
        assert abs(out[("b", 5)].trend - 10.0) < 1e-12
        with pytest.raises(ValueError):
            ma_decompose(df, "x", "t", period=4)


# ---------------------------------------------------------------------------
# linkage.fellegi_sunter (q172)
# ---------------------------------------------------------------------------

class TestFellegiSunter:
    def _pairs(self, spark, rows):
        return spark.createDataFrame(
            rows, "a_id: long, b_id: long, a_name: string, "
                  "b_name: string")

    def test_weights_and_bands(self, spark):
        import math

        from pandas_ai_spark.functions.linkage import fellegi_sunter

        pairs = self._pairs(spark, [
            (1, 2, "smith", "smith"),   # agree
            (1, 3, "smith", "jones"),   # disagree
        ])
        comps = [("name_eq", "a_name = b_name", 0.9, 0.1)]
        out = {(r.a_id, r.b_id): r for r in
               fellegi_sunter(pairs, comps, upper=3.0,
                              lower=0.0).collect()}
        wa = math.log2(0.9 / 0.1)
        wd = math.log2(0.1 / 0.9)
        assert abs(out[(1, 2)].fs_score - wa) < 1e-12
        assert abs(out[(1, 3)].fs_score - wd) < 1e-12
        assert out[(1, 2)].decision == "match"  # wa ~ 3.17 >= 3
        assert out[(1, 3)].decision == "non_match"
        assert out[(1, 2)].name_eq is True

    def test_null_agreement_is_disagreement(self, spark):
        from pandas_ai_spark.functions.linkage import fellegi_sunter

        pairs = self._pairs(spark, [(1, 2, None, "x")])
        comps = [("name_eq", "a_name = b_name", 0.9, 0.1)]
        r = fellegi_sunter(pairs, comps).collect()[0]
        assert r.name_eq is False and r.fs_score < 0

    def test_possible_band_and_validation(self, spark):
        from pandas_ai_spark.functions.linkage import fellegi_sunter

        pairs = self._pairs(spark, [(1, 2, "a", "a")])
        comps = [("name_eq", "a_name = b_name", 0.6, 0.4)]
        # weight = log2(1.5) ~ 0.585: below upper=3, above lower=0
        r = fellegi_sunter(pairs, comps).collect()[0]
        assert r.decision == "possible"
        with pytest.raises(ValueError):
            fellegi_sunter(pairs, [])
        with pytest.raises(ValueError):
            fellegi_sunter(pairs, [("x", "a_name = b_name", 1.0,
                                    0.5)])
        with pytest.raises(ValueError):
            fellegi_sunter(pairs, comps, upper=0.0, lower=1.0)

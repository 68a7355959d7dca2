"""Round-6 fixes and additive operators: upsert_merge deterministic
tiebreak, rfm empty-input guard, perceptual-hash band-width guard,
auto exact→approx percentile switching at scale.
"""

import datetime as dt

import pytest

from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from conftest import build_jobs


# ---------------------------------------------------------------------------
# upsert_merge: deterministic last-resort tiebreak (ADVICE r5)
# ---------------------------------------------------------------------------

class TestUpsertTiebreak:
    def test_duplicate_key_version_is_deterministic(self, spark):
        from pandas_ai_spark.functions.diff import upsert_merge

        base = spark.createDataFrame([(1, "old", 0)],
                                     "k long, v string, ver long")
        # two update rows share (key, version) — a malformed CDC batch;
        # the winner must be content-determined, not partition-order
        ups = spark.createDataFrame([(1, "a", 5), (1, "b", 5)],
                                    "k long, v string, ver long")
        winners = set()
        for n_parts in (1, 2, 7):
            out = upsert_merge(base, ups.repartition(n_parts),
                               ["k"], "ver").collect()
            assert len(out) == 1
            winners.add(out[0].v)
        assert len(winners) == 1  # same winner under every shuffle

    def test_explicit_tiebreak_column(self, spark):
        from pandas_ai_spark.functions.diff import upsert_merge

        base = spark.createDataFrame(
            [(1, "old", 0, 0)], "k long, v string, ver long, seq long")
        ups = spark.createDataFrame(
            [(1, "early", 5, 10), (1, "late", 5, 20)],
            "k long, v string, ver long, seq long")
        out = upsert_merge(base, ups, ["k"], "ver",
                           tiebreak_col="seq").collect()
        assert len(out) == 1 and out[0].v == "late"  # highest seq wins

    def test_bad_tiebreak_column_raises(self, spark):
        from pandas_ai_spark.functions.diff import upsert_merge

        base = spark.createDataFrame([(1, "a", 0)],
                                     "k long, v string, ver long")
        with pytest.raises(ValueError):
            upsert_merge(base, base, ["k"], "ver",
                         tiebreak_col="nope")


# ---------------------------------------------------------------------------
# rfm_segments: clear error on empty input (ADVICE r5)
# ---------------------------------------------------------------------------

class TestRfmEmptyInput:
    def test_empty_input_raises_value_error(self, spark):
        from pandas_ai_spark.functions.events import rfm_segments

        df = spark.createDataFrame(
            [], "cust long, ts timestamp, amt double")
        with pytest.raises(ValueError, match="non-empty"):
            rfm_segments(df, "cust", "ts", "amt",
                         ref_date="2024-01-01")


# ---------------------------------------------------------------------------
# perceptual_hash_bands: band width must fit array<int> (ADVICE r5)
# ---------------------------------------------------------------------------

class TestPhashBandWidth:
    def test_over_31_bits_per_band_raises(self, spark):
        from pandas_ai_spark.functions.multimodal import \
            perceptual_hash_bands

        df = spark.createDataFrame([(1, bytearray(b"x" * 300))],
                                   "doc_id long, media binary")
        # grid=16, bands=8 → 32 bits per band: would overflow int32
        with pytest.raises(ValueError, match="31-bit"):
            perceptual_hash_bands(df, "media", "doc_id",
                                  decoder="fake", grid=16, bands=8)

    def test_16_grid_with_enough_bands_ok(self, spark):
        from pandas_ai_spark.functions.multimodal import \
            perceptual_hash_bands

        df = spark.createDataFrame([(1, bytearray(bytes(range(256))))],
                                   "doc_id long, media binary")
        out = perceptual_hash_bands(df, "media", "doc_id",
                                    decoder="fake", grid=16,
                                    bands=16).collect()
        assert len(out) == 1 and len(out[0].band) == 16
        assert all(0 <= b < (1 << 16) for b in out[0].band)

# ---------------------------------------------------------------------------
# auto exact→approx percentile switching (VERDICT r5 item 2)
# ---------------------------------------------------------------------------

class TestAutoApprox:
    def _plan(self, df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    def test_small_parquet_input_stays_exact(self, spark):
        from pandas_ai_spark.functions.stats import winsorize

        df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        out = winsorize(df, "o_totalprice", by=["o_orderstatus"])
        assert "approx" not in self._plan(out).lower()

    def test_big_input_auto_engages_approx(self, spark, monkeypatch):
        from pandas_ai_spark.functions import stats

        monkeypatch.setattr(stats, "EXACT_STATE_MAX_BYTES", 1)
        df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        out = stats.winsorize(df, "o_totalprice", by=["o_orderstatus"])
        assert "percentile_approx" in self._plan(out)
        # exact and approx agree on this data (few distincts per group);
        # the switch must not change the output shape
        assert {"p_lo_bound", "p_hi_bound",
                "o_totalprice_winsorized"} <= set(out.columns)

    def test_profile_auto_swaps_distinct_for_hll(self, spark,
                                                 monkeypatch):
        from pandas_ai_spark.functions import stats

        df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        exact = stats.profile_exact(df, ["o_orderkey"])
        assert "approx_count_distinct" not in self._plan(exact)
        monkeypatch.setattr(stats, "EXACT_STATE_MAX_BYTES", 1)
        approx = stats.profile_exact(df, ["o_orderkey"])
        assert "approx_count_distinct" in self._plan(approx)

    def test_explicit_flag_beats_auto(self, spark, monkeypatch):
        from pandas_ai_spark.functions import stats

        monkeypatch.setattr(stats, "EXACT_STATE_MAX_BYTES", 1)
        df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        out = stats.winsorize(df, "o_totalprice", approx=False)
        assert "approx" not in self._plan(out).lower()

    def test_unknown_size_plan_stays_exact(self, spark, monkeypatch):
        from pandas_ai_spark.functions import stats

        monkeypatch.setattr(stats, "EXACT_STATE_MAX_BYTES", 1)
        # local relations carry Catalyst's unknown-size sentinel:
        # auto must keep the exact path (oracle fidelity), not guess
        df = spark.createDataFrame([("a", 1.0)] * 10, "g string, v double")
        out = stats.grouped_median(df, "g", "v")
        assert "approx" not in self._plan(out).lower()

    def test_rfm_auto_approx_engages(self, spark, monkeypatch):
        import datetime as dt
        from pandas_ai_spark.functions import stats
        from pandas_ai_spark.functions.events import rfm_segments

        monkeypatch.setattr(stats, "EXACT_STATE_MAX_BYTES", 1)
        df = (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
              .select("o_custkey", "o_orderdate", "o_totalprice"))
        out = rfm_segments(df, "o_custkey", "o_orderdate",
                           "o_totalprice", ref_date="2001-12-31")
        # sanity: scoring still works end-to-end on the sketch edges
        rows = out.limit(5).collect()
        assert all(1 <= r.r <= 5 and 1 <= r.m <= 5 for r in rows)

# ---------------------------------------------------------------------------
# driver-rotation contract (VERDICT r5 item 1)
# ---------------------------------------------------------------------------

class TestRotation:
    def test_rotation_prefers_stalest_and_preserves_registry_order(self):
        import __spark_entry__ as e

        rot = e.rotation()
        names = list(e.queries().keys())
        assert len(rot) == 50 and len(set(rot)) == 50
        assert set(rot) <= set(names)
        last = e._last_verified_rounds()
        # stalest-first: every selected query is at least as stale as
        # every excluded one
        worst_in = max(last.get(q, 0) for q in rot)
        best_out = min((last.get(q, 0) for q in names
                        if q not in rot), default=worst_in)
        assert worst_in <= best_out
        # registry order preserved within equal staleness
        by_stale = {}
        for q in rot:
            by_stale.setdefault(last.get(q, 0), []).append(q)
        idx = {n: i for i, n in enumerate(names)}
        for grp in by_stale.values():
            assert grp == sorted(grp, key=idx.__getitem__)
        assert e.ROTATION == rot

    def test_rotation_cap(self):
        import __spark_entry__ as e

        assert len(e.rotation(7)) == 7

# ---------------------------------------------------------------------------
# persisted novelty vocabulary (VERDICT r5 item 3)
# ---------------------------------------------------------------------------

class TestNoveltyVocabState:
    def test_vocab_reuse_byte_identical_and_no_state_exchange(
            self, spark, tmp_path):
        from pandas_ai_spark.functions.state_store import (
            load_novelty_vocab, save_novelty_vocab)
        from pandas_ai_spark.functions.text import (build_novelty_vocab,
                                                    ngram_novelty)

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet")
        ref = docs.where(F.col("doc_id") % 2 == 1)
        batch = docs.where(F.col("doc_id") % 2 == 0)
        save_novelty_vocab(build_novelty_vocab(ref, n=3),
                           "t_nov_state", str(tmp_path / "nv"),
                           num_buckets=4)
        try:
            vocab = load_novelty_vocab(spark, "t_nov_state")
            one_shot = sorted(map(tuple, ngram_novelty(
                batch, ref, n=3).collect()))
            reused = sorted(map(tuple, ngram_novelty(
                batch, n=3, vocab=vocab).collect()))
            assert reused == one_shot and len(reused) > 0

            # the join must read the bucketed vocabulary without
            # re-shuffling it: exactly one Exchange (the batch side)
            prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            try:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                               "-1")
                plan = (ngram_novelty(batch, n=3, vocab=vocab)
                        ._jdf.queryExecution().executedPlan().toString())
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                               prev)
            # one Exchange for the doc-gram side + one for the final
            # groupBy(id); none under the vocabulary scan
            assert plan.count("Exchange hashpartitioning") == 2, plan
        finally:
            spark.sql("DROP TABLE IF EXISTS t_nov_state_vocab")

    def test_needs_exactly_one_reference_form(self, spark):
        from pandas_ai_spark.functions.text import ngram_novelty

        docs = spark.createDataFrame([(1, "a b c d")],
                                     "doc_id long, text string")
        with pytest.raises(ValueError):
            ngram_novelty(docs, n=3)
        with pytest.raises(ValueError):
            ngram_novelty(docs, docs, n=3,
                          vocab=docs.selectExpr("doc_id as gram"))

# ---------------------------------------------------------------------------
# cache_scope bounds the graded pipeline composition (VERDICT r5 item 6)
# ---------------------------------------------------------------------------

class TestCacheScopePipeline:
    def test_no_operator_cache_outlives_the_scope(self, spark):
        from pandas_ai_spark.functions.cache import _LEDGER, cache_scope
        from pandas_ai_spark.functions.pipeline import clean_corpus

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet")
        sc = spark.sparkContext
        before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
        ledger_before = len(_LEDGER)
        with cache_scope():
            # near-dup stage persists its banded signature table; the
            # scope must own it. Materialize INSIDE the scope.
            clean, _ = clean_corpus(docs, near_dup_threshold=0.7,
                                    compute_stats=False,
                                    bounded_cache=False)
            n = clean.count()
        assert n > 0
        after = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
        # no persisted block outlives the scope, and nothing leaked
        # into the global ledger
        assert after <= before, after - before
        assert len(_LEDGER) == ledger_before

    def test_bounded_default_releases_internals(self, spark):
        from pandas_ai_spark.functions.pipeline import clean_corpus

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet")
        sc = spark.sparkContext
        before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
        clean, stats = clean_corpus(docs, near_dup_threshold=0.7,
                                    compute_stats=True)
        after = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
        # bounded path: internal signature persists are released; the
        # only new blocks are the checkpointed RESULT (caller-owned)
        new = after - before
        assert len(new) <= 2, new
        assert clean.count() == stats.final_docs

# ---------------------------------------------------------------------------
# round-6 additive operators
# ---------------------------------------------------------------------------

class TestKaplanMeier:
    def test_textbook_curve(self, spark):
        from pandas_ai_spark.functions.survival import kaplan_meier

        # classic 5-subject example: events at 1, 3; censored at 2, 4, 5
        rows = [(1.0, 1), (2.0, 0), (3.0, 1), (4.0, 0), (5.0, 0)]
        df = spark.createDataFrame(rows, "d double, e int")
        out = {r.t: r for r in kaplan_meier(df, "d", "e").collect()}
        assert out[1.0].n_risk == 5 and out[1.0].n_events == 1
        assert abs(out[1.0].survival - 4 / 5) < 1e-12
        # at t=3 risk set is 3 (subject 2 censored): S = 4/5 * 2/3
        assert out[3.0].n_risk == 3
        assert abs(out[3.0].survival - (4 / 5) * (2 / 3)) < 1e-12
        # censoring alone never reduces survival
        assert abs(out[5.0].survival - out[3.0].survival) < 1e-12

    def test_all_events_at_once_absorbs_to_zero(self, spark):
        from pandas_ai_spark.functions.survival import kaplan_meier

        df = spark.createDataFrame([(2.0, 1)] * 4, "d double, e int")
        out = kaplan_meier(df, "d", "e").collect()
        assert len(out) == 1 and out[0].survival == 0.0

    def test_negative_and_empty_raise(self, spark):
        from pandas_ai_spark.functions.survival import kaplan_meier

        with pytest.raises(ValueError):
            kaplan_meier(spark.createDataFrame([(-1.0, 1)],
                                               "d double, e int"),
                         "d", "e")
        with pytest.raises(ValueError):
            kaplan_meier(spark.createDataFrame([], "d double, e int"),
                         "d", "e")


class TestGini:
    def test_equal_values_zero(self, spark):
        from pandas_ai_spark.functions.stats import gini_coefficient

        df = spark.createDataFrame([(10.0,)] * 8, "v double")
        g = gini_coefficient(df, "v").collect()[0]
        assert abs(g.gini) < 1e-12 and g.n == 8

    def test_full_concentration_approaches_one(self, spark):
        from pandas_ai_spark.functions.stats import gini_coefficient

        rows = [(0.0,)] * 99 + [(100.0,)]
        df = spark.createDataFrame(rows, "v double")
        g = gini_coefficient(df, "v").collect()[0]
        # exact: G = (n-1)/n when one holder owns everything
        assert abs(g.gini - 99 / 100) < 1e-12

    def test_grouped_and_negative_raises(self, spark):
        from pandas_ai_spark.functions.stats import gini_coefficient

        df = spark.createDataFrame(
            [("a", 1.0, 1), ("a", 1.0, 2), ("b", 0.0, 3), ("b", 9.0, 4)],
            "g string, v double, id long")
        out = {r.g: r.gini for r in gini_coefficient(
            df, "v", by=["g"], tiebreak="id").collect()}
        assert abs(out["a"]) < 1e-12 and out["b"] > 0.4
        with pytest.raises(SparkRuntimeException,
                           match="gini_coefficient needs non-negative"):
            gini_coefficient(spark.createDataFrame([(-1.0,)],
                                                   "v double"),
                             "v").collect()

    def test_negative_check_builds_zero_jobs(self, spark):
        from pandas_ai_spark.functions.stats import gini_coefficient

        df = spark.createDataFrame([("a", 1.0), ("a", -1.0)],
                                   "g string, v double")
        out, jobs = build_jobs(
            spark, "gini_build",
            lambda: gini_coefficient(df, "v", by=["g"]))
        assert jobs == []
        with pytest.raises(SparkRuntimeException,
                           match="gini_coefficient needs non-negative"):
            out.collect()


class TestBenford:
    def test_digits_and_chi2(self, spark):
        from pandas_ai_spark.functions.stats import benford_test

        # values engineered per leading digit: 1 appears 3x, 9 once;
        # 0/negative/null excluded
        rows = [(1.23,), (10.0,), (199.0,), (0.25,), (9000.0,),
                (0.0,), (-5.0,), (None,)]
        df = spark.createDataFrame(rows, "v double")
        out = {r.digit: r for r in benford_test(df, "v").collect()}
        assert len(out) == 9
        assert out[1].n == 3 and out[2].n == 1 and out[9].n == 1
        assert out[3].n == 0 and out[3].chi2_term > 0  # expected>0
        total = sum(r.n for r in out.values())
        assert total == 5
        assert abs(sum(r.pct for r in out.values()) - 1.0) < 1e-12

    def test_all_nonpositive_raises(self, spark):
        from pandas_ai_spark.functions.stats import benford_test

        df = spark.createDataFrame([(0.0,), (-3.0,)], "v double")
        with pytest.raises(ValueError):
            benford_test(df, "v")


class TestAssociationRules:
    def _pairs(self, spark):
        from pandas_ai_spark.functions.mining import frequent_pairs

        # baskets: {a,b} x3, {a} x1  -> support(a)=4, b=3, ab=3, N=4
        rows = [(i, x) for i in range(3) for x in ("a", "b")] + [(9, "a")]
        df = spark.createDataFrame(rows, "b long, i string")
        return frequent_pairs(df, "b", "i", min_support=1)

    def test_directed_metrics(self, spark):
        from pandas_ai_spark.functions.mining import association_rules

        rules = {(r.antecedent, r.consequent): r
                 for r in association_rules(self._pairs(spark)).collect()}
        ab, ba = rules[("a", "b")], rules[("b", "a")]
        assert abs(ab.confidence - 3 / 4) < 1e-12
        assert abs(ba.confidence - 1.0) < 1e-12
        assert abs(ab.lift - ba.lift) < 1e-12  # symmetric
        # leverage = 3/4 - (4/4)(3/4) = 0
        assert abs(ab.leverage) < 1e-12
        # conviction(a->b) = (1 - 3/4)/(1 - 3/4) = 1; b->a exact => NULL
        assert abs(ab.conviction - 1.0) < 1e-12
        assert ba.conviction is None

    def test_min_confidence_filters(self, spark):
        from pandas_ai_spark.functions.mining import association_rules

        rules = association_rules(self._pairs(spark),
                                  min_confidence=0.9).collect()
        assert {(r.antecedent, r.consequent)
                for r in rules} == {("b", "a")}


class TestReadability:
    def test_counts_and_flesch(self, spark):
        from pandas_ai_spark.functions.text import readability

        df = spark.createDataFrame(
            [(1, "The cat sat. The dog ran!"), (2, "???")],
            "doc_id long, text string")
        out = readability(df).collect()
        assert len(out) == 1  # doc 2 has no words
        r = out[0]
        assert r.n_sentences == 2 and r.n_words == 6
        # vowel groups: the/ca/sa/the/do/ra -> 1 each = 6
        assert r.n_syllables == 6
        want = 206.835 - 1.015 * 3.0 - 84.6 * 1.0
        assert abs(r.flesch - want) < 1e-9

    def test_no_terminal_punct_is_one_sentence(self, spark):
        from pandas_ai_spark.functions.text import readability

        df = spark.createDataFrame([(1, "hello world")],
                                   "doc_id long, text string")
        assert readability(df).collect()[0].n_sentences == 1


class TestIntereventGaps:
    def test_gap_stats(self, spark):
        from pandas_ai_spark.functions.events import interevent_gaps

        rows = [(1, dt.datetime(2024, 1, 1, 0, 0, s), 7, "x")
                for s in (0, 10, 30)]          # gaps 10, 20
        rows += [(2, dt.datetime(2024, 1, 1, 0, 0, 5), 8, "x")]  # no gap
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string")
        out = interevent_gaps(df, "user_id", "ts", "event_type",
                              "event_id").collect()
        assert len(out) == 1
        r = out[0]
        assert r.n_gaps == 2 and abs(r.mean_gap_s - 15.0) < 1e-9
        assert abs(r.median_gap_s - 15.0) < 1e-9  # interpolated


class TestAudienceOverlap:
    def test_jaccard(self, spark):
        from pandas_ai_spark.functions.events import audience_overlap

        rows = [("x", 1), ("x", 2), ("x", 2),  # dup collapses
                ("y", 2), ("y", 3), ("z", 9)]
        df = spark.createDataFrame(rows, "g string, u long")
        out = {(r.group_a, r.group_b): r
               for r in audience_overlap(df, "g", "u").collect()}
        assert set(out) == {("x", "y")}  # z shares no users
        r = out[("x", "y")]
        assert r.n_a == 2 and r.n_b == 2 and r.n_both == 1
        assert abs(r.jaccard - 1 / 3) < 1e-12


class TestOutlierFences:
    def test_fences_and_counts(self, spark):
        from pandas_ai_spark.functions.stats import iqr_outliers

        vals = [float(x) for x in range(1, 12)] + [100.0]
        df = spark.createDataFrame([("g", v) for v in vals],
                                   "g string, v double")
        r = iqr_outliers(df, "g", "v", k=1.5).collect()[0]
        assert r.n == 12 and r.n_outliers == 1  # only the 100
        assert r.lo_fence < 1.0 and r.hi_fence < 100.0


class TestQuantileBuckets:
    def test_deciles_are_equipopulated(self, spark):
        from pandas_ai_spark.functions.stats import quantile_buckets

        df = spark.createDataFrame([(float(i),) for i in range(100)],
                                   "v double")
        out = quantile_buckets(df, "v", n_buckets=10)
        counts = {r.bucket: r.n for r in
                  out.groupBy("bucket").agg(F.count("*").alias("n"))
                     .collect()}
        assert set(counts) == set(range(1, 11))
        assert all(c == 10 for c in counts.values())

    def test_null_value_gets_null_bucket(self, spark):
        from pandas_ai_spark.functions.stats import quantile_buckets

        df = spark.createDataFrame([(1.0,), (2.0,), (None,)],
                                   "v double")
        rows = quantile_buckets(df, "v", n_buckets=2).collect()
        assert any(r.bucket is None for r in rows if r.v is None)

    def test_bad_buckets_raise(self, spark):
        from pandas_ai_spark.functions.stats import quantile_buckets

        df = spark.createDataFrame([(1.0,)], "v double")
        with pytest.raises(ValueError):
            quantile_buckets(df, "v", n_buckets=1)


class TestCharEntropy:
    def _h(self, spark, text):
        from pandas_ai_spark.functions.text import char_entropy

        df = spark.createDataFrame([(text,)], "t string")
        return df.select(char_entropy(F.col("t")).alias("h")) \
                 .collect()[0].h

    def test_uniform_two_chars_is_one_bit(self, spark):
        assert abs(self._h(spark, "abab") - 1.0) < 1e-12

    def test_single_char_zero(self, spark):
        assert abs(self._h(spark, "aaaa")) < 1e-12

    def test_known_distribution(self, spark):
        import math

        # 'a' x2, 'b' x1, 'c' x1 -> H = 1.5 bits
        h = self._h(spark, "abca")
        assert abs(h - 1.5) < 1e-12
        # cross-check against the direct formula
        want = -(0.5 * math.log2(0.5) + 2 * 0.25 * math.log2(0.25))
        assert abs(h - want) < 1e-12

    def test_empty_and_null_are_null(self, spark):
        from pandas_ai_spark.functions.text import char_entropy

        df = spark.createDataFrame([("",), (None,)], "t string")
        rows = df.select(char_entropy(F.col("t")).alias("h")).collect()
        assert all(r.h is None for r in rows)


class TestRobustZscore:
    def test_scores_and_cutoff(self, spark):
        from pandas_ai_spark.functions.stats import robust_zscore

        vals = [1.0, 2.0, 3.0, 4.0, 5.0, 100.0]
        df = spark.createDataFrame([("g", v) for v in vals],
                                   "g string, v double")
        out = {r.v: r for r in robust_zscore(df, "g", "v").collect()}
        # median 3.5, MAD 1.5
        assert abs(out[100.0].robust_z
                   - 0.6745 * (100.0 - 3.5) / 1.5) < 1e-9
        assert out[100.0].is_outlier is True
        assert out[3.0].is_outlier is False

    def test_zero_mad_yields_null(self, spark):
        from pandas_ai_spark.functions.stats import robust_zscore

        df = spark.createDataFrame([("g", 5.0)] * 4 + [("g", 9.0)],
                                   "g string, v double")
        rows = robust_zscore(df, "g", "v").collect()
        assert all(r.robust_z is None and r.is_outlier is None
                   for r in rows)


class TestContainmentPairs:
    def test_subset_scores_high_where_jaccard_dilutes(self, spark):
        from pandas_ai_spark.functions import dedup as dd

        quote = "alpha beta gamma delta epsilon zeta"
        long = quote + " " + " ".join(f"w{i}" for i in range(40))
        df = spark.createDataFrame([(1, quote), (2, long)],
                                   "doc_id long, text string")
        cont = dd.ngram_containment_pairs(df, threshold=0.9,
                                          max_doc_freq=None).collect()
        assert len(cont) == 1 and cont[0].containment == 1.0
        jac = dd.ngram_jaccard_pairs(df, threshold=0.5,
                                     max_doc_freq=None).collect()
        assert jac == []  # the same pair is invisible to Jaccard

    def test_capped_path_matches_uncapped(self, spark):
        from pandas_ai_spark.functions import dedup as dd

        rows = [(i, f"common one two three unique{i} tail{i} more{i}")
                for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        capped = sorted(map(tuple, dd.ngram_containment_pairs(
            df, threshold=0.3, max_doc_freq=3).collect()))
        full = sorted(map(tuple, dd.ngram_containment_pairs(
            df, threshold=0.3, max_doc_freq=None).collect()))
        # capped path may drop candidates, never misscore survivors
        for row in capped:
            assert row in full

    def test_bad_score_raises(self, spark):
        from pandas_ai_spark.functions import dedup as dd

        df = spark.createDataFrame([(1, "a b c")],
                                   "doc_id long, text string")
        with pytest.raises(ValueError):
            dd.ngram_jaccard_pairs(df, score="dice")


class TestRollingActives:
    def test_trailing_window_counts(self, spark):
        from pandas_ai_spark.functions.events import rolling_active_users

        rows = [(dt.datetime(2024, 1, 1), 1),
                (dt.datetime(2024, 1, 1), 2),
                (dt.datetime(2024, 1, 3), 1),
                (dt.datetime(2024, 1, 9), 3)]
        df = spark.createDataFrame(rows, "ts timestamp, user_id long")
        out = {r.day.isoformat(): r.active_users
               for r in rolling_active_users(df, window_days=7)
               .collect()}
        assert out["2024-01-01"] == 2           # users 1, 2
        assert out["2024-01-03"] == 2           # 1,2 still in window
        assert out["2024-01-07"] == 2           # day1 activity last day
        assert out["2024-01-08"] == 1           # only day-3 activity
        assert out["2024-01-09"] == 2           # user 1 (day3) + user 3
        assert "2024-01-10" not in out          # trimmed past max day

    def test_dau_window_one(self, spark):
        from pandas_ai_spark.functions.events import rolling_active_users

        rows = [(dt.datetime(2024, 1, 1), 1), (dt.datetime(2024, 1, 1), 1)]
        df = spark.createDataFrame(rows, "ts timestamp, user_id long")
        out = rolling_active_users(df, window_days=1).collect()
        assert len(out) == 1 and out[0].active_users == 1

    def test_empty_and_bad_window_raise(self, spark):
        from pandas_ai_spark.functions.events import rolling_active_users

        df = spark.createDataFrame([], "ts timestamp, user_id long")
        with pytest.raises(ValueError):
            rolling_active_users(df)
        with pytest.raises(ValueError):
            rolling_active_users(df, window_days=0)


class TestNegativeSamples:
    def test_deterministic_and_excludes_positives(self, spark):
        from pandas_ai_spark.functions.pipeline import negative_samples

        rows = [(1, "a"), (1, "b"), (2, "a"), (3, "c")]
        df = spark.createDataFrame(rows, "u long, i string")
        one = sorted(map(tuple, negative_samples(
            df, "u", "i", k=2).collect()))
        two = sorted(map(tuple, negative_samples(
            df, "u", "i", k=2).collect()))
        assert one == two and len(one) > 0  # reproducible
        pos = set(rows)
        for u, i, rk in one:
            assert (u, i) not in pos and 1 <= rk <= 2

    def test_full_vocab_user_yields_nothing(self, spark):
        from pandas_ai_spark.functions.pipeline import negative_samples

        df = spark.createDataFrame([(1, "a"), (1, "b"), (2, "a")],
                                   "u long, i string")
        out = negative_samples(df, "u", "i", k=5).collect()
        assert all(r.u != 1 for r in out)      # user 1 saw everything
        assert {r.i for r in out if r.u == 2} == {"b"}

    def test_seed_changes_pick_order(self, spark):
        from pandas_ai_spark.functions.pipeline import negative_samples

        rows = [(1, f"i{j}") for j in range(10)] + [(2, "i0")]
        df = spark.createDataFrame(rows, "u long, i string")
        a = [r.i for r in negative_samples(df, "u", "i", k=3,
                                           seed="s1")
             .where("u = 2").orderBy("rk").collect()]
        b = [r.i for r in negative_samples(df, "u", "i", k=3,
                                           seed="s2")
             .where("u = 2").orderBy("rk").collect()]
        assert len(a) == 3 and len(b) == 3
        assert a != b  # different seed, different deterministic pick


class TestWeightedMedian:
    def test_weight_shifts_the_median(self, spark):
        from pandas_ai_spark.functions.stats import weighted_median

        # unweighted median of {1,2,3} is 2; weight mass on 3 drags
        # the weighted median up
        rows = [("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 10.0)]
        df = spark.createDataFrame(rows, "g string, v double, w double")
        r = weighted_median(df, "g", "v", "w").collect()[0]
        assert r.wmedian == 3.0 and r.total_weight == 12.0

    def test_equal_weights_match_lower_median(self, spark):
        from pandas_ai_spark.functions.stats import weighted_median

        rows = [("g", float(v), 1.0) for v in (1, 2, 3, 4)]
        df = spark.createDataFrame(rows, "g string, v double, w double")
        # cum hits tot/2 = 2 at value 2 (lower weighted median)
        assert weighted_median(df, "g", "v", "w") \
            .collect()[0].wmedian == 2.0

    def test_negative_weight_raises(self, spark):
        from pandas_ai_spark.functions.stats import weighted_median

        df = spark.createDataFrame([("g", 1.0, -1.0)],
                                   "g string, v double, w double")
        # the check is in the plan: the build runs no job, the action
        # fails
        out, jobs = build_jobs(
            spark, "wmedian_build",
            lambda: weighted_median(df, "g", "v", "w"))
        assert jobs == []
        with pytest.raises(SparkRuntimeException,
                           match="weighted_median needs non-negative"):
            out.collect()


class TestKeySkewReport:
    def test_hot_key_shares(self, spark):
        from pandas_ai_spark.functions.skew import key_skew_report

        rows = [(1,)] * 90 + [(k,) for k in range(2, 12)]
        df = spark.createDataFrame(rows, "k long")
        r = key_skew_report(df, "k", top_n=10).collect()[0]
        assert r.n_rows == 100 and r.n_keys == 11
        assert abs(r.max_share - 0.9) < 1e-12
        # top10 = the hot key + 9 singletons
        assert abs(r.top10_share - 0.99) < 1e-12
        assert r.skew_ratio > 1.0

    def test_uniform_keys_ratio_one(self, spark):
        from pandas_ai_spark.functions.skew import key_skew_report

        rows = [(k,) for k in range(20) for _ in range(5)]
        df = spark.createDataFrame(rows, "k long")
        r = key_skew_report(df, "k").collect()[0]
        assert r.skew_ratio == 1.0 and abs(r.max_share - 0.05) < 1e-12


# ---------------------------------------------------------------------------
# round-6 review-finding regressions
# ---------------------------------------------------------------------------

class TestReviewRegressions:
    def test_upsert_merge_with_map_column(self, spark):
        # xxhash64 rejects MapType: the default content tiebreak must
        # skip map columns, not break every call on a CDC payload map
        from pandas_ai_spark.functions.diff import upsert_merge

        base = spark.createDataFrame(
            [(1, {"a": "1"}, 1)], "k long, props map<string,string>, "
                                  "ver long")
        ups = spark.createDataFrame(
            [(1, {"a": "2"}, 2)], "k long, props map<string,string>, "
                                  "ver long")
        out = upsert_merge(base, ups, ["k"], "ver").collect()
        assert len(out) == 1 and out[0].props == {"a": "2"}

    def test_kaplan_meier_null_event_raises(self, spark):
        from pandas_ai_spark.functions.survival import kaplan_meier

        df = spark.createDataFrame([(1.0, None), (5.0, 1)],
                                   "d double, e int")
        with pytest.raises(ValueError, match="NULL"):
            kaplan_meier(df, "d", "e")

    def test_phash_suggestion_is_valid(self, spark):
        from pandas_ai_spark.functions.multimodal import \
            perceptual_hash_bands

        df = spark.createDataFrame([(1, bytearray(b"x" * 300))],
                                   "doc_id long, media binary")
        # grid=8, bands=2 -> 32 bits/band; naive ceil(64/31)=3 does
        # not divide 64 — the suggestion must be a usable value (4)
        with pytest.raises(ValueError, match=">= 4"):
            perceptual_hash_bands(df, "media", "doc_id",
                                  decoder="fake", grid=8, bands=2)

    def test_containment_default_is_uncapped(self, spark):
        import inspect

        from pandas_ai_spark.functions.dedup import \
            ngram_containment_pairs

        sig = inspect.signature(ngram_containment_pairs)
        assert sig.parameters["max_doc_freq"].default is None


class TestKsTest:
    def test_identical_samples_zero(self, spark):
        from pandas_ai_spark.functions.stats import ks_test

        rows = [("g", float(v), s) for v in range(10)
                for s in ("a", "b")]
        df = spark.createDataFrame(rows, "g string, v double, s string")
        r = ks_test(df, "g", "v", "s", "a", "b").collect()[0]
        assert r.d_stat == 0.0 and r.significant is False

    def test_disjoint_samples_d_one(self, spark):
        from pandas_ai_spark.functions.stats import ks_test

        rows = [("g", float(v), "a") for v in range(10)]
        rows += [("g", float(v + 100), "b") for v in range(10)]
        df = spark.createDataFrame(rows, "g string, v double, s string")
        r = ks_test(df, "g", "v", "s", "a", "b").collect()[0]
        assert abs(r.d_stat - 1.0) < 1e-12 and r.significant is True

    def test_known_shift_statistic(self, spark):
        from pandas_ai_spark.functions.stats import ks_test

        # a = {1,2,3,4}, b = {3,4,5,6}: D = 1/2 at x in [2,3)
        rows = [("g", float(v), "a") for v in (1, 2, 3, 4)]
        rows += [("g", float(v), "b") for v in (3, 4, 5, 6)]
        df = spark.createDataFrame(rows, "g string, v double, s string")
        r = ks_test(df, "g", "v", "s", "a", "b").collect()[0]
        assert abs(r.d_stat - 0.5) < 1e-12
        assert r.n_a == 4 and r.n_b == 4

    def test_ties_credited_together(self, spark):
        from pandas_ai_spark.functions.stats import ks_test

        # all mass tied at the same value in both samples: D must be 0
        rows = [("g", 5.0, "a")] * 3 + [("g", 5.0, "b")] * 7
        df = spark.createDataFrame(rows, "g string, v double, s string")
        assert ks_test(df, "g", "v", "s", "a", "b") \
            .collect()[0].d_stat == 0.0


class TestNoveltyVocabUpdate:
    def test_incremental_equals_full_rebuild(self, spark):
        from pandas_ai_spark.functions.text import (build_novelty_vocab,
                                                    ngram_novelty,
                                                    update_novelty_vocab)

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet")
        old = docs.where(F.col("doc_id") % 3 == 0)
        new = docs.where(F.col("doc_id") % 3 == 1)
        batch = docs.where(F.col("doc_id") % 3 == 2)
        incr = update_novelty_vocab(build_novelty_vocab(old), new)
        full = build_novelty_vocab(old.unionByName(new))
        a = sorted(map(tuple, ngram_novelty(batch, vocab=incr)
                       .collect()))
        b = sorted(map(tuple, ngram_novelty(batch, vocab=full)
                       .collect()))
        assert a == b and len(a) > 0


class TestRankFeatures:
    def test_pct_rank_and_zscore(self, spark):
        from pandas_ai_spark.functions.stats import rank_features

        rows = [("g", float(v)) for v in (10, 20, 30, 40, 50)]
        df = spark.createDataFrame(rows, "g string, v double")
        out = {r.v: r for r in rank_features(df, "g", "v").collect()}
        assert out[10.0].pct_rank == 0.0 and out[50.0].pct_rank == 1.0
        assert abs(out[30.0].pct_rank - 0.5) < 1e-12
        assert abs(out[30.0].zscore) < 1e-12  # the mean

    def test_ties_share_rank(self, spark):
        from pandas_ai_spark.functions.stats import rank_features

        df = spark.createDataFrame(
            [("g", 1.0), ("g", 2.0), ("g", 2.0), ("g", 3.0)],
            "g string, v double")
        ranks = {r.pct_rank for r in
                 rank_features(df, "g", "v").collect()
                 if r.v == 2.0}
        assert len(ranks) == 1  # deterministic without a tiebreak

    def test_constant_group_null_zscore(self, spark):
        from pandas_ai_spark.functions.stats import rank_features

        df = spark.createDataFrame([("g", 5.0)] * 3, "g string, v double")
        assert all(r.zscore is None for r in
                   rank_features(df, "g", "v").collect())


class TestCalibrationTable:
    def test_buckets_and_rates(self, spark):
        from pandas_ai_spark.functions.classify import calibration_table

        # score == outcome probability by construction: perfectly
        # calibrated, so pos_rate tracks avg_score per bin
        rows = [(i / 100.0, 1 if i >= 50 else 0) for i in range(100)]
        df = spark.createDataFrame(rows, "score double, outcome int")
        out = {r.bucket: r for r in calibration_table(
            df, "score", "outcome", n_buckets=4).collect()}
        assert set(out) == {1, 2, 3, 4}
        assert out[1].pos_rate == 0.0 and out[4].pos_rate == 1.0
        assert out[1].avg_score < out[4].avg_score


class TestSessionStats:
    def test_sessions_and_bounce(self, spark):
        from pandas_ai_spark.functions.events import session_stats

        rows = [
            (1, dt.datetime(2024, 1, 1, 0, 0), 7),
            (2, dt.datetime(2024, 1, 1, 0, 10), 7),   # same session
            (3, dt.datetime(2024, 1, 1, 2, 0), 7),    # new session
            (4, dt.datetime(2024, 1, 1, 0, 0), 8),    # bounce user
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long")
        r = session_stats(df).collect()[0]
        assert r.n_sessions == 3 and r.n_bounce == 2
        assert abs(r.bounce_rate - 2 / 3) < 1e-12
        # durations: 600s, 0s, 0s -> median 0
        assert r.median_duration_s == 0.0
        assert abs(r.p90_duration_s - 480.0) < 1e-9  # interpolated


class TestStreamingDriftMonitor:
    def test_psi_per_batch_with_batch_parity(self, spark, tmp_path):
        import os

        from pandas_ai_spark.functions.stats import \
            population_stability_index
        from pandas_ai_spark.streaming.stream import StreamingDriftMonitor

        ref = spark.createDataFrame(
            [(float(i % 100),) for i in range(1000)], "v double")
        same = [(float((i * 7) % 100),) for i in range(500)]
        shifted = [(float(50 + (i * 7) % 400),) for i in range(500)]

        src = str(tmp_path / "src")
        os.makedirs(src)
        spark.createDataFrame(same, "v double").coalesce(1) \
            .write.mode("append").parquet(src)
        first = [os.path.join(src, f) for f in os.listdir(src)
                 if f.endswith(".parquet")]
        spark.createDataFrame(shifted, "v double").coalesce(1) \
            .write.mode("append").parquet(src)
        now = os.path.getmtime(first[0])
        for f in os.listdir(src):
            p = os.path.join(src, f)
            if f.endswith(".parquet") and p not in first:
                os.utime(p, (now + 30, now + 30))

        stream = (spark.readStream.schema("v double")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        mon = StreamingDriftMonitor(spark, ref, "v", lo=0.0, hi=100.0,
                                    bins=10)
        out = str(tmp_path / "out")
        q = mon.attach(stream, out, str(tmp_path / "ckpt"))
        q.awaitTermination()

        rows = {r.batch_id: r for r in spark.read.parquet(out).collect()}
        assert len(rows) == 2
        assert rows[0].psi < 0.1 and rows[0].alert is False
        assert rows[1].psi > 0.25 and rows[1].alert is True
        # batch/stream parity: the streamed PSI is bit-identical to the
        # batch operator over the same data
        want = float(population_stability_index(
            ref, spark.createDataFrame(shifted, "v double"),
            "v", 0.0, 100.0, 10).agg(F.sum("psi")).collect()[0][0])
        assert rows[1].psi == want


class TestTemporalSplit:
    def test_embargo_excluded_from_both(self, spark):
        from pandas_ai_spark.functions.pipeline import temporal_split

        rows = [(1, dt.datetime(2024, 1, 10)),
                (2, dt.datetime(2024, 1, 21)),   # inside embargo
                (3, dt.datetime(2024, 1, 25)),
                (4, None)]
        df = spark.createDataFrame(rows, "id long, ts timestamp")
        out = {r.id: r.split for r in temporal_split(
            df, "ts", "2024-01-20", embargo_days=3).collect()}
        assert out == {1: "train", 2: "embargo", 3: "test", 4: None}

    def test_zero_embargo_contiguous(self, spark):
        from pandas_ai_spark.functions.pipeline import temporal_split

        df = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 20))], "id long, ts timestamp")
        assert temporal_split(df, "ts", "2024-01-20") \
            .collect()[0].split == "test"
        with pytest.raises(ValueError):
            temporal_split(df, "ts", "2024-01-20", embargo_days=-1)


class TestCorpusOverlap:
    def test_counts(self, spark):
        from pandas_ai_spark.functions.dedup import corpus_overlap

        old = spark.createDataFrame(
            [(1, "seen before"), (2, "also known")],
            "doc_id long, text string")
        new = spark.createDataFrame(
            [(10, "Seen Before!"),      # normalized dup of old 1
             (11, "fresh content"),
             (12, "fresh content"),     # internal dup
             (13, "brand new")],
            "doc_id long, text string")
        r = corpus_overlap(new, old).collect()[0]
        assert r.n_new == 4 and r.n_distinct_new == 3
        assert r.n_seen_in_old == 1 and r.n_net_new == 2
        assert abs(r.pct_net_new - 2 / 3) < 1e-12


class TestAnsiDivisionGuards:
    def test_ks_single_sample_group_null_not_throw(self, spark):
        from pandas_ai_spark.functions.stats import ks_test

        df = spark.createDataFrame([("g", 1.0, "b"), ("g", 2.0, "b")],
                                   "g string, v double, s string")
        r = ks_test(df, "g", "v", "s", "a", "b").collect()[0]
        assert r.d_stat is None and r.n_a == 0

    def test_corpus_overlap_empty_new_null_pct(self, spark):
        from pandas_ai_spark.functions.dedup import corpus_overlap

        old = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        new = spark.createDataFrame([], "doc_id long, text string")
        r = corpus_overlap(new, old).collect()[0]
        assert r.n_distinct_new == 0 and r.pct_net_new is None

    def test_gini_all_zero_group_null(self, spark):
        from pandas_ai_spark.functions.stats import gini_coefficient

        df = spark.createDataFrame([(0.0,)] * 3, "v double")
        assert gini_coefficient(df, "v").collect()[0].gini is None


class TestHits:
    def test_bipartite_ranking(self, spark):
        from pandas_ai_spark.functions.graph import hits

        e = spark.createDataFrame(
            [("u1", "p1"), ("u1", "p2"), ("u2", "p1"), ("u3", "p1")],
            "src string, dst string")
        out = {r.node: r for r in hits(e, iterations=2).collect()}
        # p1 has 3 in-links from hubs, p2 one: p1 dominates
        assert out["p1"].authority > out["p2"].authority > 0
        # u1 links to both authorities: the best hub
        assert out["u1"].hub > out["u2"].hub > 0
        # pure sources/sinks score 0 in the missing direction
        assert out["p1"].hub == 0.0 and out["u1"].authority == 0.0

    def test_normalized_unit_l2(self, spark):
        from pandas_ai_spark.functions.graph import hits

        e = spark.createDataFrame([("a", "b"), ("b", "c")],
                                  "src string, dst string")
        rows = hits(e, iterations=1).collect()
        assert abs(sum(r.hub ** 2 for r in rows) - 1.0) < 1e-9
        assert abs(sum(r.authority ** 2 for r in rows) - 1.0) < 1e-9

    def test_empty_and_bad_iterations_raise(self, spark):
        from pandas_ai_spark.functions.graph import hits

        e = spark.createDataFrame([], "src string, dst string")
        with pytest.raises(ValueError):
            hits(e)
        e2 = spark.createDataFrame([("a", "b")], "src string, dst string")
        with pytest.raises(ValueError):
            hits(e2, iterations=0)

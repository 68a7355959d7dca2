"""Round-10 tests: the four r9 ADVICE regressions (bucketed midrank
NULLs, conformal_interval fractional y, stateful_reservoir duplicate
ids, neighborhood_pairs 'id' carry collision) and the round-10
additions.
"""
import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# ADVICE r9: the bucketed midrank (stats._midranks) must survive NULL
# value_col
# ---------------------------------------------------------------------------

class TestDistributedMidrankNulls:
    def test_nulls_route_to_lowest_tied_bucket(self, spark):
        from pandas_ai_spark.functions.stats import _midranks

        df = spark.createDataFrame(
            [("g", None), ("g", None), ("g", 1.0), ("g", 1.0),
             ("g", 2.0)],
            "grp: string, v: double")
        out = {(r.grp, r.v): r.r2 for r in _midranks(
            df, ["v"], ["r2"], ["grp"], True, buckets=4).collect()}
        # NULLS FIRST parity with the window form: the two NULLs tie
        # at doubled midrank n_null+1=3; then 2*cnt_less+cnt_eq+1
        assert out[("g", None)] == 3
        assert out[("g", 1.0)] == 2 * 2 + 2 + 1
        assert out[("g", 2.0)] == 2 * 4 + 1 + 1
        # no row dropped
        assert len(_midranks(
            df, ["v"], ["r2"], ["grp"], True, buckets=4).collect()) == 5

    def test_all_null_group_and_single_distinct_value(self, spark):
        from pandas_ai_spark.functions.stats import _midranks

        # <2 distinct boundary values + an all-NULL group used to
        # TypeError in the driver prefix sum (None vs int sort)
        df = spark.createDataFrame(
            [("a", None), ("a", None), ("b", 7.0), ("b", 7.0)],
            "grp: string, v: double")
        rows = _midranks(df, ["v"], ["r2"], ["grp"], True,
                         buckets=8).collect()
        got = {(r.grp, r.v): r.r2 for r in rows}
        assert got[("a", None)] == 3       # two tied NULLs
        assert got[("b", 7.0)] == 3        # two tied values
        assert len(rows) == 4


# ---------------------------------------------------------------------------
# ADVICE r9: classify.conformal_interval on fractional targets
# ---------------------------------------------------------------------------

class TestConformalFractionalY:
    def test_fractional_y_not_truncated(self, spark):
        from pandas_ai_spark.functions.classify import conformal_interval

        # every y = 2.5: under the old unconditional bigint cast yhat
        # collapsed to 2.0; correct output is yhat=2.5, qhat=0
        df = spark.createDataFrame(
            [("g", i, 2.5) for i in range(60)],
            "grp: string, rid: long, y: double")
        out = conformal_interval(df, ["grp"], "y", "rid",
                                 alpha=0.5).collect()
        assert len(out) == 1
        r = out[0]
        assert r.yhat == 2.5
        assert r.qhat == 0.0 and r.lo == 2.5 and r.hi == 2.5
        assert r.n_train + r.n_cal == 60

    def test_integral_dtype_keeps_exact_bigint_path(self, spark):
        from pandas_ai_spark.functions.classify import conformal_interval

        df = spark.createDataFrame(
            [("g", i, 3) for i in range(60)],
            "grp: string, rid: long, y: long")
        r = conformal_interval(df, ["grp"], "y", "rid",
                               alpha=0.5).collect()[0]
        assert r.yhat == 3.0 and r.qhat == 0.0


# ---------------------------------------------------------------------------
# ADVICE r9: stateful_reservoir dedups repeated ids
# ---------------------------------------------------------------------------

class TestReservoirDuplicateIds:
    def test_repeated_ids_occupy_one_slot(self, spark, tmp_path):
        import os

        from pandas_ai_spark.functions.pipeline import cap_per_domain
        from pandas_ai_spark.streaming import stateful_reservoir

        # 8 distinct ids, each id appears twice per batch AND in both
        # batches — the reservoir must still hold k=4 DISTINCT ids
        rows = [("x", i) for i in range(8)] * 2
        df = spark.createDataFrame(rows, "lang: string, doc_id: long")
        src = os.path.join(str(tmp_path), "src")
        for f in (df, df):
            f.coalesce(1).write.mode("append").parquet(src)
        stream = (spark.readStream.schema("lang string, doc_id long")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        res = stateful_reservoir(stream, "lang", "doc_id", k=4,
                                 seed="cap")
        q = (res.writeStream.format("parquet")
             .option("path", os.path.join(str(tmp_path), "out"))
             .option("checkpointLocation",
                     os.path.join(str(tmp_path), "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        snaps = spark.read.parquet(os.path.join(str(tmp_path), "out"))
        from pyspark.sql import Window

        w = Window.partitionBy("lang")
        final = (snaps.withColumn("__mx", F.max("seen").over(w))
                      .where(F.col("seen") == F.col("__mx"))
                      .select("lang", "doc_id").collect())
        got = [(r.lang, r.doc_id) for r in final]
        assert len(got) == 4 and len(set(got)) == 4
        want = {(r.lang, r.doc_id) for r in cap_per_domain(
            df.dropDuplicates(["lang", "doc_id"]),
            "lang", "doc_id", cap=4).collect()}
        assert set(got) == want


# ---------------------------------------------------------------------------
# ADVICE r9: neighborhood_pairs with a carry column named 'id'
# ---------------------------------------------------------------------------

class TestNeighborhoodPairsIdCarry:
    def test_id_record_col_with_carries(self, spark):
        from pandas_ai_spark.functions.linkage import neighborhood_pairs

        # the RECORD id column itself named 'id' used to make the
        # neighbor-struct field ambiguous once a carry aliased to it;
        # the internal field is now collision-proof ('__nid')
        df = spark.createDataFrame(
            [(1, "a", "A", 10.0), (2, "b", "A", 20.0),
             (3, "c", "A", 30.0)],
            "id: long, name: string, blk: string, bal: double")
        out = neighborhood_pairs(
            df, "id", order_cols=["name"], block_cols=["blk"],
            carry_cols=["name", "bal"], window=1).collect()
        by_pair = {(r.a_id, r.b_id): r for r in out}
        assert set(by_pair) == {(1, 2), (2, 3)}
        r = by_pair[(1, 2)]
        assert (r.a_name, r.b_name) == ("a", "b")
        assert (r.a_bal, r.b_bal) == (10.0, 20.0)

    def test_carry_col_named_id_rejected(self, spark):
        from pandas_ai_spark.functions.linkage import neighborhood_pairs

        df = spark.createDataFrame(
            [(1, 100, "a", "A")],
            "rec: long, id: long, name: string, blk: string")
        with pytest.raises(ValueError, match="a_id/"):
            neighborhood_pairs(df, "rec", order_cols=["name"],
                               block_cols=["blk"], carry_cols=["id"],
                               window=1)


# ---------------------------------------------------------------------------
# text.corpus_profile_exact (q181 — q55's exact sub-profile)
# ---------------------------------------------------------------------------

class TestCorpusProfileExact:
    def _docs(self, spark):
        return spark.createDataFrame(
            [(1, "Hello, world!", "a", 13),
             (2, "hello world", "a", 11),     # same fingerprint as 1
             (3, "another doc", "a", 11),
             (4, "solo text", "b", 9)],
            "doc_id: long, text: string, source: string, n_chars: long")

    def test_exact_values(self, spark):
        from pandas_ai_spark.functions.text import corpus_profile_exact

        out = {r.source: r for r in corpus_profile_exact(
            self._docs(spark), approx=False).collect()}
        a = out["a"]
        # punctuation-stripped lowercase: docs 1 and 2 collide
        assert a.n_docs == 3 and a.n_distinct_fp == 2
        assert (a.min_chars, a.max_chars) == (11, 13)
        assert a.p50_chars == 11.0          # median of [11, 11, 13]
        assert abs(a.p90_chars - 12.6) < 1e-9  # 11 + 0.8*(13-11)
        b = out["b"]
        assert (b.n_docs, b.n_distinct_fp) == (1, 1)
        assert b.p50_chars == 9.0 and b.p90_chars == 9.0

    def test_approx_path_shape(self, spark):
        from pandas_ai_spark.functions.text import corpus_profile_exact

        out = corpus_profile_exact(self._docs(spark), approx=True)
        assert out.columns == ["source", "n_docs", "n_distinct_fp",
                               "min_chars", "max_chars", "p50_chars",
                               "p90_chars"]
        got = {r.source: r for r in out.collect()}
        # HLL on 3 values is exact in practice; counts always exact
        assert got["a"].n_docs == 3 and got["b"].n_docs == 1


# ---------------------------------------------------------------------------
# Bucketed rank paths (q182-q184): mann_whitney_u / bh_fdr / auc with
# distributed=True == their window forms
# ---------------------------------------------------------------------------

class TestMannWhitneyDistributed:
    def test_equals_window_form_with_ties(self, spark):
        from pandas_ai_spark.functions.stats import mann_whitney_u

        rows = [("g1", "a" if i % 3 else "b", float(i % 7))
                for i in range(90)]
        rows += [("g2", "a" if i % 2 else "b", float(i % 4))
                 for i in range(40)]
        df = spark.createDataFrame(rows, "g: string, s: string, v: double")
        a = {r.g: tuple(r) for r in mann_whitney_u(
            df, "v", "s", "a", "b", by=["g"]).collect()}
        b = {r.g: tuple(r) for r in mann_whitney_u(
            df, "v", "s", "a", "b", by=["g"], distributed=True,
            buckets=3).collect()}
        assert a == b

    def test_global_no_by(self, spark):
        from pandas_ai_spark.functions.stats import mann_whitney_u

        df = spark.createDataFrame(
            [("a" if i % 2 else "b", float((i * 7) % 13))
             for i in range(60)], "s: string, v: double")
        a = mann_whitney_u(df, "v", "s", "a", "b").collect()
        b = mann_whitney_u(df, "v", "s", "a", "b", distributed=True,
                           buckets=4).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_rank_window_is_bucket_partitioned(self, spark):
        from pandas_ai_spark.functions.stats import mann_whitney_u

        df = spark.range(500).select(
            (F.col("id") % 2).cast("string").alias("g"),
            F.when(F.col("id") % 3 == 0, "a").otherwise("b")
             .alias("s"),
            (F.col("id") % 97).cast("double").alias("v"))
        plan = mann_whitney_u(
            df, "v", "s", "a", "b", by=["g"], distributed=True,
            buckets=8) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "__bkt" in plan  # rank window partitioned by bucket


class TestBhFdrDistributed:
    def _hyp(self, spark):
        # includes exact p ties (rows 3/4) and a p=1 cap case
        rows = [(i, [0.001, 0.02, 0.02, 0.04, 0.3, 0.9, 0.97][i])
                for i in range(7)]
        return spark.createDataFrame(rows, "hid: long, p: double")

    def test_equals_window_form(self, spark):
        from pandas_ai_spark.functions.stats import bh_fdr

        df = self._hyp(spark)
        a = sorted(tuple(r) for r in bh_fdr(
            df, "p", alpha=0.05, tiebreak_cols=["hid"]).collect())
        b = sorted(tuple(r) for r in bh_fdr(
            df, "p", alpha=0.05, tiebreak_cols=["hid"],
            distributed=True, buckets=3).collect())
        assert a == b

    def test_family_cols_and_columns(self, spark):
        from pandas_ai_spark.functions.stats import bh_fdr

        rows = [(f, i, ((i * 17 + f * 7) % 100) / 100.0 + 0.001)
                for f in range(3) for i in range(20)]
        df = spark.createDataFrame(rows, "fam: int, hid: int, p: double")
        a = sorted(tuple(r) for r in bh_fdr(
            df, "p", family_cols=["fam"],
            tiebreak_cols=["hid"]).collect())
        out = bh_fdr(df, "p", family_cols=["fam"],
                     tiebreak_cols=["hid"], distributed=True, buckets=4)
        assert out.columns == ["fam", "hid", "p", "p_rank", "p_adj",
                               "reject"]
        assert sorted(tuple(r) for r in out.collect()) == a

    def test_validation(self, spark):
        from pandas_ai_spark.functions.stats import bh_fdr

        df = self._hyp(spark)
        with pytest.raises(ValueError):
            bh_fdr(df, "p", alpha=1.5, distributed=True)
        with pytest.raises(ValueError):
            bh_fdr(df, "p", distributed=True, buckets=1)


class TestAucDistributed:
    def test_equals_window_form(self, spark):
        from pandas_ai_spark.functions.classify import auc

        df = spark.createDataFrame(
            [(((i * 31) % 100) / 100.0, i % 3 == 0)
             for i in range(200)], "score: double, y: boolean")
        a = auc(df, "score", "y").collect()
        b = auc(df, "score", "y", distributed=True, buckets=5).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]


# ---------------------------------------------------------------------------
# audit.dp_release (q185 — Laplace mechanism)
# ---------------------------------------------------------------------------

class TestDpRelease:
    def _df(self, spark):
        return spark.createDataFrame(
            [("a", 10.0)] * 30 + [("b", -50.0)] * 20 + [(None, 5.0)] * 7,
            "g: string, v: double")

    def test_deterministic_and_near_truth(self, spark):
        from pandas_ai_spark.functions.audit import dp_release

        out1 = {r.g: (r.n_noisy, r.sum_noisy) for r in dp_release(
            self._df(spark), ["g"], epsilon=8.0, value_col="v",
            clip=100.0).collect()}
        out2 = {r.g: (r.n_noisy, r.sum_noisy) for r in dp_release(
            self._df(spark), ["g"], epsilon=8.0, value_col="v",
            clip=100.0).collect()}
        assert out1 == out2                       # seeded determinism
        assert set(out1) == {"a", "b", None}      # NULL group kept
        # epsilon=8 split over 2 stats -> b_count=0.25: noisy count
        # stays within a few units of truth w.h.p. for this seed
        assert abs(out1["a"][0] - 30) < 5
        assert abs(out1["b"][1] - (-1000.0)) < 200.0

    def test_seed_changes_noise(self, spark):
        from pandas_ai_spark.functions.audit import dp_release

        a = dp_release(self._df(spark), ["g"], epsilon=1.0,
                       seed="s1").collect()
        b = dp_release(self._df(spark), ["g"], epsilon=1.0,
                       seed="s2").collect()
        assert {r.g: r.n_noisy for r in a} != {r.g: r.n_noisy
                                               for r in b}

    def test_clip_bounds_contribution(self, spark):
        from pandas_ai_spark.functions.audit import dp_release

        df = spark.createDataFrame([("a", 1e9), ("a", -1e9)],
                                   "g: string, v: double")
        r = dp_release(df, ["g"], epsilon=100.0, value_col="v",
                       clip=10.0).collect()[0]
        # clipped to [+10, -10] -> true sum 0; noise scale 10/50=0.2
        assert abs(r.sum_noisy) < 5.0

    def test_release_id_changes_noise_same_seed(self, spark):
        # repeated releases over evolving data must not reuse draws:
        # a fresh release_id re-keys the noise without a new seed
        from pandas_ai_spark.functions.audit import dp_release

        df = self._df(spark)
        a = {r.g: r.n_noisy for r in dp_release(
            df, ["g"], epsilon=1.0, release_id="2026-08-01").collect()}
        b = {r.g: r.n_noisy for r in dp_release(
            df, ["g"], epsilon=1.0, release_id="2026-08-15").collect()}
        base = {r.g: r.n_noisy
                for r in dp_release(df, ["g"], epsilon=1.0).collect()}
        assert a != b and a != base

    def test_sensitivity_calibrated_post_rounding(self, spark):
        # clip=0.004 rounds each |contribution| up to a full cent
        # (0.01), so the noise scale must be 0.01/eps, not 0.004/eps:
        # with identical uniforms the fractional-clip release's noise
        # is exactly (0.01/0.004)x a whole-cent clip's at same eps
        from pandas_ai_spark.functions.audit import dp_release

        df = spark.createDataFrame([("a", 1.0)] * 10,
                                   "g: string, v: double")
        eps = 2.0
        frac = dp_release(df, ["g"], epsilon=eps, value_col="v",
                          clip=0.004).collect()[0]
        cent = dp_release(df, ["g"], epsilon=eps, value_col="v",
                          clip=0.01).collect()[0]
        # clipping binds (v=1.0 > clip): per-row cents round(0.4)=0
        # for the fractional clip -> 0.00 total; round(1.0)=1 -> 0.10
        # for the cent clip.
        # noise term = sum_noisy - true_sum, same md5 uniform (same
        # seed/group/tag), so equal noise means equal scale — both
        # calibrate to the SAME 1-cent post-rounding sensitivity
        noise_frac = frac.sum_noisy - 0.00
        noise_cent = cent.sum_noisy - 0.10
        assert abs(noise_frac - noise_cent) < 1e-12
        assert abs(noise_frac) > 0

    def test_count_only_schema_and_validation(self, spark):
        from pandas_ai_spark.functions.audit import dp_release

        df = self._df(spark)
        out = dp_release(df, ["g"], epsilon=1.0)
        assert out.columns == ["g", "n_noisy"]
        with pytest.raises(ValueError):
            dp_release(df, [], epsilon=1.0)
        with pytest.raises(ValueError):
            dp_release(df, ["g"], epsilon=0.0)
        with pytest.raises(ValueError):
            dp_release(df, ["g"], epsilon=1.0, value_col="v")


class TestBhFdrDistributedNullP:
    def test_null_p_matches_window_form(self, spark):
        from pandas_ai_spark.functions.stats import bh_fdr

        rows = [(0, 0.01), (1, None), (2, 0.5), (3, 0.03),
                (4, None), (5, 0.9)]
        df = spark.createDataFrame(rows, "hid: long, p: double")
        a = sorted((r.hid, r.p_rank, r.p_adj, r.reject)
                   for r in bh_fdr(df, "p",
                                   tiebreak_cols=["hid"]).collect())
        b = sorted((r.hid, r.p_rank, r.p_adj, r.reject)
                   for r in bh_fdr(
                       df, "p", tiebreak_cols=["hid"], distributed=True,
                       buckets=3).collect())
        assert a == b

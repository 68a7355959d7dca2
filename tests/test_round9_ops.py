"""Round-9 operator tests: generalized sorted-neighborhood pairing
(linkage.neighborhood_pairs — the linear candidate generator that
replaced q172's within-block self-join) and the round-9 additions.
"""
import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# linkage.neighborhood_pairs (q172 candidate generation)
# ---------------------------------------------------------------------------

class TestNeighborhoodPairs:
    def _df(self, spark):
        return spark.createDataFrame(
            [(1, "alpha", "A", 10.0),
             (2, "beta", "A", 20.0),
             (3, "gamma", "A", 30.0),
             (4, "delta", "B", 40.0),
             (5, "epsilon", "B", 50.0)],
            "id: long, name: string, blk: string, bal: double")

    def test_pairs_linear_and_carried(self, spark):
        from pandas_ai_spark.functions.linkage import neighborhood_pairs

        out = neighborhood_pairs(
            self._df(spark), "id", order_cols=["name"],
            block_cols=["blk"], carry_cols=["name", "bal"],
            window=1).collect()
        got = {(r.a_id, r.b_id): r for r in out}
        # block A name order: alpha(1) < beta(2) < gamma(3)
        # block B name order: delta(4) < epsilon(5)
        assert set(got) == {(1, 2), (2, 3), (4, 5)}
        r = got[(1, 2)]
        assert (r.a_name, r.b_name) == ("alpha", "beta")
        assert (r.a_bal, r.b_bal) == (10.0, 20.0)

    def test_window_width_and_block_isolation(self, spark):
        from pandas_ai_spark.functions.linkage import neighborhood_pairs

        out = neighborhood_pairs(
            self._df(spark), "id", order_cols=["name"],
            block_cols=["blk"], window=2).collect()
        pairs = {(r.a_id, r.b_id) for r in out}
        # window=2 adds (1,3) inside block A; never crosses blocks
        assert pairs == {(1, 2), (1, 3), (2, 3), (4, 5)}
        # pair count bounded by rows x window, each pair emitted once
        assert len(out) == len(pairs)

    def test_linear_pair_count_bound(self, spark):
        from pandas_ai_spark.functions.linkage import neighborhood_pairs

        n, w = 60, 4
        df = spark.range(n).select(
            F.col("id"),
            F.concat(F.lit("k"), F.lpad(F.col("id").cast("string"),
                                        4, "0")).alias("k"),
            (F.col("id") % 3).alias("blk"))
        cnt = neighborhood_pairs(
            df, "id", order_cols=["k"], block_cols=["blk"],
            window=w).count()
        # rows x window minus the tail rows with fewer neighbors:
        # each of the 3 blocks of 20 rows loses 1+2+3+4 = w(w+1)/2
        assert cnt == n * w - 3 * (w * (w + 1) // 2)
        # strictly below the quadratic block self-join count
        assert cnt < 3 * (20 * 19 // 2)

    def test_validation(self, spark):
        from pandas_ai_spark.functions.linkage import neighborhood_pairs

        df = self._df(spark)
        with pytest.raises(ValueError):
            neighborhood_pairs(df, "id", ["name"], ["blk"], window=0)
        with pytest.raises(ValueError):
            neighborhood_pairs(df, "id", ["name"], [], window=1)

    def test_no_global_single_partition_window(self, spark):
        from pandas_ai_spark.functions.linkage import neighborhood_pairs

        plan = neighborhood_pairs(
            self._df(spark), "id", order_cols=["name"],
            block_cols=["blk"], window=2)._jdf.queryExecution() \
            .executedPlan().toString()
        # the lead window must be hash-partitioned on the block key
        assert "hashpartitioning(blk" in plan

# ---------------------------------------------------------------------------
# r8-advice fixes: NULL-category LOO encoding, generic mmr id types,
# connected-components definitive convergence probe
# ---------------------------------------------------------------------------

class TestAdviceFixes:
    def test_loo_encodes_null_category_group(self, spark):
        from pandas_ai_spark.functions.classify import loo_target_encode

        df = spark.createDataFrame(
            [(None, 1), (None, 0), (None, 1), ("a", 1), ("b", 0)],
            "cat: string, y: int")
        got = {(r.cat, r.y): r.encoded for r in
               loo_target_encode(df, "cat", "y = 1").collect()}
        # NULL category has n=3, sum_y=2: LOO = (2 - y) / 2
        assert got[(None, 1)] == pytest.approx(0.5)
        assert got[(None, 0)] == pytest.approx(1.0)
        # singletons still NULL (nothing to average)
        assert got[("a", 1)] is None and got[("b", 0)] is None

    def test_mmr_rerank_string_ids(self, spark):
        from pandas_ai_spark.functions.similarity import mmr_rerank

        rows = [("q1", "docA", 0.9, [1.0, 0.0]),
                ("q1", "docB", 0.8, [1.0, 0.0]),   # dup of docA
                ("q1", "docC", 0.5, [0.0, 1.0])]
        cand = spark.createDataFrame(
            rows, "query_id: string, vec_id: string, "
                  "cosine: double, embedding: array<double>")
        out = {r.mmr_rank: r for r in mmr_rerank(cand, k=2).collect()}
        assert out[1].vec_id == "docA" and out[1].query_id == "q1"
        # diversity penalty must skip the duplicate and pick docC
        assert out[2].vec_id == "docC"

    def test_mmr_rerank_int32_ids(self, spark):
        from pandas_ai_spark.functions.similarity import mmr_rerank

        cand = spark.createDataFrame(
            [(1, 10, 0.9, [1.0, 0.0]), (1, 11, 0.4, [0.0, 1.0])],
            "query_id: int, vec_id: int, cosine: double, "
            "embedding: array<double>")
        out = mmr_rerank(cand, k=2)
        assert dict(out.dtypes)["vec_id"] == "int"
        assert {r.vec_id for r in out.collect()} == {10, 11}

    def test_cc_converges_with_definitive_probe(self, spark):
        from pandas_ai_spark.functions.graph import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "src: long, dst: long")
        stats = {}
        got = {r.node: r.component for r in
               connected_components(edges, stats=stats).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
        assert stats["rounds"] >= 1

# ---------------------------------------------------------------------------
# pipeline.stratified_sample (q173)
# ---------------------------------------------------------------------------

class TestStratifiedSample:
    def test_exact_quota_per_stratum(self, spark):
        from pandas_ai_spark.functions.pipeline import stratified_sample

        rows = [(i, "big") for i in range(100)] + \
               [(100 + i, "small") for i in range(7)]
        df = spark.createDataFrame(rows, "id: long, s: string")
        out = stratified_sample(df, ["s"], fraction=0.1, id_col="id")
        counts = {r.s: r.n for r in
                  out.groupBy("s").agg(F.count("*").alias("n"))
                     .collect()}
        # ceil(0.1*100)=10, ceil(0.1*7)=1 — exact, never empty
        assert counts == {"big": 10, "small": 1}

    def test_deterministic_and_seed_rekeyed(self, spark):
        from pandas_ai_spark.functions.pipeline import stratified_sample

        df = spark.range(200).select(
            "id", F.lit("x").alias("s"))
        a = {r.id for r in
             stratified_sample(df, ["s"], 0.2, "id").collect()}
        b = {r.id for r in
             stratified_sample(df, ["s"], 0.2, "id").collect()}
        c = {r.id for r in
             stratified_sample(df, ["s"], 0.2, "id",
                               seed="other").collect()}
        assert a == b and len(a) == 40
        assert c != a  # independent re-draw

    def test_validation(self, spark):
        from pandas_ai_spark.functions.pipeline import stratified_sample

        df = spark.range(5).select("id", F.lit("x").alias("s"))
        with pytest.raises(ValueError):
            stratified_sample(df, ["s"], 0.0, "id")
        with pytest.raises(ValueError):
            stratified_sample(df, [], 0.5, "id")

    def test_single_shuffle_plan(self, spark):
        from pandas_ai_spark.functions.pipeline import stratified_sample

        df = spark.range(50).select("id", (F.col("id") % 3).alias("s"))
        plan = stratified_sample(df, ["s"], 0.5, "id") \
            ._jdf.queryExecution().executedPlan().toString()
        # count + row_number share one partition spec: one Exchange
        assert plan.count("Exchange hashpartitioning") == 1


# ---------------------------------------------------------------------------
# streaming.stateful_reservoir (q174)
# ---------------------------------------------------------------------------

class TestStatefulReservoir:
    def _drain(self, spark, tmp_path, frames, k=5, seed="cap"):
        import os

        src = os.path.join(str(tmp_path), "src")
        for f in frames:
            f.coalesce(1).write.mode("append").parquet(src)
        stream = (spark.readStream.schema("lang string, doc_id long")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        from pandas_ai_spark.streaming import stateful_reservoir

        res = stateful_reservoir(stream, "lang", "doc_id", k=k,
                                 seed=seed)
        q = (res.writeStream.format("parquet")
             .option("path", os.path.join(str(tmp_path), "out"))
             .option("checkpointLocation",
                     os.path.join(str(tmp_path), "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        snaps = spark.read.parquet(os.path.join(str(tmp_path), "out"))
        from pyspark.sql import Window

        w = Window.partitionBy("lang")
        return {(r.lang, r.doc_id) for r in
                snaps.withColumn("__mx", F.max("seen").over(w))
                     .where(F.col("seen") == F.col("__mx"))
                     .select("lang", "doc_id").collect()}

    def test_final_snapshot_matches_batch_bottom_k(self, spark,
                                                   tmp_path):
        from pandas_ai_spark.functions.pipeline import cap_per_domain

        all_rows = [("en" if i % 2 else "de", i) for i in range(40)]
        df = spark.createDataFrame(all_rows, "lang: string, doc_id: long")
        # stream in two arbitrary micro-batches; seed "cap" makes the
        # stream-side priority identical to cap_per_domain's md5 key
        got = self._drain(
            spark, tmp_path,
            [df.where(F.col("doc_id") < 15),
             df.where(F.col("doc_id") >= 15)], k=5, seed="cap")
        want = {(r.lang, r.doc_id) for r in
                cap_per_domain(df, "lang", "doc_id", cap=5).collect()}
        assert got == want

    def test_order_independence(self, spark, tmp_path):
        import os
        import shutil

        df = spark.createDataFrame(
            [("x", i) for i in range(30)], "lang: string, doc_id: long")
        a = self._drain(spark, os.path.join(str(tmp_path), "a"),
                        [df.where("doc_id % 2 = 0"),
                         df.where("doc_id % 2 = 1")], k=4)
        b = self._drain(spark, os.path.join(str(tmp_path), "b"),
                        [df.where("doc_id >= 20"),
                         df.where("doc_id < 10"),
                         df.where("doc_id >= 10 and doc_id < 20")],
                        k=4)
        assert a == b and len(a) == 4
        shutil.rmtree(str(tmp_path), ignore_errors=True)

    def test_validation(self, spark):
        from pandas_ai_spark.streaming import stateful_reservoir

        df = spark.createDataFrame([("x", 1)],
                                   "lang: string, doc_id: long")
        with pytest.raises(ValueError):
            stateful_reservoir(df, "lang", "doc_id", k=0)


# ---------------------------------------------------------------------------
# similarity.cross_encoder_rerank (q175)
# ---------------------------------------------------------------------------

class TestCrossEncoderRerank:
    def _cand(self, spark):
        return spark.createDataFrame(
            [(1, 10, 0.9, 5.0), (1, 11, 0.8, 1.0), (1, 12, 0.7, 0.0),
             (2, 10, 0.5, 2.0)],
            "query_id: long, vec_id: long, cosine: double, "
            "penalty: double")

    def test_scorer_reranks(self, spark):
        from pandas_ai_spark.functions.similarity import \
            cross_encoder_rerank

        out = cross_encoder_rerank(
            self._cand(spark),
            lambda f: f["cosine"] - f["penalty"],
            ["cosine", "penalty"], k=2)
        got = {(r.query_id, r.ce_rank): (r.vec_id, r.ce_score)
               for r in out.collect()}
        # q1: 12 (0.7) > 11 (-0.2) > 10 (-4.1) — pool order inverted
        assert got[(1, 1)] == (12, 0.7)
        assert got[(1, 2)][0] == 11
        assert got[(2, 1)][0] == 10
        assert (1, 3) not in got  # k cut

    def test_string_ids_pass_through(self, spark):
        from pandas_ai_spark.functions.similarity import \
            cross_encoder_rerank

        cand = spark.createDataFrame(
            [("q", "a", 1.0), ("q", "b", 2.0)],
            "query_id: string, vec_id: string, cosine: double")
        out = cross_encoder_rerank(cand, lambda f: f["cosine"],
                                   ["cosine"], k=1).collect()
        assert len(out) == 1 and out[0].vec_id == "b"

    def test_validation(self, spark):
        from pandas_ai_spark.functions.similarity import \
            cross_encoder_rerank

        cand = self._cand(spark)
        with pytest.raises(ValueError):
            cross_encoder_rerank(cand, lambda f: f["cosine"],
                                 ["nope"], k=1)
        with pytest.raises(ValueError):
            cross_encoder_rerank(cand, lambda f: f["cosine"],
                                 ["cosine"], k=0)
        bad = cross_encoder_rerank(cand.coalesce(1),
                                   lambda f: [1.0] * (len(f) + 1),
                                   ["cosine"], k=1)
        with pytest.raises(Exception):
            bad.collect()


# ---------------------------------------------------------------------------
# pipeline.neyman_sample (q176)
# ---------------------------------------------------------------------------

class TestNeymanSample:
    def _df(self, spark):
        # "wild" stratum: high variance; "calm": near-constant
        rows = [("wild", i, float((i * 37) % 100)) for i in range(60)]
        rows += [("calm", 100 + i, 50.0 + (i % 2) * 0.01)
                 for i in range(60)]
        return spark.createDataFrame(
            rows, "s: string, id: long, v: double")

    def test_counts_match_allocation(self, spark):
        from pandas_ai_spark.functions.pipeline import (
            neyman_allocation, neyman_sample)

        df = self._df(spark)
        alloc = {r.stratum: r.alloc for r in
                 neyman_allocation(df, "s", "v", total_n=40)
                 .collect()}
        got = {r.s: r.n for r in
               neyman_sample(df, "s", "v", total_n=40, id_col="id")
               .groupBy("s").agg(F.count("*").alias("n")).collect()}
        assert got == {k: v for k, v in alloc.items() if v > 0}
        # variance-minimizing: the noisy stratum gets (much) more
        assert got["wild"] > got.get("calm", 0)

    def test_deterministic(self, spark):
        from pandas_ai_spark.functions.pipeline import neyman_sample

        df = self._df(spark)
        a = {(r.s, r.id) for r in
             neyman_sample(df, "s", "v", 40, id_col="id").collect()}
        b = {(r.s, r.id) for r in
             neyman_sample(df, "s", "v", 40, id_col="id").collect()}
        assert a == b

    def test_zero_variance_raises(self, spark):
        from pandas_ai_spark.functions.pipeline import neyman_sample

        df = spark.createDataFrame(
            [("x", 1, 5.0), ("x", 2, 5.0)], "s: string, id: long, v: double")
        with pytest.raises(ValueError):
            neyman_sample(df, "s", "v", 10, id_col="id").collect()


# ---------------------------------------------------------------------------
# stats.spearman_corr (q177)
# ---------------------------------------------------------------------------

class TestSpearman:
    def test_perfect_monotone(self, spark):
        from pandas_ai_spark.functions.stats import spearman_corr

        df = spark.createDataFrame(
            [(float(i), float(i * i)) for i in range(1, 20)],
            "x: double, y: double")
        r = spearman_corr(df, "x", "y").collect()[0]
        # nonlinear but perfectly monotone: rho exactly 1
        assert r.rho == pytest.approx(1.0, abs=1e-12) and r.n == 19

    def test_perfect_inverse(self, spark):
        from pandas_ai_spark.functions.stats import spearman_corr

        df = spark.createDataFrame(
            [(float(i), float(-i)) for i in range(10)],
            "x: double, y: double")
        r = spearman_corr(df, "x", "y").collect()[0]
        assert r.rho == pytest.approx(-1.0, abs=1e-12)

    def test_ties_match_scipy_convention(self, spark):
        from pandas_ai_spark.functions.stats import spearman_corr

        # hand-checked midrank example: x=[1,1,2,3], y=[10,20,20,30]
        df = spark.createDataFrame(
            [(1.0, 10.0), (1.0, 20.0), (2.0, 20.0), (3.0, 30.0)],
            "x: double, y: double")
        r = spearman_corr(df, "x", "y").collect()[0]
        # midranks x: 1.5 1.5 3 4; y: 1 2.5 2.5 4
        # pearson of those (numpy corrcoef) = 0.8333333333333335
        assert r.rho == pytest.approx(0.8333333333333335, abs=1e-12)

    def test_grouped_and_degenerate(self, spark):
        from pandas_ai_spark.functions.stats import spearman_corr

        df = spark.createDataFrame(
            [("g1", 1.0, 2.0), ("g1", 2.0, 4.0), ("g1", 3.0, 5.0),
             ("g2", 7.0, 1.0), ("g2", 7.0, 2.0)],
            "g: string, x: double, y: double")
        got = {r.g: r for r in
               spearman_corr(df, "x", "y", by=["g"]).collect()}
        assert got["g1"].rho == pytest.approx(1.0, abs=1e-12)
        # g2: x constant -> zero rank variance -> NULL
        assert got["g2"].rho is None


# ---------------------------------------------------------------------------
# classify.conformal_interval (q178)
# ---------------------------------------------------------------------------

class TestConformalInterval:
    def _df(self, spark, n=200):
        return spark.createDataFrame(
            [("g", i, (i * 13) % 40) for i in range(n)],
            "g: string, id: long, y: long")

    def test_order_statistic_and_coverage_shape(self, spark):
        from pandas_ai_spark.functions.classify import conformal_interval

        out = conformal_interval(self._df(spark), ["g"], "y", "id",
                                 alpha=0.2).collect()
        assert len(out) == 1
        r = out[0]
        assert r.n_train + r.n_cal == 200 and r.n_cal > 50
        assert r.qhat is not None and r.lo == r.yhat - r.qhat
        assert r.hi == r.yhat + r.qhat
        # empirical coverage on the calibration fold is >= 1 - alpha
        # by construction of the corrected order statistic
        import math
        k = math.ceil(0.8 * (r.n_cal + 1))
        assert k <= r.n_cal

    def test_deterministic(self, spark):
        from pandas_ai_spark.functions.classify import conformal_interval

        a = conformal_interval(self._df(spark), ["g"], "y",
                               "id").collect()[0]
        b = conformal_interval(self._df(spark), ["g"], "y",
                               "id").collect()[0]
        assert a == b

    def test_small_group_returns_null_qhat(self, spark):
        from pandas_ai_spark.functions.classify import conformal_interval

        df = self._df(spark, n=6)
        r = conformal_interval(df, ["g"], "y", "id",
                               alpha=0.01).collect()[0]
        # ceil(0.99*(n_cal+1)) > n_cal for tiny folds: no guarantee
        assert r.qhat is None and r.lo is None and r.hi is None
        assert r.n_cal > 0  # still reports the group

    def test_validation(self, spark):
        from pandas_ai_spark.functions.classify import conformal_interval

        df = self._df(spark)
        with pytest.raises(ValueError):
            conformal_interval(df, [], "y", "id")
        with pytest.raises(ValueError):
            conformal_interval(df, ["g"], "y", "id", alpha=0.0)
        with pytest.raises(ValueError):
            conformal_interval(df, ["g"], "y", "id", cal_frac=1.0)


# ---------------------------------------------------------------------------
# classify.information_gain (q179)
# ---------------------------------------------------------------------------

class TestInformationGain:
    def test_perfect_predictor_vs_useless(self, spark):
        import math

        from pandas_ai_spark.functions.classify import information_gain

        rows = [("pos", "same", 1), ("pos", "same", 1),
                ("neg", "same", 0), ("neg", "same", 0)] * 5
        df = spark.createDataFrame(rows, "f_good: string, "
                                         "f_bad: string, y: int")
        got = {r.feature: r for r in
               information_gain(df, ["f_good", "f_bad"],
                                "y = 1").collect()}
        h = math.log(2.0)  # balanced binary target, nats
        assert got["f_good"].h_target == pytest.approx(h, abs=1e-12)
        # perfect predictor: conditional entropy 0, IG = H(Y),
        # gain ratio 1 (H(X) = H(Y) here)
        assert got["f_good"].h_conditional == pytest.approx(0.0,
                                                            abs=1e-12)
        assert got["f_good"].info_gain == pytest.approx(h, abs=1e-12)
        assert got["f_good"].gain_ratio == pytest.approx(1.0,
                                                         abs=1e-12)
        # single-valued feature: no split, IG 0, gain ratio NULL
        assert got["f_bad"].info_gain == pytest.approx(0.0, abs=1e-12)
        assert got["f_bad"].gain_ratio is None
        assert got["f_bad"].n_values == 1

    def test_known_entropy_values(self, spark):
        import math

        from pandas_ai_spark.functions.classify import information_gain

        # f splits 8 rows into (4: all pos) and (4: 2 pos 2 neg)
        rows = ([("a", 1)] * 4 + [("b", 1)] * 2 + [("b", 0)] * 2)
        df = spark.createDataFrame(rows, "f: string, y: int")
        r = information_gain(df, ["f"], "y = 1").collect()[0]
        # H(Y) = H(6/8) ; H(Y|X) = 0.5*0 + 0.5*ln2
        hy = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
        assert r.h_target == pytest.approx(hy, abs=1e-12)
        assert r.h_conditional == pytest.approx(0.5 * math.log(2.0),
                                                abs=1e-12)
        assert r.info_gain == pytest.approx(
            hy - 0.5 * math.log(2.0), abs=1e-12)

    def test_null_values_are_classes(self, spark):
        from pandas_ai_spark.functions.classify import information_gain

        df = spark.createDataFrame(
            [(None, 1), (None, 1), ("a", 0), ("a", 0)],
            "f: string, y: int")
        r = information_gain(df, ["f"], "y = 1").collect()[0]
        assert r.n_values == 2
        # NULL class separates perfectly
        assert r.h_conditional == pytest.approx(0.0, abs=1e-12)

    def test_validation(self, spark):
        from pandas_ai_spark.functions.classify import information_gain

        df = spark.createDataFrame([("a", 1)], "f: string, y: int")
        with pytest.raises(ValueError):
            information_gain(df, [], "y = 1")


# ---------------------------------------------------------------------------
# stats._midranks bucketed device / spearman_corr(distributed=True)
# (q180)
# ---------------------------------------------------------------------------

class TestDistributedRank:
    def test_midranks_match_window_form(self, spark):
        from pandas_ai_spark.functions.stats import _midranks

        rows = [("g1", float(v)) for v in
                [5, 3, 3, 8, 1, 3, 8, 9, 2, 7]] + \
               [("g2", float(v)) for v in [4, 4, 4, 4]]
        df = spark.createDataFrame(rows, "g: string, v: double")
        got = sorted((r.g, r.v, r.r2) for r in
                     _midranks(df, ["v"], ["r2"], ["g"], True,
                               buckets=4).collect())
        # reference doubled midranks: 2*count_lt + count_eq + 1
        import collections
        by_g = collections.defaultdict(list)
        for g, v in rows:
            by_g[g].append(v)
        want = sorted(
            (g, v, 2 * sum(1 for o in by_g[g] if o < v)
             + sum(1 for o in by_g[g] if o == v) + 1)
            for g, v in rows)
        assert got == want

    def test_spearman_distributed_equals_window_path(self, spark):
        from pandas_ai_spark.functions.stats import spearman_corr

        df = spark.createDataFrame(
            [("a", float(i % 7), float((i * 13) % 11))
             for i in range(80)] +
            [("b", float(i), float(-i)) for i in range(20)],
            "g: string, x: double, y: double")
        a = {r.g: (r.n, r.rho) for r in
             spearman_corr(df, "x", "y", by=["g"]).collect()}
        b = {r.g: (r.n, r.rho) for r in
             spearman_corr(df, "x", "y", by=["g"], distributed=True,
                           buckets=5).collect()}
        assert a.keys() == b.keys()
        for g in a:
            assert a[g][0] == b[g][0]
            assert b[g][1] == pytest.approx(a[g][1], abs=1e-12)

    def test_bucketed_parallelism_in_plan(self, spark):
        from pandas_ai_spark.functions.stats import _midranks

        df = spark.range(1000).select(
            (F.col("id") % 2).cast("string").alias("g"),
            (F.col("id") % 97).cast("double").alias("v"))
        plan = _midranks(df, ["v"], ["r2"], ["g"], True, buckets=8) \
            ._jdf.queryExecution().executedPlan().toString()
        # the rank window partitions by (group, bucket) — never the
        # single-task per-group sort
        assert "hashpartitioning(g" in plan and "__bkt" in plan

    def test_validation(self, spark):
        from pandas_ai_spark.functions.stats import _midranks

        df = spark.createDataFrame([("g", 1.0)], "g: string, v: double")
        with pytest.raises(ValueError):
            _midranks(df, ["v"], ["r2"], ["g"], True, buckets=1)

"""Training-pipeline operator tests: dedup recall, ANN recall, multimodal
plumbing — the quality checks behind the rows-only entry queries."""

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def test_minhash_recall_vs_exact(docs):
    """Banded MinHash-LSH must recover ≥90% of truly-similar pairs (the
    standard recall check) and its Jaccard values are exact (verified on
    real shingle sets, not estimates)."""
    from pandas_ai_spark.functions import dedup as dd

    exact = {(r.id_a, r.id_b) for r in
             dd.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           dd.minhash_dedup_pairs(docs, threshold=0.5, num_hashes=128,
                                  bands=32).collect()}
    assert exact, "fixture must contain near-duplicate docs"
    assert lsh <= exact  # verification step guarantees no false positives
    assert len(lsh) / len(exact) >= 0.9


def test_minhash_dedup_drops_near_dups(docs):
    from pandas_ai_spark.functions import dedup as dd

    kept = dd.minhash_dedup(docs, threshold=0.5)
    pairs = dd.minhash_dedup_pairs(docs, threshold=0.5)
    losers = {r.id_b for r in pairs.collect()}
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert not (kept_ids & losers)


def test_simhash_hamming_bound(docs):
    from pandas_ai_spark.functions import dedup as dd

    got = dd.simhash_candidates(docs).collect()
    assert all(r.hamming <= 3 for r in got)


def test_exact_dedup_keeps_lowest_id(spark):
    from pandas_ai_spark.functions import dedup as dd

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "A   b, c!"), (3, "different")],
        "doc_id long, text string")
    kept = sorted(r.doc_id for r in
                  dd.dedup_exact_normalized(df).select("doc_id").collect())
    assert kept == [1, 3]


def test_ann_lsh_recall_vs_bruteforce(emb):
    """Multi-table LSH (k=4 planes, L=16 tables) must recover ≥80% of the
    exact top-10 (measured 0.91 on this fixture; 1−(1−p⁴)¹⁶ theory)."""
    from pandas_ai_spark.functions import similarity as sim

    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = sim.ann_bruteforce(emb, q, k=10)
    approx = sim.ann_lsh(emb, q, k=10, dim=64, num_planes=4, num_tables=16)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    assert len(a & e) / len(e) >= 0.8


def test_ann_bruteforce_matches_numpy(emb):
    """Distributed GEMM top-k == single-process numpy reference."""
    import numpy as np

    from pandas_ai_spark.functions import similarity as sim

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
    order = np.argsort(ids)
    ids, Mn = ids[order], Mn[order]

    qid = int(ids[0])
    S = Mn @ Mn[0]
    cand = [(i, s) for i, s in zip(ids, S) if i != qid]
    cand.sort(key=lambda t: (-t[1], t[0]))
    expected = [i for i, _ in cand[:5]]

    q = emb.where(F.col("vec_id") == qid).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = [r.vec_id for r in
           sim.ann_bruteforce(emb, q, k=5).orderBy("rank").collect()]
    assert got == expected


def test_embedding_near_dup_lsh_subset_of_exact(emb):
    from pandas_ai_spark.functions import similarity as sim

    exact = {(r.id_a, r.id_b) for r in sim.embedding_near_dup_pairs(
        emb, threshold=0.9, use_lsh=False).collect()}
    lsh = {(r.id_a, r.id_b) for r in sim.embedding_near_dup_pairs(
        emb, threshold=0.9, use_lsh=True, num_planes=6).collect()}
    assert lsh <= exact


def _planted_corpus(emb):
    """The q26 entry corpus: embeddings ∪ perturbed copies (one true
    near-dup pair per vector at cosine ≈ 0.9988)."""
    import __spark_entry__ as entry

    return entry._q26_corpus(emb)


def test_embedding_near_dup_recall_at_entry_params(emb):
    """ADVICE round-4 item: recall vs the exact GEMM asserted at the
    ENTRY QUERY's actual parameters (threshold 0.9, derived planes /
    tables, target_recall 0.95) on the entry's planted corpus — the
    LSH result must be a subset of exact with recall ≥ the target."""
    from pandas_ai_spark.functions import similarity as sim

    corpus = _planted_corpus(emb)
    exact = {(r.id_a, r.id_b) for r in sim.embedding_near_dup_pairs(
        corpus, threshold=0.9, use_lsh=False).collect()}
    lsh = {(r.id_a, r.id_b) for r in sim.embedding_near_dup_pairs(
        corpus, threshold=0.9, use_lsh=True,
        target_recall=0.95).collect()}
    assert exact, "planted corpus must contain near-dup pairs"
    assert lsh <= exact
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.95, f"recall {recall:.3f} below target at entry params"


def test_semantic_dedup_pairs_subset_and_recall(emb):
    """SemDeDup pairs are exact-cosine verified (subset of the all-pairs
    GEMM result) and near-identical planted pairs — which always share a
    semantic cell — are recovered at >=0.95 recall."""
    from pandas_ai_spark.functions import similarity as sim

    corpus = _planted_corpus(emb)
    exact = {(r.id_a, r.id_b) for r in sim.embedding_near_dup_pairs(
        corpus, threshold=0.9, use_lsh=False).collect()}
    sem = {(r.id_a, r.id_b) for r in sim.semantic_dedup_pairs(
        corpus, threshold=0.9).collect()}
    assert exact and sem <= exact
    assert len(sem & exact) / len(exact) >= 0.95


def test_semantic_dedup_keeps_one_representative(emb):
    """semantic_dedup drops exactly the id_b side of every pair; the
    planted corpus halves back to ~the base table."""
    from pyspark.sql import functions as F

    from pandas_ai_spark.functions import similarity as sim

    corpus = _planted_corpus(emb)
    n = corpus.count()
    kept = sim.semantic_dedup(corpus, threshold=0.9)
    pairs = sim.semantic_dedup_pairs(corpus, threshold=0.9)
    dropped = {r.id_b for r in pairs.select("id_b").distinct().collect()}
    kept_ids = {r.vec_id for r in kept.select("vec_id").collect()}
    assert kept_ids.isdisjoint(dropped)
    assert len(kept_ids) == n - len(dropped)
    # every base vector survives (its perturbed twin has the higher id)
    base_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    assert base_ids <= kept_ids


def test_derive_lsh_params_properties():
    """Planes grow with corpus size (constant expected collisions);
    tables grow as threshold drops; the unaffordable low-threshold
    regime warns instead of silently under-recalling."""
    import warnings

    from pandas_ai_spark.functions.similarity import derive_lsh_params

    k1, _ = derive_lsh_params(1000, 0.9)
    k2, _ = derive_lsh_params(100000, 0.9)
    assert k2 > k1
    _, l_high = derive_lsh_params(4000, 0.95)
    _, l_low = derive_lsh_params(4000, 0.85)
    assert l_low >= l_high
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        derive_lsh_params(4000, 0.3, target_recall=0.95)
        assert any("sub-linear" in str(x.message) for x in w)


def test_embedding_lsh_state_reuse(emb):
    """A stored banded state (embedding_lsh_state) passed back via
    state= reproduces the from-scratch result exactly — the warm path
    skips the hyperplane-GEMM pass on repeated runs."""
    from pandas_ai_spark.functions import similarity as sim

    corpus = _planted_corpus(emb)
    k, L = 10, 13
    fresh = {(r.id_a, r.id_b) for r in sim.embedding_near_dup_pairs(
        corpus, threshold=0.9, num_planes=k, num_tables=L).collect()}
    state = sim.embedding_lsh_state(
        corpus, num_planes=k, num_tables=L).persist()
    state.count()
    reused = {(r.id_a, r.id_b) for r in sim.embedding_near_dup_pairs(
        corpus, threshold=0.9, num_planes=k, num_tables=L,
        state=state).collect()}
    state.unpersist()
    assert reused == fresh and fresh


def test_embedding_near_dup_incremental(emb, spark):
    """Batch-vs-corpus dedup against stored LSH state: perturbed copies
    of corpus vectors are flagged as near-dups and dropped, genuinely
    novel vectors survive, and the returned state covers the union."""
    from pyspark.sql import functions as F

    from pandas_ai_spark.functions import similarity as sim

    corpus = emb.select("vec_id",
                        F.col("embedding").cast("array<double>")
                        .alias("embedding"))
    k, L = 10, 13
    state = sim.embedding_lsh_state(
        corpus, num_planes=k, num_tables=L).persist()
    n_corpus = corpus.count()

    # batch = near-dup copies of 20 corpus vectors + 20 novel randoms
    dups = (corpus.where(F.col("vec_id") < 20)
            .select((F.col("vec_id") + 500000).alias("vec_id"),
                    F.transform(
                        F.col("embedding"),
                        lambda x: x * F.lit(1.000001)).alias("embedding")))
    import numpy as np
    rng = np.random.RandomState(7)
    novel_rows = [(600000 + i, rng.randn(64).tolist()) for i in range(20)]
    novel_df = spark.createDataFrame(
        novel_rows, "vec_id long, embedding array<double>")
    batch = dups.unionByName(novel_df)

    novel, new_state, new_vecs = sim.embedding_near_dup_incremental(
        batch, state, corpus, threshold=0.95,
        num_planes=k, num_tables=L)
    novel_ids = {r.vec_id for r in novel.select("vec_id").collect()}
    assert all(i >= 600000 for i in novel_ids), \
        "perturbed corpus copies must be flagged as near-dups"
    assert len(novel_ids) == 20, "novel randoms must survive"
    assert new_vecs.count() == n_corpus + 20
    assert new_state.count() == (n_corpus + 20) * L
    state.unpersist()


# -- multimodal plumbing -----------------------------------------------------

def test_resize_image_shape(spark, docs):
    from pandas_ai_spark.functions import multimodal as mm

    media = docs.limit(5).select(
        "doc_id", F.encode("text", "utf-8").alias("media"))
    out = mm.resize_image(media, size=4).collect()
    assert all(len(r.resized) == 4 * 4 * 3 for r in out)


def test_sample_video_frames(spark, docs):
    from pandas_ai_spark.functions import multimodal as mm

    media = docs.limit(3).select(
        "doc_id", F.encode("text", "utf-8").alias("media"))
    out = mm.sample_video_frames(media, every_n=2)
    rows = out.collect()
    assert {r.doc_id for r in rows} == {r.doc_id for r in media.collect()}
    assert all(r.frame_idx % 2 == 0 for r in rows)


def test_media_metadata_nulls(spark):
    from pandas_ai_spark.functions import multimodal as mm

    df = spark.createDataFrame([(1, None)], "doc_id long, media binary")
    row = mm.attach_media_metadata(df).collect()[0]
    assert row.media_meta.byte_len is None
    assert row.media_meta.mime == "image/unknown"


# -- skew helpers ------------------------------------------------------------

def test_salted_join_row_identical(spark):
    from pandas_ai_spark.functions.skew import salted_join

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet") \
        .select("l_orderkey", "l_extendedprice")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet") \
        .select("o_orderkey", "o_orderpriority")
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    salted = salted_join(li, orders, "l_orderkey", "o_orderkey", salt=4).count()
    assert salted == plain


def test_hot_keys(spark):
    from pandas_ai_spark.functions.skew import hot_keys

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    hot = hot_keys(li, "l_orderkey", min_count=5)
    rows = hot.collect()
    assert all(len(r) == 1 for r in rows)


def test_ngram_jaccard_max_doc_freq_guard(docs):
    """The stop-shingle guard must prune ultra-common shingles (the skew
    guard for web-scale corpora) while keeping high-sim pairs."""
    from pandas_ai_spark.functions import dedup as dd

    full = dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    guarded = dd.ngram_jaccard_pairs(docs, n=3, threshold=0.8,
                                     max_doc_freq=50)
    f = {(r.id_a, r.id_b) for r in full.collect()}
    g = {(r.id_a, r.id_b) for r in guarded.collect()}
    # near-identical docs share rare shingles too — the guard keeps them
    assert f, "fixture must contain high-sim pairs"
    assert len(g & f) / len(f) >= 0.9


def test_grouped_mad_matches_numpy(spark):
    """grouped_mad (two JVM percentile passes) must agree with numpy's
    whole-group median/MAD to float tolerance, including even-sized
    groups (interpolated median)."""
    import numpy as np

    from pandas_ai_spark.functions.stats import grouped_iqr, grouped_mad

    rng = np.random.RandomState(7)
    rows = [(int(g), float(v))
            for g in range(20)
            for v in rng.normal(loc=g, scale=1 + g % 3, size=30 + g)]
    df = spark.createDataFrame(rows, ["g", "v"])
    got = {r.g: r for r in grouped_mad(df, "g", "v").collect()}
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vs in by_g.items():
        a = np.array(vs)
        assert abs(got[g].median - np.median(a)) < 1e-9
        assert abs(got[g].mad - np.median(np.abs(a - np.median(a)))) < 1e-9
        assert got[g].n == len(vs)
    iqr = {r.g: r for r in grouped_iqr(df, "g", "v").collect()}
    for g, vs in by_g.items():
        a = np.array(vs)
        assert abs(iqr[g].iqr - (np.percentile(a, 75) - np.percentile(a, 25))) < 1e-9


def test_grouped_mad_keeps_null_group(spark):
    """A NULL group key appears in grouped_median/grouped_iqr output, so
    grouped_mad must keep it too (null-safe self-join on the key)."""
    from pandas_ai_spark.functions.stats import grouped_mad, grouped_median

    rows = [("a", 1.0), ("a", 3.0), (None, 10.0), (None, 14.0),
            (None, 10.0)]
    df = spark.createDataFrame(rows, ["g", "v"])
    med = {r.g: r for r in grouped_median(df, "g", "v").collect()}
    mad = {r.g: r for r in grouped_mad(df, "g", "v").collect()}
    assert set(mad) == set(med) == {"a", None}
    assert mad[None].median == 10.0
    assert mad[None].mad == 0.0
    assert mad[None].n == 3
    assert mad["a"].mad == 1.0


def test_ngram_jaccard_default_cap_warns_once_per_process(spark):
    import warnings

    import pandas_ai_spark.functions.dedup as dd

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")],
        ["doc_id", "text"])
    dd._warned_implicit_cap = False
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dd.ngram_jaccard_pairs(df, threshold=0.1)
        assert any(isinstance(x.message, dd.ImplicitDocFreqCapWarning)
                   and "max_doc_freq" in str(x.message) for x in w)
    # second default call in the same process: silent (warn-once), so
    # pipelines running under -W error::UserWarning don't start failing
    # on call #2 and repeated calls don't spam.
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dd.ngram_jaccard_pairs(df, threshold=0.1)
        dd.ngram_jaccard_pairs(df, threshold=0.1, max_doc_freq=10_000)
        dd.ngram_jaccard_pairs(df, threshold=0.1, max_doc_freq=None)
        assert not w


def test_ngram_jaccard_capped_exact_values_and_no_blowup(spark):
    """With the doc-freq cap active, (a) every reported pair carries the
    EXACT full-set Jaccard (re-verified via array_intersect), and (b) a
    ubiquitous boilerplate shingle does not manufacture O(f²) pairs —
    boilerplate-only pairs are the documented recall loss."""
    from pandas_ai_spark.functions import dedup as dd

    boiler = "this software is provided as is without warranty of any kind"
    rows = [(i, f"{boiler} unique{i} alpha{i} beta{i} gamma{i} delta{i}")
            for i in range(60)]
    rows.append((100, boiler + " shared rare content words here indeed"))
    rows.append((101, boiler + " shared rare content words here truly"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = {(r.id_a, r.id_b): r.jaccard for r in
                dd.ngram_jaccard_pairs(df, threshold=0.3,
                                       max_doc_freq=None).collect()}
    capped = {(r.id_a, r.id_b): r.jaccard for r in
              dd.ngram_jaccard_pairs(df, threshold=0.3,
                                     max_doc_freq=10).collect()}
    # boilerplate-only pairs dominate the uncapped result (f² blowup)...
    assert len(uncapped) > 1000
    # ...and are absent under the cap; the rare-content pair survives
    assert (100, 101) in capped
    assert len(capped) < 50
    # exactness: every capped value equals the uncapped full-set value
    for k, v in capped.items():
        assert abs(uncapped[k] - v) < 1e-9, k


def test_prefix_filtered_jaccard_exact_equivalence(docs):
    """PPJoin prefix filtering must return EXACTLY the same pairs as the
    full inverted-index join (no false negatives by the prefix theorem,
    none dropped by verification)."""
    from pandas_ai_spark.functions import dedup as dd

    full = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
            dd.ngram_jaccard_pairs(docs, n=3, threshold=0.6).collect()}
    pref = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
            dd.ngram_jaccard_pairs_prefix(docs, n=3, threshold=0.6).collect()}
    assert full, "fixture must contain pairs at 0.6"
    assert pref == full


def test_dedup_clusters_transitive(spark):
    """A~B, B~C (no A~C edge) must land in ONE cluster labeled min(id);
    disjoint pairs stay separate."""
    from pandas_ai_spark.functions import dedup as dd

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long")
    got = {(r.doc_id, r.cluster_id)
           for r in dd.dedup_clusters(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
                   (20, 20), (21, 20), (22, 20), (23, 20)}


def test_profile_exact_counts_and_native_minmax(spark):
    """Nulls counted; min/max computed in the NATIVE type before the
    string cast (a string-first cast would say min(10, 9) == '10')."""
    from pandas_ai_spark.functions.stats import profile_exact

    df = spark.createDataFrame(
        [(9, "b"), (10, "a"), (None, None), (9, "c")],
        "x long, s string")
    got = {r.column: (r.n, r.nulls, r.n_distinct, r.min_s, r.max_s)
           for r in profile_exact(df, ["x", "s"]).collect()}
    assert got["x"] == (3, 1, 2, "9", "10")
    assert got["s"] == (3, 1, 3, "a", "c")
    # empty input: nulls is 0, not NULL (sum over zero rows is NULL)
    empty = profile_exact(df.where(F.lit(False)), ["x"]).collect()[0]
    assert (empty.n, empty.nulls, empty.n_distinct) == (0, 0, 0)
    # quoted / odd names never reach a SQL string
    odd = df.withColumnRenamed("s", "it's")
    assert profile_exact(odd, ["it's"]).collect()[0].column == "it's"
    import pytest as _pytest
    with _pytest.raises(ValueError):
        profile_exact(df, [])
    with _pytest.raises(ValueError):
        profile_exact(df, ["x", "x"])


def test_resample_ffill_random_parity_with_python_reference(spark):
    """Seeded random series per key: every grid value equals the last
    observation at-or-before the grid point (pure-Python oracle)."""
    import datetime as dt
    import random

    from pandas_ai_spark.functions.timeseries import resample_ffill

    rng = random.Random(7)
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for uid in range(5):
        n = rng.randint(1, 12)
        minutes = sorted(rng.sample(range(0, 48 * 60), n))
        for m in minutes:
            rows.append((uid, t0 + dt.timedelta(minutes=m),
                         round(rng.uniform(0, 100), 3)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {(r.user_id, r.ts): r.value
           for r in resample_ffill(df, by=("user_id",)).collect()}

    expect = {}
    by_user: dict = {}
    for uid, ts, v in rows:
        by_user.setdefault(uid, []).append((ts, v))
    for uid, obs in by_user.items():
        obs.sort()
        lo = obs[0][0].replace(minute=0, second=0, microsecond=0)
        hi = obs[-1][0].replace(minute=0, second=0, microsecond=0)
        t = lo
        while t <= hi:
            vals = [v for (ts, v) in obs if ts <= t]
            expect[(uid, t)] = vals[-1] if vals else None
            t += dt.timedelta(hours=1)
    assert got == expect


def test_scd2_snapshot_collapses_noop_updates(spark):
    """Consecutive identical attribute values collapse into one version;
    valid_to chains to the next version; last version is current."""
    import datetime as dt

    from pandas_ai_spark.functions.timeseries import scd2_snapshot

    t0 = dt.datetime(2024, 1, 1)

    def at(h):
        return t0 + dt.timedelta(hours=h)

    df = spark.createDataFrame(
        [(1, at(0), "bronze"), (1, at(1), "bronze"),   # no-op update
         (1, at(2), "gold"), (1, at(3), "bronze"),     # real changes
         (2, at(5), "silver")],
        "user_id long, ts timestamp, tier string")
    rows = sorted(
        scd2_snapshot(df, ["user_id"], "ts", ["tier"]).collect(),
        key=lambda r: (r.user_id, r.valid_from))
    got = [(r.user_id, r.tier, r.valid_from, r.valid_to, r.is_current)
           for r in rows]
    assert got == [
        (1, "bronze", at(0), at(2), False),
        (1, "gold", at(2), at(3), False),
        (1, "bronze", at(3), None, True),
        (2, "silver", at(5), None, True),
    ]


def test_cohort_retention_known_matrix(spark):
    """Two cohorts; a user active in weeks 0 and 2 counts at offsets
    0 and 2, not 1."""
    import datetime as dt

    from pandas_ai_spark.functions.events import cohort_retention

    mon = dt.datetime(2024, 1, 1)  # a Monday

    def wk(w, d=0):
        return mon + dt.timedelta(weeks=w, days=d)

    df = spark.createDataFrame(
        [(1, wk(0, 1)), (1, wk(2, 3)),     # cohort w0, active w0+w2
         (2, wk(0, 2)), (2, wk(1)),        # cohort w0, active w0+w1
         (3, wk(1, 4))],                   # cohort w1, active w1 only
        "user_id long, ts timestamp")
    got = {(r.cohort, r.offset, r.users)
           for r in cohort_retention(df, unit="week").collect()}
    assert got == {(wk(0), 0, 2), (wk(0), 1, 1), (wk(0), 2, 1),
                   (wk(1), 0, 1)}


def test_funnel_strict_ordering(spark):
    """Stage K must be strictly after stage K-1's first time: a click
    before the first view doesn't count; stalls yield NULLs."""
    import datetime as dt

    from pandas_ai_spark.functions.events import funnel

    t0 = dt.datetime(2024, 1, 1)

    def at(m):
        return t0 + dt.timedelta(minutes=m)

    df = spark.createDataFrame(
        [  # user 1 completes in order
         (1, "view", at(0)), (1, "click", at(5)), (1, "purchase", at(9)),
           # user 2: click BEFORE first view → funnel stalls at t1
         (2, "click", at(1)), (2, "view", at(2)),
           # user 3 never views → not in result
         (3, "purchase", at(4))],
        "user_id long, event_type string, ts timestamp")
    rows = {r.user_id: (r.t1, r.t2, r.t3)
            for r in funnel(df, ["view", "click", "purchase"]).collect()}
    assert set(rows) == {1, 2}
    assert rows[1] == (at(0), at(5), at(9))
    assert rows[2] == (at(2), None, None)


def test_resample_ffill_known_grid(spark):
    """Hourly grid spans trunc(min)..trunc(max) per key; values carry
    forward across gaps; grid points before the first obs stay NULL;
    an on-grid observation lands on its own grid row."""
    import datetime as dt

    from pandas_ai_spark.functions.timeseries import resample_ffill

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def at(h, m=0):
        return t0 + dt.timedelta(hours=h, minutes=m)

    df = spark.createDataFrame(
        [(1, at(0, 30), 5.0),   # 10:30 → fills 11:00, 12:00
         (1, at(3), 7.0),       # 13:00 exactly on grid
         (2, at(1, 15), 2.0)],
        "user_id long, ts timestamp, value double")
    got = {(r.user_id, r.ts, r.value)
           for r in resample_ffill(df, by=("user_id",)).collect()}
    assert got == {
        (1, at(0), None), (1, at(1), 5.0), (1, at(2), 5.0),
        (1, at(3), 7.0),
        (2, at(1), None),
    }


def test_hash_split_stable_and_proportional(spark):
    """Assignments are a pure function of (seed, id): unchanged on a
    subset (no leakage when the corpus grows), re-keyed by seed, and
    split sizes track the weights."""
    from pandas_ai_spark.functions.pipeline import hash_split

    ids = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    full = {r.doc_id: r.split for r in hash_split(ids, w).collect()}
    sub = {r.doc_id: r.split
           for r in hash_split(ids.limit(500), w).collect()}
    assert all(full[k] == v for k, v in sub.items())
    from collections import Counter
    c = Counter(full.values())
    assert abs(c["train"] / 2000 - 0.8) < 0.05
    assert abs(c["val"] / 2000 - 0.1) < 0.03
    reseeded = {r.doc_id: r.split
                for r in hash_split(ids, w, seed="other").collect()}
    assert reseeded != full


def test_dedup_keep_best_keeps_highest_score(spark):
    """One survivor per cluster = highest score (tie → lowest id);
    docs in no pair survive untouched."""
    from pandas_ai_spark.functions import dedup as dd

    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5),      # cluster {1,2,3} → keep 2
         (10, 0.7), (11, 0.7),              # tie → keep 10
         (99, 0.0)],                        # singleton → survives
        "doc_id long, score double")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    kept = {r.doc_id
            for r in dd.dedup_keep_best(docs, pairs, "score").collect()}
    assert kept == {2, 10, 99}


def test_dedup_keep_best_string_ids(spark):
    """The argmax tie-break must work for non-numeric ids (a negated-id
    max_by would crash under ANSI or silently break determinism)."""
    from pandas_ai_spark.functions import dedup as dd

    docs = spark.createDataFrame(
        [("a", 0.1), ("b", 0.9), ("c", 0.9), ("z", 0.5)],
        "doc_id string, score double")
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "id_a string, id_b string")
    kept = {r.doc_id
            for r in dd.dedup_keep_best(docs, pairs, "score").collect()}
    assert kept == {"b", "z"}   # tie 0.9/0.9 → lowest id "b"


def test_scd2_snapshot_null_attribute_versions(spark):
    """NULL attribute values: x→NULL opens a version, NULL→NULL
    collapses, and a leading NULL version is kept."""
    import datetime as dt

    from pandas_ai_spark.functions.timeseries import scd2_snapshot

    t0 = dt.datetime(2024, 1, 1)

    def at(h):
        return t0 + dt.timedelta(hours=h)

    df = spark.createDataFrame(
        [(1, at(0), None), (1, at(1), None),      # leading NULL, no-op
         (1, at(2), "x"), (1, at(3), None)],      # x → NULL is a change
        "user_id long, ts timestamp, tier string")
    got = [(r.tier, r.valid_from, r.valid_to, r.is_current)
           for r in sorted(
               scd2_snapshot(df, ["user_id"], "ts", ["tier"]).collect(),
               key=lambda r: r.valid_from)]
    assert got == [(None, at(0), at(2), False),
                   ("x", at(2), at(3), False),
                   (None, at(3), None, True)]


def test_near_dup_clusters_paths_agree(docs):
    """q186 contract: the scale-default LSH-band path and the
    exact inverted-index path (exact=True) produce IDENTICAL clusters
    at a threshold where LSH recall is total on this corpus (injected
    dups sit at jaccard ≥0.9; P(collide) ≈ 1 with 128/32 bands)."""
    from pandas_ai_spark.functions import dedup as dd

    lsh = {(r.doc_id, r.cluster_id)
           for r in dd.near_dup_clusters(docs, threshold=0.7).collect()}
    exact = {(r.doc_id, r.cluster_id)
             for r in dd.near_dup_clusters(docs, threshold=0.7,
                                           exact=True).collect()}
    assert lsh == exact
    assert lsh  # non-vacuous: the corpus has injected near-dups


def test_near_dup_clusters_exact_kwarg_routing(docs):
    """exact=True honors max_doc_freq (forwarded to
    ngram_jaccard_pairs); the default path ignores it (LSH candidates
    have no doc-freq cap) — both without error."""
    from pandas_ai_spark.functions import dedup as dd

    out = dd.near_dup_clusters(docs, threshold=0.7, exact=True,
                               max_doc_freq=None)
    assert out.columns == ["doc_id", "cluster_id"]
    assert out.count() > 0


def test_minhash_dedup_transitive_keeps_one_per_cluster(docs):
    from pandas_ai_spark.functions import dedup as dd

    kept = dd.minhash_dedup_transitive(docs, threshold=0.5)
    pairs = dd.minhash_dedup_pairs(docs, threshold=0.5)
    clusters = dd.dedup_clusters(pairs)
    keepers = {r.cluster_id for r in clusters.collect()}
    dropped = {r.doc_id for r in clusters.collect()} - keepers
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert not (kept_ids & dropped)
    assert keepers <= kept_ids


def test_ann_ivf_recall_vs_bruteforce(emb):
    """IVF probing half the cells must recover most exact neighbors even
    on structure-free random vectors (IVF's worst case; real embedding
    corpora cluster and do far better at lower probe fractions)."""
    from pandas_ai_spark.functions import similarity as sim

    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = sim.ann_bruteforce(emb, q, k=10)
    approx = sim.ann_ivf(emb, q, k=10, n_centroids=16, n_probe=8)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    assert len(a & e) / len(e) >= 0.5


# -- as-of join --------------------------------------------------------------

def test_asof_join_matches_pandas_merge_asof(spark):
    from pandas_ai_spark.functions.timeseries import asof_join
    import pandas as pd

    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 10:00:00"), (2, 10, "2024-01-01 11:00:00"),
         (3, 20, "2024-01-01 09:30:00"), (4, 30, "2024-01-01 12:00:00")],
        "id long, k long, ts string").withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(100, 10, "2024-01-01 09:00:00"), (101, 10, "2024-01-01 10:30:00"),
         (102, 20, "2024-01-01 09:30:00")],
        "rid long, k long, ts string").withColumn("ts", F.to_timestamp("ts"))

    got = asof_join(left, right, by=["k"]).orderBy("id").collect()
    lp = left.toPandas().sort_values("ts")
    rp = right.toPandas().sort_values("ts")
    exp = pd.merge_asof(lp, rp, on="ts", by="k",
                        direction="backward").sort_values("id")
    for g, (_, e) in zip(got, exp.iterrows()):
        assert g.id == e["id"]
        erid = None if pd.isna(e["rid"]) else int(e["rid"])
        assert g.rid_right == erid, (g.id, g.rid_right, erid)


def test_asof_join_tolerance(spark):
    from pandas_ai_spark.functions.timeseries import asof_join

    left = spark.createDataFrame(
        [(1, 1, "2024-01-01 10:00:00")],
        "id long, k long, ts string").withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(9, 1, "2024-01-01 08:00:00")],
        "rid long, k long, ts string").withColumn("ts", F.to_timestamp("ts"))
    wide = asof_join(left, right, by=["k"], tolerance="3 hours").collect()
    assert wide[0].rid_right == 9
    tight = asof_join(left, right, by=["k"], tolerance="30 minutes").collect()
    assert tight[0].rid_right is None


def test_asof_join_tie_matches_same_timestamp(spark):
    from pandas_ai_spark.functions.timeseries import asof_join

    left = spark.createDataFrame(
        [(1, 1, "2024-01-01 10:00:00")],
        "id long, k long, ts string").withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(9, 1, "2024-01-01 10:00:00")],
        "rid long, k long, ts string").withColumn("ts", F.to_timestamp("ts"))
    assert asof_join(left, right, by=["k"]).collect()[0].rid_right == 9


def test_dedup_clusters_distributed_path(spark, graph_distributed):
    """The forced star-contraction rounds of connected_components give
    the same clusters as its union-find fast path."""
    from pandas_ai_spark.functions import dedup as dd

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    fast = {(r.doc_id, r.cluster_id)
            for r in dd.dedup_clusters(pairs).collect()}
    graph_distributed("connected_components")
    dist = {(r.doc_id, r.cluster_id)
            for r in dd.dedup_clusters(pairs).collect()}
    assert fast == dist == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_dedup_clusters_long_chain_distributed(spark, graph_distributed):
    """A 30-node chain is one cluster labelled 1 on the distributed
    path too: clustering runs to convergence, not a fixed number of
    propagation rounds (20 rounds of min-label propagation left node
    30 labelled 10)."""
    from pandas_ai_spark.functions import dedup as dd

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "id_a long, id_b long")
    graph_distributed("connected_components")
    got = {r.doc_id: r.cluster_id
           for r in dd.dedup_clusters(pairs).collect()}
    assert got == {i: 1 for i in range(1, 31)}


def test_clean_corpus_pipeline(docs):
    """End-to-end cleaning: monotone shrink per stage, no near-dup pairs
    survive at the configured threshold, all survivors meet quality."""
    from pandas_ai_spark.functions import dedup as dd
    from pandas_ai_spark.functions import text as tx
    from pandas_ai_spark.functions.pipeline import clean_corpus

    cleaned, stats = clean_corpus(docs, min_quality=0.5,
                                  near_dup_threshold=0.5)
    assert stats.input_docs >= stats.after_quality >= stats.after_exact \
        >= stats.after_near_dup
    assert stats.after_near_dup == cleaned.count()
    assert sum(stats.removed.values()) == stats.input_docs - stats.after_near_dup
    # survivors all meet the quality bar
    bad = cleaned.where(
        tx.quality_score(F.col("text")) < 0.5).count()
    assert bad == 0
    # no surviving near-dup pairs at the threshold
    left = dd.minhash_dedup_pairs(cleaned, threshold=0.5).count()
    assert left == 0


def _cache_manager_empty(spark) -> bool:
    return bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())


def test_cache_scope_releases_operator_persists(spark, docs):
    """Operator-internal signature-table persists registered inside a
    cache_scope are unpersisted on exit; outside a scope they land in
    the ledger and release_operator_caches() frees them."""
    from pandas_ai_spark.functions import (cache_scope,
                                           release_operator_caches)
    from pandas_ai_spark.functions import dedup as dd

    release_operator_caches()  # start from a clean ledger
    spark.catalog.clearCache()
    assert _cache_manager_empty(spark)

    with cache_scope():
        pairs = dd.minhash_dedup_pairs(docs, threshold=0.5)
        n_scoped = pairs.count()  # materialize INSIDE the scope
        assert not _cache_manager_empty(spark)  # signature tables cached
    assert _cache_manager_empty(spark)  # ...and released on exit

    # scope-less call: persists accumulate in the ledger...
    pairs2 = dd.minhash_dedup_pairs(docs, threshold=0.5)
    assert pairs2.count() == n_scoped
    assert not _cache_manager_empty(spark)
    # ...and are releasable without touching user caches
    user = docs.persist()
    user.count()
    assert release_operator_caches() > 0
    assert user.storageLevel.useMemory  # user persist survived
    user.unpersist()
    assert _cache_manager_empty(spark)


def test_clean_corpus_bounded_cache_leaves_no_cached_tables(spark, docs):
    """A full pipeline run with the default bounded cache leaves the
    Spark cache manager empty: the signature tables the dedup stages
    persist do not outlive the call, and the returned frame is still
    usable (checkpointed, lineage truncated)."""
    from pandas_ai_spark.functions import release_operator_caches
    from pandas_ai_spark.functions.pipeline import clean_corpus

    release_operator_caches()
    spark.catalog.clearCache()

    cleaned, stats = clean_corpus(docs, min_quality=0.5,
                                  near_dup_threshold=0.5)
    assert _cache_manager_empty(spark)
    # result remains correct and re-collectable after scope exit
    assert cleaned.count() == stats.after_near_dup


def test_winnowing_guarantee(spark):
    """Docs sharing a token run of >= k+w-1 tokens MUST share a winnowed
    fingerprint (the winnowing theorem); disjoint docs must not pair."""
    from pandas_ai_spark.functions import dedup as dd

    shared = " ".join(f"tok{i}" for i in range(12))  # 12 >= 8+4-1
    df = spark.createDataFrame(
        [(1, "alpha beta " + shared + " gamma"),
         (2, shared + " delta epsilon zeta"),
         (3, " ".join(f"other{i}" for i in range(30)))],
        "doc_id long, text string")
    pairs = {(r.id_a, r.id_b)
             for r in dd.winnow_candidates(df, k=8, w=4).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_mad_per_user_matches_pandas(spark):
    import __spark_entry__ as entry
    import pandas as pd

    got = entry.q44_mad_per_user(spark, SF_SMOKE).toPandas()
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    pdf = ev.where("event_type = 'purchase'").select("user_id", "value").toPandas()
    for uid, grp in pdf.groupby("user_id"):
        med = grp["value"].median()
        mad = (grp["value"] - med).abs().median()
        row = got[got.user_id == uid]
        assert abs(row["mad"].iloc[0] - round(mad, 4)) < 1e-9


def test_stratified_sample_rates(spark, docs):
    """sampleBy: per-stratum sampled fraction within statistical tolerance
    of the requested rate, deterministic for a fixed seed."""
    fractions = {"en": 0.5, "de": 0.2}
    base = docs.where(F.col("lang").isin(list(fractions)))
    totals = {r.lang: r.n for r in
              base.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    s1 = base.sampleBy("lang", fractions, seed=42)
    got = {r.lang: r.n for r in
           s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, frac in fractions.items():
        rate = got.get(lang, 0) / totals[lang]
        assert abs(rate - frac) < 0.2, (lang, rate)
    s2 = {r.doc_id for r in
          base.sampleBy("lang", fractions, seed=42).select("doc_id").collect()}
    assert s2 == {r.doc_id for r in s1.select("doc_id").collect()}


def test_incremental_dedup(spark):
    from pandas_ai_spark.functions import dedup as dd
    from pandas_ai_spark.functions.text import fingerprint

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "hello world")],
        "doc_id long, text string")
    seen = corpus.select(fingerprint(F.col("text")).alias("fingerprint"))
    batch = spark.createDataFrame(
        [(10, "HELLO,   world!"),      # dup of doc 2 after normalization
         (11, "a genuinely new doc"),
         (12, "a genuinely new doc"),  # within-batch dup of 11
         (13, "another new one")],
        "doc_id long, text string")
    novel, updated = dd.incremental_dedup(batch, seen)
    assert {r.doc_id for r in novel.collect()} == {11, 13}
    assert updated.count() == 4  # 2 old + 2 new fingerprints


def test_write_range_sorted_disjoint_files(spark, tmp_path):
    """Range-sorted layout: per-file key ranges must be disjoint, so a
    point predicate can skip all but one file."""
    import pyarrow.parquet as pq
    import glob

    from pandas_ai_spark.sources.layout import write_range_sorted

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    out = str(tmp_path / "orders_sorted")
    write_range_sorted(orders, out, "o_orderkey", num_files=4)
    ranges = []
    for f in glob.glob(f"{out}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        col_idx = [md.schema.column(i).name
                   for i in range(md.num_columns)].index("o_orderkey")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min); maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint


def test_write_partitioned_prunes(spark, tmp_path, docs):
    from pandas_ai_spark.sources.layout import write_partitioned

    out = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, out, ["lang"])
    back = spark.read.parquet(out).where(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan
    assert back.count() == docs.where("lang = 'en'").count()


def test_redact_pii_and_counts(spark):
    from pyspark.sql import functions as F

    from pandas_ai_spark.functions.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [(1, "mail a@b.com or c.d@e.org, call +1-555-867-5309, "
             "visit https://x.io/p?q=1 from 10.0.0.1"),
         (2, "no pii here at all")],
        "id bigint, text string")
    c = F.col("text")
    counts = pii_counts(c)
    out = df.select(
        "id", redact_pii(c).alias("red"),
        counts["email"].alias("ne"), counts["url"].alias("nu"),
        counts["ip"].alias("ni"), counts["phone"].alias("np"),
    ).collect()
    r1 = next(r for r in out if r.id == 1)
    assert (r1.ne, r1.nu, r1.ni, r1.np) == (2, 1, 1, 1)
    assert "<EMAIL>" in r1.red and "<URL>" in r1.red
    assert "<IP>" in r1.red and "<PHONE>" in r1.red
    assert "a@b.com" not in r1.red and "10.0.0.1" not in r1.red
    r2 = next(r for r in out if r.id == 2)
    assert r2.red == "no pii here at all"
    assert (r2.ne, r2.nu, r2.ni, r2.np) == (0, 0, 0, 0)


def test_top_ngram_fraction_known_values(spark):
    from pandas_ai_spark.functions.text import top_ngram_fraction

    df = spark.createDataFrame(
        [(1, "spam spam spam eggs"),      # unigram: 3/4, bigram: 2/3
         (2, "all words differ here"),    # unigram: 1/4
         (3, "one")],                     # no bigrams -> 0.0
        "doc_id bigint, text string")
    u = {r.doc_id: r.frac for r in
         top_ngram_fraction(df, "text", "doc_id", n=1).collect()}
    b = {r.doc_id: r.frac for r in
         top_ngram_fraction(df, "text", "doc_id", n=2).collect()}
    assert abs(u[1] - 0.75) < 1e-9
    assert abs(b[1] - 2 / 3) < 1e-9
    assert abs(u[2] - 0.25) < 1e-9
    assert b[3] == 0.0


def test_pack_sequences_contiguous_and_deterministic(spark):
    from pandas_ai_spark.functions.packing import pack_sequences

    df = spark.createDataFrame(
        [(i, " ".join(["tok"] * (5 + i % 7))) for i in range(50)],
        "doc_id bigint, text string")
    out = pack_sequences(df, chunk_tokens=16).collect()
    rows = sorted(out, key=lambda r: r.start_offset)
    # offsets tile the token stream exactly: contiguous, no gaps/overlap
    pos = 0
    for r in rows:
        assert r.start_offset == pos
        assert r.chunk_id == pos // 16
        pos += r.n_tokens
    assert pos == sum(r.n_tokens for r in rows)
    # deterministic across runs
    again = sorted(pack_sequences(df, chunk_tokens=16).collect(),
                   key=lambda r: r.start_offset)
    assert [r.doc_id for r in again] == [r.doc_id for r in rows]
    # different seed -> different order (pseudo-shuffle actually shuffles)
    other = sorted(pack_sequences(df, chunk_tokens=16, seed=7).collect(),
                   key=lambda r: r.start_offset)
    assert [r.doc_id for r in other] != [r.doc_id for r in rows]


# ---------------------------------------------------------------------------
# round-2 additions: range join, decontamination, tf-idf, classifier, sketch


def test_range_join_matches_naive(spark):
    """Bucketed equi-join range join == the naive inequality cross-join
    on a window that straddles bucket boundaries (including exact-edge
    timestamps), and never plans a nested loop."""
    import datetime as dt

    from pandas_ai_spark.functions.timeseries import range_join

    base = dt.datetime(2024, 1, 1)
    rows = []
    for uid in (1, 2):
        for s in (0, 10, 3600, 3610, 7200, 7205):
            rows.append((uid, base + dt.timedelta(seconds=s)))
    left = spark.createDataFrame(rows, "user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(u, t + dt.timedelta(seconds=d), float(d))
         for (u, t) in rows for d in (-3601, -3600, -1800, 0, 1)],
        "user_id long, rts timestamp, value double")

    got = {(r.user_id, r.ts, r.rts) for r in range_join(
        left, right, ["user_id"], "ts", "rts", -3600, 0).collect()}
    naive = {(l.user_id, l.ts, r.rts)
             for l in left.collect() for r in right.collect()
             if l.user_id == r.user_id
             and -3600 <= (r.rts - l.ts).total_seconds() <= 0}
    assert got == naive and got

    plan = range_join(left, right, ["user_id"], "ts", "rts", -3600, 0) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_range_join_rejects_empty_window(spark):
    from pandas_ai_spark.functions.timeseries import range_join

    df = spark.range(1).select(
        F.col("id").alias("user_id"),
        F.current_timestamp().alias("ts"))
    with pytest.raises(ValueError):
        range_join(df, df, ["user_id"], "ts", "ts", 0, 0)


def test_decontaminate_flags_planted_overlap(spark):
    """A corpus doc containing a verbatim 8-gram from the eval set is
    flagged (with the distinct-overlap count) and removed from clean;
    unrelated docs survive; min_overlap raises the bar."""
    from pandas_ai_spark.functions.dedup import decontaminate

    leak = "the quick brown fox jumps over the lazy dog tonight"
    corpus = spark.createDataFrame(
        [(1, "intro words " + leak + " trailing tail"),
         (2, "completely different content with no overlap at all here"),
         (3, "yet another unrelated document body for the corpus test")],
        "doc_id long, text string")
    eval_docs = spark.createDataFrame(
        [(100, leak + " extra eval framing")], "doc_id long, text string")

    clean, flagged = decontaminate(corpus, eval_docs, n=8)
    f = {r.doc_id: r.n_overlap for r in flagged.collect()}
    assert set(f) == {1} and f[1] >= 1
    assert {r.doc_id for r in clean.collect()} == {2, 3}

    _, strict = decontaminate(corpus, eval_docs, n=8,
                              min_overlap=f[1] + 1)
    assert strict.count() == 0


def test_tfidf_top_terms_manual(spark):
    """tf·ln(N/df) on a 3-doc corpus, checked by hand: a term in every
    doc scores 0; the distinctive repeated term ranks first."""
    import math

    from pandas_ai_spark.functions.text import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "apple apple banana shared"),
         (2, "banana cherry shared"),
         (3, "cherry date shared")],
        "doc_id long, text string")
    out = {(r.doc_id, r.rk): (r.term, r.tfidf)
           for r in tfidf_top_terms(df, k=2).collect()}
    term, score = out[(1, 1)]
    assert term == "apple"
    assert score == pytest.approx(2 * math.log(3 / 1))
    # 'shared' appears in all 3 docs -> idf = ln(1) = 0
    shared = [v for v in out.values() if v[0] == "shared"]
    assert all(s == pytest.approx(0.0) for _, s in shared)


def test_classifier_score_bounds_and_determinism(spark, docs):
    """Scores live in [-1, 1], are deterministic across runs, and the
    empty/blank doc scores exactly 0 (no NaN from the size guard)."""
    from pandas_ai_spark.functions.classify import classify

    out1 = {r.doc_id: r.score for r in classify(docs).collect()}
    out2 = {r.doc_id: r.score for r in classify(docs).collect()}
    assert out1 == out2
    assert all(-1.0 <= s <= 1.0 for s in out1.values())

    blank = spark.createDataFrame([(1, ""), (2, "   ")],
                                  "doc_id long, text string")
    assert {r.score for r in classify(blank).collect()} == {0.0}


def test_md5_u64_matches_python(spark):
    """The JVM-side hash equals Python's little-endian first-8-bytes md5
    (the family every DuckDB oracle replicates as md5_number_upper)."""
    import hashlib

    from pandas_ai_spark.functions.classify import md5_u64

    words = ["hello", "world", "a", "Ω unicode ✓", "1234567890"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {r.w: int(r.h) for r in
           df.select("w", md5_u64(F.col("w")).alias("h")).collect()}
    for w in words:
        exp = int.from_bytes(
            hashlib.md5(w.encode()).digest()[:8], "little")
        assert got[w] == exp, w


def test_profile_sketch_error_bounded(docs):
    """HLL distinct estimate within 5% of exact; approx percentiles
    within the observed value range (sanity, not exactness — the point
    of a sketch is mergeability, not exact answers)."""
    from pandas_ai_spark.functions.text import fingerprint

    exact = docs.select(
        F.countDistinct(fingerprint(F.col("text"))).alias("d")
    ).collect()[0].d
    approx = docs.select(
        F.approx_count_distinct(fingerprint(F.col("text"))).alias("d")
    ).collect()[0].d
    assert abs(approx - exact) / exact <= 0.05


def test_temperature_mixture_rates_properties(docs):
    """α<1 temperature: rarer domains get strictly higher sampling rates;
    expected sample size ≈ frac·N (within the per-domain cap); α=1 is
    proportional sampling (all rates equal); sampling is seeded."""
    from pandas_ai_spark.functions.pipeline import (
        mixture_sample, temperature_mixture_rates)

    counts, rates = temperature_mixture_rates(
        docs, "lang", alpha=0.5, sample_frac=0.4)
    ordered = sorted(counts, key=counts.get)
    for small, big in zip(ordered, ordered[1:]):
        if counts[small] < counts[big]:
            assert rates[small] > rates[big]
    if all(r < 1.0 for r in rates.values()):
        expected = sum(rates[d] * counts[d] for d in counts)
        assert expected == pytest.approx(0.4 * sum(counts.values()))

    _, flat = temperature_mixture_rates(docs, "lang", alpha=1.0,
                                        sample_frac=0.4)
    assert max(flat.values()) - min(flat.values()) < 1e-12

    s1, _, _ = mixture_sample(docs, "lang", seed=7)
    s2, _, _ = mixture_sample(docs, "lang", seed=7)
    assert sorted(r.doc_id for r in s1.collect()) == \
        sorted(r.doc_id for r in s2.collect())


def test_unigram_cross_entropy_ranks_rare_docs_higher(spark):
    """A doc of corpus-common tokens scores lower cross-entropy than a
    doc of corpus-rare tokens; n_tokens is the whitespace count."""
    from pandas_ai_spark.functions.text import unigram_cross_entropy

    df = spark.createDataFrame(
        [(1, "common common common common"),
         (2, "common common common common"),
         (3, "common common common common"),
         (4, "rare1 rare2 rare3 rare4")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in unigram_cross_entropy(df).collect()}
    assert out[4].cross_entropy > out[1].cross_entropy
    assert out[4].n_tokens == 4
    # identical docs score identically
    assert out[1].cross_entropy == out[2].cross_entropy


def test_cap_per_domain_quota_and_determinism(docs):
    from pandas_ai_spark.functions.pipeline import cap_per_domain

    capped = cap_per_domain(docs, "source", "doc_id", cap=7)
    per = {r.source: r.n for r in
           capped.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per and all(n <= 7 for n in per.values())
    a = sorted(r.doc_id for r in capped.collect())
    b = sorted(r.doc_id for r in
               cap_per_domain(docs, "source", "doc_id", cap=7).collect())
    assert a == b

    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_chunk_documents_covers_and_overlaps(spark):
    """Chunk starts advance by stride, every token index falls in some
    chunk, the final chunk reaches the last token, and a short doc
    yields exactly one truncated chunk."""
    from pandas_ai_spark.functions.packing import chunk_documents

    text = " ".join(f"t{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, text), (2, "a b c")], "doc_id long, text string")
    rows = sorted(chunk_documents(df, chunk_size=32, stride=24).collect(),
                  key=lambda r: (r.doc_id, r.chunk_idx))
    d1 = [r for r in rows if r.doc_id == 1]
    assert [r.start_tok for r in d1] == [0, 24, 48, 72]
    assert [r.chunk_len for r in d1] == [32, 32, 32, 28]
    covered = set()
    for r in d1:
        covered |= set(range(r.start_tok, r.start_tok + r.chunk_len))
    assert covered == set(range(100))

    d2 = [r for r in rows if r.doc_id == 2]
    assert len(d2) == 1 and d2[0].chunk_len == 3 and d2[0].start_tok == 0

    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=0)


def test_range_join_randomized_configs(spark):
    """range_join == naive inequality join across randomized windows,
    keys, and timestamps (seeded): asymmetric windows, future-only
    windows, sub-bucket spans."""
    import datetime as dt
    import random

    from pandas_ai_spark.functions.timeseries import range_join

    rng = random.Random(42)
    base = dt.datetime(2024, 1, 1)
    for lo, hi in [(-3600, 0), (-90, 90), (10, 600), (-7200, -3600)]:
        left = [(rng.randint(1, 3),
                 base + dt.timedelta(seconds=rng.uniform(0, 20000)))
                for _ in range(40)]
        right = [(rng.randint(1, 3),
                  base + dt.timedelta(seconds=rng.uniform(0, 20000)),
                  float(i)) for i in range(60)]
        ldf = spark.createDataFrame(left, "k long, ts timestamp")
        rdf = spark.createDataFrame(right,
                                    "k long, rts timestamp, v double")
        got = {(r.k, r.ts, r.rts) for r in
               range_join(ldf, rdf, ["k"], "ts", "rts", lo, hi).collect()}
        naive = {(l[0], l[1], r[1]) for l in left for r in right
                 if l[0] == r[0]
                 and lo <= (r[1] - l[1]).total_seconds() <= hi}
        assert got == naive, (lo, hi)


def test_chunk_documents_randomized_configs(spark):
    """Chunk layout invariants across random (chunk_size, stride, doc
    length): starts advance by stride, full coverage, last chunk ends
    at the final token, lens in (0, chunk_size]."""
    import random

    from pandas_ai_spark.functions.packing import chunk_documents

    rng = random.Random(7)
    cases = []
    for _ in range(6):
        size = rng.randint(2, 50)
        cases.append((rng.randint(1, 40), size, rng.randint(1, size)))
    rows = [(i, " ".join(f"w{j}" for j in range(n)))
            for i, (n, _, _) in enumerate(cases)]
    for i, (n, size, stride) in enumerate(cases):
        out = sorted(
            (r for r in chunk_documents(
                spark.createDataFrame([rows[i]], "doc_id long, text string"),
                chunk_size=size, stride=stride).collect()),
            key=lambda r: r.chunk_idx)
        assert [r.start_tok for r in out] == \
            [j * stride for j in range(len(out))]
        assert all(0 < r.chunk_len <= size for r in out)
        covered = set()
        for r in out:
            covered |= set(range(r.start_tok, r.start_tok + r.chunk_len))
        assert covered == set(range(n)), (n, size, stride)


def test_ann_join_full_probe_is_exact_partial_is_subset(spark, emb):
    """Probing every cell makes the IVF table-to-table join exact
    (== numpy brute force, same tie-break); partial probing returns a
    subset with reasonable recall even on worst-case random vectors."""
    import numpy as np

    from pandas_ai_spark.functions.similarity import ann_join

    l = emb.where(F.col("vec_id") % 2 == 1)
    r = emb.where(F.col("vec_id") % 2 == 0)

    def norm_rows(rows):
        ids = np.array([x[0] for x in rows])
        M = np.array([x[1] for x in rows], dtype=np.float64)
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
        return ids, M

    lid, L = norm_rows([(x.vec_id, x.embedding) for x in l.collect()])
    rid, R = norm_rows([(x.vec_id, x.embedding) for x in r.collect()])
    S = L @ R.T
    exact = {}
    for i, qid in enumerate(lid):
        order = np.lexsort((rid, -S[i]))[:3]
        exact[int(qid)] = [int(rid[j]) for j in order]

    full = ann_join(l, r, k=3, n_centroids=8, n_probe=8)
    got = {}
    for row in sorted(full.collect(), key=lambda x: (x.left_id, x.rank)):
        got.setdefault(row.left_id, []).append(row.right_id)
    assert got == exact

    part = ann_join(l, r, k=3, n_centroids=8, n_probe=2)
    hits = total = 0
    for row in part.collect():
        total += 1
        hits += row.right_id in exact[row.left_id]
    # partial probe may rank different candidates, but a healthy share
    # of the true top-3 must survive even on random vectors
    assert total and hits / (3 * len(exact)) >= 0.3


def test_minhash_incremental_batch_vs_corpus(spark, docs):
    """A new batch dedups against corpus LSH state (bands + hashes)
    without touching corpus text: a near-copy of a corpus doc is
    verified and dropped, a novel doc survives, and the returned state
    covers exactly corpus + novel docs."""
    from pandas_ai_spark.functions.dedup import (
        minhash_incremental, minhash_state)

    corpus = docs.limit(100)
    bands_t, hashes_t = minhash_state(corpus)
    seed_text = corpus.where(F.col("doc_id") == 0) \
        .select("text").collect()[0][0]
    batch = spark.createDataFrame(
        [(9001, seed_text + " tiny tail"),
         (9002, "an entirely novel document about orthogonal topics "
                "with no shared phrasing whatsoever in this corpus")],
        "doc_id long, text string")

    novel, up_bands, up_hashes = minhash_incremental(
        batch, bands_t, hashes_t, threshold=0.5)
    assert {r.doc_id for r in novel.collect()} == {9002}
    state_ids = {r.doc_id for r in
                 up_hashes.select("doc_id").distinct().collect()}
    assert 9002 in state_ids and 9001 not in state_ids
    assert len(state_ids) == 101


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Tables bucketed on the join key at write time join WITHOUT a
    shuffle: the sort-merge join plan contains no Exchange on either
    side — the pay-once repeated-join layout."""
    from pandas_ai_spark.sources.layout import write_bucketed

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet") \
        .select("o_orderkey", "o_custkey", "o_totalprice")
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet") \
        .select("c_custkey", "c_name")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(orders, "t_orders_b", "o_custkey", num_buckets=8,
                       path=str(tmp_path / "ob"))
        write_bucketed(cust, "t_cust_b", "c_custkey", num_buckets=8,
                       path=str(tmp_path / "cb"))
        j = spark.table("t_orders_b").join(
            spark.table("t_cust_b"),
            F.col("o_custkey") == F.col("c_custkey"))
        n = j.count()
        assert n == orders.join(
            cust, orders.o_custkey == cust.c_custkey).count() and n
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_cust_b")


def test_zorder_value_matches_python():
    from pandas_ai_spark.sources.layout import zorder_value  # noqa: F401
    # interleave checked via the full writer test below; here just the
    # bit math on known values: a=0b11, b=0b01 -> z=0b0111
    from pandas_ai_spark.session import get_session
    from pyspark.sql import functions as F

    spark = get_session()
    row = spark.range(1).select(
        zorder_value(F.lit(3).cast("long"), F.lit(1).cast("long"),
                     bits=4).alias("z")).collect()[0]
    assert row.z == 0b0111


def test_zorder_write_keeps_both_dims_tight(spark, tmp_path):
    """Z-ordered files cover compact regions of the (a, b) plane: the
    mean per-file span of BOTH columns stays well under the global
    span, while a plain range sort by `a` leaves `b` unclustered."""
    import itertools
    import random

    from pandas_ai_spark.sources.layout import (
        write_range_sorted, write_zordered)

    pts = list(itertools.product(range(64), range(64)))
    random.Random(3).shuffle(pts)
    df = spark.createDataFrame(pts, "a long, b long")

    def mean_spans(path):
        got = spark.read.parquet(path).select(
            "a", "b", F.input_file_name().alias("f"))
        rows = got.groupBy("f").agg(
            (F.max("a") - F.min("a")).alias("sa"),
            (F.max("b") - F.min("b")).alias("sb")).collect()
        return (sum(r.sa for r in rows) / len(rows) / 63.0,
                sum(r.sb for r in rows) / len(rows) / 63.0)

    write_zordered(df, str(tmp_path / "z"), "a", "b", num_files=16)
    sa, sb = mean_spans(str(tmp_path / "z"))
    assert sa < 0.6 and sb < 0.6, (sa, sb)

    write_range_sorted(df, str(tmp_path / "r"), "a", num_files=16)
    ra, rb = mean_spans(str(tmp_path / "r"))
    assert ra < 0.3 and rb > 0.9, (ra, rb)


def test_remove_boilerplate_lines_semantics(spark):
    """A line present in most docs vanishes from all of them; rare
    lines survive in original order; empty-after-cleaning docs keep
    zero lines... (never emitted rows with no kept lines)."""
    from pandas_ai_spark.functions.text import remove_boilerplate_lines

    hdr = "SITE HEADER"
    df = spark.createDataFrame(
        [(1, f"{hdr}\nalpha\nbeta"),
         (2, f"{hdr}\ngamma"),
         (3, f"{hdr}\ndelta\n{hdr}"),
         (4, hdr)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           remove_boilerplate_lines(df, max_doc_frac=0.5).collect()}
    assert out[1].text == "alpha\nbeta" and out[1].n_lines_kept == 2
    assert out[2].text == "gamma"
    assert out[3].text == "delta"  # repeated boilerplate fully removed
    assert 4 not in out  # nothing left -> doc drops out


def test_excise_duplicate_spans(spark):
    """A verbatim 8-gram span shared by two docs is removed from BOTH
    at every position; unique content survives in order; an unrelated
    doc is untouched; a doc that is all span drops out."""
    from pandas_ai_spark.functions.dedup import excise_duplicate_spans

    span = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(1, f"intro part {span} closing remark"),
         (2, f"{span} different ending here"),
         (3, "totally unrelated text body with enough words"),
         (4, span)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           excise_duplicate_spans(df, w=8).collect()}
    assert out[1].text == "intro part closing remark"
    assert out[1].n_tokens == 12 and out[1].n_kept == 4
    assert out[2].text == "different ending here"
    assert out[3].text.startswith("totally unrelated")
    assert out[3].n_kept == out[3].n_tokens
    assert 4 not in out


def test_train_bpe_matches_reference(spark):
    """Distributed BPE training == a pure-Python reference on the same
    normalized corpus (same tie-break: freq desc, then pair asc), and
    encoding with the learned merges shrinks token counts
    monotonically with more merges."""
    import collections

    from pandas_ai_spark.functions.bpe import END, encode_bpe, train_bpe
    from pandas_ai_spark.functions import text as tx

    corpus = [
        (1, "low lower lowest low low"),
        (2, "new newer newest new lower"),
        (3, "wide wider widest new low"),
        (4, "low low lower newer wide widest"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")

    # pure-python reference (Sennrich pseudocode)
    freqs = collections.Counter()
    for _, t in corpus:
        for w in t.split():
            freqs[tuple(list(w) + [END])] += 1
    ref = []
    for _ in range(12):
        pc = collections.Counter()
        for syms, f in freqs.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), f = best
        if f < 2:
            break
        ref.append((l, r, f))
        nxt = collections.Counter()
        for syms, fr in freqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt[tuple(out)] += fr
        freqs = nxt

    got = train_bpe(df, num_merges=12, min_freq=2)
    assert got == ref and len(got) >= 5
    # the distributed per-iteration path must agree with the driver loop
    dist = train_bpe(df, num_merges=12, min_freq=2, driver_vocab_limit=0)
    assert dist == ref

    few = encode_bpe(df, got[:2]).collect()
    many = encode_bpe(df, got).collect()
    n_few = {r.doc_id: r.n_bpe_tokens for r in few}
    n_many = {r.doc_id: r.n_bpe_tokens for r in many}
    assert all(n_many[d] <= n_few[d] for d in n_few)
    assert any(n_many[d] < n_few[d] for d in n_few)


def test_compression_ratio_separates_repetitive_text(spark):
    """Degenerate repetition compresses much harder than varied text;
    ratios are in (0, ~1.1]; empty text is safe."""
    from pandas_ai_spark.functions.text import compression_ratio

    df = spark.createDataFrame(
        [(1, "spam " * 200),
         (2, " ".join(f"w{i}x{i * 7 % 91}" for i in range(200))),
         (3, "")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in compression_ratio(df).collect()}
    assert out[1].ratio < 0.1
    assert out[2].ratio > 2 * out[1].ratio
    assert 0 < out[2].ratio <= 1.1
    assert out[3].raw_bytes == 0


def test_clean_corpus_full_pipeline_stages(spark):
    """End-to-end RefinedWeb-shape run with every optional stage on:
    boilerplate lines vanish, the degenerate doc fails the compression
    gate, exact+near dups collapse, shared spans get excised, the
    eval-leak doc is decontaminated away — and the survivor keeps its
    unique content."""
    from pandas_ai_spark.functions.pipeline import clean_corpus

    hdr = "COMMON SITE HEADER LINE"
    span = "alpha beta gamma delta epsilon zeta eta theta"
    good = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the quiet field tonight")
    corpus = spark.createDataFrame(
        [(1, f"{hdr}\n{good}"),
         (2, f"{hdr}\n{good}"),                       # exact dup of 1
         (3, f"{hdr}\nspam " + "spam " * 60),          # degenerate
         (4, f"{hdr}\nthe data pipeline processes {span} with care "
             "and the results are stored for later audit work"),
         (5, f"{hdr}\nanother system also handles {span} smoothly "
             "while keeping its own distinct trailing words here"),
         (6, f"{hdr}\nthis document quotes the secret eval answer "
             "sequence one two three four five six seven eight nine "
             "and some filler words to pass the quality filter")],
        "doc_id long, text string")
    eval_docs = spark.createDataFrame(
        [(100, "the secret eval answer sequence one two three four "
               "five six seven eight nine")],
        "doc_id long, text string")

    cleaned, stats = clean_corpus(
        corpus, min_quality=0.5, near_dup_threshold=0.8,
        remove_boilerplate=True, min_compression_ratio=0.3,
        excise_spans=True, span_w=8, eval_docs=eval_docs)
    rows = {r.doc_id: r.text for r in cleaned.collect()}

    assert set(rows) <= {1, 4, 5} and 1 in rows
    assert all(hdr not in t for t in rows.values())
    if 4 in rows and 5 in rows:  # span shared by exactly the two docs
        assert all(span not in t for t in rows.values())
    assert stats.removed["exact_dup"] >= 1
    assert stats.removed["too_compressible"] >= 1
    assert stats.removed["contaminated"] >= 1
    assert stats.final_docs == len(rows)


def test_audio_windows_layout(spark, docs):
    """Window starts advance by hop, cover the waveform tail, and short
    clips yield one truncated window; features are finite and bounded."""
    from pandas_ai_spark.functions import multimodal as mm

    media = docs.limit(4).select(
        "doc_id", F.encode("text", "utf-8").alias("media"))
    rows = sorted(mm.audio_windows(media, window=64, hop=32).collect(),
                  key=lambda r: (r.doc_id, r.window_idx))
    assert rows
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for did, ws in by_doc.items():
        assert [w.start_sample for w in ws] == \
            [i * 32 for i in range(len(ws))]
        # every window is float32 bytes, at most `window` samples
        assert all(len(bytes(w.pcm)) % 4 == 0 for w in ws)
        assert all(len(bytes(w.pcm)) <= 64 * 4 for w in ws)

    feats = {r.doc_id: r for r in
             mm.extract_audio_features(media).collect()}
    assert all(0 <= f.rms <= 1.0001 and 0 <= f.zcr <= 1
               for f in feats.values())

    with pytest.raises(ValueError):
        mm.audio_windows(media, window=10, hop=20)


def _tiny_wav_bytes(freq: float = 440.0, n: int = 800,
                    rate: int = 8000) -> bytes:
    """A real 16-bit PCM mono WAV, generated with the stdlib."""
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        frames = b"".join(
            struct.pack("<h", int(20000 * math.sin(2 * math.pi * freq
                                                   * i / rate)))
            for i in range(n))
        w.writeframes(frames)
    return buf.getvalue()


def test_audio_real_decoder_on_actual_wav(spark):
    """decoder='real' decodes a genuine PCM WAV through the stdlib wave
    path (soundfile, when installed, takes over transparently): sample
    count matches the file, RMS of a full-scale sine ≈ 1/√2, and
    decoder='auto' picks the real path for RIFF blobs."""
    import numpy as np

    from pandas_ai_spark.functions import multimodal as mm

    blob = _tiny_wav_bytes()
    media = spark.createDataFrame([(1, bytearray(blob))],
                                  "doc_id long, media binary")
    feats = {r.doc_id: r for r in
             mm.extract_audio_features(media, decoder="real").collect()}
    assert feats[1].n_samples == 800
    # 20000/32768 amplitude sine → rms = amp/√2
    assert abs(feats[1].rms - (20000 / 32768) / np.sqrt(2)) < 0.01

    auto = {r.doc_id: r for r in
            mm.extract_audio_features(media, decoder="auto").collect()}
    assert auto[1].n_samples == 800  # RIFF → real path, not the fake

    wins = mm.audio_windows(media, window=400, hop=200,
                            decoder="real").collect()
    assert [w.start_sample for w in wins] == [0, 200, 400]

    # direct decoder check: stereo + 8-bit widths also handled
    w8 = mm._stdlib_wav_decode(blob)
    assert len(w8) == 800 and abs(float(np.max(w8)) - 20000 / 32768) < 0.01


def test_image_real_decoder_gating(spark):
    """decoder='real' requires PIL: raises DecoderUnavailable when the
    package is absent; when present, a real PNG round-trips."""
    from pandas_ai_spark.functions import multimodal as mm

    try:
        import PIL  # noqa: F401
        have_pil = True
    except ImportError:
        have_pil = False

    if not have_pil:
        with pytest.raises(mm.DecoderUnavailable, match="PIL"):
            mm._resolve_image_decoder("real")
        # auto degrades to the deterministic fake
        assert mm._resolve_image_decoder("auto") is mm._fake_decode_image
        return

    # real path (runs only where pillow is installed)
    import io

    import numpy as np
    from PIL import Image

    buf = io.BytesIO()
    Image.fromarray(np.full((4, 4, 3), 128, dtype=np.uint8)).save(
        buf, format="PNG")
    media = spark.createDataFrame([(1, bytearray(buf.getvalue()))],
                                  "doc_id long, media binary")
    feats = {r.doc_id: r.feat for r in
             mm.extract_image_features(media, decoder="real").collect()}
    assert feats[1][:3] == [128.0, 128.0, 128.0]
    assert feats[1][3:] == [4.0, 4.0]


def test_bucketed_minhash_state_join_no_state_exchange(spark, docs, tmp_path):
    """Incremental dedup against BUCKETED state: the corpus-side band
    table arrives pre-partitioned (bucketBy at write time), so the
    batch join plan has no Exchange under the state-side scan — the
    batch pays the only shuffle. Results identical to in-memory state."""
    from pandas_ai_spark.functions import dedup as dd
    from pandas_ai_spark.functions.state_store import (load_minhash_state,
                                                       save_minhash_state)

    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    bands, hashes = dd.minhash_state(corpus)
    save_minhash_state(bands, hashes, "t_mh_state", str(tmp_path / "mh"),
                       num_buckets=4)
    try:
        b_bands, b_hashes = load_minhash_state(spark, "t_mh_state")
        # same state content
        assert b_bands.count() == bands.count()
        assert b_hashes.count() == hashes.count()

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            batch_bands, _ = dd.minhash_state(batch)
            j = batch_bands.join(b_bands.withColumnRenamed(
                "doc_id", "corpus_id"), ["band", "bsig"])
            plan = j._jdf.queryExecution().executedPlan().toString()
            # exactly ONE exchange: the batch side; none under the
            # bucketed state scan
            assert plan.count("Exchange hashpartitioning") == 1, plan
            j.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

        # end-to-end: incremental result matches the in-memory-state run
        mem = dd.minhash_incremental(batch, bands, hashes, threshold=0.5)
        disk = dd.minhash_incremental(batch, b_bands, b_hashes,
                                      threshold=0.5)
        assert ({r.doc_id for r in mem[0].select("doc_id").collect()}
                == {r.doc_id for r in disk[0].select("doc_id").collect()})
    finally:
        spark.sql("DROP TABLE IF EXISTS t_mh_state_bands")
        spark.sql("DROP TABLE IF EXISTS t_mh_state_hashes")


def test_bucketed_embedding_lsh_state_roundtrip(spark, emb, tmp_path):
    """Embedding LSH state saved bucketed on bkt reloads identically and
    feeds embedding_near_dup_pairs(state=...) with the same result."""
    from pandas_ai_spark.functions import similarity as sim
    from pandas_ai_spark.functions.state_store import (
        load_embedding_lsh_state, save_embedding_lsh_state)

    k, L = 8, 6
    state = sim.embedding_lsh_state(emb, num_planes=k, num_tables=L)
    save_embedding_lsh_state(state, "t_emb_state", str(tmp_path / "es"),
                             num_buckets=4)
    try:
        loaded = load_embedding_lsh_state(spark, "t_emb_state")
        assert loaded.count() == emb.count() * L
        fresh = {(r.id_a, r.id_b) for r in sim.embedding_near_dup_pairs(
            emb, threshold=0.9, num_planes=k, num_tables=L).collect()}
        reused = {(r.id_a, r.id_b) for r in sim.embedding_near_dup_pairs(
            emb, threshold=0.9, num_planes=k, num_tables=L,
            state=loaded).collect()}
        assert reused == fresh
    finally:
        spark.sql("DROP TABLE IF EXISTS t_emb_state_lsh")

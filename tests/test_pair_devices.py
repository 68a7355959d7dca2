"""The near-duplicate family's shared devices: the candidate-pair former
``dedup._bucket_pairs`` against a brute-force reference, MinHash's single
Arrow pass, and the lazy build of the fan-out guard's callers."""

import sys

from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, "tools")


def _build_jobs(spark, group, build):
    """Run ``build`` in job group ``group``; return (its result, the
    Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "lazy check")
    try:
        out = build()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)
    return out, jobs


# (id, k1, k2) rows: ids sharing several keys, repeated (id, key) rows,
# one-member buckets, NULL keys and NULL ids
_index = st.lists(
    st.tuples(st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
              st.one_of(st.none(), st.integers(min_value=0, max_value=2)),
              st.integers(min_value=0, max_value=1)),
    min_size=0, max_size=14)


@given(_index)
@settings(max_examples=8, deadline=None)
def test_bucket_pairs_equals_brute_force(spark, rows):
    from pandas_ai_spark.functions.dedup import _bucket_pairs

    df = spark.createDataFrame(rows, "id long, k1 int, k2 int")
    # one (a < b) row per pair of index rows holding the same key: a
    # NULL key or a NULL id never pairs, and a repeated (id, key) row
    # pairs once per copy
    live = [(i, (k1, k2)) for i, k1, k2 in rows
            if i is not None and k1 is not None]
    want = sorted((a, b) for a, ka in live for b, kb in live
                  if ka == kb and a < b)
    got = sorted(tuple(r) for r in
                 _bucket_pairs(df, "id", ["k1", "k2"]).collect())
    assert got == want


def test_attach_sides_names_both_sides(spark):
    from pandas_ai_spark.functions.dedup import _attach_sides

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    per_id = spark.createDataFrame([(1, "x"), (2, "y")],
                                   "doc_id long, t string")
    corpus = spark.createDataFrame([(3, "z")], "doc_id long, t string")
    got = sorted(tuple(r) for r in _attach_sides(
        pairs, per_id, "doc_id").select("id_a", "id_b", "t_a", "t_b")
        .collect())
    assert got == [(1, 2, "x", "y")]  # 3 has no row: its pair drops
    got = [tuple(r) for r in _attach_sides(
        pairs, per_id, "doc_id", corpus).select("t_a", "t_b").collect()]
    assert got == [("y", "z")]


def test_minhash_dedup_pairs_one_python_pass(spark):
    # candidates and verify read ONE persisted fused state: the plan
    # holds one distinct Python-UDF evaluation over the text column
    from explain_query import py_evals

    from pandas_ai_spark.functions.cache import release_operator_caches
    from pandas_ai_spark.functions.dedup import minhash_dedup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " today"), (3, "something else entirely"),
         (4, base)], "doc_id long, text string")
    try:
        pairs = minhash_dedup_pairs(docs, threshold=0.5, num_hashes=64,
                                    bands=32)
        assert py_evals(pairs) == 1
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
    finally:
        release_operator_caches()
    assert got == {(1, 2), (1, 4), (2, 4)}


def test_excise_duplicate_spans_exchange_input_builds_zero_jobs(spark):
    # an exchange-fed input is left as it is instead of having its
    # partition count read, which would run the exchange under AQE
    from pandas_ai_spark.functions.dedup import excise_duplicate_spans

    span = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(i, f"doc{i} {span} end{i}") for i in range(6)],
        "doc_id long, text string").repartition(3, "doc_id")
    out, jobs = _build_jobs(spark, "excise_build",
                            lambda: excise_duplicate_spans(docs))
    assert jobs == []
    got = {r.doc_id: r.text for r in out.collect()}
    assert got == {i: f"doc{i} end{i}" for i in range(6)}


def test_poisson_bootstrap_exchange_input_builds_zero_jobs(spark):
    from pandas_ai_spark.functions.stats import poisson_bootstrap_ci

    df = spark.createDataFrame(
        [(i, float(i % 7), "g%d" % (i % 2)) for i in range(40)],
        "rid long, v double, g string").repartition(3, "rid")
    out, jobs = _build_jobs(
        spark, "bootstrap_build",
        lambda: poisson_bootstrap_ci(df, "v", "rid", by=["g"], B=8))
    assert jobs == []
    assert out.count() == 2

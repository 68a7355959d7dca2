"""The near-duplicate family's shared devices: the candidate-pair former
``dedup._bucket_pairs`` against a brute-force reference, MinHash's single
Arrow pass, the fan-out guard (its callers' lazy build, its view through
broadcast joins) and which table handles of the query registry carry a
fan-out."""

import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from conftest import SF_SMOKE, build_jobs

sys.path.insert(0, "tools")


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
    out, jobs = build_jobs(spark, "excise_build",
                           lambda: excise_duplicate_spans(docs))
    assert jobs == []
    got = {r.doc_id: r.text for r in out.collect()}
    assert got == {i: f"doc{i} end{i}" for i in range(6)}


def test_poisson_bootstrap_exchange_input_builds_zero_jobs(spark):
    from pandas_ai_spark.functions.stats import poisson_bootstrap_ci

    df = spark.createDataFrame(
        [(i, float(i % 7), "g%d" % (i % 2)) for i in range(40)],
        "rid long, v double, g string").repartition(3, "rid")
    out, jobs = build_jobs(
        spark, "bootstrap_build",
        lambda: poisson_bootstrap_ci(df, "v", "rid", by=["g"], B=8))
    assert jobs == []
    assert out.count() == 2


def test_permutation_test_exchange_input_builds_zero_jobs(spark):
    from pandas_ai_spark.functions.stats import permutation_test

    df = spark.createDataFrame(
        [(i, float(i % 7), "ab"[i % 2], "g%d" % (i % 4 // 2))
         for i in range(40)],
        "rid long, v double, arm string, g string").repartition(3, "rid")
    out, jobs = build_jobs(
        spark, "permutation_build",
        lambda: permutation_test(df, "v", "arm", "a", "b", ["rid"],
                                 by=["g"], n_perm=8))
    assert jobs == []
    assert out.count() == 2


def test_table_handles_fan_out_documents_only(spark):
    # lineitem and orders are read as scanned; documents keeps its
    # table-level fan-out whenever its scan is narrower than the cores.
    # Building a handle runs no job beyond the parquet schema read
    # that a bare spark.read.parquet runs too.
    import __spark_entry__ as entry

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    memo = entry._T_MEMO.setdefault(spark, {})
    handles = {}
    for t in ("lineitem", "orders", "documents"):
        memo.pop((SF_SMOKE, t), None)
        handles[t], jobs = build_jobs(
            spark, f"handle_{t}", lambda: entry._t(spark, SF_SMOKE, t))
        _, read_jobs = build_jobs(
            spark, f"read_{t}", lambda: entry._t_load(spark, SF_SMOKE, t))
        assert len(jobs) == len(read_jobs)
    assert "Exchange" not in plan(handles["lineitem"])
    assert "Exchange" not in plan(handles["orders"])
    narrow = (entry._t_raw(spark, SF_SMOKE, "documents").rdd
              .getNumPartitions() < spark.sparkContext.defaultParallelism)
    assert ("Exchange" in plan(handles["documents"])) == narrow


def test_fanout_sees_through_broadcast_joins(spark):
    # a narrow scan broadcast-joined to a small table is still narrow:
    # the guard counts the stream side's file splits without running
    # the broadcast; a shuffle-fed input is left as it is
    from pandas_ai_spark.functions.skew import _fanout_if_narrow

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    part = spark.read.parquet(f"{SF_SMOKE}/part.parquet")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    n = spark.sparkContext.defaultParallelism
    if li.rdd.getNumPartitions() >= n:
        pytest.skip("the scan is not narrower than the cores here")
    out, jobs = build_jobs(spark, "fanout_broadcast",
                           lambda: _fanout_if_narrow(joined, "l_orderkey"))
    assert jobs == []
    assert "REPARTITION_BY_NUM" in \
        out._jdf.queryExecution().executedPlan().toString()
    spread = joined.repartition(n, "l_orderkey").select("l_orderkey")
    assert _fanout_if_narrow(spread, "l_orderkey") is spread

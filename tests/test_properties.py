"""Property-based tests (hypothesis) — beyond the reference's test
strategy: the security gates and format translators must be total
functions (never crash) and must uphold their invariants on arbitrary
input, not just the curated cases."""

import math
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from pandas_ai_spark.plans.transformations import strftime_to_spark
from pandas_ai_spark.sql import is_sql_query_safe, sanitize_relation_name

WRITE_KEYWORDS = ["INSERT", "UPDATE", "DELETE", "DROP", "CREATE", "ALTER",
                  "TRUNCATE", "GRANT", "MERGE", "ATTACH", "COPY", "VACUUM"]


@given(st.text(max_size=500))
@settings(max_examples=300, deadline=None)
def test_sanitizer_total(s):
    assert is_sql_query_safe(s) in (True, False)


@given(st.sampled_from(WRITE_KEYWORDS), st.text(max_size=100))
@settings(max_examples=200, deadline=None)
def test_write_statements_always_blocked(kw, rest):
    assert not is_sql_query_safe(f"{kw} {rest}")


@given(st.sampled_from(WRITE_KEYWORDS), st.text(max_size=60))
@settings(max_examples=200, deadline=None)
def test_keyword_outside_literal_blocks_select(kw, rest):
    # a write keyword anywhere outside a string literal must block the
    # query even when it starts with SELECT
    rest = rest.replace("'", "")
    assert not is_sql_query_safe(f"SELECT * FROM t WHERE {kw} {rest}")


@given(st.text(max_size=200))
@settings(max_examples=300, deadline=None)
def test_semicolon_stacking_always_blocked(s):
    assert not is_sql_query_safe(f"SELECT 1; {s};")


@given(st.text(min_size=1, max_size=200))
@settings(max_examples=300, deadline=None)
def test_relation_name_always_valid_identifier(s):
    out = sanitize_relation_name(s)
    assert re.fullmatch(r"[a-z0-9_][a-z0-9_]*", out), out
    assert len(out) <= 66


@given(st.text(alphabet=st.characters(codec="utf-8"), max_size=50))
@settings(max_examples=300, deadline=None)
def test_strftime_translation_total(fmt):
    out = strftime_to_spark(fmt)
    # every ASCII letter in the output is either part of a known pattern
    # or quoted — unbalanced quotes would crash Spark's formatter
    assert out.count("'") % 2 == 0




# ---------------------------------------------------------------------------
# Round-6 operator invariants (Spark-backed: few examples, hard laws)
# ---------------------------------------------------------------------------

_vals = st.lists(st.floats(min_value=0.0, max_value=1e6,
                           allow_nan=False, allow_infinity=False),
                 min_size=1, max_size=12)


@given(_vals, st.lists(st.booleans(), min_size=1, max_size=12))
@settings(max_examples=5, deadline=None)
def test_kaplan_meier_monotone_in_unit_interval(spark, ds, es):
    from pandas_ai_spark.functions.survival import kaplan_meier

    n = min(len(ds), len(es))
    df = spark.createDataFrame(
        [(ds[i], int(es[i])) for i in range(n)], "d double, e int")
    rows = kaplan_meier(df, "d", "e").collect()
    surv = [r.survival for r in rows]  # already ordered by t
    assert all(0.0 <= s <= 1.0 + 1e-12 for s in surv)
    assert all(a >= b - 1e-12 for a, b in zip(surv, surv[1:]))
    assert rows[0].n_risk == n  # everyone at risk at the first time


@given(_vals)
@settings(max_examples=5, deadline=None)
def test_gini_bounded(spark, vs):
    from pandas_ai_spark.functions.stats import gini_coefficient

    df = spark.createDataFrame([(v,) for v in vs], "v double")
    g = gini_coefficient(df, "v").collect()[0]
    if g.gini is not None:  # all-zero groups surface NULL
        n = len(vs)
        assert -1e-9 <= g.gini <= (n - 1) / n + 1e-9


@given(_vals, st.lists(st.floats(min_value=0.01, max_value=100.0,
                                 allow_nan=False), min_size=1,
                       max_size=12))
@settings(max_examples=5, deadline=None)
def test_weighted_median_within_range(spark, vs, ws):
    from pandas_ai_spark.functions.stats import weighted_median

    n = min(len(vs), len(ws))
    df = spark.createDataFrame(
        [("g", vs[i], ws[i]) for i in range(n)],
        "g string, v double, w double")
    r = weighted_median(df, "g", "v", "w").collect()[0]
    assert min(vs[:n]) - 1e-9 <= r.wmedian <= max(vs[:n]) + 1e-9


@given(_vals, _vals)
@settings(max_examples=5, deadline=None)
def test_ks_statistic_in_unit_interval(spark, a, b):
    from pandas_ai_spark.functions.stats import ks_test

    rows = [("g", v, "a") for v in a] + [("g", v, "b") for v in b]
    df = spark.createDataFrame(rows, "g string, v double, s string")
    r = ks_test(df, "g", "v", "s", "a", "b").collect()[0]
    assert -1e-12 <= r.d_stat <= 1.0 + 1e-12


@given(st.lists(st.floats(min_value=-1e6, max_value=1e6,
                          allow_nan=False), min_size=2, max_size=20),
       st.integers(min_value=2, max_value=6))
@settings(max_examples=5, deadline=None)
def test_quantile_buckets_range_and_cover(spark, vs, k):
    from pandas_ai_spark.functions.stats import quantile_buckets

    df = spark.createDataFrame([(v,) for v in vs], "v double")
    rows = quantile_buckets(df, "v", n_buckets=k).collect()
    assert all(1 <= r.bucket <= k for r in rows)


# ---------------------------------------------------------------------------
# Round-10 bucketed rank-path laws: distributed=True must be
# EXTENSIONALLY EQUAL to the window form on arbitrary input
# (ties, NULLs, degenerate groups) — not just on the curated cases.
# ---------------------------------------------------------------------------

# ties, NULL, NaN and both signed zeros (equal to each other)
_ranks = st.lists(
    st.one_of(st.none(),
              st.integers(min_value=0, max_value=6)
              .map(lambda i: float(i)),
              st.sampled_from([-0.0, 0.0, float("nan")])),
    min_size=2, max_size=16)


# (value, weight) cells: ties (repeated values merge into one cell),
# NULL, NaN and +-inf values, weights > 1
_cells = st.lists(
    st.tuples(st.one_of(st.none(),
                        st.integers(min_value=0, max_value=4)
                        .map(lambda i: float(i)),
                        st.sampled_from([float("nan"), float("inf"),
                                         float("-inf")])),
              st.integers(min_value=1, max_value=3)),
    min_size=1, max_size=10)


@given(_ranks, st.integers(min_value=2, max_value=5), _cells)
@settings(max_examples=5, deadline=None)
def test_distributed_midrank_equals_reference(spark, vs, buckets, cells):
    from pyspark.sql import functions as F

    from pandas_ai_spark.functions.stats import _midranks

    df = spark.createDataFrame([("g", v) for v in vs],
                               "g string, v double")

    # Spark's order: NULLS FIRST, NaN above every number, -0.0 == 0.0
    def key(x):
        return (0,) if x is None else (2,) if math.isnan(x) else (1, x)

    # reference doubled midrank and tie count
    def ref(x):
        lt = sum(1 for o in vs if key(o) < key(x))
        eq = sum(1 for o in vs if key(o) == key(x))
        return 2 * lt + eq + 1, eq

    want = sorted((key(v), *ref(v)) for v in vs)
    for dist in (False, True):
        got = sorted((key(r.v), r.r2, r.t) for r in
                     _midranks(df, ["v"], ["r2"], ["g"], dist,
                               buckets=buckets, tie_cols=["t"])
                     .collect())
        assert got == want  # no row dropped, on either device

    # weighted: on both devices, the (g, v) cell grain ranked with its
    # row count as the weight equals the unweighted expanded rows
    raw = spark.createDataFrame([("g", v, w) for v, w in cells],
                                "g string, v double, w bigint")
    grain = raw.groupBy("g", "v").agg(F.sum("w").alias("w"))
    rows = raw.select("g", "v", F.explode(
        F.sequence(F.lit(1), F.col("w").cast("int"))).alias("i"))
    for dist in (False, True):
        ranked = _midranks(grain, ["v"], ["r2"], ["g"], dist,
                           buckets=buckets, tie_cols=["t"],
                           weight="w")
        got = {str(r.v): (r.r2, r.t) for r in ranked.collect()}
        expanded = _midranks(rows, ["v"], ["r2"], ["g"], dist,
                             buckets=buckets, tie_cols=["t"])
        want = {str(r.v): (r.r2, r.t) for r in expanded.collect()}
        assert got == want
        assert len(got) == grain.count()


@given(st.lists(st.tuples(st.sampled_from("ab"),
                          st.integers(min_value=0, max_value=5)),
                min_size=4, max_size=20),
       st.integers(min_value=2, max_value=4))
@settings(max_examples=5, deadline=None)
def test_mann_whitney_distributed_equals_window(spark, rows, buckets):
    from pandas_ai_spark.functions.stats import mann_whitney_u

    df = spark.createDataFrame(
        [(s, float(v)) for s, v in rows], "s string, v double")
    a = [tuple(r) for r in
         mann_whitney_u(df, "v", "s", "a", "b").collect()]
    b = [tuple(r) for r in
         mann_whitney_u(df, "v", "s", "a", "b", distributed=True,
                        buckets=buckets).collect()]
    assert a == b


@given(st.lists(st.floats(min_value=1e-6, max_value=1.0,
                          allow_nan=False), min_size=1, max_size=15),
       st.integers(min_value=2, max_value=4))
@settings(max_examples=5, deadline=None)
def test_bh_fdr_distributed_equals_window(spark, ps, buckets):
    from pandas_ai_spark.functions.stats import bh_fdr

    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(ps)], "hid long, p double")
    a = sorted(tuple(r) for r in
               bh_fdr(df, "p", tiebreak_cols=["hid"]).collect())
    b = sorted(tuple(r) for r in
               bh_fdr(df, "p", tiebreak_cols=["hid"], distributed=True,
                      buckets=buckets).collect())
    assert a == b

"""Hashing-trick linear classification as a pure-JVM projection.

A fasttext-style linear text classifier is, at inference time, just
``score(doc) = σ(Σ_t w[h(t) mod D])`` — a per-token hash, a weight
lookup, a sum. At 100 TB that must NOT be a Python UDF or a vocabulary
join: the hashing trick removes the vocabulary entirely (no shuffle, no
broadcast dictionary needed when weights are a *function* of the
bucket), and the whole score folds into whole-stage codegen as one
``aggregate`` over the token array.

Here the weight table is a deterministic function of the bucket id (a
stand-in for trained weights — this sandbox has no labeled data); a real
deployment swaps ``_bucket_weight`` for an ``element_at`` lookup into a
broadcast ``array<double>`` literal of trained weights, keeping the
identical plan shape.

The token hash is md5-based so the score is reproducible in any engine
with md5: buckets come from the first 8 md5 hex chars (uint32, one
``conv`` — see :func:`md5_bucket`); :func:`md5_u64` additionally
provides the full little-endian u64 family the dedup oracles use
(DuckDB ``md5_number_upper``) for callers that need 64-bit range.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandas_ai_spark.functions.skew import _fanout_if_narrow
from pandas_ai_spark.functions.stats import _attach, _cell_pairs
from pandas_ai_spark.functions.text import normalize_text, whitespace_tokens


def md5_u64(col: Column) -> Column:
    """First 8 bytes of md5(col) as a little-endian unsigned 64-bit int
    (DECIMAL(20,0)) — equals DuckDB's ``md5_number_upper`` and Python's
    ``int.from_bytes(md5(s).digest()[:8], 'little')``. All JVM: md5 hex
    → byte-reversed first 16 hex chars → base-16 conv."""
    h = F.md5(col)
    rev = F.concat(*[F.substring(h, p, 2) for p in (15, 13, 11, 9, 7, 5, 3, 1)])
    return F.conv(rev, 16, 10).cast("decimal(20,0)")


def md5_bucket(col: Column, n_buckets: int) -> Column:
    """Token → hash bucket: the first 8 md5 hex chars (big-endian first
    4 digest bytes) as a uint32, mod ``n_buckets``. ONE substring + ONE
    conv per token — measured 2.2× faster than the full little-endian
    u64 form (:func:`md5_u64`), and just as portable: DuckDB computes
    the identical bucket as ``('0x' || substr(md5(t),1,8))::BIGINT %
    n`` (verified in the q54 oracle)."""
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
            % n_buckets)


def hashed_feature_score(col: Column, n_buckets: int = 2001) -> Column:
    """Mean hashed-bucket weight of the document's tokens, in [−1, 1]:
    the linear-model decision value. ``n_buckets`` odd keeps the weight
    distribution zero-centred. Empty docs score 0.

    One fold over the token array carries both the integer weight sum
    and the token count (Catalyst does no CSE between sibling
    expressions, so a separate ``size(toks)`` would re-run the whole
    normalize+split chain); the single float division happens in the
    finish lambda, so engines can't diverge on summation order."""
    toks = whitespace_tokens(normalize_text(col))
    centre = (n_buckets - 1) // 2
    return F.aggregate(
        toks,
        F.struct(F.lit(0).cast("long").alias("ws"),
                 F.lit(0).alias("n")),
        lambda a, t: F.struct(
            (a["ws"] + md5_bucket(t, n_buckets) - F.lit(centre))
             .alias("ws"),
            (a["n"] + 1).alias("n")),
        lambda a: a["ws"].cast("double")
                  / (F.greatest(a["n"], F.lit(1)) * F.lit(float(centre))),
    )


def classify(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id", threshold: float = 0.0,
             n_buckets: int = 2001) -> DataFrame:
    """Score every document and attach the binary label — one narrow
    projection, no shuffle, no Python."""
    score = hashed_feature_score(F.col(text_col), n_buckets)
    return df.select(
        F.col(id_col),
        score.alias("score"),
        (score > F.lit(threshold)).alias("label"),
    )


def calibration_table(df: DataFrame, score_col: str, outcome_col: str,
                      n_buckets: int = 10,
                      approx: bool | None = None) -> DataFrame:
    """Classifier reliability table: scores bucketed into
    ``n_buckets`` equi-population bins
    (:func:`~pandas_ai_spark.functions.stats.quantile_buckets` — edge
    scalars + row-local scoring, never a single-task global ntile),
    then per bucket ``(bucket, n, avg_score, pos_rate)`` — a
    well-calibrated model tracks avg_score ≈ pos_rate per bin; the
    audit every score-gated data pipeline (quality filtering by
    classifier) should run before trusting a threshold.
    """
    from pandas_ai_spark.functions.stats import quantile_buckets

    b = quantile_buckets(df, score_col, n_buckets=n_buckets,
                         approx=approx)
    return (b.groupBy("bucket")
            .agg(F.count("*").alias("n"),
                 F.avg(F.col(score_col).cast("double"))
                  .alias("avg_score"),
                 F.avg(F.col(outcome_col).cast("double"))
                  .alias("pos_rate")))


def woe_iv(df: DataFrame, feature_col: str, target_expr,
           smoothing: float = 0.5) -> DataFrame:
    """Weight-of-evidence / information-value table for a categorical
    feature against a binary target — the classical credit-scoring
    feature screen (Siddiqi): per category
    ``(feature, n, events, nonevents, woe, iv)`` where

    - ``woe = ln(pe / pne)`` with the smoothed shares
      ``pe = (events + s) / (E + s)``,
      ``pne = (nonevents + s) / (NE + s)`` (``s`` = ``smoothing``,
      the standard adjusted-WOE guard against empty cells), and
    - ``iv = (pe - pne) * woe`` — the category's contribution;
      ``sum(iv)`` over the table is the feature's information value
      (rule of thumb: < 0.02 useless, > 0.3 strong).

    ``target_expr`` is a SQL boolean (evaluated row-local, rides the
    scan); NULL targets count as non-events via an explicit coalesce.

    Determinism: events/nonevents/E/NE are exact integer sums; every
    float is derived row-local from those integers, so results are
    bit-identical across engines regardless of aggregation order.

    Scale shape: ONE map-side-combined aggregation on the feature key
    (shuffle bounded by the category count); the global totals are a
    rollup of that tiny category table folded back with a broadcast
    cross join — no second scan, no window.
    """
    if smoothing <= 0:
        raise ValueError("smoothing must be > 0")
    from .fold import fold_scalars

    y = F.coalesce(F.expr(target_expr), F.lit(False)).cast("bigint")
    cats = df.groupBy(F.col(feature_col).alias("feature")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(y).cast("bigint").alias("events"))
    cats = cats.withColumn(
        "nonevents", (F.col("n") - F.col("events")).cast("bigint"))
    totals = cats.agg(
        F.sum("events").cast("bigint").alias("__e_tot"),
        F.sum("nonevents").cast("bigint").alias("__ne_tot"))
    s = float(smoothing)
    joined = fold_scalars(cats, totals)
    pe = ((F.col("events").cast("double") + F.lit(s))
          / (F.col("__e_tot").cast("double") + F.lit(s)))
    pne = ((F.col("nonevents").cast("double") + F.lit(s))
           / (F.col("__ne_tot").cast("double") + F.lit(s)))
    woe = F.log(pe / pne)
    return joined.select(
        "feature", "n", "events", "nonevents",
        woe.alias("woe"),
        ((pe - pne) * woe).alias("iv"))


def loo_target_encode(df: DataFrame, cat_col: str, target_expr,
                      out_col: str = "encoded") -> DataFrame:
    """Leave-one-out target encoding — the leakage-safe form of mean
    target encoding: each row's category is encoded as the mean target
    of the OTHER rows in that category,
    ``(sum_y - y_row) / (n - 1)`` (NULL for singleton categories —
    there is nothing to average), so a row never sees its own label
    (the train-time leak plain mean-encoding commits; Micci-Barreca's
    holdout scheme in its exact per-row form).

    ``target_expr`` is a SQL boolean or numeric expression; booleans
    encode as 0/1, NULLs as 0. A NULL category is a category like any
    other (the fold-back join is null-safe), so NULL rows encode
    against the other NULL rows rather than always yielding NULL.

    Scale shape: ONE map-side-combined aggregation builds the
    per-category ``(sum, count)`` table (shuffle bounded by category
    count), then a broadcast join folds it back — the encode itself
    is row-local; no window, no sort, no second shuffle (``<=>`` is
    an equi-predicate, so the broadcast HASH join is preserved).
    Appends ``out_col`` (and nothing else) to the input schema.
    """
    from pyspark.sql.functions import broadcast

    y = F.coalesce(F.expr(target_expr).cast("double"), F.lit(0.0))
    stats = df.groupBy(F.col(cat_col).alias("__cat")).agg(
        F.sum(y).alias("__sum_y"),
        F.count("*").cast("bigint").alias("__n_cat"))
    out = df.join(broadcast(stats),
                  F.col(cat_col).eqNullSafe(F.col("__cat")), "left")
    enc = F.when(
        F.col("__n_cat") > 1,
        (F.col("__sum_y") - y)
        / (F.col("__n_cat") - F.lit(1)).cast("double"))
    return out.withColumn(out_col, enc) \
              .drop("__cat", "__sum_y", "__n_cat")


def class_balance_weights(df: DataFrame, label_col: str,
                          beta: float = 0.999) -> DataFrame:
    """Class-balanced loss weights via the effective number of
    samples (Cui et al., CVPR'19): per class
    ``weight = (1 - beta) / (1 - beta^n)`` — the reweighting a
    training pipeline applies when the label distribution is skewed
    (beta -> 1 approaches inverse-frequency, beta -> 0 approaches
    uniform). ``weight_norm`` rescales so the weights sum to the
    class count (the convention that keeps the overall loss scale
    unchanged). One row per class ``(label, n, weight,
    weight_norm)``; NULL labels form their own class.

    Scale shape: ONE map-side-combined label aggregation (shuffle
    bounded by the class count) plus a scalar fold of the weight sum
    — the weight itself is row-local from the exact integer count.
    """
    if not (0.0 < beta < 1.0):
        raise ValueError("beta must be in (0, 1)")
    from .fold import fold_scalars

    b = float(beta)
    counts = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").cast("bigint").alias("n"))
    w = ((F.lit(1.0) - F.lit(b))
         / (F.lit(1.0) - F.pow(F.lit(b), F.col("n").cast("double"))))
    weighted = counts.withColumn("weight", w)
    totals = weighted.agg(
        F.sum("weight").alias("__w_sum"),
        F.count("*").cast("bigint").alias("__k"))
    return fold_scalars(weighted, totals).select(
        "label", "n", "weight",
        (F.col("weight") * F.col("__k").cast("double")
         / F.col("__w_sum")).alias("weight_norm"))


def cohens_kappa(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cohen's kappa inter-rater agreement over two categorical
    rating columns — the labeling-QA gate a training-data annotation
    pipeline runs before trusting labels: one row
    ``(n, po, pe, kappa)`` where ``po`` is observed agreement,
    ``pe = sum_c (n_a_c * n_b_c) / N^2`` chance agreement, and
    ``kappa = (po - pe) / (1 - pe)`` (NULL when pe = 1 — both raters
    constant). Rows where either rating is NULL are excluded.

    Determinism: agreement and both marginal products are exact
    bigint sums; every ratio derives row-local — bit-identical
    across engines.

    Scale shape: one scalar (N, agree) aggregation over the pair
    stream; two map-side-combined marginal aggregations (bounded by
    category counts) joined on the category and collapsed to the
    single ``pe`` numerator; two scalar folds stitch the one-row
    results — nothing is collected.
    """
    from .fold import fold_scalars

    a, b = F.col(col_a), F.col(col_b)
    base = df.where(a.isNotNull() & b.isNotNull()).select(
        a.alias("__a"), b.alias("__b"))
    tot = base.agg(
        F.count("*").cast("bigint").alias("__n"),
        F.sum((F.col("__a") == F.col("__b")).cast("bigint"))
         .cast("bigint").alias("__agree"))
    ma = base.groupBy(F.col("__a").alias("__c")).agg(
        F.count("*").cast("bigint").alias("__na"))
    mb = base.groupBy(F.col("__b").alias("__c")).agg(
        F.count("*").cast("bigint").alias("__nb"))
    pe_num = (ma.join(mb, "__c")
              .agg(F.sum(F.col("__na") * F.col("__nb"))
                   .cast("bigint").alias("__pe_num")))
    j = fold_scalars(tot, pe_num)
    n = F.col("__n").cast("double")
    po = F.col("__agree").cast("double") / n
    pe = F.col("__pe_num").cast("double") / (n * n)
    return j.select(
        F.col("__n").alias("n"),
        po.alias("po"),
        pe.alias("pe"),
        F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe))
         .alias("kappa"))


def classification_report(df: DataFrame, label_col: str,
                          pred_col: str) -> DataFrame:
    """Per-class precision / recall / F1 from a (truth, prediction)
    pair stream — the evaluation table for any classifier-gated
    pipeline stage (quality filters, language id, routing): one row
    per class observed on EITHER side,
    ``(cls, n_true, n_pred, tp, precision, recall, f1)`` with NULL
    precision for never-predicted classes, NULL recall for
    never-true classes, and NULL f1 when undefined (p + r = 0 or
    either side NULL). Rows with a NULL label or prediction are
    excluded.

    Determinism: the confusion cells are one exact integer
    aggregation; every metric derives row-local from those counts.

    Scale shape: ONE map-side-combined (label, pred) cell
    aggregation (the only shuffle over the data — bounded by the
    class-pair count); marginals and the diagonal are rollups/filters
    of that tiny cell table, stitched with coalesced outer joins on
    the class key.
    """
    base = df.where(F.col(label_col).isNotNull()
                    & F.col(pred_col).isNotNull())
    cells = base.groupBy(
        F.col(label_col).alias("__t"),
        F.col(pred_col).alias("__p")).agg(
        F.count("*").cast("bigint").alias("__n"))
    truth = cells.groupBy(F.col("__t").alias("cls")).agg(
        F.sum("__n").cast("bigint").alias("n_true"))
    preds = cells.groupBy(F.col("__p").alias("cls")).agg(
        F.sum("__n").cast("bigint").alias("n_pred"))
    diag = cells.where(F.col("__t") == F.col("__p")).select(
        F.col("__t").alias("cls"), F.col("__n").alias("__tp"))
    out = (truth.join(preds, "cls", "full_outer")
           .join(diag, "cls", "left"))
    tp = F.coalesce(F.col("__tp"), F.lit(0)).cast("bigint")
    p = F.when(F.col("n_pred") > 0,
               tp.cast("double") / F.col("n_pred").cast("double"))
    r = F.when(F.col("n_true") > 0,
               tp.cast("double") / F.col("n_true").cast("double"))
    f1 = F.when(p + r > 0, F.lit(2.0) * p * r / (p + r))
    return out.select(
        "cls",
        F.coalesce("n_true", F.lit(0)).cast("bigint")
         .alias("n_true"),
        F.coalesce("n_pred", F.lit(0)).cast("bigint")
         .alias("n_pred"),
        tp.alias("tp"),
        p.alias("precision"), r.alias("recall"), f1.alias("f1"))


def expected_calibration_error(df: DataFrame, score_col: str,
                               outcome_col: str,
                               n_buckets: int = 10,
                               approx: bool | None = None
                               ) -> DataFrame:
    """Expected Calibration Error (Naeini et al., AAAI'15) — the
    scalar the per-bin :func:`calibration_table` rolls up to:
    ``ECE = sum_b (n_b / N) * |avg_score_b - pos_rate_b|`` over
    equi-population score bins. One row
    ``(n, n_buckets, ece)`` — the single number a score-gated
    pipeline tracks per model version, with the full table kept for
    diagnosis.

    Scale shape: :func:`calibration_table`'s shape (scalar quantile
    edges + row-local bucketing + one grouped aggregation) plus a
    scalar fold of N and one final rollup of the bucket table.
    """
    from .fold import fold_scalars

    tab = calibration_table(df, score_col, outcome_col,
                            n_buckets=n_buckets, approx=approx)
    tot = tab.agg(F.sum("n").cast("bigint").alias("__nt"))
    j = fold_scalars(tab, tot)
    term = (F.col("n").cast("double")
            / F.col("__nt").cast("double")
            * F.abs(F.col("avg_score") - F.col("pos_rate")))
    return j.agg(
        F.first("__nt").alias("n"),
        F.count("*").cast("bigint").alias("n_buckets"),
        F.sum(term).alias("ece"))


def auc(df: DataFrame, score_col: str, label_expr,
        distributed: bool | None = None,
        buckets: int = 64) -> DataFrame:
    """Exact ROC AUC at any scale via the Mann-Whitney identity
    ``AUC = U_pos / (n_pos * n_neg)`` with midrank tie handling —
    the probability a random positive outscores a random negative,
    computed WITHOUT materializing the ROC curve or sampling:
    :func:`~pandas_ai_spark.functions.stats.mann_whitney_u` accumulates
    DOUBLED midranks as exact bigints, and AUC derives row-local —
    bit-identical across engines. One row ``(n_pos, n_neg, auc, z)``;
    ``z`` is the tie-corrected normal statistic (|z| > 1.96 ⇒ the
    ranking beats chance at 5%). ``label_expr`` is a SQL boolean;
    NULL counts as negative.

    ``distributed`` and ``buckets`` pass through to
    :func:`~pandas_ai_spark.functions.stats.mann_whitney_u`: the
    window form collapses the scores to the value grain (cheapest for
    discrete/bucketed scores); AUC is a single global "group", so for
    continuous scores over billions of rows ``distributed=True`` ranks
    ``buckets``-way parallel instead of in one ordered task (IDENTICAL
    output — driver-hash-proven, q184 vs q167). ``None`` (default)
    picks by Catalyst's size estimate; explicit True/False keeps the
    call lazy.
    """
    from pandas_ai_spark.functions.stats import mann_whitney_u

    lab = F.when(F.coalesce(F.expr(label_expr), F.lit(False)),
                 F.lit("p")).otherwise(F.lit("n"))
    base = df.withColumn("__lab", lab)
    mw = mann_whitney_u(base, score_col, "__lab", "p", "n",
                        distributed=distributed, buckets=buckets)
    return mw.select(
        F.col("n_a").alias("n_pos"),
        F.col("n_b").alias("n_neg"),
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0),
               F.col("u_a") / (F.col("n_a").cast("double")
                               * F.col("n_b").cast("double")))
         .alias("auc"),
        "z")


def isotonic_calibration(df: DataFrame, score_col: str,
                         outcome_col: str, n_buckets: int = 10,
                         approx: bool | None = None) -> DataFrame:
    """Isotonic (PAV) calibration map over the
    :func:`calibration_table` bins: pool-adjacent-violators enforces
    a monotone non-decreasing calibrated rate across score deciles
    (Zadrozny & Elkan, KDD'02 — the standard post-hoc calibrator
    when the reliability table is non-monotone). One row per bucket
    ``(bucket, n, avg_score, pos_rate, calibrated)``; ``calibrated``
    is the pooled event rate of the bucket's PAV block.

    Determinism: a pooled block's rate is ``sum(events)/sum(n)`` —
    both exact integers — so every calibrated value is an exact
    integer ratio, bit-identical across engines; the PAV pooling
    decisions compare those exact ratios.

    Scale shape: the expensive part IS :func:`calibration_table`
    (scalar quantile edges + one grouped aggregation over the data);
    PAV then runs on the BOUNDED ``n_buckets``-row table inside one
    ``applyInPandas`` group — the bounded-grain pattern (q114/q143),
    never touching the row stream again.
    """
    import pandas as pd

    b = calibration_table(df, score_col, outcome_col,
                          n_buckets=n_buckets, approx=approx)
    # events = n * pos_rate is exact (pos_rate is an integer ratio)
    tab = b.select(
        "bucket", "n", "avg_score", "pos_rate",
        F.round(F.col("n").cast("double") * F.col("pos_rate"))
         .cast("bigint").alias("__events"))
    out_schema = T.StructType([
        T.StructField("bucket", T.IntegerType()),
        T.StructField("n", T.LongType()),
        T.StructField("avg_score", T.DoubleType()),
        T.StructField("pos_rate", T.DoubleType()),
        T.StructField("calibrated", T.DoubleType()),
    ])

    def pav(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket").reset_index(drop=True)
        # blocks of (n, events); pool while the rate decreases
        blocks: list[list[int]] = []  # [n, events, span]
        for _, row in pdf.iterrows():
            blocks.append([int(row["n"]), int(row["__events"]), 1])
            while (len(blocks) > 1
                   and blocks[-2][1] * blocks[-1][0]
                   > blocks[-1][1] * blocks[-2][0]):
                n2, e2, s2 = blocks.pop()
                blocks[-1][0] += n2
                blocks[-1][1] += e2
                blocks[-1][2] += s2
            # integer cross-multiplication comparison: rate[-2] >
            # rate[-1] without any float division
        cal = []
        for n_, e_, span in blocks:
            cal += [float(e_) / float(n_)] * span
        pdf = pdf.assign(calibrated=cal)
        return pdf[["bucket", "n", "avg_score", "pos_rate",
                    "calibrated"]]

    return (tab.withColumn("__g", F.lit(1))
            .groupBy("__g").applyInPandas(pav, out_schema))


def lift_table(df: DataFrame, score_col: str, outcome_col: str,
               n_buckets: int = 10,
               approx: bool | None = None) -> DataFrame:
    """Gains/lift table over score deciles — the campaign-targeting
    (and ranking-quality) view of a classifier: per bucket, from the
    TOP-scoring decile down, ``(bucket, n, events, lift, cum_gain,
    cum_lift)`` where ``lift`` is the bucket's event rate over the
    global rate, ``cum_gain`` the fraction of all events captured so
    far, and ``cum_lift`` the cumulative rate over global. A useful
    model front-loads events (cum_gain far above the diagonal).

    Determinism: every metric is an exact integer ratio (bucket and
    cumulative event/row counts); division happens row-local.

    Scale shape: :func:`calibration_table` does the data pass; the
    cumulative window runs over the BOUNDED ``n_buckets``-row table
    (the q143/q168 bounded-grain pattern) with global totals from a
    scalar fold.
    """
    from pyspark.sql import Window

    from .fold import fold_scalars

    b = calibration_table(df, score_col, outcome_col,
                          n_buckets=n_buckets, approx=approx)
    tab = b.select(
        "bucket", "n",
        F.round(F.col("n").cast("double") * F.col("pos_rate"))
         .cast("bigint").alias("events"))
    tot = tab.agg(F.sum("n").cast("bigint").alias("__nt"),
                  F.sum("events").cast("bigint").alias("__et"))
    j = fold_scalars(tab, tot)
    w = (Window.orderBy(F.col("bucket").desc())
         .rowsBetween(Window.unboundedPreceding, 0))
    cum_n = F.sum("n").over(w).cast("bigint")
    cum_e = F.sum("events").over(w).cast("bigint")
    gr = F.col("__et").cast("double") / F.col("__nt").cast("double")
    rate = F.col("events").cast("double") / F.col("n").cast("double")
    cum_rate = cum_e.cast("double") / cum_n.cast("double")
    return j.select(
        "bucket", "n", "events",
        F.when(F.col("__et") > 0, rate / gr).alias("lift"),
        F.when(F.col("__et") > 0,
               cum_e.cast("double") / F.col("__et").cast("double"))
         .alias("cum_gain"),
        F.when(F.col("__et") > 0, cum_rate / gr).alias("cum_lift"))


def conformal_interval(df: DataFrame, group_cols, y_col: str,
                       id_col: str, alpha: float = 0.1,
                       cal_frac: float = 0.5,
                       seed: str = "conf") -> DataFrame:
    """Split-conformal prediction interval (Vovk; Lei et al., JASA
    2018) for the per-group mean predictor: rows hash-split into a
    train and a calibration fold, ``yhat`` = the train fold's group
    mean, and the half-width ``qhat`` is the
    ``ceil((1 - alpha) * (n_cal + 1))``-th SMALLEST calibration
    residual ``|y - yhat|`` — the finite-sample-corrected order
    statistic whose interval ``yhat ± qhat`` covers a fresh draw with
    probability ≥ 1 − alpha, distribution-free. One row per group:
    ``(group, n_train, n_cal, yhat, qhat, lo, hi)``; groups whose
    corrected rank exceeds ``n_cal`` (calibration fold too small for
    the requested level) return NULL qhat/lo/hi rather than an
    unsupported guarantee.

    Determinism: the fold assignment is ``md5(seed‖id)`` (the
    :func:`~pandas_ai_spark.functions.pipeline.hash_split` device —
    stable under corpus growth, engine-portable); when ``y_col`` is
    an INTEGRAL type (tinyint/smallint/int/bigint/boolean) ``yhat``
    is an exact integer ratio (bigint sums), so residuals and the
    order-statistic pick are bit-identical across engines — no
    interpolated quantile. Fractional/decimal ``y`` is computed on
    double end-to-end (never truncated — the bigint path would
    corrupt residuals and void the coverage guarantee).

    Scale shape: one map-side-combined train aggregation (shuffle
    bounded by group count) broadcast back onto the calibration fold;
    ONE ordered window per group ranks residuals (the per-group count
    rides the same partition spec); a row-local filter picks the
    order statistic. Nothing collected, no global sort.
    """
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    if not (0.0 < alpha < 1.0):
        raise ValueError("alpha must be in (0, 1)")
    if not (0.0 < cal_frac < 1.0):
        raise ValueError("cal_frac must be in (0, 1)")
    group_cols = list(group_cols)
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    buckets = 10_000
    cut = int(round(cal_frac * buckets))
    b = md5_bucket(
        F.concat(F.lit(seed), F.lit(":"),
                 F.col(id_col).cast("string")), buckets)
    integral = dict(df.dtypes).get(y_col) in (
        "tinyint", "smallint", "int", "bigint", "boolean")
    y = F.col(y_col).cast("bigint" if integral else "double")
    # the split md5-hashes every row, once per consumer (train and
    # calibration): spread a narrow input first
    src = _fanout_if_narrow(
        df.where(F.col(y_col).isNotNull())
          .select(*dict.fromkeys([*group_cols, y_col, id_col])), id_col)
    tagged = src.select(
        *[F.col(c) for c in group_cols], y.alias("__y"),
        F.col(id_col).alias("__id"), (b < cut).alias("__cal"))
    train = tagged.where(~F.col("__cal")).groupBy(
        *[F.col(c).alias(f"__g_{c}") for c in group_cols]).agg(
        F.sum("__y").cast("bigint" if integral else "double")
         .alias("__sy"),
        F.count("*").cast("bigint").alias("n_train"))
    train = train.withColumn(
        "yhat", F.col("__sy").cast("double")
        / F.col("n_train").cast("double"))
    cond = None
    for c in group_cols:
        eq = F.col(c).eqNullSafe(F.col(f"__g_{c}"))
        cond = eq if cond is None else (cond & eq)
    cal = (tagged.where(F.col("__cal"))
           .join(broadcast(train), cond)
           .withColumn("__resid", F.abs(F.col("__y").cast("double")
                                        - F.col("yhat"))))
    wp = Window.partitionBy(*group_cols)
    w = wp.orderBy(F.col("__resid").asc(), F.col("__id").asc())
    k = F.ceil(F.lit(1.0 - float(alpha))
               * (F.count(F.lit(1)).over(wp) + F.lit(1))
               .cast("double")).cast("bigint")
    picked = (cal.withColumn("__rn", F.row_number().over(w))
                 .withColumn("__k", k)
                 .withColumn("n_cal",
                             F.count(F.lit(1)).over(wp)
                              .cast("bigint")))
    # the order statistic row when supported; any calibration row
    # (rn=1) carries the NULL-qhat group so it still reports
    hit = picked.where(
        (F.col("__rn") == F.col("__k"))
        | ((F.col("__k") > F.col("n_cal")) & (F.col("__rn") == 1)))
    qhat = F.when(F.col("__k") <= F.col("n_cal"), F.col("__resid"))
    return hit.select(
        *[F.col(c) for c in group_cols],
        "n_train", "n_cal", "yhat",
        qhat.alias("qhat"),
        (F.col("yhat") - qhat).alias("lo"),
        (F.col("yhat") + qhat).alias("hi"))


def information_gain(df: DataFrame, feature_cols,
                     target_expr) -> DataFrame:
    """Entropy-based feature screening: for each categorical feature
    ``X``, the mutual information with the binary target,
    ``IG(Y; X) = H(Y) − H(Y|X)`` (the decision-tree split criterion),
    plus Quinlan's ``gain_ratio = IG / H(X)`` which penalizes
    high-cardinality features that look informative by fragmentation
    alone. One row per feature:
    ``(feature, n_values, h_target, h_conditional, info_gain,
    gain_ratio)``. The WOE/IV screen (:func:`woe_iv`) ranks
    categories *within* one feature; this ranks features against
    each other.

    ``target_expr`` is a SQL boolean; NULL targets count as false via
    an explicit coalesce. Feature values are compared as strings
    (uniform cell schema across features); NULL values form their own
    class.

    Determinism: every count is an exact bigint; entropies are
    ``Σ n·ln(n-ratios)`` over the BOUNDED per-feature cell table —
    the only float accumulation, identical term sets in any engine.

    Scale shape: ONE pass — each row explodes into (feature, value)
    pairs (a width-|features| array, pipelined in the scan) and one
    map-side-combined aggregation builds the (feature, value, y) cell
    table (shuffle bounded by Σ cardinalities, never rows); the
    per-feature rollups and the marginal joins all run on that tiny
    table, broadcast. No per-feature rescans.
    """
    from pyspark.sql.functions import broadcast

    feature_cols = list(feature_cols)
    if not feature_cols:
        raise ValueError("feature_cols must be non-empty")
    y = F.coalesce(F.expr(target_expr), F.lit(False)).cast("bigint")
    pairs = F.array(*[
        F.struct(F.lit(c).alias("feature"),
                 F.col(c).cast("string").alias("value"))
        for c in feature_cols])
    cells = (df.select(y.alias("__y"),
                       F.explode(pairs).alias("__p"))
               .groupBy(F.col("__p.feature").alias("feature"),
                        F.col("__p.value").alias("value"),
                        F.col("__y"))
               .agg(F.count("*").cast("bigint").alias("__nvy")))
    from .cache import operator_persist

    cells = operator_persist(cells)
    # per (feature, value): n_v; per feature: N (same for all — the
    # row count — but computed per feature for self-containedness)
    nv = cells.groupBy(
        F.col("feature").alias("__f1"),
        F.col("value").alias("__v1")).agg(
        F.sum("__nvy").cast("bigint").alias("__nv"))
    joined = cells.join(
        broadcast(nv),
        F.col("feature").eqNullSafe(F.col("__f1"))
        & F.col("value").eqNullSafe(F.col("__v1")))
    ln = F.log  # natural log, nats
    # Σ n_vy ln(n_vy / n_v)  and per-feature totals
    per_f = joined.groupBy("feature").agg(
        F.sum("__nvy").cast("bigint").alias("__n"),
        F.sum(F.col("__nvy").cast("double")
              * ln(F.col("__nvy").cast("double")
                   / F.col("__nv").cast("double"))).alias("__cvy"))
    # H(Y) and H(X) from the same cell table
    ym = cells.groupBy(F.col("feature").alias("__f2"),
                       F.col("__y")).agg(
        F.sum("__nvy").cast("bigint").alias("__ny"))
    hy = ym.groupBy(F.col("__f2")).agg(
        F.sum("__ny").cast("bigint").alias("__n2"),
        F.sum(F.col("__ny").cast("double")
              * ln(F.col("__ny").cast("double"))).alias("__sylny"))
    xm = nv.groupBy(F.col("__f1").alias("__f3")).agg(
        F.count(F.lit(1)).cast("int").alias("n_values"),
        F.sum(F.col("__nv").cast("double")
              * ln(F.col("__nv").cast("double"))).alias("__sxlnx"))
    out = (per_f
           .join(broadcast(hy),
                 F.col("feature") == F.col("__f2"))
           .join(broadcast(xm),
                 F.col("feature") == F.col("__f3")))
    nn = F.col("__n").cast("double")
    h_target = ln(nn) - F.col("__sylny") / nn
    h_cond = -F.col("__cvy") / nn
    h_x = ln(nn) - F.col("__sxlnx") / nn
    ig = h_target - h_cond
    return out.select(
        "feature", "n_values",
        h_target.alias("h_target"),
        h_cond.alias("h_conditional"),
        ig.alias("info_gain"),
        F.when(h_x > 0, ig / h_x).alias("gain_ratio"))


# ---------------------------------------------------------------------------
# Inter-annotator agreement battery (r13): the labeling-QA statistics a
# training-data pipeline runs over multi-rater / LLM-judge annotations
# before trusting them. All four reduce to exact integer cell/marginal
# aggregations with row-local final ratios — bit-identical across
# engines, no float folds except the explicitly order-pinned m-class
# sums (the q191 device).
# ---------------------------------------------------------------------------


def weighted_kappa(df: DataFrame, col_a: str, col_b: str,
                   weights: str = "quadratic",
                   by: "list[str] | None" = None) -> DataFrame:
    """Weighted Cohen's kappa over two ORDINAL rating columns — the
    ordinal upgrade of :func:`cohens_kappa`: near-miss disagreements
    (adjacent categories) cost less than far misses. Per ``by`` group
    ``(n, k, po_w, pe_w, kappa_w)`` with disagreement weights
    ``(d/(k-1))^q`` over category-INDEX distance ``d`` (``q=1``
    linear, ``q=2`` quadratic), indices from the ordered distinct
    union of both raters' observed categories.

    Determinism: ``kappa_w = 1 - n*D_q/E_q`` where
    ``D_q = Σ n_ij d^q`` and ``E_q = Σ r_i c_j d^q`` are EXACT bigint
    sums over the k×k cell/marginal grain — the ``(k-1)^q``
    normalizers cancel, so the statistic is one row-local division.

    Scale shape: one cell aggregation over the pair stream (the only
    full-data shuffle), category indexing over the bounded distinct
    grain (broadcast back), k×k marginal cross per group — all
    bounded by category count, not rows.
    """
    from pyspark.sql.window import Window

    q = {"linear": 1, "quadratic": 2}[weights]
    by = list(by or [])
    a, b = F.col(col_a), F.col(col_b)
    base = df.where(a.isNotNull() & b.isNotNull()).select(
        *[F.col(c) for c in by], a.alias("__a"), b.alias("__b"))
    cats = (base.select(*by, F.col("__a").alias("__c"))
            .unionByName(base.select(*by, F.col("__b").alias("__c")))
            .distinct())
    w = Window.partitionBy(*by).orderBy("__c")  # bounded category grain
    idx = cats.select(
        *by, "__c",
        (F.row_number().over(w) - 1).cast("bigint").alias("__i"))

    def attach(dfx: DataFrame, valcol: str, out: str) -> DataFrame:
        return _attach(dfx, idx.select(
            *by, F.col("__c").alias(valcol), F.col("__i").alias(out)),
            [*by, valcol], how="inner")

    paired = attach(attach(base, "__a", "__ia"), "__b", "__ib")
    d = F.abs(F.col("__ia") - F.col("__ib"))
    dq = (d * d if q == 2 else d).cast("bigint")
    cells = paired.groupBy(*by, "__ia", "__ib").agg(
        F.count(F.lit(1)).cast("bigint").alias("__nij"))
    gagg = [F.sum("__nij").cast("bigint").alias("n"),
            F.sum(F.col("__nij") * dq).cast("bigint").alias("__D")]
    g = cells.groupBy(*by).agg(*gagg)
    ra = cells.groupBy(*by, F.col("__ia")).agg(
        F.sum("__nij").cast("bigint").alias("__ri"))
    cb = cells.groupBy(*by, F.col("__ib")).agg(
        F.sum("__nij").cast("bigint").alias("__cj"))
    e = _cell_pairs(ra, cb, by).groupBy(
        *[F.col(f"l.{c}").alias(c) for c in by]).agg(
        F.sum(F.col("__ri").cast("decimal(38,0)") * F.col("__cj") * dq)
        .alias("__E"))
    kk = idx.groupBy(*by).agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    out = _attach(_attach(g, e, by), kk, by)
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    ed = F.col("__E").cast("double")
    dd2 = F.col("__D").cast("double")
    norm = (kd - 1) ** q
    po_w = F.when(F.col("k") > 1, 1.0 - dd2 / (nd * norm))
    pe_w = F.when(F.col("k") > 1, 1.0 - ed / (nd * nd * norm))
    kap = F.when(ed > 0, 1.0 - nd * dd2 / ed)
    return out.select(*[F.col(c) for c in by], "n", "k",
                      po_w.alias("po_w"), pe_w.alias("pe_w"),
                      kap.alias("kappa_w"))


def fleiss_kappa(df: DataFrame, item_col: str, category_col: str,
                 by: "list[str] | None" = None) -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement for MANY raters:
    input is one row per VOTE ``(item, category)``; per ``by`` group
    ``(n_items, n_categories, p_bar, p_e, kappa)``. Items with fewer
    than 2 votes are dropped (no pairable information). Rating counts
    per item may vary; the per-item agreement
    ``P_i = (Σ_c n_ic² − m_i) / (m_i(m_i−1))`` uses each item's own
    vote count (the standard statistic when all ``m_i`` are equal).

    Determinism: per-item numerators group by the DISTINCT vote-count
    classes m (bounded), so each class sum is an exact integer and the
    cross-class float fold is order-pinned (``aggregate(sort_array)``,
    the q191 device); ``p_e = Σ T_c² / T²`` is exact-integer.

    Scale shape: one (item, category) cell aggregation, one item
    aggregation, one bounded m-class fold, one category aggregation —
    nothing collected, nothing wider than the item count.
    """
    by = list(by or [])
    u, c = F.col(item_col), F.col(category_col)
    votes = df.where(u.isNotNull() & c.isNotNull()).groupBy(
        *[F.col(x) for x in by], u.alias("__u"), c.alias("__c")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__nic"))
    per_item = votes.groupBy(*by, "__u").agg(
        F.sum("__nic").cast("bigint").alias("__m"),
        F.sum(F.col("__nic") * F.col("__nic")).cast("bigint")
         .alias("__s2"))
    kept = per_item.where(F.col("__m") >= 2)
    mcls = kept.groupBy(*by, "__m").agg(
        F.count(F.lit(1)).cast("bigint").alias("__cnt"),
        F.sum("__s2").cast("bigint").alias("__ss"))
    md = F.col("__m").cast("double")
    term = ((F.col("__ss") - F.col("__cnt") * F.col("__m"))
            .cast("double") / (md * (md - 1))).alias("term")
    stk = mcls.select(
        *[F.col(x) for x in by],
        F.col("__cnt"),
        F.struct(F.col("__m").alias("m"), term).alias("__s"))
    pagg = [F.sum("__cnt").cast("bigint").alias("n_items"),
            F.aggregate(F.sort_array(F.collect_list("__s")),
                        F.lit(0.0),
                        lambda acc, x: acc + x["term"]).alias("__P")]
    pbar = stk.groupBy(*by).agg(*pagg)
    kept_keys = kept.select(
        *[F.col(x).alias(f"__k_{x}") for x in by],
        F.col("__u").alias("__ku"))
    vcond = F.col("__u") == F.col("__ku")
    for x in by:
        vcond = vcond & F.col(x).eqNullSafe(F.col(f"__k_{x}"))
    kept_votes = votes.join(kept_keys, vcond, "left_semi")
    catt = kept_votes.groupBy(*by, "__c").agg(
        F.sum("__nic").cast("bigint").alias("__tc"))
    cagg = [F.count(F.lit(1)).cast("bigint").alias("n_categories"),
            F.sum("__tc").cast("bigint").alias("__T"),
            F.sum(F.col("__tc").cast("decimal(38,0)")
                   * F.col("__tc")).alias("__T2")]
    out = _attach(pbar, catt.groupBy(*by).agg(*cagg), by)
    p_bar = F.col("__P") / F.col("n_items").cast("double")
    td = F.col("__T").cast("double")
    p_e = F.col("__T2").cast("double") / (td * td)
    kap = F.when(p_e < 1.0, (p_bar - p_e) / (1.0 - p_e))
    return out.select(*[F.col(x) for x in by],
                      "n_items", "n_categories",
                      p_bar.alias("p_bar"), p_e.alias("p_e"),
                      kap.alias("kappa"))


def krippendorff_alpha(df: DataFrame, unit_col: str, value_col: str,
                       by: "list[str] | None" = None) -> DataFrame:
    """Krippendorff's alpha (nominal metric) — the agreement
    coefficient that tolerates missing ratings and varying raters per
    unit (the realistic shape of crowd/LLM annotation): input is one
    row per VOTE ``(unit, value)``; per ``by`` group
    ``(n_units, n_votes, alpha)`` over units with >= 2 votes.

    ``alpha = 1 − (T−1)·Do_num / (T² − Σ_c T_c²)`` where
    ``Do_num = Σ_u (m_u² − Σ_c n_uc²)/(m_u−1)`` (observed pairwise
    disagreement) and the denominator is the expected disagreement of
    the pooled value marginals — the coincidence-matrix formulation.

    Determinism: same m-class device as :func:`fleiss_kappa` — the
    per-unit rationals share denominators within a vote-count class,
    so each class sum is exact-integer and only the bounded m-class
    fold is float (order-pinned). The De denominator is exact-integer.
    """
    by = list(by or [])
    u, v = F.col(unit_col), F.col(value_col)
    votes = df.where(u.isNotNull() & v.isNotNull()).groupBy(
        *[F.col(x) for x in by], u.alias("__u"), v.alias("__c")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__nic"))
    per_unit = votes.groupBy(*by, "__u").agg(
        F.sum("__nic").cast("bigint").alias("__m"),
        F.sum(F.col("__nic") * F.col("__nic")).cast("bigint")
         .alias("__s2"))
    kept = per_unit.where(F.col("__m") >= 2)
    mcls = kept.groupBy(*by, "__m").agg(
        F.count(F.lit(1)).cast("bigint").alias("__cnt"),
        F.sum("__s2").cast("bigint").alias("__ss"))
    md = F.col("__m").cast("double")
    term = ((F.col("__cnt") * F.col("__m") * F.col("__m")
             - F.col("__ss")).cast("double") / (md - 1)).alias("term")
    stk = mcls.select(
        *[F.col(x) for x in by], F.col("__cnt"),
        F.struct(F.col("__m").alias("m"), term).alias("__s"))
    dagg = [F.sum("__cnt").cast("bigint").alias("n_units"),
            F.aggregate(F.sort_array(F.collect_list("__s")),
                        F.lit(0.0),
                        lambda acc, x: acc + x["term"]).alias("__Do")]
    dobs = stk.groupBy(*by).agg(*dagg)
    kept_keys = kept.select(
        *[F.col(x).alias(f"__k_{x}") for x in by],
        F.col("__u").alias("__ku"))
    vcond = F.col("__u") == F.col("__ku")
    for x in by:
        vcond = vcond & F.col(x).eqNullSafe(F.col(f"__k_{x}"))
    kept_votes = votes.join(kept_keys, vcond, "left_semi")
    catt = kept_votes.groupBy(*by, "__c").agg(
        F.sum("__nic").cast("bigint").alias("__tc"))
    cagg = [F.sum("__tc").cast("bigint").alias("n_votes"),
            F.sum(F.col("__tc").cast("decimal(38,0)")
                   * F.col("__tc")).alias("__T2")]
    out = _attach(dobs, catt.groupBy(*by).agg(*cagg), by)
    td = F.col("n_votes").cast("double")
    de_den = td * td - F.col("__T2").cast("double")
    alpha = F.when(de_den > 0,
                   1.0 - (td - 1) * F.col("__Do") / de_den)
    return out.select(*[F.col(x) for x in by],
                      "n_units", "n_votes", alpha.alias("alpha"))


def gwet_ac1(df: DataFrame, col_a: str, col_b: str,
             by: "list[str] | None" = None) -> DataFrame:
    """Gwet's AC1 — the agreement coefficient that stays stable when
    the label distribution is skewed (the "kappa paradox": near-unanimous
    raters can get a LOW kappa because chance agreement saturates; AC1's
    chance term uses the propensity of each category to be a random
    guess instead). Per ``by`` group ``(n, k, po, pe, ac1)``.

    ``pe = (1 − Σ_c s_c²/(4n²)) / (k−1)`` with ``s_c`` the combined
    two-rater count of category c — exact-integer numerator, row-local
    division; ``ac1 = (po − pe)/(1 − pe)``.
    """
    by = list(by or [])
    a, b = F.col(col_a), F.col(col_b)
    base = df.where(a.isNotNull() & b.isNotNull()).select(
        *[F.col(x) for x in by], a.alias("__a"), b.alias("__b"))
    tagg = [F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum((F.col("__a") == F.col("__b")).cast("bigint"))
             .cast("bigint").alias("__agree")]
    tot = base.groupBy(*by).agg(*tagg)
    stacked = (base.select(*by, F.col("__a").alias("__c"))
               .unionByName(base.select(*by, F.col("__b").alias("__c"))))
    sc = stacked.groupBy(*by, "__c").agg(
        F.count(F.lit(1)).cast("bigint").alias("__sc"))
    cagg = [F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum(F.col("__sc").cast("decimal(38,0)")
                   * F.col("__sc")).alias("__s2")]
    out = _attach(tot, sc.groupBy(*by).agg(*cagg), by)
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    po = F.col("__agree").cast("double") / nd
    pe = F.when(F.col("k") > 1,
                (1.0 - F.col("__s2").cast("double") / (4 * nd * nd))
                / (kd - 1))
    ac1 = F.when(pe < 1.0, (po - pe) / (1.0 - pe))
    return out.select(*[F.col(x) for x in by], "n", "k",
                      po.alias("po"), pe.alias("pe"),
                      ac1.alias("ac1"))

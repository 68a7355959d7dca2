"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

LLM-training-pipeline dedup at 100 TB scale (BASELINE.json north star).
Design notes per operator:

- **exact**: hash-groupBy on a normalized key — one shuffle on the key,
  map-side partial aggregation keeps it skew-tolerant.
- **MinHash+LSH**: tokenize → word shingles → signed-64 md5 per shingle
  → k affine min-hashes → FNV-folded band signatures, all in ONE Arrow
  pass (:func:`_state_udf`) that also returns the shingle-hash set the
  exact verify needs. Candidates come from one shuffle on the band
  signature (:func:`_bucket_pairs`); verification attaches the hash
  sets by id. This is the canonical sub-quadratic near-dup path.
- **SimHash**: 64-bit signature via a vectorized Arrow pandas_udf (numpy
  bit-twiddling beats a 64-term JVM expression tree), then banded Hamming
  candidate buckets.
- **n-gram Jaccard**: exact verification metric; used standalone with
  length blocking for small/medium tables and as the verify stage after
  LSH candidate generation.

The candidate-pair operators here and in ``similarity`` make the same
move: a table of ``(id, bucket key)`` rows becomes id pairs sharing a
key (:func:`_bucket_pairs`), and a per-id table then attaches to both
pair sides for the exact score (:func:`_attach_sides`). Three keep a
self-join of their own that carries a per-id payload through the join
(SimHash's signature, the n-gram set sizes, the semantic cells'
vectors), where attaching it afterwards measured slower or ran more
Spark jobs.
"""

from __future__ import annotations

import hashlib

import pandas as pd
import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cache import operator_persist
from .graph import connected_components
from .skew import _fanout_if_narrow
from .text import normalize_text, whitespace_tokens


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, key_cols: list[str],
                id_col: str = "doc_id") -> DataFrame:
    """Keep one row per key (the lowest id — deterministic). One shuffle."""
    keeper = df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))
    return df.join(keeper, on=[id_col] + list(key_cols), how="inner")


def dedup_exact_normalized(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on the *normalized* text (case/punct/whitespace
    insensitive) without shuffling the full text: group on its md5."""
    keyed = df.withColumn("__key", F.md5(normalize_text(F.col(text_col))))
    keeper = keyed.groupBy("__key").agg(F.min(id_col).alias(id_col))
    return (
        keyed.join(keeper, ["__key", id_col], "inner").drop("__key")
    )


# ---------------------------------------------------------------------------
# shingles + MinHash + LSH
# ---------------------------------------------------------------------------

def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text.

    NOTE (perf): Catalyst does no common-subexpression elimination inside
    higher-order-function lambdas, so referencing the token array in
    ``F.transform`` re-evaluates the whole normalize+split chain per
    shingle — measured 17s for 260k shingles at sf0.1. Use this only on
    already-materialized token columns / small inputs; the dedup operators
    below use :func:`shingle_hash_udf` (one Arrow pass) instead.
    """
    toks = whitespace_tokens(normalize_text(col))
    size = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(size - n, F.lit(0)))
    grams = F.when(size < n,
                   F.when(size > 0, F.array(F.concat_ws(" ", toks)))
                    .otherwise(F.array().cast("array<string>"))) \
             .otherwise(F.transform(
                 idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))))
    return F.array_distinct(grams)


def _norm_tokens(col: Column) -> Column:
    """Normalized whitespace tokens — a single JVM regex pass per doc."""
    return whitespace_tokens(normalize_text(col))


def _md5_i64(g: str) -> int:
    """The first 8 md5 bytes of ``g``, little-endian, as a signed 64-bit
    int — process-stable (no PYTHONHASHSEED dependence), and the gram
    hash the DuckDB oracles replicate."""
    return int.from_bytes(hashlib.md5(g.encode()).digest()[:8], "little",
                          signed=True)


def _shingle_hash_set(ts, n: int) -> set:
    """Distinct word n-gram shingles → :func:`_md5_i64` hashes. Short
    docs yield one whole-doc shingle — same semantics as
    :func:`word_shingles`."""
    if ts is None or len(ts) == 0:
        return set()
    ts = list(ts)
    if len(ts) < n:
        return {_md5_i64(" ".join(ts))}
    return {_md5_i64(" ".join(ts[i:i + n])) for i in range(len(ts) - n + 1)}


def shingle_hash_udf(n: int = 3):
    """tokens → array<bigint> of distinct shingle hashes, one Arrow batch
    at a time. ~260k md5 calls/s/core is far from the bottleneck; this
    replaces the per-shingle Catalyst re-normalization trap (see
    word_shingles note)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def f(toks: pd.Series) -> pd.Series:
        return toks.map(lambda ts: list(_shingle_hash_set(ts, n)))

    return f


def shingle_hashes(shingles: Column) -> Column:
    """One xxhash64 per shingle — a single JVM pass; everything downstream
    works on longs, never re-reading the strings."""
    return F.transform(shingles, lambda s: F.xxhash64(s))


_MERSENNE31 = (1 << 31) - 1
_P31 = np.uint64(_MERSENNE31)
_U31 = np.uint64(31)


def _mod_m31(x):
    """x mod 2^31−1 for uint64 arrays (any x < 2^64): two Mersenne folds
    bring x under 2^31+4, one conditional subtract finishes."""
    x = (x & _P31) + (x >> _U31)
    x = (x & _P31) + (x >> _U31)
    return x - np.asarray(x >= _P31, dtype=np.uint64) * _P31


def _affine_params(num_hashes: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE31, size=num_hashes, dtype=np.uint64)
    b = rng.randint(0, _MERSENNE31, size=num_hashes, dtype=np.uint64)
    return a, b


def _min_hashes(hs: list, a, b):
    """uint64 min-hash signature of one doc's base hashes ``hs`` (a
    non-empty list of signed 64-bit ints) under the affine family
    ``(a, b)`` of :func:`minhash_signature_udf`."""
    h = _mod_m31(np.asarray(hs, dtype=np.int64).astype(np.uint64))
    return _mod_m31(h[:, None] * a[None, :] + b[None, :]).min(axis=0)


def minhash_signature_udf(num_hashes: int = 128, seed: int = 42):
    """array<bigint> shingle hashes → array<bigint> min-hash signature.

    EXACT affine family h_i(x) = (a_i·x + b_i) mod (2^31−1) over the
    Mersenne-folded base hash. The modulus is chosen so the whole
    computation is exact in uint64 with a SINGLE multiply: a, x < 2^31 →
    a·x + b < 2^62, no wraparound (a 2^61−1 family needs a 122-bit split
    multiply, measured 4.6× slower; a naive 64-bit-wrapping product is
    not the stated family at all and biases min-wise independence).
    2^31 values ≫ any realistic shingle-set size, so the min-hash
    estimator is unaffected. One numpy pass per document replaces
    ``num_hashes`` separate Catalyst array traversals (measured ~10×
    faster at sf0.1)."""
    a, b = _affine_params(num_hashes, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(hashes: pd.Series) -> pd.Series:
        empty = [0] * num_hashes

        def one(hs) -> list:
            if hs is None or len(hs) == 0:
                return empty
            return _min_hashes(hs, a, b).astype(np.int64).tolist()

        return hashes.map(one)

    return sig


def minhash_signature(shingles: Column, num_hashes: int = 128,
                      seed: int = 42) -> Column:
    """Array of ``num_hashes`` min-hash values over the shingle set."""
    return minhash_signature_udf(num_hashes, seed)(shingle_hashes(shingles))


def _state_udf(shingle_size: int, num_hashes: int, bands: int):
    """tokens → struct(bsigs array<long>, hashes array<long>): the
    banded minhash signature AND the exact-verify shingle-hash set
    from ONE tokenize/shingle/md5 pass (the md5 of every distinct
    shingle is exactly the work both need). Band ``j`` FNV-folds
    min-hashes ``j·r .. j·r+r−1`` (``r = num_hashes // bands``); the
    constants depend only on the arguments, so band signatures stay
    comparable across calls — the incremental form joins a batch's
    bands against stored corpus bands."""
    rows_per_band = num_hashes // bands
    a, b_ = _affine_params(num_hashes)
    fnv_prime = np.uint64(1099511628211)
    fnv_basis = np.uint64(14695981039346656037)
    schema = T.StructType([
        T.StructField("bsigs", T.ArrayType(T.LongType())),
        T.StructField("hashes", T.ArrayType(T.LongType()))])

    @F.pandas_udf(schema)
    def state(toks: pd.Series) -> pd.DataFrame:
        empty_sig = np.zeros(num_hashes, dtype=np.uint64)

        def one(ts) -> tuple:
            hs = list(_shingle_hash_set(ts, shingle_size))
            mins = _min_hashes(hs, a, b_) if hs else empty_sig
            with np.errstate(over="ignore"):
                acc = np.full(bands, fnv_basis, dtype=np.uint64)
                for r in range(rows_per_band):
                    acc = (acc ^ mins[r::rows_per_band]) * fnv_prime
            return acc.astype(np.int64).tolist(), hs

        pairs = toks.map(one)
        return pd.DataFrame({"bsigs": pairs.map(lambda p: p[0]),
                             "hashes": pairs.map(lambda p: p[1])})

    return state


def minhash_fused_state(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_size: int = 3,
                        num_hashes: int = 128,
                        bands: int = 32) -> DataFrame:
    """``(id, bsigs, hashes)`` — one fused-UDF row per doc; the
    persistable unit every multi-consumer caller should cache."""
    toks = _norm_tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        _state_udf(shingle_size, num_hashes, bands)(toks).alias("__st")
    ).select(F.col(id_col), F.col("__st.bsigs").alias("bsigs"),
             F.col("__st.hashes").alias("hashes"))


def _state_bands(st: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return st.select(F.col(id_col),
                     F.posexplode("bsigs").alias("band", "bsig"))


def _state_hashes(st: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return st.select(F.col(id_col), "hashes")


def _bucket_pairs(index: DataFrame, id_col: str,
                  keys: list[str]) -> DataFrame:
    """``(id_a, id_b)`` with ``id_a < id_b``, one row per key value the
    two ids share in ``index`` (an ``id_col`` column plus the ``keys``
    columns) — the one candidate-pair former of the near-duplicate
    family: LSH bands, inverted-index shingles, winnowed fingerprints,
    hyperplane buckets and k-means cells all reduce to it. Callers take
    ``.distinct()`` for candidate pairs, or a per-pair count for the
    number of shared keys. Rows with a NULL key or a NULL id never
    pair. Every caller's index holds each ``(id, key)`` once; a
    repeated row pairs once per copy.

    Shape: an equi self-join on the keys — one shuffle of the index on
    the keys, read by both sides. ``index`` is read twice, so a caller
    whose index comes out of a Python UDF persists it (Catalyst does
    not share the two aliased subtrees). Skew exposure: a bucket of b
    ids does O(b²) work in one task; callers keep b small (LSH
    parameters, the doc-frequency cap, cell sizing), and a degenerate
    all-identical corpus is the caller's dedup bug, not a plan
    regression.

    Candidate ids dedup BEFORE per-id payloads attach
    (:func:`_attach_sides`): a pair colliding in several buckets would
    otherwise ship its payload (two embeddings are ~70× the bytes of
    the id pair) once per collision.
    """
    idx = index.select(id_col, *keys)
    l, r = idx.alias("l"), idx.alias("r")
    on = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    for k in keys:
        on = on & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    return l.join(r, on).select(F.col(f"l.{id_col}").alias("id_a"),
                                F.col(f"r.{id_col}").alias("id_b"))


def _attach_sides(pairs: DataFrame, table: DataFrame, id_col: str,
                  table_b: DataFrame | None = None) -> DataFrame:
    """``pairs`` (``id_a``, ``id_b``, ...) with the per-id ``table``
    joined to both sides: each ``table`` column ``c`` other than
    ``id_col`` arrives as ``c_a`` and ``c_b``. ``table_b`` (same
    columns) serves the ``id_b`` side when the sides come from
    different tables — a new batch against a stored corpus. Inner
    joins: a pair whose id has no row drops."""
    cols = [c for c in table.columns if c != id_col]
    for side, t in (("a", table),
                    ("b", table if table_b is None else table_b)):
        pairs = pairs.join(t.select(
            F.col(id_col).alias(f"id_{side}"),
            *[F.col(c).alias(f"{c}_{side}") for c in cols]), f"id_{side}")
    return pairs


def _lsh_pairs(st: DataFrame, id_col: str) -> DataFrame:
    """Distinct candidate pairs of a :func:`minhash_fused_state`: ids
    whose signatures match in at least one band."""
    return _bucket_pairs(_state_bands(st, id_col), id_col,
                         ["band", "bsig"]).distinct()


def _verified_pairs(st: DataFrame, id_col: str,
                    threshold: float) -> DataFrame:
    """The LSH candidates of the fused state ``st`` whose exact
    shingle Jaccard is ≥ ``threshold``: ``(id_a, id_b, jaccard)``.
    ``st`` feeds the bands and both hash-set sides, so callers
    persist it."""
    # verify on hashed shingles: array_intersect over longs, not strings
    # (64-bit collisions are ~N²/2⁶⁴ — immaterial vs the LSH error itself)
    return (
        _attach_sides(_lsh_pairs(st, id_col), _state_hashes(st, id_col),
                      id_col)
        .withColumn("jaccard", jaccard(F.col("hashes_a"),
                                       F.col("hashes_b")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    rows_per_band = num_hashes // bands; two docs collide when any band's
    sub-signature matches exactly. Probability of collision for Jaccard s
    is 1-(1-s^r)^b — with 128/32 the S-curve centers near s≈0.65.

    Returns pairs (id_a < id_b). Scale: the explode produces bands×N rows;
    the pair join shuffles only (band_idx, 64-bit sig, id) triples.
    """
    # persisted (scope-managed, see functions/cache.py): both pair
    # sides read it, and unpersisted the Arrow pass would run per side
    return _lsh_pairs(operator_persist(minhash_fused_state(
        df, text_col, id_col, shingle_size, num_hashes, bands)), id_col)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    shingle_size: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
) -> DataFrame:
    """LSH candidates verified with exact shingle Jaccard ≥ threshold.
    Candidates and verify both read one persisted (scope-managed, see
    functions/cache.py) :func:`minhash_fused_state`, so the text runs
    through one Arrow pass."""
    st = operator_persist(minhash_fused_state(
        df, text_col, id_col, shingle_size, num_hashes, bands))
    return _verified_pairs(st, id_col, threshold)


def minhash_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", threshold: float = 0.7,
                  **kwargs) -> DataFrame:
    """Drop near-duplicates: every doc that matches a lower-id doc goes.
    (Union-find transitive clustering is a follow-up; greedy lower-id-wins
    matches common pipeline practice.)"""
    pairs = minhash_dedup_pairs(df, text_col, id_col, threshold, **kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, blocked)
# ---------------------------------------------------------------------------

_DOC_FREQ_DEFAULT = 10_000
_AUTO = object()  # sentinel: cap applied by default, warned about once


class ImplicitDocFreqCapWarning(UserWarning):
    """Raised (once per process) when the implicit doc-freq cap applies."""


_warned_implicit_cap = False


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None | object = _AUTO,
    score: str = "jaccard",
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via an inverted-index join.

    Instead of a blocked self-join with per-pair array intersection (O(Σ
    block²) expensive set ops — measured 140s+ at sf0.1 even in DuckDB),
    build the inverted index: explode distinct shingles, self-join on the
    shingle, and count co-occurrences per pair — the PPJoin-family shape.
    Pair-row volume is Σ_s f(s)² over shingle doc-frequencies, which for
    natural text (sharp Zipf tail, low doc-freq for content shingles) is
    near-linear in corpus size.

    ``max_doc_freq`` (ON by default — the unguarded call is the one a
    user makes at 100 TB) is the skew guard: a "stop shingle" shared by
    f documents alone contributes f² pair rows — one boilerplate/license
    shingle in 10⁶ docs is 10¹² rows. Shingles with doc-frequency above
    the cap are dropped from CANDIDATE GENERATION only; surviving
    candidates are prefiltered by a sound Jaccard upper bound and then
    re-verified EXACTLY over the full shingle sets (``array_intersect``
    on int64 arrays, JVM-side), so every reported ``jaccard`` is the
    true value. The only approximation is recall: a pair sharing *no*
    below-cap shingle is never considered (at threshold ≥ 0.5 such docs
    are boilerplate-only near-identicals — route those through
    ``minhash_dedup_pairs``). ``max_doc_freq=None`` restores the
    guaranteed-complete pure-count path.

    ``score`` picks the similarity: ``"jaccard"`` (|A∩B|/|A∪B|, the
    default) or ``"containment"`` (|A∩B|/min(|A|,|B|) — flags a short
    document swallowed whole by a longer one, which Jaccard dilutes
    toward 0 as the length ratio grows). Same inverted-index plan
    either way — only the row-local denominator and the (still sound)
    prefilter bound change; the output column is named after the
    score.
    """
    if score not in ("jaccard", "containment"):
        raise ValueError("score must be 'jaccard' or 'containment'")
    if max_doc_freq is _AUTO:
        global _warned_implicit_cap
        if not _warned_implicit_cap:
            _warned_implicit_cap = True
            import warnings
            warnings.warn(
                "ngram_jaccard_pairs applies max_doc_freq="
                f"{_DOC_FREQ_DEFAULT} by default: shingles shared by more "
                "documents are excluded from candidate generation (reported "
                "jaccard values stay exact; pairs similar ONLY through such "
                "boilerplate shingles are not reported). Pass "
                "max_doc_freq=None for the guaranteed-complete path, or an "
                "explicit cap to silence this warning. (Warned once per "
                "process.)",
                ImplicitDocFreqCapWarning,
                stacklevel=2)
        max_doc_freq = _DOC_FREQ_DEFAULT
    # shingles hashed to int64 up front: the inverted-index join shuffles
    # and compares longs, never shingle strings (collision odds ~N²/2⁶⁴).
    #
    # The shingled table is PERSISTED (memory-and-disk, LRU-evicted):
    # it feeds six consumers (stop-set freq, both self-join sides, the
    # kept-size agg, both exact re-verify sides), and Catalyst does not
    # reuse exchanges across these differently-projected subtrees —
    # unpersisted, the tokenize+shingle Arrow UDF re-runs over the full
    # corpus per consumer (measured 18 ArrowEvalPython nodes in the
    # physical plan). Standard practice for multi-pass dedup at scale:
    # the cached columnar batches are ≈ the size of the text they
    # replace and spill to local disk, never to the driver. Lifetime is
    # scope-managed (functions/cache.py).
    sh = operator_persist(df.select(
        F.col(id_col),
        shingle_hash_udf(n)(_norm_tokens(F.col(text_col))).alias("__sh"),
    ))
    inv = sh.select(
        id_col, F.size("__sh").alias("__size"), F.explode("__sh").alias("__s"))
    if max_doc_freq:
        freq = inv.groupBy("__s").agg(F.count("*").alias("__f"))
        stop = freq.where(F.col("__f") > max_doc_freq).select("__s")
        # ADAPTIVE: probe whether any shingle actually exceeds the cap
        # (one cheap agg over the persisted shingle table — it also
        # warms the cache every downstream consumer reads). When the
        # stop set is EMPTY, nothing is dropped, so the pure-count path
        # below is already exact: skip the anti-join, the kept-size
        # attach joins, and the full-set re-verify join entirely —
        # measured 4.0s → 2.3s on q21 at sf0.1. At 100 TB the probe is
        # one aggregation over an index the operator materializes
        # anyway, and a corpus that clean (no boilerplate above the
        # cap) skips the whole verification superstructure.
        # the probe fully materializes the (tiny) stop set into the
        # cache — count(), not isEmpty(), which could stop after one
        # partition and leave the rest to re-run the full-index
        # frequency agg inside the anti-join plan below
        stop = operator_persist(stop)
        if stop.count() == 0:
            max_doc_freq = None
        else:
            # anti-join against the (tiny, AQE-broadcast) stop set
            inv = inv.join(stop, "__s", "left_anti")
    # Its own self-join rather than _bucket_pairs + _attach_sides: the
    # sizes ride along the index rows, so the pair counts come out of
    # ONE self-join + ONE groupBy, where attaching the sizes afterwards
    # adds two broadcast joins (measured at sf0.01: two more jobs for
    # q21, and two more build jobs for q34/q68's cluster probe).
    l, r = inv.alias("l"), inv.alias("r")
    inter = (
        l.join(r, F.col("l.__s") == F.col("r.__s"))
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .groupBy(F.col(f"l.{id_col}").alias("id_a"),
                 F.col(f"r.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("__inter"),
             F.min("l.__size").alias("__size_a"),   # constant per pair
             F.min("r.__size").alias("__size_b"))
    )
    if max_doc_freq:
        # each doc's KEPT size bounds the stop-shingle overlap in the UB
        # prefilter below. It attaches to the AGGREGATED pairs (one row
        # per doc, id-keyed — Catalyst broadcasts it), never to the
        # exploded index: joining there would shuffle the whole inverted
        # index by id and drag __ksize through the self-join payload.
        inter = _attach_sides(
            inter, inv.groupBy(id_col).agg(F.count("*").alias("__ksize")),
            id_col)
    sa, sb = F.col("__size_a"), F.col("__size_b")

    def _score(i):
        if score == "containment":
            return i / F.least(sa, sb)
        return i / (sa + sb - i)

    if not max_doc_freq:
        return (
            inter.withColumn(score, _score(F.col("__inter")))
            .where(F.col(score) >= threshold)
            .select("id_a", "id_b", score)
        )
    # Exact intersection can exceed the kept-shingle count by at most the
    # smaller stop-shingle count: UB = (i+m)/(|A|+|B|-i-m) with
    # m = min(stop_a, stop_b). Numerator maximal, denominator minimal →
    # sound upper bound; no candidate above threshold is dropped.
    stop_min = F.least(sa - F.col("__ksize_a"), sb - F.col("__ksize_b"))
    if score == "containment":
        # iex <= inter + m and the denominator min(|A|,|B|) is fixed,
        # so (inter+m)/min is a sound upper bound too
        ub = (F.col("__inter") + stop_min) / F.least(sa, sb)
    else:
        ub = ((F.col("__inter") + stop_min)
              / (sa + sb - F.col("__inter") - stop_min))
    # Exact re-verify: pull both full shingle sets (candidate volume is
    # ~output-sized after the UB prefilter) and intersect JVM-side.
    return (
        _attach_sides(inter.where(ub >= threshold), sh, id_col)
        .withColumn("__iex", F.size(F.array_intersect("__sh_a", "__sh_b")))
        .withColumn(score, _score(F.col("__iex")))
        .where(F.col(score) >= threshold)
        .select("id_a", "id_b", score)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_SCHEMA = T.LongType()


@F.pandas_udf(_SIMHASH_SCHEMA)
def _simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (vectorized, Arrow-batched).

    Per doc: hash each token to 64 bits (MD5-derived, stable across
    processes — no PYTHONHASHSEED dependence), sum +1/-1 per bit position,
    sign → signature bit.
    """
    import hashlib

    shifts = np.arange(64, dtype=np.uint64)
    # token → ±1 bit-vector cache; natural-language token frequency is
    # Zipfian, so the vocabulary is far smaller than the token stream and
    # the md5 cost amortizes across the whole Arrow batch
    cache: dict[str, np.ndarray] = {}

    def bitvec(tok: str) -> np.ndarray:
        v = cache.get(tok)
        if v is None:
            h = np.uint64(int.from_bytes(
                hashlib.md5(tok.encode()).digest()[:8], "little"))
            v = (((h >> shifts) & np.uint64(1)).astype(np.int64) * 2 - 1)
            cache[tok] = v
        return v

    def one(text: str) -> int:
        if not text:
            return 0
        toks = text.lower().split()
        counts = np.sum([bitvec(t) for t in toks], axis=0)
        bits = np.where(counts > 0, np.uint64(1), np.uint64(0))
        sig = int((bits << shifts).sum(dtype=np.uint64))
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    return texts.map(one)


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("simhash", _simhash64(F.col(text_col)))


def simhash_candidates(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Candidate pairs with Hamming distance ≤ 3 via 4×16-bit band match
    (pigeonhole: ≤3 differing bits leave ≥1 of 4 bands identical)."""
    sig = simhash(df.select(id_col, text_col), text_col)
    # persisted (scope-managed): the 64-bit signature UDF would
    # otherwise run once per self-join side (no cross-subtree exchange
    # reuse)
    banded = operator_persist(sig.select(
        id_col,
        "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * 16)
                 .bitwiseAND(F.lit(0xFFFF)).alias("bsig"),
            )
            for b in range(4)
        ])).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.bsig"))
    # its own self-join rather than _bucket_pairs + _attach_sides: the
    # signature riding through the join measured faster than attaching
    # it to the pairs afterwards (q23 at sf0.1, local[4]: 1.7-1.8 s
    # median vs 2.2 s)
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (
        l.join(r, (F.col("l.band") == F.col("r.band"))
                  & (F.col("l.bsig") == F.col("r.bsig"))
                  & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("sim_a"),
            F.col("r.simhash").alias("sim_b"),
        )
        .distinct()
    )
    xor = F.col("sim_a").bitwiseXOR(F.col("sim_b"))
    return pairs.withColumn("hamming", F.bit_count(xor)) \
                .where(F.col("hamming") <= 3) \
                .select("id_a", "id_b", "hamming")


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PPJoin-style prefix filtering — the
    high-threshold scale path.

    Standard result: two sets with Jaccard ≥ t must share at least one
    element among the first ⌊(1−t)·|A|⌋+1 elements of each set under ANY
    global total order (we use the hash value order). Candidates are
    therefore generated from a prefix-only inverted index — index volume
    shrinks by factor ≈ t — and verified with an exact array_intersect
    over the full sets, so there are NO false negatives and NO false
    positives. At t=0.8 the index is 5× smaller and pair-row volume drops
    quadratically; at low thresholds prefix ≈ full set, so prefer
    :func:`ngram_jaccard_pairs` below t≈0.5.
    """
    # persisted (scope-managed): the prefix index (both pair sides)
    # and both verify sides read it; unpersisted, the shingle UDF ran
    # once per consumer (6 Python evaluations in the plan)
    sh = operator_persist(df.select(
        F.col(id_col),
        F.array_sort(shingle_hash_udf(n)(
            _norm_tokens(F.col(text_col)))).alias("__sh"),
    ))
    # prefix length ⌊(1−t)·|A|⌋+1 of the hash-sorted set
    pref = sh.select(
        id_col, "__sh",
        F.slice(
            "__sh", 1,
            (F.floor(F.size("__sh") * F.lit(1.0 - threshold)) + 1)
            .cast("int")).alias("__pref"),
    )
    inv = pref.select(id_col, F.explode("__pref").alias("__s"))
    cands = _bucket_pairs(inv, id_col, ["__s"]).distinct()
    return (
        _attach_sides(cands, pref.select(id_col, "__sh"), id_col)
        .withColumn("jaccard", jaccard(F.col("__sh_a"), F.col("__sh_b")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a",
                   id_b: str = "id_b") -> DataFrame:
    """Connected components over a near-duplicate pair graph →
    ``(doc_id, cluster_id)`` with cluster_id = min id reachable: a
    rename over :func:`~pandas_ai_spark.functions.graph.connected_components`
    (a driver-local union-find for small pair graphs — the pairs are the
    rare events — and convergent large-star/small-star contraction
    above that, so a long chain of near-duplicates is never cut short).

    Greedy ``minhash_dedup`` keeps lower-id docs of each *pair*; this
    gives true transitive clusters (A~B, B~C ⇒ one cluster even when A~C
    wasn't a candidate pair).
    """
    return (connected_components(pairs, src=id_a, dst=id_b)
            .select(F.col("node").alias("doc_id"),
                    F.col("component").alias("cluster_id")))


def near_dup_clusters(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", threshold: float = 0.7,
                      exact: bool = False, shingle_size: int = 3,
                      num_hashes: int = 128, bands: int = 32,
                      max_doc_freq: int | None | object = _AUTO
                      ) -> DataFrame:
    """Transitive near-duplicate clustering from raw text →
    ``(doc_id, cluster_id)`` — the one-call form of
    pair-generation + :func:`dedup_clusters`.

    The DEFAULT pair source is scale-safe: banded MinHash-LSH
    candidates (:func:`minhash_lsh_candidates`) verified with EXACT
    shingle Jaccard ≥ ``threshold`` on the collisions only
    (:func:`minhash_dedup_pairs`). Work is Θ(corpus) for the
    signature pass plus Θ(band collisions) for verification — never
    Θ(Σ shingle-doc-freq²), the measured super-linear term of the
    exact inverted-index form (SCALING.md "exact-Jaccard candidate
    growth": candidate pairs grew 8.8× for 3× docs). Every REPORTED
    pair carries its true Jaccard (exact verify); the approximation
    is RECALL only — a true pair collides in some band with
    probability 1-(1-s^r)^b (r = num_hashes/bands), so with the
    128/32 default the S-curve centers near s≈0.65: keep
    ``threshold`` ≥ ~0.7 on this path (near-dup practice), or raise
    ``bands`` to shift the curve left for lower thresholds.

    ``exact=True`` switches the pair source to the guaranteed-recall
    inverted-index form (:func:`ngram_jaccard_pairs`) — the
    small/medium-corpus VERIFIER by this module's two-path
    convention; its candidate volume is Θ(Σ f(s)²) over shingle
    doc-frequencies and measured super-linear on corpora with heavy
    shared-shingle tails, so at 100 TB the default path is the one
    to run. ``max_doc_freq`` applies to the exact path only.

    Both paths shingle identically (``_norm_tokens`` → ``shingle_size``
    word shingles, 64-bit hashed), so on a corpus whose true
    ≥-threshold pairs all LSH-collide the two paths return
    IDENTICAL clusters (hash-verified at sf0.01, q186 vs q34's
    recursive-CTE oracle).
    """
    if exact:
        pairs = ngram_jaccard_pairs(
            df, text_col, id_col, n=shingle_size, threshold=threshold,
            max_doc_freq=max_doc_freq)
    else:
        pairs = minhash_dedup_pairs(
            df, text_col, id_col, threshold=threshold,
            shingle_size=shingle_size, num_hashes=num_hashes,
            bands=bands)
    return dedup_clusters(pairs)


def minhash_dedup_transitive(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", threshold: float = 0.7,
                             **kwargs) -> DataFrame:
    """Drop near-duplicates with transitive clustering: one keeper (the
    min id) per connected component of the similarity graph."""
    pairs = minhash_dedup_pairs(df, text_col, id_col, threshold, **kwargs)
    clusters = dedup_clusters(pairs)
    losers = clusters.where(F.col("doc_id") != F.col("cluster_id")) \
                     .select(F.col("doc_id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def dedup_keep_best(df: DataFrame, pairs: DataFrame,
                    score_col: str | Column,
                    id_col: str = "doc_id", id_a: str = "id_a",
                    id_b: str = "id_b") -> DataFrame:
    """Quality-aware near-dup dedup: one survivor per connected
    component of the ``pairs`` similarity graph — the HIGHEST-``score_col``
    member, ties broken toward the lowest id (deterministic). Docs that
    appear in no pair survive untouched.

    This is what a real training pipeline wants from dedup: greedy
    pair dedup (``minhash_dedup``) and min-id clustering (``dedup_clusters``)
    both keep an *arbitrary* cluster member; keeping the best-scoring one
    retains the cleanest copy of each boilerplate family (reference has
    no analog — training-pipeline extension per SURVEY §6).

    Scale shape: near-dup clusters are output-sized (pairs are the rare
    events), so the member/score join and the per-cluster argmax (a
    ``row_number`` window over (score DESC, id ASC) — works for any
    orderable id type) run on a frame ~|pairs|, broadcast-joined back
    against the corpus; the corpus itself is touched only by the id
    anti-join. No full-corpus shuffle beyond what ``pairs`` itself
    required.

    ``score_col`` may be a Column EXPRESSION (e.g. a quality score over
    the text): it is projected ABOVE the member join, so an expensive
    score is evaluated only on the output-sized member rows, never over
    the whole corpus (Catalyst pushes raw-column pruning below joins
    but leaves computed projections where they are written).
    """
    from pyspark.sql import Window

    score = F.col(score_col) if isinstance(score_col, str) else score_col
    clusters = dedup_clusters(pairs, id_a=id_a, id_b=id_b) \
        .withColumnRenamed("doc_id", id_col)
    members = clusters.join(df, id_col) \
        .select("cluster_id", F.col(id_col), score.alias("__score"))
    # argmax per cluster via row_number over (score DESC, id ASC): works
    # for ANY orderable id type (a max_by over struct(score, -id) would
    # crash on string ids under ANSI and silently lose the tie-break
    # otherwise). The window runs on the output-sized member frame, not
    # the corpus.
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__score").desc(), F.col(id_col).asc())
    # non-keepers are rank > 1 directly — no members⟕keep anti-join
    losers = (members.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") > 1).select(id_col))
    return df.join(losers, id_col, "left_anti")


def winnow_hash_udf(k: int = 8, w: int = 4):
    """tokens → distinct winnowed fingerprints (MOSS/winnowing): rolling
    k-gram hashes, keep the min of every w-window. Guarantee: any shared
    token run of length ≥ k + w − 1 produces at least one shared
    fingerprint; fingerprint density ≈ 2/(w+1) of the k-grams."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def f(toks: pd.Series) -> pd.Series:
        def one(ts) -> list:
            if ts is None or len(ts) == 0:
                return []
            ts = list(ts)
            if len(ts) < k:
                return [_md5_i64(" ".join(ts))]
            hs = [_md5_i64(" ".join(ts[i:i + k]))
                  for i in range(len(ts) - k + 1)]
            if len(hs) <= w:
                return [min(hs)]
            sel = set()
            for i in range(len(hs) - w + 1):
                sel.add(min(hs[i:i + w]))
            return list(sel)

        return toks.map(one)

    return f


def winnow_candidates(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 8,
                      w: int = 4) -> DataFrame:
    """Candidate near-dup pairs sharing ≥1 winnowed fingerprint — the
    substring-overlap detector (catches long verbatim spans that word-set
    Jaccard dilutes away). Same inverted-index pair shape as the n-gram
    path; index volume is only ~2/(w+1) of the k-gram count."""
    # persisted (scope-managed): the winnowing UDF would otherwise run
    # once per pair side (no cross-subtree exchange reuse)
    fp = operator_persist(df.select(
        F.col(id_col),
        F.explode(winnow_hash_udf(k, w)(
            _norm_tokens(F.col(text_col)))).alias("__fp"),
    ))
    return (
        _bucket_pairs(fp, id_col, ["__fp"]).groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_fingerprints"))
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_col: str = "fingerprint",
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against an existing corpus without re-reading it:
    the corpus is represented only by its fingerprint table (md5 of
    normalized text — what :func:`fingerprint` produces / what
    dedup_exact_normalized keys on).

    Returns (novel_docs, updated_fingerprints). One anti-join on the
    fingerprint (32-byte key, never the text) + within-batch exact dedup
    first — the standard incremental-ingest shape for a continuously
    growing training corpus.
    """
    batch = dedup_exact_normalized(new_docs, text_col, id_col)
    keyed = batch.withColumn(
        fp_col, F.md5(normalize_text(F.col(text_col))))
    novel = keyed.join(
        seen_fingerprints.select(fp_col), fp_col, "left_anti")
    updated = seen_fingerprints.select(fp_col).unionByName(
        novel.select(fp_col)).distinct()
    return novel.drop(fp_col), updated


def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_overlap: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Benchmark decontamination: flag corpus documents sharing ≥
    ``min_overlap`` distinct word ``n``-grams with an evaluation set
    (the GPT-3/PaLM-style n-gram overlap check that keeps test data out
    of the training corpus).

    Returns ``(clean, flagged)``: ``flagged`` is ``(id, n_overlap)`` for
    contaminated docs, ``clean`` is the corpus with them anti-joined
    away.

    Scale shape: both sides hash their shingles in one Arrow pass
    (:func:`shingle_hash_udf` — 8-byte ints, never the gram strings);
    the eval set's distinct hashes are tiny relative to any corpus
    (benchmarks are ~10⁴–10⁶ grams) and are BROADCAST, so the corpus
    side sees a map-side semi-join — no all-to-all shuffle of corpus
    shingles. The only shuffle is the per-doc overlap count over the
    matched subset, which is bounded by contamination volume, not
    corpus size. The final anti-join keys on ``id_col`` alone.
    """
    sh = shingle_hash_udf(n)
    ev = (
        eval_docs
        .select(F.explode(sh(_norm_tokens(F.col(text_col)))).alias("__h"))
        .distinct()
    )
    corp = corpus.select(
        F.col(id_col),
        F.explode(sh(_norm_tokens(F.col(text_col)))).alias("__h"))
    flagged = (
        corp.join(F.broadcast(ev), "__h")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
        .where(F.col("n_overlap") >= min_overlap)
    )
    clean = corpus.join(flagged.select(id_col), id_col, "left_anti")
    return clean, flagged


def minhash_state(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """Build the LSH state a corpus leaves behind for incremental
    dedup: ``(bands, hashes)`` where bands = (id, band, bsig) triples
    and hashes = (id, shingle-hash set) for exact verification. Persist
    both as parquet (bucketed by ``(band, bsig)`` / ``id`` at scale);
    the corpus text itself is never needed again. Both frames derive
    from the fused :func:`_state_udf` column — consumers that
    materialize both should persist the fused frame (see
    :func:`minhash_fused_state`) so the Arrow pass runs once."""
    st = minhash_fused_state(df, text_col, id_col, shingle_size,
                             num_hashes, bands)
    return _state_bands(st, id_col), _state_hashes(st, id_col)


def minhash_incremental(
    new_docs: DataFrame,
    corpus_bands: DataFrame,
    corpus_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_size: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(novel, corpus∪increment bands, corpus∪increment hashes)`` —
    see :func:`minhash_incremental_parts` for the implementation and
    the full contract; this wrapper just composes the returned state
    increments onto the corpus state (the original API)."""
    novel, inc_bands, inc_hashes = minhash_incremental_parts(
        new_docs, corpus_bands, corpus_hashes, text_col, id_col,
        threshold, shingle_size, num_hashes, bands)
    return (novel,
            corpus_bands.unionByName(inc_bands),
            corpus_hashes.unionByName(inc_hashes))


def minhash_incremental_parts(
    new_docs: DataFrame,
    corpus_bands: DataFrame,
    corpus_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_size: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Near-dup dedup of a NEW batch against an existing corpus
    represented only by its :func:`minhash_state` — the continuous-
    ingestion form of :func:`minhash_dedup_pairs` (which pairs one
    table with itself). Returns ``(novel_docs, updated_bands,
    updated_hashes)``.

    Scale shape: the batch's band signatures equi-join the corpus band
    table on ``(band, bsig)`` — candidate volume is collision-bounded
    exactly like the one-table case, and the batch side is typically
    tiny relative to corpus state, so AQE broadcasts it. Candidates are
    then verified with exact Jaccard over the stored shingle-hash sets
    (no false positives); only verified near-dups are dropped. Within-
    batch near-dups are removed first by :func:`minhash_dedup_pairs`'
    own body with the same constants, so the returned state stays
    internally dedup'd.

    Per-batch cost (the q67 streaming hot path): the batch text runs
    through ONE fused shingle/minhash Arrow pass (:func:`_state_udf`),
    persisted — within-batch dedup, the corpus joins, and the returned
    state increments all reuse it by id. Returns ``(novel,
    novel_bands, novel_hashes)`` — the state INCREMENTS, so a
    streaming sink can checkpoint O(increment) per batch and keep the
    corpus union lazy (re-materializing the whole corpus every
    micro-batch is O(state) per batch — quadratic cumulative as the
    corpus grows); :func:`minhash_incremental` composes the unions
    for batch callers.
    """
    st = operator_persist(minhash_fused_state(
        new_docs, text_col, id_col, shingle_size, num_hashes, bands))
    b_hashes = _state_hashes(st, id_col)

    # within-batch greedy dedup (minhash_dedup semantics: every doc
    # matching a lower-id doc goes)
    losers = (_verified_pairs(st, id_col, threshold)
              .select(F.col("id_b").alias(id_col)).distinct())
    batch = new_docs.join(losers, id_col, "left_anti")
    b_bands = _state_bands(st, id_col).join(losers, id_col, "left_anti")

    cand = (
        b_bands.join(corpus_bands.withColumnRenamed(id_col, "id_b"),
                     ["band", "bsig"])
        .select(F.col(id_col).alias("id_a"), "id_b").distinct()
    )
    verified = (
        _attach_sides(cand, b_hashes, id_col,
                      corpus_hashes.select(id_col, "hashes"))
        .where(jaccard(F.col("hashes_a"), F.col("hashes_b"))
               >= F.lit(threshold))
        .select(F.col("id_a").alias(id_col)).distinct()
    )
    novel = batch.join(verified, id_col, "left_anti")
    novel_ids = novel.select(id_col)
    novel_bands = b_bands.join(novel_ids, id_col, "left_semi")
    novel_hashes = b_hashes.join(novel_ids, id_col, "left_semi")
    return novel, novel_bands, novel_hashes


def positional_ngram_hash_udf(w: int = 8):
    """tokens → array of POSITIONAL token-``w``-gram hashes (index i =
    gram starting at token i; docs shorter than ``w`` yield []) —
    :func:`_md5_i64` hashes so oracles replicate them. Unlike
    :func:`shingle_hash_udf` the output is not a set: span excision
    needs every occurrence at its position."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def f(toks: pd.Series) -> pd.Series:
        def one(ts) -> list:
            if ts is None or len(ts) < w:
                return []
            ts = list(ts)
            return [_md5_i64(" ".join(ts[i:i + w]))
                    for i in range(len(ts) - w + 1)]

        return toks.map(one)

    return f


def excise_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
) -> DataFrame:
    """Exact duplicate-SPAN removal (the Lee-et-al.-style substring
    dedup): any token ``w``-gram occurring verbatim in ≥2 distinct
    documents marks its ``w`` token positions as duplicated in every
    document containing it; duplicated positions are excised and the
    survivors reassembled in order. Document-level dedup keeps one copy
    of a boilerplate paragraph per near-dup CLUSTER; this removes it
    from every document while keeping their unique content. Docs left
    with zero tokens drop out.

    Returns ``(id, n_tokens, n_kept, text)``.

    Scale shape: positional gram hashes explode once (8-byte ints);
    duplication is one count-distinct agg on the hash; marking is a
    hash-keyed join back (duplicated grams only — volume bounded by the
    corpus's duplicated fraction, not its size). The cover is then built
    PER DOC in one expression pass: the sorted duplicate start positions
    collapse into merged ``[s, s+w)`` intervals (``F.aggregate``), and
    the kept text is the concatenation of the complement-gap slices of
    the token array. No per-position explode, no (doc, pos) distinct,
    no full-token posexplode, no anti-join — the only shuffles are the
    gram-hash agg/join and one groupBy(doc) over hit rows.
    """
    # Parallelism guard: a small input file scans as ONE partition
    # (sf0.1 documents = 594 KB < maxPartitionBytes), which serializes
    # the Arrow gram-hash UDF — the dominant cost — onto one core. At
    # production scale the scan already has >> cores partitions and
    # this is a no-op. The exchange is reused across both consumers
    # (gram pass + reassembly join) by Catalyst's ReuseExchange.
    df = _fanout_if_narrow(df, id_col)
    # toks_df is consumed twice (gram pass + reassembly join) but NOT
    # persisted: caching the full token arrays measured SLOWER than
    # re-running the JVM tokenize chain (2.35 s vs 3.92 s at sf0.1) —
    # materialization cost exceeds the recompute, unlike the Arrow-UDF
    # signature tables above.
    toks_df = df.select(
        F.col(id_col), _norm_tokens(F.col(text_col)).alias("__toks"))
    # Arrow-batched positional gram hashing (measured faster than the
    # equivalent transform(sequence)+slice+concat_ws JVM expression,
    # which rebuilds O(n·w) intermediate arrays per doc).
    ng = toks_df.select(
        F.col(id_col),
        F.posexplode(positional_ngram_hash_udf(w)(F.col("__toks")))
         .alias("__pos", "__h"))
    # Fused duplicate detection + hit extraction: ONE shuffle keyed on
    # the gram hash carries the occurrence list; "≥2 distinct docs" is
    # min≠max (single-round, map-side combined — no countDistinct
    # expand, and no second gram pass feeding a dup-set join). Skew
    # exposure (a boilerplate gram in f docs → one f-element list) is
    # the same as the join formulation's f matching rows.
    starts = (
        ng.groupBy("__h")
          .agg(F.min(id_col).alias("__a"), F.max(id_col).alias("__b"),
               F.collect_list(F.struct(
                   F.col(id_col).alias("i"),
                   F.col("__pos").alias("p"))).alias("__occ"))
          .where(F.col("__a") != F.col("__b"))
          .select(F.explode("__occ").alias("__o"))
          .groupBy(F.col("__o.i").alias(id_col))
          .agg(F.array_sort(F.collect_set("__o.p")).alias("__starts")))

    wlit = F.lit(w)
    empty_iv = F.expr("CAST(array() AS array<struct<lo:int,hi:int>>)")

    def _merge_interval(acc, s):
        # starts arrive sorted; [s, s+w) merges into the last interval
        # iff s <= last.hi (s == hi is adjacency — no gap between them)
        last = F.element_at(acc, -1)
        grown = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(F.struct(last["lo"].alias("lo"),
                             F.greatest(last["hi"], s + wlit).alias("hi"))))
        appended = F.concat(
            acc, F.array(F.struct(s.alias("lo"), (s + wlit).alias("hi"))))
        return (F.when((F.size(acc) > 0) & (s <= last["hi"]), grown)
                 .otherwise(appended))

    annotated = (
        toks_df.join(starts, id_col, "left")
        .withColumn("__iv", F.aggregate(
            F.coalesce("__starts", F.expr("CAST(array() AS array<int>)")),
            empty_iv, _merge_interval))
        .withColumn("__n", F.size("__toks"))
        # complement gaps: [0, iv1.lo), [iv1.hi, iv2.lo), ..., [ivk.hi, n)
        .withColumn("__kept", F.flatten(F.zip_with(
            F.concat(F.array(F.lit(0)),
                     F.transform("__iv", lambda m: m["hi"])),
            F.concat(F.transform("__iv", lambda m: m["lo"]),
                     F.array(F.col("__n"))),
            lambda lo, hi: F.slice(F.col("__toks"), lo + 1,
                                   F.greatest(hi - lo, F.lit(0))))))
    )
    return (
        annotated.select(
            F.col(id_col),
            F.col("__n").alias("n_tokens"),
            F.size("__kept").alias("n_kept"),
            F.concat_ws(" ", "__kept").alias(text_col))
        .where(F.col("n_kept") > 0)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Partial-copy detection: pairs whose n-gram CONTAINMENT
    ``|A∩B| / min(|A|,|B|)`` meets ``threshold`` — the quote/excerpt/
    subset-duplication score that Jaccard dilutes toward 0 as the
    length ratio grows (a 100-word quote inside a 10k-word doc has
    Jaccard ≈ 0.01 but containment ≈ 1). Same inverted-index plan and
    exact re-verification as :func:`ngram_jaccard_pairs`
    (``score='containment'``).

    Unlike the Jaccard form, the doc-frequency skew guard defaults to
    OFF here: the class it drops — a short document made entirely of
    very-common (boilerplate) shingles inside a longer one — is
    exactly the partial-copy class this operator exists to find, so
    the jaccard default's recall argument does not transfer. Pass an
    explicit ``max_doc_freq`` to re-enable the guard when a corpus's
    hot shingles make the unguarded self-join quadratic."""
    return ngram_jaccard_pairs(df, text_col, id_col, n, threshold,
                               max_doc_freq, score="containment")


def corpus_overlap(new: DataFrame, old: DataFrame,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Crawl-freshness audit: ONE row
    ``(n_new, n_distinct_new, n_seen_in_old, n_net_new, pct_net_new)``
    — how much of an incoming corpus is actually new content, by
    normalized exact fingerprint (:func:`~..functions.text.fingerprint`
    semantics): ``n_distinct_new`` dedups the batch internally,
    ``n_seen_in_old`` counts distinct new fingerprints present
    anywhere in the prior corpus, ``n_net_new`` is their difference —
    the number the ingestion decision actually needs before paying for
    processing.

    Shape: both sides reduce to DISTINCT md5 fingerprints (row-local
    hash + one distinct each — the old side never ships text); the
    membership check is a LEFT SEMI join on the hash (broadcast when
    the new batch is small, shuffle otherwise — either way keyed on
    the 16-byte hash, never the text); three scalar counts come out of
    one aggregation over the annotated new-side table.
    """
    fp_new = (new.select(F.md5(normalize_text(F.col(text_col)))
                         .alias("__fp"))
                 .groupBy("__fp").agg(F.count("*").alias("__n")))
    fp_old = old.select(F.md5(normalize_text(F.col(text_col)))
                        .alias("__fp")).distinct()
    seen = fp_new.join(fp_old, "__fp", "left_semi") \
                 .select("__fp", F.lit(1).alias("__seen"))
    ann = fp_new.join(seen.select("__fp", "__seen"), "__fp", "left")
    return ann.agg(
        F.sum("__n").cast("bigint").alias("n_new"),
        F.count("*").alias("n_distinct_new"),
        F.sum(F.coalesce(F.col("__seen"), F.lit(0))).cast("bigint")
         .alias("n_seen_in_old"),
    ).select(
        "n_new", "n_distinct_new", "n_seen_in_old",
        (F.col("n_distinct_new") - F.col("n_seen_in_old"))
        .alias("n_net_new"),
        F.try_divide(
            (F.col("n_distinct_new") - F.col("n_seen_in_old"))
            .cast("double"),
            F.col("n_distinct_new").cast("double"))
        .alias("pct_net_new"))


def dup_ngram_coverage(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3
                       ) -> DataFrame:
    """Per-document duplicated-text coverage: the fraction of each
    document's DISTINCT word n-gram shingles that occur in at least
    one OTHER document — the corpus-level "duplicate n-gram fraction"
    quality signal (the aggregate form of exact-substring dedup à la
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): documents consisting mostly of boilerplate shared with
    the rest of the corpus score near 1 and are prime removal
    candidates even when no single pair-wise near-dup fires. Returns
    every input id as ``(doc_id, n_grams, n_dup, dup_frac)`` —
    ``dup_frac`` NULL for gram-less (empty) docs.

    Scale shape: the inverted-index LINEAR pass — shingle hashes per
    doc in one Arrow batch (:func:`shingle_hash_udf`, longs only
    downstream, strings never shuffle), explode, ONE
    map-side-combined doc-frequency aggregation on the gram key
    (shuffle bounded by distinct grams — the exact shape that holds
    at corpus scale because no candidate PAIRS are ever formed), one
    co-partitioned join back, one per-doc re-aggregation. A gram is
    distinct within its doc, so ``count(*)`` per gram IS document
    frequency.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    ids = df.select(F.col(id_col))
    g = df.select(
        F.col(id_col),
        F.explode(shingle_hash_udf(n)(_norm_tokens(F.col(text_col))))
         .alias("__h"))
    dfreq = g.groupBy("__h").agg(
        F.count("*").cast("bigint").alias("__dfreq"))
    per_doc = (g.join(dfreq, "__h")
               .groupBy(id_col)
               .agg(F.count("*").cast("bigint").alias("n_grams"),
                    F.sum((F.col("__dfreq") > 1).cast("bigint"))
                     .cast("bigint").alias("n_dup")))
    out = ids.join(per_doc, id_col, "left")
    return out.select(
        F.col(id_col),
        F.coalesce("n_grams", F.lit(0)).cast("bigint")
         .alias("n_grams"),
        F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup"),
        F.when(F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
               F.col("n_dup").cast("double")
               / F.col("n_grams").cast("double")).alias("dup_frac"))

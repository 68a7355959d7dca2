"""Distributed BPE tokenizer training (Sennrich-style merge learning).

The classic trick makes this tractable at 100 TB: after ONE pass that
reduces the corpus to its distinct-word frequency table, every merge
iteration works on the VOCAB (|distinct words| rows — millions, not
trillions), so the per-iteration cost is an explode+aggregate over a
small table plus one driver sync of the single best pair — the same
iterate-and-sync shape as k-means (similarity.ann_ivf) and the
star-contraction rounds of graph.connected_components. Lineage is
truncated with localCheckpoint every few merges so the plan doesn't
grow linearly with the merge count.

No SQL oracle is possible (the merge loop is inherently iterative and
data-dependent); correctness is pinned by a pure-Python reference
implementation in tests/test_functions.py (identical tie-breaking).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import normalize_text, whitespace_tokens

END = "</w>"


def word_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One corpus pass → (symbols array<string>, freq) distinct-word
    table: each word starts as its characters plus the end-of-word
    marker. Everything after this never touches the corpus again."""
    words = df.select(
        F.explode(whitespace_tokens(normalize_text(F.col(text_col))))
         .alias("w"))
    vocab = words.groupBy("w").agg(F.count("*").alias("freq"))
    syms = F.concat(
        F.split(F.col("w"), ""),  # characters
        F.array(F.lit(END)))
    return vocab.select(syms.alias("symbols"), "freq")


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-symbol pair frequencies, weighted by word freq — one
    explode + one partial-agg'd groupBy over the vocab table."""
    n = F.size("symbols")
    pairs = F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.struct(
            F.element_at(F.col("symbols"), i + 1).alias("l"),
            F.element_at(F.col("symbols"), i + 2).alias("r")))
    ex = vocab.where(n >= 2).select(
        F.explode(pairs).alias("p"), "freq")
    return (ex.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
              .agg(F.sum("freq").alias("pair_freq")))


def _apply_merge(vocab: DataFrame, left: str, right: str) -> DataFrame:
    """Replace every adjacent (left, right) with the merged symbol — a
    single Arrow pass over the vocab (left-to-right, non-overlapping,
    matching the reference semantics)."""
    merged = left + right

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def merge_syms(syms: pd.Series) -> pd.Series:
        def one(s):
            out, i, n = [], 0, len(s)
            while i < n:
                if i + 1 < n and s[i] == left and s[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            return out

        return syms.map(one)

    return vocab.select(merge_syms("symbols").alias("symbols"), "freq")


def _train_local(freqs: dict, num_merges: int,
                 min_freq: int) -> list[tuple[str, str, int]]:
    """Driver-side merge loop over a collected (symbols-tuple → freq)
    vocab — identical semantics/tie-breaking to the distributed loop."""
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        pc: dict = {}
        for syms, f in freqs.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pc[p] = pc.get(p, 0) + f
        if not pc:
            break
        (l, r), f = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if f < min_freq:
            break
        merges.append((l, r, int(f)))
        nxt: dict = {}
        for syms, fr in freqs.items():
            out, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            nxt[key] = nxt.get(key, 0) + fr
        freqs = nxt
    return merges


def train_bpe(df: DataFrame, text_col: str = "text",
              num_merges: int = 20, min_freq: int = 2,
              checkpoint_every: int = 5,
              driver_vocab_limit: int = 1_000_000
              ) -> list[tuple[str, str, int]]:
    """Learn ``num_merges`` BPE merges from the corpus. Returns
    ``[(left, right, pair_freq), …]`` in merge order. Ties break by
    (freq desc, left asc, right asc) — deterministic, and identical to
    the reference Python implementation the tests pin against. Stops
    early when the best pair drops below ``min_freq``.

    Hybrid execution (the graph.connected_components pattern: a
    driver-local loop under a size limit): the distinct-word vocab
    is usually bounded (≤ ~10⁷ even for web corpora), so when it
    fits under ``driver_vocab_limit`` the merge LOOP runs driver-side
    on the collected vocab — zero per-iteration job scheduling; the
    corpus-sized work stays in the one distributed vocab-building pass.
    Larger vocabs take the distributed per-iteration path
    (``driver_vocab_limit=0`` forces it; exercised in tests)."""
    vocab = word_vocab(df, text_col)
    n_words = vocab.count()
    if n_words <= driver_vocab_limit:
        rows = vocab.collect()
        freqs: dict = {}
        for row in rows:
            key = tuple(row.symbols)
            freqs[key] = freqs.get(key, 0) + int(row.freq)
        return _train_local(freqs, num_merges, min_freq)

    # distributed path: right-size the iteration working set (~100k
    # words per partition — near-empty partitions cost pure scheduling)
    vocab = vocab.coalesce(max(1, n_words // 100_000 + 1))
    vocab = vocab.localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    for it in range(num_merges):
        top = (_pair_counts(vocab)
               .orderBy(F.col("pair_freq").desc(),
                        F.col("l").asc(), F.col("r").asc())
               .limit(1).collect())
        if not top or top[0].pair_freq < min_freq:
            break
        l, r, f = top[0].l, top[0].r, int(top[0].pair_freq)
        merges.append((l, r, f))
        vocab = _apply_merge(vocab, l, r)
        if (it + 1) % checkpoint_every == 0:
            vocab = vocab.localCheckpoint(eager=True)
    return merges


def encode_bpe(df: DataFrame, merges: list[tuple[str, str, int]],
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Tokenize documents with a learned merge list: one Arrow pass,
    merges applied in training order per word (greedy left-to-right,
    like the trainer). Returns ``(id, n_bpe_tokens)``."""
    order = [(l, r) for l, r, _ in merges]

    @F.pandas_udf(T.IntegerType())
    def count_tokens(toks: pd.Series) -> pd.Series:
        def word(w):
            s = list(w) + [END]
            for l, r in order:
                out, i, n = [], 0, len(s)
                while i < n:
                    if i + 1 < n and s[i] == l and s[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                s = out
            return len(s)

        return toks.map(
            lambda ts: sum(word(w) for w in ts) if ts is not None else 0)

    return df.select(
        F.col(id_col),
        count_tokens(whitespace_tokens(normalize_text(F.col(text_col))))
         .alias("n_bpe_tokens"))


def encode_bpe_scalable(df: DataFrame,
                        merges: list[tuple[str, str, int]],
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Tokenize with a learned merge list via the VOCAB trick: BPE is a
    per-WORD function, so encode each distinct word once and join the
    counts back, instead of re-running the merge loop on every corpus
    occurrence (the same reduction that makes :func:`train_bpe`
    tractable — Python cost scales with |vocab|, not corpus size).

    Plan: one corpus pass explodes (id, word); one groupBy(word) builds
    the distinct vocab; the Arrow merge UDF runs once per vocab row;
    the word→token-count map joins back on the word (an equi-join AQE
    will broadcast while the vocab is small) and one id-keyed sum
    rebuilds per-document totals. Identical results to
    :func:`encode_bpe` (greedy left-to-right in training order) —
    pinned by test.

    Returns ``(id, n_bpe_tokens)``; empty/whitespace-only docs count 0.
    """
    order = [(l, r) for l, r, _ in merges]

    @F.pandas_udf(T.IntegerType())
    def word_tokens(words: pd.Series) -> pd.Series:
        def one(w):
            s = list(w) + [END]
            for l, r in order:
                out, i, n = [], 0, len(s)
                while i < n:
                    if i + 1 < n and s[i] == l and s[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                s = out
            return len(s)

        return words.map(one)

    words = df.select(
        F.col(id_col),
        F.explode_outer(
            whitespace_tokens(normalize_text(F.col(text_col))))
         .alias("__w"))
    vocab = (words.where(F.col("__w").isNotNull())
             .select("__w").distinct()
             .select("__w", word_tokens("__w").alias("__nt")))
    return (
        words.join(vocab, "__w", "left")
        .groupBy(id_col)
        .agg(F.coalesce(F.sum("__nt"), F.lit(0))
              .cast("int").alias("n_bpe_tokens"))
    )

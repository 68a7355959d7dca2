"""Streaming operators + the schema→stream compiler.

Design: every operator is a pure DataFrame→DataFrame function that works
identically on a batch DataFrame and a streaming one (Spark's unified
API) — tested by running the same plan over ``read`` and ``readStream``
(availableNow trigger) and asserting equal results. State sizing is
bounded by watermarks so the plan holds on an unbounded 100 TB/day feed:
state eviction is per window/session key, not per event.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Per-drain throughput from the most recent run_available_now call, keyed
# by query name: {input_rows, micro_batches, rows_per_sec,
# steady_rows_per_sec}. bench.py reports these beside wall-clock.
LAST_STREAM_METRICS: dict[str, dict] = {}


def ensure_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Cast a TIMESTAMP_NTZ event-time column to TIMESTAMP (LTZ).

    ``withWatermark`` requires TIMESTAMP_LTZ event time; parquet written
    by pandas/pyarrow often carries TIMESTAMP_NTZ. Under the engine's
    pinned UTC session timezone the cast is a lossless re-tagging of the
    same wall-clock instant, so stream results stay comparable to batch
    oracles reading the original file.
    """
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def windowed_agg(df: DataFrame, ts_col: str, window: str,
                 aggs: dict[str, Column],
                 keys: Sequence[str] = (),
                 slide: Optional[str] = None,
                 watermark: Optional[str] = None) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` is given) window aggregation.

    Watermark bounds state retention for streaming inputs; on batch input
    ``withWatermark`` is a no-op, preserving parity.
    """
    if watermark and df.isStreaming:
        df = ensure_event_time(df, ts_col).withWatermark(ts_col, watermark)
    w = (F.window(ts_col, window, slide) if slide
         else F.window(ts_col, window))
    out = df.groupBy(w.alias("w"), *keys).agg(
        *[c.alias(n) for n, c in aggs.items()])
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *keys, *aggs.keys())


def sessionize(df: DataFrame, ts_col: str, gap: str,
               keys: Sequence[str],
               aggs: dict[str, Column],
               watermark: Optional[str] = None) -> DataFrame:
    """Session windows (F.session_window): gap-based sessions per key —
    the streaming-native form of the q16 lag-based batch sessionization."""
    if watermark and df.isStreaming:
        df = ensure_event_time(df, ts_col).withWatermark(ts_col, watermark)
    sw = F.session_window(F.col(ts_col), gap)
    out = df.groupBy(sw.alias("s"), *keys).agg(
        *[c.alias(n) for n, c in aggs.items()])
    return out.select(
        F.col("s.start").alias("session_start"),
        F.col("s.end").alias("session_end"),
        *keys, *aggs.keys())


def stateful_sessionize(df: DataFrame, key_col: str, ts_col: str,
                        gap_minutes: float = 30.0,
                        state_timeout_ms: int | None = None) -> DataFrame:
    """CUSTOM stateful streaming operator (``applyInPandasWithState``):
    gap-based sessionization with explicit per-key state — the shape for
    session semantics Spark's built-in ``session_window`` can't express
    (e.g. emitting per-session ordinals, carrying custom accumulators
    across micro-batches).

    State per key is 4 scalars (open-session start / last-ts / count /
    emitted-session ordinal) — O(keys), not O(events). Sessions that
    CLOSE within the stream (a later event arrives past the gap) are
    emitted immediately. With ``state_timeout_ms`` set, idle keys are
    evicted by processing-time timeout, flushing their open session —
    use that on CONTINUOUS streams. Leave it ``None`` for drain-style
    runs (``availableNow``): a registered processing-time timeout keeps
    the micro-batch engine scheduling timeout-check batches, so an
    availableNow query would never terminate (measured: 40+ empty
    batches before we killed it).

    Emits ``(key, session_id, session_start, session_end, n_events)``
    with ``session_id`` numbering each key's sessions from 0 in event
    order, and ``open`` = 1 when the row was flushed by timeout rather
    than closed by a gap. Streaming-only (``applyInPandasWithState``
    requires a streaming grouped DataFrame); batch callers should use
    the lag-based q16 form.
    """
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    out_schema = StructType([
        StructField(key_col, LongType()),
        StructField("session_id", LongType()),
        StructField("session_start", DoubleType()),
        StructField("session_end", DoubleType()),
        StructField("n_events", LongType()),
        StructField("open", LongType()),  # 1 = emitted by timeout close
    ])
    state_schema = StructType([
        StructField("start", DoubleType()),
        StructField("last", DoubleType()),
        StructField("n", LongType()),
        StructField("next_sid", LongType()),
    ])
    gap_s = gap_minutes * 60.0

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        k = key[0]
        if state.hasTimedOut:
            start, last, n, sid = state.get
            state.remove()
            yield pd.DataFrame([{key_col: k, "session_id": sid,
                                 "session_start": start,
                                 "session_end": last, "n_events": n,
                                 "open": 1}])
            return
        if state.exists:
            start, last, n, sid = state.get
        else:
            start = last = None
            n = 0
            sid = 0
        rows = []
        for pdf in pdfs:
            import numpy as np

            # np.sort copies: to_numpy() may hand back a read-only
            # Arrow-backed buffer, and in-place sort would throw inside
            # the worker (streaming then retries the batch forever)
            ts = np.sort(pdf["__ts_epoch"].to_numpy(dtype=float))
            for t in ts:
                if start is None:
                    start, last, n = float(t), float(t), 1
                elif t - last > gap_s:
                    rows.append({key_col: k, "session_id": sid,
                                 "session_start": start,
                                 "session_end": last, "n_events": n,
                                 "open": 0})
                    sid += 1
                    start, last, n = float(t), float(t), 1
                else:
                    last, n = float(t), n + 1
        state.update((start, last, n, sid))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        if rows:
            yield pd.DataFrame(rows)

    prepped = df.select(
        F.col(key_col),
        F.col(ts_col).cast("timestamp").cast("double").alias("__ts_epoch"))
    timeout_conf = (GroupStateTimeout.ProcessingTimeTimeout
                    if state_timeout_ms is not None
                    else GroupStateTimeout.NoTimeout)
    return prepped.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout_conf)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts_right",
    lower_seconds: float = -3600.0,
    upper_seconds: float = 0.0,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: pairs with equal ``on`` keys and
    ``right_ts − left_ts ∈ [lower_seconds, upper_seconds]`` — the
    streaming form of :func:`~pandas_ai_spark.functions.timeseries
    .range_join` (same semantics, batch-parity-tested).

    Both sides carry a watermark and the join condition bounds the two
    event-time columns against each other, which is exactly what Spark's
    state manager needs to EVICT buffered rows: each side retains at
    most ``watermark + window span`` of history per key, so state stays
    bounded on an unbounded feed. Without the time-range condition an
    inner stream-stream join buffers both streams forever.

    ``left_ts``/``right_ts`` must be distinct column names (rename
    before calling); non-key/non-time column collisions are the
    caller's responsibility, as with any join.
    """
    lo = float(lower_seconds)
    hi = float(upper_seconds)
    if hi <= lo:
        raise ValueError("upper_seconds must exceed lower_seconds")
    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must be distinct names")
    l = (ensure_event_time(left, left_ts).withWatermark(left_ts, watermark)
         if left.isStreaming else left)
    r = (ensure_event_time(right, right_ts)
         .withWatermark(right_ts, watermark)
         if right.isStreaming else right)
    cond = None
    for k in on:
        c = l[k] == r[k]
        cond = c if cond is None else (cond & c)
    t = (r[right_ts] >= l[left_ts]
         + F.make_dt_interval(secs=F.lit(lo))) \
        & (r[right_ts] <= l[left_ts]
           + F.make_dt_interval(secs=F.lit(hi)))
    cond = t if cond is None else (cond & t)
    dup = [k for k in on]
    out = l.join(r, cond, "inner")
    # keep one copy of each join key (the left one)
    for k in dup:
        out = out.drop(r[k])
    return out


def stream_dedup(df: DataFrame, keys: Sequence[str], ts_col: str,
                 watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup with bounded state
    (dropDuplicatesWithinWatermark); falls back to dropDuplicates on batch
    input (same result, no state concern)."""
    if df.isStreaming:
        return ensure_event_time(df, ts_col) \
            .withWatermark(ts_col, watermark) \
            .dropDuplicatesWithinWatermark(list(keys))
    return df.dropDuplicates(list(keys))


class StreamCompiler:
    """Compile a semantic-layer schema against a streaming source.

    The same ``SemanticLayerSchema`` the batch ``SchemaCompiler`` accepts,
    executed over ``spark.readStream`` when the source is a stream
    (directory of files here; kafka/rate in production — same plan). The
    non-aggregating parts (projection, the §2.7 transformations) reuse the
    batch compiler's column expressions verbatim.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def read_stream(self, path: str, fmt: str = "parquet",
                    schema=None, options: dict | None = None) -> DataFrame:
        """``options`` passes source options through (e.g.
        ``{"maxFilesPerTrigger": 1}`` to replay a chunk-staged directory
        as one in-order micro-batch per file)."""
        reader = self.spark.readStream.format(fmt)
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        if schema is None:
            # file streams need an explicit schema; infer once from the
            # existing files (driver-side, cheap — footer read only)
            schema = self.spark.read.format(fmt).load(path).schema
        return reader.schema(schema).load(path)

    def compile(self, schema, stream_df: DataFrame) -> DataFrame:
        """Apply projection + transformations from the semantic schema to a
        streaming DataFrame (aggregations go through windowed_agg — an
        unbounded global group-by is rejected by Spark itself)."""
        from ..plans.compiler import ResolverContext, SchemaCompiler

        ctx = ResolverContext(self.spark, lambda n: stream_df)
        return SchemaCompiler(self.spark, ctx).compile(
            schema, source_df=stream_df)

    @staticmethod
    def write_stream(stream_df: DataFrame, path: str, checkpoint: str,
                     fmt: str = "parquet", output_mode: str = "append",
                     trigger: Optional[dict] = None):
        """Continuous file sink with exactly-once checkpointing — the
        production shape of the driver-side `materialize` for streams.

        ``trigger``: e.g. {"processingTime": "1 minute"} or
        {"availableNow": True} (drain-and-stop backfill).
        Returns the StreamingQuery handle.
        """
        writer = (stream_df.writeStream.format(fmt)
                  .option("path", path)
                  .option("checkpointLocation", checkpoint)
                  .outputMode(output_mode))
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()

    @staticmethod
    def foreach_batch(stream_df: DataFrame, fn, checkpoint: str,
                      trigger: Optional[dict] = None):
        """foreachBatch sink: ``fn(batch_df, batch_id)`` runs per
        micro-batch with full batch-DataFrame powers (merge into tables,
        multi-sink fanout, JDBC upserts) — at-least-once unless ``fn``
        dedups on batch_id."""
        writer = (stream_df.writeStream
                  .foreachBatch(fn)
                  .option("checkpointLocation", checkpoint))
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()

    @staticmethod
    def run_available_now(stream_df: DataFrame, query_name: str,
                          state_partitions: int | None = None
                          ) -> DataFrame:
        """Drain everything currently available into a memory sink and
        return the result table (the batch-parity test harness).

        ``state_partitions`` sizes the stateful operator's state-store
        instance count (it caps ``spark.sql.shuffle.partitions`` for
        THIS query's lifetime — a streaming checkpoint captures the
        value at first start). Every instance pays a per-micro-batch
        store open + delta-file commit whether or not it holds keys,
        so size it to the KEY CARDINALITY: a 5-key demo stream on the
        session default of 32 wastes ~40% of its drain wall on 27
        empty store commits (measured: 45k -> 80-86k rows/s steady at
        sf0.1 moving 32 -> 5/8). High-cardinality production streams
        leave it ``None`` (session default; at cluster scale MORE
        instances is correct - state must spread across executors).

        Per-drain progress (input rows, micro-batch count, rows/s) is
        recorded in :data:`LAST_STREAM_METRICS` under ``query_name`` —
        wall-clock on a bounded drain is dominated by checkpoint setup,
        so throughput is the honest figure for an unbounded feed."""
        spark = stream_df.sparkSession
        with scoped_shuffle_partitions(spark, state_partitions):
            q = (stream_df.writeStream
                 .format("memory")
                 .queryName(query_name)
                 .outputMode("complete" if _has_aggregate(stream_df)
                             else "append")
                 .trigger(availableNow=True)
                 .start())
            q.awaitTermination()
        record_stream_metrics(q, query_name)
        return spark.table(query_name)


from contextlib import contextmanager


@contextmanager
def scoped_shuffle_partitions(spark, n: int | None):
    """Cap ``spark.sql.shuffle.partitions`` at ``n`` for the duration
    of a streaming drain started inside the block (``None`` = no-op). A
    stateful streaming query captures the value at first start as its
    state-store instance count — size it to key cardinality for
    small-key demo streams (see ``run_available_now``); hold the
    scope until the bounded drain terminates, since the first batch
    may plan after ``start()`` returns. The cap only ever lowers the
    count: a session already below ``n`` keeps its own value, since
    every extra store pays its per-batch commit whether or not it holds
    keys."""
    if n is None:
        yield
        return
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(min(int(n), int(old))))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def record_stream_metrics(q, query_name: str) -> None:
    """Record a finished StreamingQuery's drain progress (input rows,
    micro-batch count, rows/s) in :data:`LAST_STREAM_METRICS` under
    ``query_name`` — wall-clock on a bounded drain is dominated by
    checkpoint setup, so throughput is the honest figure for an
    unbounded feed. Works for any sink (memory, foreachBatch, file);
    best-effort — never raises."""
    try:
        prog = [p for p in (q.recentProgress or []) if p]
        rows = sum(int(p.get("numInputRows") or 0) for p in prog)
        ms = sum(float((p.get("durationMs") or {})
                       .get("triggerExecution") or 0) for p in prog)
        # steady state over data-carrying batches only (availableNow
        # ends with an empty commit flush); drop the first one —
        # state-store init + codegen warmup — when there are several
        busy = [p for p in prog if int(p.get("numInputRows") or 0) > 0]
        tail = busy[1:] if len(busy) > 1 else busy
        rows_ss = sum(int(p.get("numInputRows") or 0) for p in tail)
        ms_ss = sum(float((p.get("durationMs") or {})
                          .get("triggerExecution") or 0) for p in tail)
        LAST_STREAM_METRICS[query_name] = {
            "input_rows": rows,
            "micro_batches": len(prog),
            "rows_per_sec": round(rows * 1000.0 / ms, 1) if ms else None,
            "steady_rows_per_sec":
                round(rows_ss * 1000.0 / ms_ss, 1) if ms_ss else None,
        }
    except Exception:  # metrics are best-effort, never fail the drain
        pass


def _has_aggregate(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().logical().toString()
    return "Aggregate" in plan


class StreamingNearDup:
    """Continuous-ingestion near-duplicate filter: every micro-batch is
    deduped within itself AND against every previously-admitted document
    (``dedup.minhash_incremental``), then appended to ``out_path``; the
    MinHash corpus state evolves across batches.

    The streaming composition a real training-data pipeline needs:
    exact streaming dedup (``stream_dedup``) catches byte-identical
    re-crawls with bounded watermark state, while this catches NEAR
    duplicates against the full admitted corpus — state here is the
    banded-signature table, not raw text, and each batch join is
    collision-bounded exactly like the batch operator. State lineage is
    truncated per batch (``localCheckpoint``) so a long-running query
    does not accumulate a union-of-unions plan; at cluster scale,
    persist state between restarts with
    ``functions.state_store.save_minhash_state`` (bucketed on the join
    key, so these per-batch joins read it shuffle-free).

    At-least-once caveat (inherited from foreachBatch): a batch
    replayed after a crash re-admits its documents; dedup of the
    OUTPUT on doc id is the standard downstream guard.
    """

    def __init__(self, spark: SparkSession, text_col: str = "text",
                 id_col: str = "doc_id", threshold: float = 0.7,
                 num_hashes: int = 128, bands: int = 32,
                 shingle_size: int = 3,
                 corpus_bands: Optional[DataFrame] = None,
                 corpus_hashes: Optional[DataFrame] = None):
        from ..functions import dedup as _dd

        self._dd = _dd
        self.spark = spark
        self.text_col, self.id_col = text_col, id_col
        self.threshold = threshold
        self.num_hashes, self.bands_n = num_hashes, bands
        self.shingle_size = shingle_size
        empty_bands = spark.createDataFrame(
            [], f"{id_col} long, band int, bsig long")
        empty_hashes = spark.createDataFrame(
            [], f"{id_col} long, hashes array<long>")
        self.corpus_bands = corpus_bands if corpus_bands is not None \
            else empty_bands
        self.corpus_hashes = corpus_hashes if corpus_hashes is not None \
            else empty_hashes
        self.admitted_rows = 0

    # after this many batches the state union (one checkpointed
    # increment per batch) is collapsed into a single checkpoint —
    # bounds plan width for long-running streams while keeping the
    # steady-state cost O(increment) per batch, not O(corpus)
    STATE_COMPACT_EVERY = 64

    def process_batch(self, batch_df: DataFrame, batch_id: int,
                      out_path: Optional[str] = None) -> DataFrame:
        """Dedup one batch against the evolving corpus; append novel
        docs to ``out_path`` (if given) and advance the state.

        Per-batch materialization (r11 rework):
        only the INCREMENT is localCheckpoint'ed; the corpus state
        stays a lazy union of already-materialized checkpoints, so a
        batch writes O(novel) state instead of re-materializing the
        whole O(corpus) union (quadratic cumulative as the corpus
        grows — the old shape). The batch's fused shingle/minhash
        table and the novel frame are persisted inside a cache scope
        (one Arrow pass, one join pipeline per batch; the old shape
        left per-batch persists in the global ledger for the whole
        drain). Every ``STATE_COMPACT_EVERY`` batches the union is
        collapsed into one checkpoint to bound plan width."""
        from ..functions.cache import cache_scope, operator_persist

        with cache_scope():
            # persist the batch itself: every downstream action would
            # otherwise re-read the streaming source (foreachBatch
            # re-executes the batch plan per action), which both
            # re-scans the files and INFLATES numInputRows in the
            # progress metrics — the old shape re-read the source ~10x
            # per batch, so its reported rows/s were ~10x the true
            # document throughput (r11 finding; floors recalibrated)
            # (r14 probe: fanning the micro-batch out before the
            # minhash pass was measured a wash — per-batch wall is
            # dominated by state joins + micro-batch machinery, not
            # the 5k-doc Arrow pass — so the batch stays as delivered)
            batch = operator_persist(
                batch_df.select(self.id_col, self.text_col))
            novel, inc_bands, inc_hashes = \
                self._dd.minhash_incremental_parts(
                    batch,
                    self.corpus_bands, self.corpus_hashes,
                    text_col=self.text_col, id_col=self.id_col,
                    threshold=self.threshold,
                    shingle_size=self.shingle_size,
                    num_hashes=self.num_hashes, bands=self.bands_n)
            # novel feeds the write, the count, and both increments'
            # semi-joins — persist once, release at scope exit
            novel = operator_persist(novel)
            self.corpus_bands = self.corpus_bands.unionByName(
                inc_bands.localCheckpoint(eager=True))
            self.corpus_hashes = self.corpus_hashes.unionByName(
                inc_hashes.localCheckpoint(eager=True))
            self._batches = getattr(self, "_batches", 0) + 1
            if self._batches % self.STATE_COMPACT_EVERY == 0:
                self.corpus_bands = \
                    self.corpus_bands.localCheckpoint(eager=True)
                self.corpus_hashes = \
                    self.corpus_hashes.localCheckpoint(eager=True)
            if out_path is not None:
                novel.write.mode("append").parquet(out_path)
                self.admitted_rows += novel.count()
        return novel

    def attach(self, stream_df: DataFrame, out_path: str,
               checkpoint: str, trigger: Optional[dict] = None):
        """Run as a foreachBatch sink over a streaming DataFrame."""
        def fn(bdf, bid):
            self.process_batch(bdf, bid, out_path)

        return StreamCompiler.foreach_batch(
            stream_df, fn, checkpoint,
            trigger=trigger or {"availableNow": True})


def stateful_rolling_zscore(df: DataFrame, key_col: str, ts_col: str,
                            value_col: str, id_col: str,
                            window: int = 20, min_periods: int = 5,
                            z_threshold: float = 3.0) -> DataFrame:
    """CUSTOM stateful streaming operator (``applyInPandasWithState``):
    the streaming form of
    :func:`~pandas_ai_spark.functions.timeseries.rolling_zscore_anomalies`
    — per-key rolling z-score alerts with the trailing window carried
    ACROSS micro-batches as explicit state.

    State per key is the last ``window`` values (bounded array —
    O(keys·window), never O(events)); each micro-batch's rows are
    processed in (ts, id) event order, scored against the state BEFORE
    being appended (strictly-prior semantics: a spike never suppresses
    itself), warm-up (< ``min_periods`` priors) and zero-variance
    baselines never alert. Given in-order arrival (per-key event time
    non-decreasing across batches), the emitted alert set is
    byte-identical to the batch operator / its DuckDB oracle — q100
    asserts exactly that. Out-of-order data needs an upstream
    watermark+sort stage; the operator itself trusts arrival order,
    like every online detector.

    Emits ``(id, key, value, zscore)`` rows for alerts only.
    """
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StringType, StructField, StructType)

    out_schema = StructType([
        StructField(id_col, LongType()),
        StructField(key_col, StringType()),
        StructField(value_col, DoubleType()),
        StructField("zscore", DoubleType()),
    ])
    state_schema = StructType([
        StructField("tail", ArrayType(DoubleType())),
    ])
    w, mp, zt = int(window), int(min_periods), float(z_threshold)

    def fn(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        tail = list(state.get[0]) if state.exists else []
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["__ts_epoch", id_col])
        vals = batch[value_col].to_numpy(dtype=float)
        # one vectorized rolling pass over state-tail ‖ batch: the
        # strictly-prior trailing stats are rolling(w).shift(1) — no
        # per-row Python loop (that form measured ~18k rows/s; this
        # one clears the bench's 50k rows/s floor)
        s = pd.Series(np.concatenate([np.asarray(tail, dtype=float),
                                      vals]))
        r = s.rolling(window=w, min_periods=1)
        m = r.mean().shift(1).to_numpy()[len(tail):]
        sd = r.std(ddof=1).shift(1).to_numpy()[len(tail):]
        n = r.count().shift(1, fill_value=0.0).to_numpy()[len(tail):]
        with np.errstate(divide="ignore", invalid="ignore"):
            z = (vals - m) / sd
        hit = (n >= mp) & (sd > 0.0) & (np.abs(z) > zt)
        new_tail = [float(x) for x in s.to_numpy()[-w:]]
        state.update((new_tail,))
        if hit.any():
            ids = batch[id_col].to_numpy()[hit]
            yield pd.DataFrame({
                id_col: ids.astype("int64"),
                key_col: key[0],
                value_col: vals[hit],
                "zscore": z[hit],
            })

    prepped = df.select(
        F.col(key_col), F.col(id_col), F.col(value_col).cast("double"),
        F.col(ts_col).cast("timestamp").cast("double")
         .alias("__ts_epoch"))
    return prepped.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)


def stateful_reservoir(df: DataFrame, key_col: str, id_col: str,
                       k: int = 100, seed: str = "res") -> DataFrame:
    """CUSTOM stateful streaming operator (``applyInPandasWithState``):
    a per-stratum uniform reservoir sample maintained ACROSS
    micro-batches via the bottom-k-by-hash (KMV) scheme — each row's
    priority is ``md5(seed‖id)`` and the reservoir is the ``k``
    smallest priorities seen so far. Bottom-k-by-hash IS a uniform
    sample of the distinct ids and, unlike Vitter's algorithm R, is
    ORDER-INDEPENDENT and mergeable: the final reservoir equals the
    batch :func:`~pandas_ai_spark.functions.pipeline.cap_per_domain`
    over everything ingested (same md5 order), regardless of how rows
    were split into micro-batches — the batch/stream parity contract
    this module tests everywhere.

    State per key is the bounded ``(priority, id)`` bottom-k plus a
    seen-counter — O(strata · k), never O(events). Each micro-batch
    emits the key's full reservoir SNAPSHOT tagged with ``seen`` (rows
    ingested so far for that stratum); consumers keep the max-``seen``
    snapshot per key (the returned stream is append-mode, so earlier
    snapshots are immutable history — exactly a sampling sketch's
    changelog). Emits ``(key_col, id_col, priority, seen)``.

    Scale shape: one shuffle on the stratum key per micro-batch; the
    Python work is a vectorized md5-merge-sort of (state ∪ batch)
    truncated at ``k``.
    """
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)
    from pyspark.sql.types import (ArrayType, LongType, StringType,
                                   StructField, StructType)

    if k < 1:
        raise ValueError("k must be >= 1")
    in_fields = {f.name: f.dataType for f in df.schema.fields}
    out_schema = StructType([
        StructField(key_col, in_fields[key_col]),
        StructField(id_col, in_fields[id_col]),
        StructField("priority", StringType()),
        StructField("seen", LongType()),
    ])
    state_schema = StructType([
        StructField("prios", ArrayType(StringType())),
        StructField("ids", ArrayType(in_fields[id_col])),
        StructField("seen", LongType()),
    ])
    kk, sd = int(k), str(seed)

    def fn(key, pdfs, state: GroupState):
        import hashlib

        import pandas as pd

        if state.exists:
            prios, ids, seen = state.get
            pool = list(zip(prios, ids))
        else:
            pool, seen = [], 0
        n_new = 0
        for pdf in pdfs:
            n_new += len(pdf)
            # .tolist() hands back native Python scalars — numpy
            # types would fail the Arrow state-schema conversion
            for i in pdf[id_col].tolist():
                h = hashlib.md5(
                    f"{sd}:{i}".encode("utf-8")).hexdigest()
                pool.append((h, i))
        # md5 is effectively collision-free on ids, so the (priority,
        # id) sort is total and the truncation deterministic; the set()
        # dedups ids re-seen across (or within) micro-batches — an id's
        # (priority, id) tuple is identical every time it appears, so
        # one reservoir slot per DISTINCT id (the KMV uniform-sample
        # contract) no matter how often it recurs in the stream
        pool = sorted(set(pool))
        pool = pool[:kk]
        seen += n_new
        state.update(([p for p, _ in pool],
                      [i for _, i in pool], seen))
        yield pd.DataFrame({
            key_col: [key[0]] * len(pool),
            id_col: [i for _, i in pool],
            "priority": [p for p, _ in pool],
            "seen": seen,
        })

    prepped = df.select(F.col(key_col), F.col(id_col))
    return prepped.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)


class StreamingDriftMonitor:
    """Continuous distribution-drift monitoring: every micro-batch's
    ``value_col`` is scored against a FIXED reference snapshot with
    the same PSI arithmetic as the batch operator
    (:func:`~pandas_ai_spark.functions.stats
    .population_stability_index` is called directly, so the streamed
    number is bit-identical to what a batch backfill would report —
    batch/stream parity by construction, test-asserted). One row
    ``(batch_id, n_rows, psi, alert)`` appends to ``out_path`` per
    micro-batch; ``alert`` fires above ``alert_threshold`` (0.25 = the
    standard 'significant shift' PSI bar).

    The reference is a static DataFrame captured at deploy time (the
    training snapshot); per batch the cost is two bounded jobs — the
    ``bins``-row PSI table and a count — regardless of batch size.
    """

    def __init__(self, spark, reference: DataFrame, value_col: str,
                 lo: float, hi: float, bins: int = 10,
                 alert_threshold: float = 0.25):
        self.spark = spark
        self.reference = reference
        self.value_col = value_col
        self.lo, self.hi, self.bins = float(lo), float(hi), int(bins)
        self.alert_threshold = float(alert_threshold)

    def process_batch(self, batch_df: DataFrame, batch_id: int,
                      out_path: str) -> None:
        from ..functions.stats import population_stability_index

        n = batch_df.count()
        if n == 0:
            return
        psi = float(population_stability_index(
            self.reference, batch_df, self.value_col,
            self.lo, self.hi, self.bins)
            .agg(F.sum("psi")).collect()[0][0])
        row = self.spark.createDataFrame(
            [(int(batch_id), int(n), psi,
              psi > self.alert_threshold)],
            "batch_id long, n_rows long, psi double, alert boolean")
        row.write.mode("append").parquet(out_path)

    def attach(self, stream_df: DataFrame, out_path: str,
               checkpoint: str, trigger: Optional[dict] = None):
        """Run as a foreachBatch sink over a streaming DataFrame."""
        def fn(bdf, bid):
            self.process_batch(bdf, bid, out_path)

        return StreamCompiler.foreach_batch(
            stream_df, fn, checkpoint,
            trigger=trigger or {"availableNow": True})

"""Streaming tests — batch/stream parity over the events table: the same
plan run via spark.read and spark.readStream (availableNow) must produce
identical results."""

import pytest
from pyspark.sql import functions as F

from pandas_ai_spark.streaming import (
    StreamCompiler,
    sessionize,
    stream_dedup,
    windowed_agg,
)

from conftest import SF_SMOKE, sorted_rows


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """events parquet re-written with µs timestamps (the raw testdata file
    carries TIMESTAMP(NANOS) which the vectorized reader rejects)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    df.coalesce(2).write.mode("overwrite").parquet(out)
    return out


@pytest.fixture(scope="module")
def batch_events(spark, events_dir):
    return spark.read.parquet(events_dir)


@pytest.fixture(scope="module")
def stream_events(spark, events_dir):
    sc = StreamCompiler(spark)
    return sc.read_stream(events_dir)


def AGGS():
    # built lazily — Column construction needs an active SparkSession
    return {"n": F.count("*"), "total": F.round(F.sum("value"), 2)}


def test_tumbling_window_parity(spark, batch_events, stream_events):
    batch = windowed_agg(batch_events, "ts", "1 hour", AGGS(),
                         keys=["event_type"])
    stream = windowed_agg(stream_events, "ts", "1 hour", AGGS(),
                          keys=["event_type"], watermark="2 hours")
    result = StreamCompiler.run_available_now(stream, "t_tumbling")
    assert sorted_rows(result) == sorted_rows(batch)


def test_sliding_window_parity(spark, batch_events, stream_events):
    batch = windowed_agg(batch_events, "ts", "1 hour", AGGS(),
                         slide="30 minutes")
    stream = windowed_agg(stream_events, "ts", "1 hour", AGGS(),
                          slide="30 minutes", watermark="2 hours")
    result = StreamCompiler.run_available_now(stream, "t_sliding")
    assert sorted_rows(result) == sorted_rows(batch)


def test_session_window_parity(spark, batch_events, stream_events):
    aggs = {"n_events": F.count("*")}
    batch = sessionize(batch_events, "ts", "30 minutes", ["user_id"], aggs)
    stream = sessionize(stream_events, "ts", "30 minutes", ["user_id"],
                        aggs, watermark="2 hours")
    result = StreamCompiler.run_available_now(stream, "t_session")
    assert sorted_rows(result) == sorted_rows(batch)


def test_session_count_matches_lag_based_batch(spark, batch_events, duck):
    """Session-window count per user == the q16 lag-gap batch definition."""
    sess = sessionize(batch_events, "ts", "30 minutes", ["user_id"],
                      {"n": F.count("*")})
    ours = sess.groupBy("user_id").agg(
        F.count("*").alias("n_sessions")).orderBy("user_id")
    oracle = duck.execute("""
        WITH flagged AS (
          SELECT user_id,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) IS NULL
                      OR ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_session
          FROM events)
        SELECT user_id, sum(new_session) AS n_sessions
        FROM flagged GROUP BY user_id ORDER BY user_id
    """).fetchall()
    assert sorted_rows(ours) == sorted_rows(oracle)


def test_stream_dedup_parity(spark, batch_events, stream_events):
    batch = stream_dedup(batch_events, ["user_id", "event_type"], "ts") \
        .groupBy().count()
    n_batch = batch.collect()[0][0]
    deduped = stream_dedup(stream_events, ["user_id", "event_type"], "ts",
                           watermark="10 hours")
    q = (deduped.writeStream.format("memory").queryName("t_dedup")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    n_stream = spark.table("t_dedup").count()
    # dropDuplicatesWithinWatermark may keep extra rows across microbatch
    # boundaries for late data; with a watermark spanning the whole file it
    # must equal exact dedup
    assert n_stream == n_batch


def test_semantic_schema_on_stream(spark, stream_events):
    """The batch semantic-layer schema compiles against a readStream source
    (projection + transformation path)."""
    from pandas_ai_spark.schema import SemanticLayerSchema

    schema = SemanticLayerSchema.model_validate({
        "name": "events_clean",
        "transformations": [
            {"type": "to_uppercase", "params": {"column": "event_type"}},
        ],
        "columns": [
            {"name": "event_id"},
            {"name": "event_type"},
            {"name": "value"},
        ],
    })
    sc = StreamCompiler(spark)
    out = sc.compile(schema, stream_events)
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("t_sem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.table("t_sem")
    assert got.columns == ["event_id", "event_type", "value"]
    assert got.where(F.col("event_type") != F.upper("event_type")).count() == 0


def test_write_stream_parquet_sink(spark, stream_events, batch_events,
                                   tmp_path):
    """File sink with checkpoint: drain availableNow, re-read, compare to
    batch projection."""
    proj = stream_events.select("event_id", "user_id", "value")
    q = StreamCompiler.write_stream(
        proj, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        trigger={"availableNow": True})
    q.awaitTermination()
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == batch_events.count()
    assert set(back.columns) == {"event_id", "user_id", "value"}


def test_foreach_batch_sink(spark, stream_events, batch_events, tmp_path):
    seen = []

    def fn(bdf, bid):
        seen.append((bid, bdf.count()))

    q = StreamCompiler.foreach_batch(
        stream_events, fn, str(tmp_path / "ckpt2"),
        trigger={"availableNow": True})
    q.awaitTermination()
    assert sum(n for _, n in seen) == batch_events.count()


def test_stateful_sessionize_matches_lag_based_batch(spark, batch_events,
                                                     stream_events):
    """applyInPandasWithState sessionization: the closed sessions emitted
    by the stateful operator must equal the batch lag-based sessions,
    excluding each key's final (still-open) session."""
    from pandas_ai_spark.streaming import StreamCompiler, stateful_sessionize

    sub = stream_events.where(F.col("user_id") < 10)
    out = stateful_sessionize(sub, "user_id", "ts", gap_minutes=30)
    got = StreamCompiler.run_available_now(out, "stateful_sessions")
    closed = {(r.user_id, r.session_id, r.session_start, r.session_end,
               r.n_events)
              for r in got.where(F.col("open") == 0).collect()}

    # batch oracle: lag-based session assignment, drop each user's last
    ev = (batch_events.where(F.col("user_id") < 10)
          .select("user_id",
                  F.col("ts").cast("timestamp").cast("double").alias("t")))
    import pandas as pd
    pdf = ev.toPandas().sort_values(["user_id", "t"])
    expected = set()
    for uid, g in pdf.groupby("user_id"):
        ts = g["t"].tolist()
        sessions = []
        start, last, n = ts[0], ts[0], 1
        for t in ts[1:]:
            if t - last > 1800:
                sessions.append((start, last, n))
                start, last, n = t, t, 1
            else:
                last, n = t, n + 1
        # trailing session stays open — excluded
        for sid, (s, e, n_ev) in enumerate(sessions):
            expected.add((uid, sid, s, e, n_ev))
    assert closed == expected
    assert expected, "fixture must close at least one session"


def test_stream_interval_join_parity_with_batch_range_join(
        spark, batch_events, stream_events):
    """Watermarked stream-stream interval join drains to the same pair
    set as the batch bucketed range_join (clicks within the hour before
    each purchase, per user)."""
    from pandas_ai_spark.functions.timeseries import range_join
    from pandas_ai_spark.streaming import StreamCompiler, \
        stream_interval_join

    def split(ev):
        p = ev.where(F.col("event_type") == "purchase").select(
            "user_id", "event_id", "ts")
        c = ev.where(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"), "value")
        return p, c

    sp, sc_ = split(stream_events)
    joined = stream_interval_join(
        sp, sc_.withColumnRenamed("c_user_id", "user_id"),
        on=["user_id"], left_ts="ts", right_ts="click_ts",
        lower_seconds=-3600, upper_seconds=0)
    drained = StreamCompiler.run_available_now(
        joined, "t_stream_interval_join")
    got = {(r.user_id, r.event_id, r.click_ts)
           for r in drained.collect()}

    bp, bc = split(batch_events)
    batch = range_join(bp, bc.withColumnRenamed("c_user_id", "user_id"),
                       ["user_id"], "ts", "click_ts", -3600, 0)
    exp = {(r.user_id, r.event_id, r.click_ts) for r in batch.collect()}
    assert got == exp and got


def test_stream_static_enrichment_join_parity(spark, batch_events,
                                              stream_events):
    """Stream-static join (dimension enrichment — Spark supports it
    natively, no watermark needed on the static side): streaming events
    joined to a static event_type dimension drain to the same rows as
    the batch join."""
    from pandas_ai_spark.streaming import StreamCompiler

    dim = spark.createDataFrame(
        [("purchase", 1.0), ("click", 0.1), ("view", 0.01)],
        "event_type string, weight double")

    def enrich(ev):
        return (ev.join(F.broadcast(dim), "event_type")
                .select("event_id", "event_type", "weight"))

    drained = StreamCompiler.run_available_now(
        enrich(stream_events), "t_stream_static_join")
    got = {(r.event_id, r.weight) for r in drained.collect()}
    exp = {(r.event_id, r.weight) for r in enrich(batch_events).collect()}
    assert got == exp and got


def test_streaming_near_dup_filter(spark, tmp_path):
    """Continuous-ingestion near-dup filter: micro-batches are deduped
    within themselves and against every previously-admitted doc via the
    evolving MinHash state; near-dup re-submissions are rejected, fresh
    docs admitted — order-agnostic: exactly one survivor per near-dup
    group regardless of micro-batch assignment."""
    from pandas_ai_spark.streaming import StreamingNearDup

    base = [
        (i, f"document number {i} talks about topic {i} with plenty of "
            f"distinct words like alpha{i} beta{i} gamma{i} delta{i} "
            f"epsilon{i} zeta{i} eta{i} theta{i} iota{i} kappa{i}")
        for i in range(10)
    ]
    # near-dup rewrites of docs 0-4 (one word appended) + fresh 10-14
    dups = [(100 + i, base[i][1] + " extra") for i in range(5)]
    fresh = [
        (10 + i, f"totally new content {i} about subject {i} featuring "
                 f"unique tokens mu{i} nu{i} xi{i} omicron{i} pi{i} "
                 f"rho{i} sigma{i} tau{i} upsilon{i} phi{i}")
        for i in range(5)
    ]
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(base, "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(dups + fresh, "doc_id long, text string") \
        .coalesce(1).write.mode("append").parquet(str(src))

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    filt = StreamingNearDup(spark, threshold=0.5)
    q = filt.attach(stream, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    q.awaitTermination()

    admitted = {r.doc_id for r in spark.read.parquet(
        str(tmp_path / "out")).select("doc_id").collect()}
    # every fresh doc admitted; exactly one per near-dup group
    assert {10, 11, 12, 13, 14} <= admitted
    for i in range(5):
        assert len(admitted & {i, 100 + i}) == 1, (i, admitted)
    for i in range(5, 10):
        assert i in admitted
    assert len(admitted) == 15
    # state covers exactly the admitted corpus
    assert filt.corpus_hashes.count() == 15


def test_stateful_rolling_zscore_parity_across_batches(spark, tmp_path):
    """Streaming rolling z-score == the batch operator, with the
    trailing window carried ACROSS a micro-batch boundary: the spike
    arrives in batch 2 and must be scored against baseline points that
    all arrived in batch 1."""
    import datetime as dt
    import os

    from pandas_ai_spark.functions.timeseries import \
        rolling_zscore_anomalies
    from pandas_ai_spark.streaming.stream import (StreamCompiler,
                                                  stateful_rolling_zscore)

    def ts(i):
        return dt.datetime(2024, 1, 1, 0, i)

    base = [(i, ts(i), "k", 10.0 + (i % 3) * 0.1) for i in range(8)]
    late = [(100, ts(20), "k", 99.0), (101, ts(21), "k", 10.1)]
    schema = "event_id long, ts timestamp, event_type string, value double"
    src = str(tmp_path / "src")
    spark.createDataFrame(base, schema).coalesce(1) \
         .write.mode("append").parquet(src)
    first = [os.path.join(src, f) for f in os.listdir(src)
             if f.endswith(".parquet")]
    spark.createDataFrame(late, schema).coalesce(1) \
         .write.mode("append").parquet(src)
    now = os.path.getmtime(first[0])
    for f in os.listdir(src):
        p = os.path.join(src, f)
        if f.endswith(".parquet") and p not in first:
            os.utime(p, (now + 30, now + 30))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    alerts = stateful_rolling_zscore(
        stream, "event_type", "ts", "value", "event_id",
        window=20, min_periods=5, z_threshold=3.0)
    got = StreamCompiler.run_available_now(alerts, "zscore_parity")
    s_rows = sorted((r.event_id, round(r.zscore, 9))
                    for r in got.collect())

    batch = spark.createDataFrame(base + late, schema)
    want = rolling_zscore_anomalies(
        batch, "value", "ts", by=("event_type",),
        order_tiebreak="event_id", window=20, min_periods=5,
        z_threshold=3.0)
    b_rows = sorted((r.event_id, round(r.zscore, 9))
                    for r in want.collect())
    assert s_rows == b_rows
    # the spike (id 100) alerts off batch-1 state; the point after it
    # (id 101) must NOT alert — the spike joined its baseline
    assert [i for i, _ in s_rows] == [100]


def test_scoped_shuffle_partitions_only_lowers(spark):
    # a state-store pin above the session's partition count keeps the
    # session's count: every extra store pays a per-batch commit
    from pandas_ai_spark.streaming.stream import scoped_shuffle_partitions

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "4")
        with scoped_shuffle_partitions(spark, 8):
            assert spark.conf.get(key) == "4"
        with scoped_shuffle_partitions(spark, 2):
            assert spark.conf.get(key) == "2"
        assert spark.conf.get(key) == "4"
        with scoped_shuffle_partitions(spark, None):
            assert spark.conf.get(key) == "4"
    finally:
        spark.conf.set(key, old)

"""Round-14 guards: the r13 VERDICT/ADVICE items.

- oracle fold lint: every registered oracle is a FIXED POINT of
  ``_fold_negzero_rounds`` (VERDICT r13 item 6) — possible because the
  fold is now idempotent and skips single-quoted literals (ADVICE r13).
- mp4 demux hardening (ADVICE r13 medium): hostile entry counts are
  clamped to box bytes, malformed blobs degrade to ``None``.
- decimal-before-sum lint (ADVICE r13): the agreement/Q statistics cast
  an operand to decimal(38,0) BEFORE the product/sum, never after.
- HITS small-graph fast path (VERDICT r13 item 3): driver-local numpy
  rounds under ``graph.LOCAL_EDGES_MAX["hits"]`` are bitwise-identical
  to the distributed rounds.
- siegel_slopes continuous-x guard (VERDICT r13 item 4).
- rank dispatch skips the eager count for Python-UDF plans
  (ADVICE r13), dispatching distributed instead.
- bench artifact self-description (VERDICT r13 items 2/5): per-stream
  effective floors, either-engine heavy-pair cut.
"""

import sys
import warnings

import pytest

sys.path.insert(0, ".")

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# oracle -0.0 fold: idempotence, literal skipping, registry fixed-point
# ---------------------------------------------------------------------------

class TestNegzeroFoldLint:
    def test_fold_is_idempotent(self):
        f = entry._fold_negzero_rounds
        s = "SELECT round(x, 2) AS a, round(y) AS b"
        one = f(s)
        assert one == "SELECT (round(x, 2) + 0.0) AS a, round(y) AS b"
        assert f(one) == one

    def test_fold_skips_quoted_literals(self):
        f = entry._fold_negzero_rounds
        s = "SELECT 'use round(x, 2) here' AS note, round(y, 3) AS b"
        r = f(s)
        assert "'use round(x, 2) here'" in r
        assert "(round(y, 3) + 0.0)" in r

    def test_fold_handles_doubled_quote_escape(self):
        f = entry._fold_negzero_rounds
        s = "SELECT 'it''s round(x, 1)' AS t, round(z, 1) AS c"
        r = f(s)
        assert "'it''s round(x, 1)'" in r
        assert "(round(z, 1) + 0.0)" in r
        assert f(r) == r

    def test_nested_round_fold_fixed_point(self):
        f = entry._fold_negzero_rounds
        r = f("SELECT round(round(x, 4), 2) AS d")
        assert r == "SELECT (round((round(x, 4) + 0.0), 2) + 0.0) AS d"
        assert f(r) == r

    def test_every_registered_oracle_is_folded(self):
        """The registry lint (VERDICT r13 item 6): because oracle_sql()
        wraps every SQL through the fold at its return, and the fold is
        idempotent, every registered oracle must be a fixed point — a
        future oracle that bypasses the wrap with an unfolded two-arg
        round() fails here, automatically."""
        f = entry._fold_negzero_rounds
        bad = [name for name, sql in entry.oracle_sql().items()
               if f(sql) != sql]
        assert not bad, f"oracles not negzero-folded: {bad}"


# ---------------------------------------------------------------------------
# mp4 demux hardening
# ---------------------------------------------------------------------------

class TestMp4Hardening:
    def _minimal_mp4(self):
        from pandas_ai_spark.functions.multimodal import build_mp4

        return build_mp4([b"frame-one", b"frame-two!"], 64, 48, 500)

    def test_valid_blob_still_parses(self):
        from pandas_ai_spark.functions import multimodal as mm

        info = mm.mp4_parse(self._minimal_mp4())
        assert info is not None and info["brand"] == "isom"
        trk = info["tracks"][0]
        assert trk["width"] == 64 and trk["height"] == 48
        assert trk["sample_sizes"] == [9, 10]

    def test_hostile_stsz_count_is_clamped(self):
        """A declared fixed-size sample count of 2^32-1 must not
        allocate a multi-GB list (ADVICE r13 medium)."""
        from pandas_ai_spark.functions import multimodal as mm

        blob = bytearray(self._minimal_mp4())
        i = bytes(blob).find(b"stsz")
        assert i > 0
        # stsz payload: version+flags (4) + fixed size (4) + count (4)
        blob[i + 4:i + 8] = (8).to_bytes(4, "big")       # fixed = 8
        blob[i + 8:i + 12] = (0xFFFFFFFF).to_bytes(4, "big")
        info = mm.mp4_parse(bytes(blob))
        # clamped to at most blob_len/fixed + 1 entries, instantly
        assert info is not None
        sizes = info["tracks"][0]["sample_sizes"]
        assert len(sizes) <= len(blob) // 8 + 1

    def test_hostile_stco_count_is_clamped(self):
        from pandas_ai_spark.functions import multimodal as mm

        blob = bytearray(self._minimal_mp4())
        i = bytes(blob).find(b"stco")
        blob[i + 8:i + 12] = (0x7FFFFFFF).to_bytes(4, "big")
        info = mm.mp4_parse(bytes(blob))
        assert info is not None
        assert len(info["tracks"][0]["chunk_offsets"]) <= len(blob)

    def test_truncated_tkhd_returns_none_not_raise(self):
        """Per-blob graceful degradation: a malformed structure inside
        an otherwise-walkable moov reports not-MP4 (None), never an
        exception that would fail the whole Spark task."""
        from pandas_ai_spark.functions import multimodal as mm

        good = self._minimal_mp4()
        i = good.find(b"tkhd")
        # rewrite tkhd version byte to 1 (64-bit layout) without the
        # 64-bit payload: the fixed-offset reads walk off the box
        blob = bytearray(good)
        blob[i + 4] = 1
        out = mm.mp4_parse(bytes(blob))
        assert out is None or isinstance(out, dict)

    def test_garbage_blob_is_none(self):
        from pandas_ai_spark.functions import multimodal as mm

        assert mm.mp4_parse(b"\x00" * 64) is None
        assert mm.mp4_parse(None) is None
        assert mm.mp4_parse(b"short") is None


# ---------------------------------------------------------------------------
# video pixel decode (codec stage behind the demuxer, VERDICT r13 item 7)
# ---------------------------------------------------------------------------

class TestVideoPixelDecode:
    def _media(self, spark):
        from pandas_ai_spark.functions.multimodal import build_mp4

        frames = [bytes([i % 251 for i in range(j + 5)])
                  for j in range(9)]
        blob = build_mp4(frames, 32, 24, 900)
        return (spark.createDataFrame([(1, bytearray(blob))],
                                      "doc_id long, media binary"),
                frames)

    def test_fake_decode_tiles_demuxed_payload(self, spark):
        """The fake path still runs the REAL demux: geometry from tkhd,
        sampled payloads sliced via stsz/stsc/stco, then tiled into the
        w*h*3 plane — content- and geometry-exact."""
        from pandas_ai_spark.functions.multimodal import (
            _fake_decode_pixels, decode_video_frames)

        df, frames = self._media(spark)
        rows = {r["frame_idx"]: r for r in decode_video_frames(
            df, "media", "doc_id", every_n=4,
            decoder="fake").collect()}
        assert sorted(rows) == [0, 4, 8]
        for i, r in rows.items():
            assert (r["width"], r["height"]) == (32, 24)
            assert bytes(r["pixels"]) == _fake_decode_pixels(
                frames[i], 32, 24)
            assert len(r["pixels"]) == 32 * 24 * 3

    def test_real_decoder_requires_pyav(self, spark):
        from pandas_ai_spark.functions.multimodal import (
            DecoderUnavailable, decode_video_frames)

        try:
            import av  # noqa: F401
            pytest.skip("pyav installed — raise path not applicable")
        except ImportError:
            pass
        df, _ = self._media(spark)
        with pytest.raises(DecoderUnavailable, match="PyAV"):
            decode_video_frames(df, "media", "doc_id", decoder="real")

    def test_real_decode_with_pyav(self, spark):
        """Gated on PyAV presence (absent in this container): a real
        codec decode must yield rgb24 planes whose byte count matches
        the decoded geometry."""
        pytest.importorskip("av")
        from pandas_ai_spark.functions.multimodal import (
            decode_video_frames)

        df, _ = self._media(spark)
        out = decode_video_frames(df, "media", "doc_id", every_n=1,
                                  decoder="real").collect()
        assert out and all(
            len(r["pixels"]) == r["width"] * r["height"] * 3
            for r in out)

    def test_non_mp4_blob_yields_no_rows_on_fake(self, spark):
        from pandas_ai_spark.functions.multimodal import (
            decode_video_frames)

        df = spark.createDataFrame(
            [(7, bytearray(b"\x01" * 200))],
            "doc_id long, media binary")
        assert decode_video_frames(df, "media", "doc_id",
                                   decoder="fake").count() == 0


# ---------------------------------------------------------------------------
# decimal cast BEFORE product/sum (source lint + behavior pin)
# ---------------------------------------------------------------------------

class TestDecimalBeforeSum:
    def test_no_cast_after_product_sum_in_agreement_ops(self):
        """ADVICE r13: `F.sum(a * b).cast("decimal(38,0)")` runs the
        product and sum in int64 (silent wraparound under non-ANSI
        Spark) and only then casts — the decimal must wrap an operand
        BEFORE the multiply. Source lint over the two modules that
        carry the agreement/Q exact-bigint sums."""
        import re

        for mod in ["pandas_ai_spark/functions/classify.py",
                    "pandas_ai_spark/functions/stats.py"]:
            src = open(mod).read().replace("\n", " ")
            hits = re.findall(
                r'F\.sum\((?:F\.col\("[^"]+"\)\s*\*\s*)+'
                r'F\.col\("[^"]+"\)\)\s*\.cast\("decimal', src)
            assert not hits, (mod, hits)

    def test_weighted_kappa_unchanged_on_small_data(self, spark):
        """The cast reorder is value-preserving at any non-wrapping
        scale — pin against the independent pure-python reference."""
        from pandas_ai_spark.functions.classify import weighted_kappa

        rows = [("a", "x", "x"), ("b", "x", "y"), ("c", "y", "y"),
                ("d", "y", "x"), ("e", "x", "x"), ("f", "z", "z"),
                ("g", "z", "y"), ("h", "x", "x")]
        df = spark.createDataFrame(rows, ["id", "r1", "r2"])
        got = weighted_kappa(df, "r1", "r2").collect()[0]

        cats = sorted({r[1] for r in rows} | {r[2] for r in rows})
        idx = {c: i for i, c in enumerate(cats)}
        n = len(rows)
        k = len(cats)
        D = sum(abs(idx[a] - idx[b]) ** 2 for _, a, b in rows)
        ra = [sum(1 for _, a, _ in rows if idx[a] == i)
              for i in range(k)]
        cb = [sum(1 for _, _, b in rows if idx[b] == i)
              for i in range(k)]
        E = sum(ra[i] * cb[j] * (i - j) ** 2
                for i in range(k) for j in range(k))
        expected = 1.0 - (n * D) / E
        assert got["kappa_w"] == pytest.approx(expected, abs=1e-12)


# ---------------------------------------------------------------------------
# HITS small-graph fast path
# ---------------------------------------------------------------------------

class TestHitsLocalPath:
    def _edges(self, spark):
        import random

        rng = random.Random(1414)
        rows = [(f"s{rng.randrange(40)}", f"d{rng.randrange(25)}")
                for _ in range(400)]
        return spark.createDataFrame(rows, ["src", "dst"])

    def test_local_equals_distributed_bitwise(self, spark,
                                              graph_distributed):
        from pandas_ai_spark.functions.graph import hits

        e = self._edges(spark)
        local = {r["node"]: (r["hub"], r["authority"])
                 for r in hits(e, iterations=3).collect()}
        graph_distributed("hits")
        dist = {r["node"]: (r["hub"], r["authority"])
                for r in hits(e, iterations=3).collect()}
        assert local == dist  # exact float equality, by construction

    def test_zero_threshold_forces_distributed(self, spark, monkeypatch,
                                               graph_distributed):
        from pandas_ai_spark.functions import graph

        e = self._edges(spark)
        called = {"local": False}
        orig = graph._hits_local

        def spy(*a, **kw):
            called["local"] = True
            return orig(*a, **kw)

        monkeypatch.setattr(graph, "_hits_local", spy)
        graph.hits(e, iterations=1).collect()
        assert called["local"]
        # a zero limit replaces the spy with one that fails the test
        # if the local path runs
        graph_distributed("hits")
        graph.hits(e, iterations=1).collect()

    def test_empty_edges_raise_on_both_paths(self, spark,
                                             graph_distributed):
        from pandas_ai_spark.functions.graph import hits

        e = spark.createDataFrame([], "src string, dst string")
        with pytest.raises(ValueError):
            hits(e, iterations=1).collect()
        graph_distributed("hits")
        with pytest.raises(ValueError):
            hits(e, iterations=1).collect()


# ---------------------------------------------------------------------------
# min-label propagation small-graph fast path
# ---------------------------------------------------------------------------

class TestLabelPropLocalPath:
    def _edges(self, spark):
        import random

        rng = random.Random(77)
        rows = [(f"n{rng.randrange(60):02d}",
                 f"n{rng.randrange(60):02d}") for _ in range(300)]
        rows.append(("zz_selfloop", "zz_selfloop"))  # membership-only
        return spark.createDataFrame(rows, ["src", "dst"])

    def test_local_equals_distributed(self, spark, graph_distributed):
        from pandas_ai_spark.functions.graph import (
            min_label_propagation)

        e = self._edges(spark)
        local = {r["node"]: r["label"]
                 for r in min_label_propagation(
                     e, iterations=3).collect()}
        graph_distributed("min_label_propagation")
        dist = {r["node"]: r["label"]
                for r in min_label_propagation(
                    e, iterations=3).collect()}
        assert local == dist
        assert local["zz_selfloop"] == "zz_selfloop"

    def test_empty_edges_raise_on_both_paths(self, spark,
                                             graph_distributed):
        from pandas_ai_spark.functions.graph import (
            min_label_propagation)

        e = spark.createDataFrame([], "src string, dst string")
        with pytest.raises(ValueError):
            min_label_propagation(e).collect()
        graph_distributed("min_label_propagation")
        with pytest.raises(ValueError):
            min_label_propagation(e).collect()


# ---------------------------------------------------------------------------
# rank dispatch: join plans distrust Catalyst's product estimate
# ---------------------------------------------------------------------------

class TestRankDispatchJoinEstimate:
    def test_inflated_join_estimate_recounts(self, spark, monkeypatch):
        """r14: Catalyst's non-CBO join size estimate is a child-size
        product (q160's 150k-row broadcast-join output reported 230
        GB), silently routing window twins to the distributed path at
        toy scale. An over-threshold estimate on a join plan must be
        replaced by a counted width×rows stand-in."""
        from pandas_ai_spark.functions import stats

        left = spark.createDataFrame(
            [(i, float(i)) for i in range(30)], ["k", "v"])
        right = spark.createDataFrame(
            [(i, f"g{i % 3}") for i in range(30)], ["k", "g"])
        df = left.join(right, "k")
        assert stats._plan_has_join(df)
        monkeypatch.setattr(stats, "_plan_size",
                            lambda _df: 230_000_000_000)
        # 30 rows is far under the threshold → the recount must
        # override the inflated estimate and pick the window form
        assert stats._resolve_rank_path(df, [], None, "probe3") \
            is False

    def test_non_join_estimate_is_trusted(self, spark, monkeypatch):
        from pandas_ai_spark.functions import stats

        df = spark.createDataFrame(
            [(i, float(i)) for i in range(30)], ["k", "v"])
        assert not stats._plan_has_join(df)
        monkeypatch.setattr(stats, "_plan_size",
                            lambda _df: 230_000_000_000)

        def boom(self):
            raise AssertionError("scan-plan estimate must be trusted")

        from pyspark.sql import DataFrame
        monkeypatch.setattr(DataFrame, "count", boom)
        stats._warned_auto.discard("rank:probe4:distributed")
        assert stats._resolve_rank_path(df, [], None, "probe4") is True


# ---------------------------------------------------------------------------
# siegel_slopes continuous-x guard
# ---------------------------------------------------------------------------

class TestSiegelCellsGuard:
    def test_continuous_x_triggers_warning(self, spark):
        from pandas_ai_spark.functions import stats

        rows = [(i + 0.000001 * i, float(i) * 2.0 + 1.0)
                for i in range(300)]
        df = spark.createDataFrame(rows, ["x", "y"])
        stats._warned_auto.discard("siegel:x:y")
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            stats.siegel_slopes(df, "x", "y", x_cells_guard=100) \
                 .collect()
        assert any("Theta(cells^2)" in str(x.message) for x in w), \
            [str(x.message) for x in w]

    def test_cell_grain_stays_silent_and_unchanged(self, spark):
        from pandas_ai_spark.functions import stats

        rows = [(float(i % 7), float((i * 3) % 11))
                for i in range(200)]
        df = spark.createDataFrame(rows, ["x", "y"])
        stats._warned_auto.discard("siegel:x:y")
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            guarded = stats.siegel_slopes(df, "x", "y").collect()
        assert not any("siegel_slopes" in str(x.message) for x in w)
        bare = stats.siegel_slopes(df, "x", "y",
                                   x_cells_guard=None).collect()
        assert [tuple(r) for r in guarded] == [tuple(r) for r in bare]


# ---------------------------------------------------------------------------
# rank dispatch: Python-UDF plans skip the eager count
# ---------------------------------------------------------------------------

class TestRankDispatchUdfPlan:
    def _udf_df(self, spark):
        import pandas as pd

        base = spark.createDataFrame(
            [(float(i),) for i in range(20)], ["v"])

        def ident(it):
            for pdf in it:
                yield pdf

        return base.mapInPandas(ident, "v double")

    def test_python_stage_detected(self, spark):
        from pandas_ai_spark.functions import stats

        assert stats._plan_has_python_stage(self._udf_df(spark))
        plain = spark.createDataFrame([(1.0,)], ["v"])
        assert not stats._plan_has_python_stage(plain)

    def test_udf_plan_dispatches_distributed_without_count(
            self, spark, monkeypatch):
        from pandas_ai_spark.functions import stats
        from pyspark.sql import DataFrame

        df = self._udf_df(spark)
        monkeypatch.setattr(stats, "_plan_size", lambda _df: None)

        def boom(self):
            raise AssertionError(
                "eager count() ran on a Python-UDF plan")

        monkeypatch.setattr(DataFrame, "count", boom)
        stats._warned_auto.discard("rank:probe:udfplan")
        assert stats._resolve_rank_path(df, [], None, "probe") is True

    def test_plain_plan_still_counts(self, spark, monkeypatch):
        from pandas_ai_spark.functions import stats

        df = spark.createDataFrame([(float(i),) for i in range(9)],
                                   ["v"])
        monkeypatch.setattr(stats, "_plan_size", lambda _df: None)
        stats._warned_auto.discard("rank:probe2:unknown")
        # 9 rows × tiny width is far under the threshold → window form
        assert stats._resolve_rank_path(df, [], None, "probe2") is False


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary-growth fit
# ---------------------------------------------------------------------------

class TestHeapsFit:
    def _docs(self, spark):
        import random

        rng = random.Random(9)
        rows = []
        for i in range(60):
            # growing vocabulary: common tokens + occasional new ones
            toks = [f"w{rng.randrange(30)}" for _ in range(20)]
            toks += [f"new{i}_{j}" for j in range(rng.randrange(3))]
            rows.append((i, " ".join(toks)))
        return rows, spark.createDataFrame(rows, ["doc_id", "text"])

    def _reference(self, rows, K):
        import math

        ids = sorted(i for i, t in rows if t.strip())
        lo, hi = ids[0], ids[-1]
        span = hi - lo
        cuts = [lo + (j * span) // K for j in range(1, K)]

        def kidx(i):
            return 1 + sum(i > c for c in cuts)

        nt = [0] * (K + 1)
        nv = [0] * (K + 1)
        seen = {}
        for i, t in sorted(rows):
            toks = [x for x in t.split() if x]
            nt[kidx(i)] += len(toks)
            for x in toks:
                if x not in seen:
                    seen[x] = i
        for x, fd in seen.items():
            nv[kidx(fd)] += 1
        pts, ncum, vcum, prev = [], 0, 0, None
        for k in range(1, K + 1):
            ncum += nt[k]
            vcum += nv[k]
            if ncum > 0 and vcum > 0 and ncum != prev:
                pts.append((math.log(ncum), math.log(vcum)))
                prev = ncum
        m = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sx2 = sum(x * x for x, _ in pts)
        cov, vx = m * sxy - sx * sy, m * sx2 - sx * sx
        return m, cov / vx, (sy - (cov / vx) * sx) / m

    def test_matches_pure_python_reference(self, spark):
        from pandas_ai_spark.functions.text import heaps_fit

        rows, df = self._docs(spark)
        got = heaps_fit(df, "text", "doc_id", checkpoints=8) \
            .collect()[0]
        m, beta, log_k = self._reference(rows, 8)
        assert got["n_points"] == m
        assert got["beta"] == pytest.approx(beta, rel=1e-9)
        assert got["log_k"] == pytest.approx(log_k, rel=1e-9)
        assert 0.0 < got["beta"] < 1.0  # growing-vocabulary corpus

    def test_single_doc_degenerates_to_null_fit(self, spark):
        from pandas_ai_spark.functions.text import heaps_fit

        df = spark.createDataFrame([(1, "a b c a")],
                                   ["doc_id", "text"])
        r = heaps_fit(df, "text", "doc_id").collect()[0]
        assert r["n_points"] == 1 and r["beta"] is None
        assert r["total_tokens"] == 4 and r["vocab_size"] == 3


# ---------------------------------------------------------------------------
# DSIR importance log-weights
# ---------------------------------------------------------------------------

class TestDsirLogweights:
    B = 64

    def _bucket(self, gram):
        import hashlib

        return int(hashlib.md5(gram.encode()).hexdigest()[:15],
                   16) % self.B

    def _grams(self, text, n=2):
        import re

        toks = [t for t in re.split("[^a-z]+", text.lower()) if t]
        return [" ".join(toks[i:i + n])
                for i in range(len(toks) - n + 1)]

    def _reference(self, raw, target):
        import math
        from collections import Counter

        rc = Counter(self._bucket(g) for _, t in raw
                     for g in self._grams(t))
        tc = Counter(self._bucket(g) for _, t in target
                     for g in self._grams(t))
        R, T = sum(rc.values()), sum(tc.values())
        out = {}
        for i, t in raw:
            lw, nf = 0.0, 0
            for b, c in sorted(Counter(
                    self._bucket(g) for g in self._grams(t)).items()):
                lam = (math.log(tc.get(b, 0) + 1.0)
                       - math.log(T + self.B)
                       - math.log(rc[b] + 1.0)
                       + math.log(R + self.B))
                lw += c * lam
                nf += c
            out[i] = (nf, lw)
        return out

    def test_matches_pure_python_reference(self, spark):
        from pandas_ai_spark.functions.pipeline import dsir_logweights

        raw = [(1, "the quick brown fox jumps the fence"),
               (2, "stock market prices fall as rates rise"),
               (3, "the quick red fox naps"),
               (4, "rates rise and the market reacts"),
               (5, "x")]  # < n tokens → zero features
        target = [(10, "the quick brown fox is quick"),
                  (11, "a quick fox jumps again")]
        df = spark.createDataFrame(raw, ["doc_id", "text"])
        tgt = spark.createDataFrame(target, ["doc_id", "text"])
        got = {r["doc_id"]: (r["n_feats"], r["log_weight"])
               for r in dsir_logweights(df, tgt, buckets=self.B)
               .collect()}
        ref = self._reference(raw, target)
        assert set(got) == {1, 2, 3, 4, 5}
        for i in (1, 2, 3, 4):
            assert got[i][0] == ref[i][0]
            assert got[i][1] == pytest.approx(ref[i][1], rel=1e-9)
        assert got[5] == (0, 0.0)
        # fox-y raw docs must out-score finance docs vs the fox target
        assert min(got[1][1], got[3][1]) > max(got[2][1], got[4][1])


# ---------------------------------------------------------------------------
# bench artifact self-description
# ---------------------------------------------------------------------------

class TestBenchArtifactShape:
    def test_heavy_pair_cut_is_either_engine(self):
        """VERDICT r13 item 2: a pair enters the heavy cut when EITHER
        engine does real work — a Spark-9s/duck-0.85s pair can no
        longer dodge by the baseline dipping under the floor."""
        src = open("tools/bench_paired.py").read()
        assert "sp_t[q] >= 2.0" in src and "du_t[q] >= 1.0" in src
        assert '"spark_floor_sec": 2.0' in src

    def test_stream_floor_entries_carry_effective_floor(self):
        """VERDICT r13 item 5: each streaming_floor pass entry is
        {rate, floor, pass} — self-describing against the base."""
        src = open("bench.py").read()
        assert '"floor": round(qfloor, 1)' in src
        assert '"base_floor_rows_per_sec": floor' in src

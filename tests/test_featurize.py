"""Featurization-layer tests: generator determinism, sessionization,
lag/lead, leakage-free running features, per-turn text-equality invariant."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from featurescreening_jl_spark.operators.window_features import (
    TURN_FEATURE_COLS,
    conversation_aggregates,
    sessionize,
    turn_features,
    with_lag_lead,
)
from featurescreening_jl_spark.sources.transcripts import synthetic_transcripts

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synthetic_transcripts(spark, n_conversations=30, seed=42, heavy_every=29)
    df.cache().count()
    return df


class TestGenerator:
    def test_schema(self, transcripts):
        assert [f.name for f in transcripts.schema.fields] == [
            "conv_id", "turn_idx", "role", "text", "tool", "ts",
        ]

    def test_deterministic_regeneration(self, spark, transcripts):
        again = synthetic_transcripts(spark, n_conversations=30, seed=42,
                                      heavy_every=29, num_partitions=3)
        a = transcripts.orderBy("conv_id", "turn_idx").toPandas()
        b = again.orderBy("conv_id", "turn_idx").toPandas()
        pd.testing.assert_frame_equal(a, b)

    def test_skew_built_in(self, transcripts):
        counts = (
            transcripts.groupBy("conv_id").count().orderBy(F.desc("count")).toPandas()
        )
        assert counts["count"].iloc[0] > 20 * counts["count"].iloc[2]

    def test_turn_idx_dense_and_ts_monotone(self, transcripts):
        pdf = transcripts.orderBy("conv_id", "turn_idx").toPandas()
        for _, g in pdf.groupby("conv_id"):
            assert list(g["turn_idx"]) == list(range(len(g)))
            assert g["ts"].is_monotonic_increasing


class TestSessionize:
    def test_gap_semantics(self, spark):
        rows = [
            ("c1", 0, "2025-01-01 00:00:00"),
            ("c1", 1, "2025-01-01 00:10:00"),
            ("c1", 2, "2025-01-01 02:00:00"),  # > 30 min gap → new session
            ("c1", 3, "2025-01-01 02:10:00"),
            ("c2", 0, "2025-01-01 00:00:00"),  # separate conversation
        ]
        df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts_s string")
        df = df.withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
        out = sessionize(df, gap_seconds=1800).orderBy("conv_id", "turn_idx").toPandas()
        assert out["session_id"].tolist() == [0, 0, 1, 1, 0]

    def test_boundary_exactly_at_gap_stays(self, spark):
        rows = [("c", 0, "2025-01-01 00:00:00"), ("c", 1, "2025-01-01 00:30:00")]
        df = spark.createDataFrame(rows, "conv_id string, turn_idx int, s string")
        df = df.withColumn("ts", F.to_timestamp("s")).drop("s")
        out = sessionize(df, gap_seconds=1800).orderBy("turn_idx").toPandas()
        # gap == 1800 is NOT > 1800 → same session
        assert out["session_id"].tolist() == [0, 0]


class TestLagLead:
    def test_lag_lead(self, spark):
        rows = [("c", i, float(i * 10), f"2025-01-01 00:0{i}:00") for i in range(4)]
        df = spark.createDataFrame(rows, "conv_id string, turn_idx int, v double, s string")
        df = df.withColumn("ts", F.to_timestamp("s")).drop("s")
        out = (
            with_lag_lead(df, {"v_lag1": ("v", -1), "v_lead1": ("v", 1)})
            .orderBy("turn_idx")
            .toPandas()
        )
        assert out["v_lag1"].tolist()[1:] == [0.0, 10.0, 20.0]
        assert pd.isna(out["v_lag1"].iloc[0])
        assert out["v_lead1"].tolist()[:3] == [10.0, 20.0, 30.0]
        assert pd.isna(out["v_lead1"].iloc[3])


class TestTurnFeatures:
    def test_feature_columns_present_and_leakage_free(self, transcripts):
        feats = turn_features(transcripts)
        for c in TURN_FEATURE_COLS + ["label_next_is_tool", "session_id"]:
            assert c in feats.columns
        pdf = (
            feats.where(F.col("conv_id") == "conv_00000001")
            .orderBy("turn_idx")
            .toPandas()
        )
        # running counters are non-decreasing (function of past only)
        assert pdf["cum_tool_calls"].is_monotonic_increasing
        assert pdf["cum_user_turns"].is_monotonic_increasing
        # hand-check running tool count == cumsum of is_tool
        assert (pdf["cum_tool_calls"] == pdf["is_tool"].cumsum()).all()
        # lag1 equals previous row's text_len
        assert (
            pdf["lag1_text_len"].iloc[1:].to_numpy()
            == pdf["text_len"].iloc[:-1].to_numpy()
        ).all()

    def test_text_preserved_under_stable_ordering(self, transcripts):
        """Per-turn text equality under (conv_id, turn_idx) ordering —
        the graft's per-row invariant (BASELINE.json input_hint)."""
        feats = turn_features(transcripts)
        a = transcripts.select("conv_id", "turn_idx", "text").orderBy(
            "conv_id", "turn_idx"
        ).toPandas()
        b = feats.select("conv_id", "turn_idx", "text").orderBy(
            "conv_id", "turn_idx"
        ).toPandas()
        pd.testing.assert_frame_equal(a, b)

    def test_single_window_sort(self, transcripts):
        """All per-turn features share one (conv_id / ts,turn_idx) sort: the
        physical plan must not contain more than the session-window's two
        sorts. Guards against accidental per-feature window specs."""
        feats = turn_features(transcripts)
        plan = feats._jdf.queryExecution().executedPlan().toString()
        n_sorts = plan.count("Sort [")
        assert n_sorts <= 3, f"too many sorts ({n_sorts}) in plan"


class TestConversationAggregates:
    def test_rollup(self, transcripts):
        agg = conversation_aggregates(transcripts)
        pdf = agg.orderBy("conv_id").toPandas()
        assert (pdf["n_turns"] >= 4).all()
        assert (pdf["n_sessions"] >= 1).all()
        total = transcripts.count()
        assert pdf["n_turns"].sum() == total


class TestTrailingTimeWindows:
    """Event-time range frames: hand-checkable golden on a tiny
    conversation with a known time layout, plus the leakage property of
    the strict (before-now) variant on same-timestamp peers."""

    def _frame(self, spark):
        # turns at t = 0s, 100s, 700s, 700s (same-instant pair), 1400s
        rows = [
            ("c", 0, "user", "aaaa", None, "2024-01-01 00:00:00"),
            ("c", 1, "assistant", "bb", "bash", "2024-01-01 00:01:40"),
            ("c", 2, "user", "cccc", None, "2024-01-01 00:11:40"),
            ("c", 3, "tool", "d", "sql", "2024-01-01 00:11:40"),
            ("c", 4, "user", "ee", None, "2024-01-01 00:23:20"),
        ]
        return spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts_s string",
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")

    def test_inclusive_golden(self, spark):
        from featurescreening_jl_spark.operators.window_features import (
            trailing_time_features,
        )

        out = (
            trailing_time_features(self._frame(spark), windows={"10m": 600})
            .orderBy("turn_idx")
            .toPandas()
        )
        # 600s window: turn2/3 (t=700) are same-instant PEERS — a range
        # frame includes all rows sharing the current order value, so BOTH
        # see turn1 (t=100) plus each other; turn4 (t=1400) sees only
        # itself (700 is exactly 700s back — outside the 600s frame)
        assert out["turns_last_10m"].tolist() == [1, 2, 3, 3, 1]
        assert out["tool_calls_last_10m"].tolist() == [0, 1, 2, 2, 0]
        # chars: len sums over the same frames
        assert out["chars_last_10m"].tolist() == [4, 6, 7, 7, 2]

    def test_strict_excludes_now_and_peers(self, spark):
        from featurescreening_jl_spark.operators.window_features import (
            trailing_time_window,
        )

        strict = trailing_time_window(seconds=600, include_current=False)
        out = (
            self._frame(spark)
            .withColumn("n_before", F.count(F.lit(1)).over(strict))
            .orderBy("turn_idx")
            .toPandas()
        )
        # same-instant pair (turns 2,3): NEITHER sees the other nor itself
        assert out["n_before"].tolist() == [0, 1, 1, 1, 0]

    def test_boundary_is_inclusive_at_exact_age(self, spark):
        from featurescreening_jl_spark.operators.window_features import (
            trailing_time_features,
        )

        # turn4 at t=1400 with a 700s window: t=700 is EXACTLY 700s old →
        # inside the inclusive range frame
        out = (
            trailing_time_features(self._frame(spark), windows={"x": 700})
            .orderBy("turn_idx")
            .toPandas()
        )
        assert out["turns_last_x"].tolist()[-1] == 3


class TestTfidfTopTerms:
    def test_golden(self, spark):
        from featurescreening_jl_spark.operators.text_analysis import (
            tfidf_top_terms,
        )
        import math

        docs = spark.createDataFrame(
            [
                (0, "apple apple banana"),
                (1, "banana cherry"),
                (2, "cherry cherry cherry date"),
            ],
            "doc_id long, text string",
        )
        out = tfidf_top_terms(docs, k=2).orderBy("doc_id", "rank").toPandas()
        by_doc = {d: g for d, g in out.groupby("doc_id")}
        # doc0: apple tf=2 df=1 → 2*ln(3); banana tf=1 df=2 → ln(1.5)
        r = by_doc[0].sort_values("rank")
        assert r["term"].tolist() == ["apple", "banana"]
        assert abs(r["tfidf"].iloc[0] - 2 * math.log(3)) < 1e-9
        # doc2: cherry tf=3 df=2 → 3·ln(1.5)=1.216 beats date tf=1 df=1
        # → ln(3)=1.099
        r = by_doc[2].sort_values("rank")
        assert r["term"].tolist() == ["cherry", "date"]
        assert abs(r["tfidf"].iloc[0] - 3 * math.log(1.5)) < 1e-9

    def test_everywhere_terms_score_zero(self, spark):
        from featurescreening_jl_spark.operators.text_analysis import (
            tfidf_top_terms,
        )

        docs = spark.createDataFrame(
            [(0, "the apple"), (1, "the banana"), (2, "the cherry")],
            "doc_id long, text string",
        )
        out = tfidf_top_terms(docs, k=5).toPandas()
        the = out[out["term"] == "the"]
        assert (the["tfidf"] == 0.0).all()  # ln(3/3) — self-eliminating

    def test_no_python_udf(self, spark):
        from featurescreening_jl_spark.operators.text_analysis import (
            tfidf_top_terms,
        )

        docs = spark.createDataFrame(
            [(0, "a b"), (1, "b c")], "doc_id long, text string"
        )
        plan = (
            tfidf_top_terms(docs)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BatchEvalPython" not in plan


class TestWinnowFingerprints:
    def test_golden_tiny(self, spark):
        import hashlib

        from featurescreening_jl_spark.operators.text_analysis import (
            winnow_fingerprints,
        )

        text = "abcdefgh"
        k, w = 3, 2
        docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
        got = winnow_fingerprints(docs, k, w).first()["fingerprints"]
        grams = [
            hashlib.md5(text[i:i + k].encode()).hexdigest()[:15]
            for i in range(len(text) - k + 1)
        ]
        expect = sorted({min(grams[j:j + w]) for j in range(len(grams) - w + 1)})
        assert got == expect

    def test_substring_guarantee(self, spark):
        # any shared substring of length >= w+k-1 must yield a shared
        # fingerprint (the winnowing paper's core property)
        from featurescreening_jl_spark.operators.text_analysis import (
            winnow_candidate_pairs,
        )

        shared = "the quick brown fox jumps over the lazy dog"
        docs = spark.createDataFrame(
            [
                (0, f"unrelated prefix zero {shared} suffix aa"),
                (1, f"completely different start {shared} other end bb"),
                (2, "nothing in common with anything else here at all"),
            ],
            "doc_id long, text string",
        )
        pairs = winnow_candidate_pairs(docs, k=5, w=4).toPandas()
        assert (0, 1) in set(zip(pairs["id_a"], pairs["id_b"]))
        assert (0, 2) not in set(zip(pairs["id_a"], pairs["id_b"]))

    def test_short_text_edges(self, spark):
        from featurescreening_jl_spark.operators.text_analysis import (
            winnow_fingerprints,
        )

        docs = spark.createDataFrame(
            [(0, "ab"), (1, "abcde"), (2, "abcdef")],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r["fingerprints"]
            for r in winnow_fingerprints(docs, k=5, w=4).collect()
        }
        assert out[0] == []           # shorter than k -> no grams
        assert len(out[1]) == 1       # exactly one gram -> one fingerprint
        assert len(out[2]) == 1       # 2 grams < w -> single window min

    def test_md5_not_reevaluated_per_window(self, spark):
        # regression pin for the CollapseProject+lambda inlining trap: the
        # exploded plan must evaluate the gram-array expression once per
        # row (inside the array constructor), never per window element.
        # Cheap proxy: 200 real docs complete in seconds, and the operator
        # output under explode equals the unexploded array contents.
        import time

        from featurescreening_jl_spark.operators.text_analysis import (
            winnow_fingerprints,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).limit(100)
        t0 = time.time()
        n = (
            winnow_fingerprints(docs, 5, 4)
            .select(F.explode("fingerprints"))
            .count()
        )
        assert n > 0
        assert time.time() - t0 < 60  # O(len^2) form measured ~1 s/doc


class TestSessionFunnel:
    def _events(self, spark, rows):
        return spark.createDataFrame(
            [(u, i, float(t), e) for i, (u, t, e) in enumerate(rows)],
            "user_id long, event_id long, ts double, event_type string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    def test_ordered_subsequence_semantics(self, spark):
        from featurescreening_jl_spark.operators.window_features import (
            session_funnel,
        )

        rows = [
            # user 1: full ordered funnel in one session
            (1, 0, "view"), (1, 10, "click"), (1, 20, "purchase"),
            # user 2: purchase BEFORE view/click — only stage 1+2 in order
            (2, 0, "purchase"), (2, 10, "view"), (2, 20, "click"),
            # user 3: view then purchase, click missing — stage 1 only
            (3, 0, "view"), (3, 10, "purchase"),
            # user 4: stages split across two sessions (gap > 1800s):
            # view in session 0, click+purchase in session 1 — no session
            # completes view->click
            (4, 0, "view"), (4, 5000, "click"), (4, 5010, "purchase"),
        ]
        out = {
            r["stage"]: (r["n_sessions"], r["conversion"])
            for r in session_funnel(
                self._events(spark, rows),
                ["view", "click", "purchase"],
                gap_seconds=1800,
            ).collect()
        }
        # sessions: u1 x1, u2 x1, u3 x1, u4 x2 = 5 total
        assert out["view"] == (4, 0.8)          # u1, u2, u3, u4-s0
        assert out["click"] == (2, 0.5)         # u1, u2 (click after view)
        assert out["purchase"] == (1, 0.5)      # u1 only (ordered)

    def test_empty_stage_list_rejected(self, spark):
        from featurescreening_jl_spark.operators.window_features import (
            session_funnel,
        )

        with pytest.raises(ValueError):
            session_funnel(self._events(spark, [(1, 0, "view")]), [])


class TestPointInTimeTransforms:
    """expanding_zscore / trailing_slope / expanding_rank vs brute-force
    python replays on the deterministic synthetic transcripts."""

    @pytest.fixture(scope="class")
    def lens(self, transcripts):
        pdf = (
            transcripts.select(
                "conv_id", "turn_idx", "ts",
                F.length("text").cast("long").alias("y"),
            )
            .orderBy("conv_id", "ts", "turn_idx")
            .toPandas()
        )
        return pdf

    def test_expanding_zscore_matches_bruteforce(self, spark, transcripts, lens):
        from featurescreening_jl_spark.operators.window_features import (
            expanding_zscore,
        )
        import numpy as np

        t = transcripts.withColumn("y", F.length("text").cast("long"))
        got = (
            expanding_zscore(t, "y")
            .select("conv_id", "turn_idx", "zscore")
            .orderBy("conv_id", "turn_idx")
            .toPandas()
        )
        exp = []
        for conv, g in lens.groupby("conv_id", sort=True):
            v = g.sort_values(["ts", "turn_idx"])["y"].to_numpy()
            for i in range(len(v)):
                past = v[:i]
                if len(past) < 2 or past.std(ddof=1) == 0:
                    exp.append(np.nan)
                else:
                    exp.append((v[i] - past.mean()) / past.std(ddof=1))
        np.testing.assert_allclose(
            got["zscore"].to_numpy(dtype=float), np.array(exp),
            rtol=1e-9, equal_nan=True,
        )

    def test_trailing_slope_matches_polyfit(self, spark, transcripts, lens):
        from featurescreening_jl_spark.operators.window_features import (
            trailing_slope,
        )
        import numpy as np

        k = 7
        t = transcripts.withColumn("y", F.length("text").cast("long"))
        got = (
            trailing_slope(t, "y", x_col="turn_idx", k=k)
            .select("conv_id", "turn_idx", "slope")
            .orderBy("conv_id", "turn_idx")
            .toPandas()
        )
        exp = []
        for conv, g in lens.groupby("conv_id", sort=True):
            g = g.sort_values(["ts", "turn_idx"])
            x_all = g["turn_idx"].to_numpy(dtype=float)
            y_all = g["y"].to_numpy(dtype=float)
            for i in range(len(x_all)):
                lo = max(0, i - k + 1)
                x, y = x_all[lo : i + 1], y_all[lo : i + 1]
                if len(x) < 2 or np.ptp(x) == 0:
                    exp.append(np.nan)
                else:
                    exp.append(np.polyfit(x, y, 1)[0])
        np.testing.assert_allclose(
            got["slope"].to_numpy(dtype=float), np.array(exp),
            rtol=1e-6, atol=1e-9, equal_nan=True,
        )

    def test_expanding_rank_matches_bruteforce_across_chunks(
        self, spark, transcripts
    ):
        # the heavy conversation (heavy_every=29 → conv_00000000 or the
        # heavy one) exceeds the 1024-row kernel chunk, exercising the
        # prefix/searchsorted path, not just the within-chunk triangle
        from featurescreening_jl_spark.operators.window_features import (
            expanding_rank,
        )
        import numpy as np

        t = transcripts.select(
            "conv_id", "turn_idx", "ts", F.length("text").cast("long").alias("y")
        )
        sizes = t.groupBy("conv_id").count().toPandas()
        assert sizes["count"].max() > 1024, "need a >1-chunk conversation"
        got = (
            expanding_rank(t, "y")
            .select("conv_id", "turn_idx", "pct_rank_past")
            .orderBy("conv_id", "turn_idx")
            .toPandas()
        )
        pdf = t.orderBy("conv_id", "ts", "turn_idx").toPandas()
        exp = []
        for conv, g in pdf.groupby("conv_id", sort=True):
            v = g.sort_values(["ts", "turn_idx"])["y"].to_numpy()
            for i in range(len(v)):
                exp.append(
                    np.nan if i == 0 else float((v[:i] < v[i]).sum()) / i
                )
        np.testing.assert_allclose(
            got["pct_rank_past"].to_numpy(dtype=float), np.array(exp),
            rtol=1e-12, equal_nan=True,
        )

    def test_expanding_rank_cross_batch_stitching(self, spark, transcripts):
        # 7-row Arrow batches split every conversation across batches:
        # the held-back trailing key must make batch size invisible
        from featurescreening_jl_spark.operators.window_features import (
            expanding_rank,
        )
        import numpy as np

        t = transcripts.select(
            "conv_id", "turn_idx", "ts", F.length("text").cast("long").alias("y")
        )

        def ranks():
            return (
                expanding_rank(t, "y", keep_all=False)
                .orderBy("conv_id", "turn_idx")
                .toPandas()
            )

        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key)
        try:
            spark.conf.set(key, "7")
            tiny = ranks()
        finally:
            spark.conf.set(key, old)
        ref = ranks()
        assert t.groupBy("conv_id").count().agg(F.min("count")).first()[0] > 7
        pd.testing.assert_frame_equal(tiny, ref)
        assert np.isnan(ref["pct_rank_past"]).sum() == ref["conv_id"].nunique()


class TestPmiBigrams:
    def test_known_corpus(self, spark):
        from featurescreening_jl_spark.operators.text_analysis import (
            pmi_bigrams,
        )
        import math

        docs = spark.createDataFrame(
            [(i, "new york is big") for i in range(5)]
            + [(i + 5, "big apple new day") for i in range(5)],
            "doc_id long, text string",
        )
        out = pmi_bigrams(docs, "text", min_count=5, top_k=10).toPandas()
        # corpus: 40 tokens; bigrams with count>=5: 'new york','york is',
        # 'is big' (5 each), 'big apple','apple new','new day' (5 each)
        n1, n2 = 40, 30
        counts = {"new": 10, "york": 5, "is": 5, "big": 10, "apple": 5,
                  "day": 5}
        exp = {}
        for bg in ["new york", "york is", "is big", "big apple",
                   "apple new", "new day"]:
            a, b = bg.split()
            exp[bg] = round(
                math.log(5) + 2 * math.log(n1) - math.log(n2)
                - math.log(counts[a]) - math.log(counts[b]), 6)
        got = dict(zip(out["bigram"], out["pmi"]))
        assert got == pytest.approx(exp)
        assert (out["c_xy"] == 5).all()

    def test_min_count_prunes(self, spark):
        from featurescreening_jl_spark.operators.text_analysis import (
            pmi_bigrams,
        )

        docs = spark.createDataFrame(
            [(0, "a b"), (1, "a b"), (2, "c d")], "doc_id long, text string"
        )
        out = pmi_bigrams(docs, "text", min_count=2, top_k=10).toPandas()
        assert list(out["bigram"]) == ["a b"]


class TestForwardLabel:
    def test_strict_lower_and_inclusive_upper_bound(self, spark):
        import datetime

        from featurescreening_jl_spark.operators.window_features import (
            forward_label,
        )

        base = datetime.datetime(2025, 1, 1)

        def row(i, sec, tool):
            return ("c", i, base + datetime.timedelta(seconds=sec), tool)

        # events at t=0 (tool), t=0 sibling (no tool), t=600 (tool),
        # t=1201 (tool)
        df = spark.createDataFrame(
            [
                row(0, 0, "bash"),
                row(1, 0, None),
                row(2, 600, "sql"),
                row(3, 1201, "bash"),
            ],
            "conv_id string, turn_idx int, ts timestamp, tool string",
        )
        got = {
            r["turn_idx"]: r["label"]
            for r in forward_label(
                df, F.col("tool").isNotNull(), horizon_s=600
            ).collect()
        }
        # turn 0: same-instant sibling excluded; t=600 is EXACTLY the
        # inclusive horizon → 1.0
        assert got[0] == 1.0
        # turn 1 (t=0): tool at t=600 inside (0, 600] → 1.0
        assert got[1] == 1.0
        # turn 2 (t=600): next tool at 1201 is outside (600, 1200] → 0.0
        assert got[2] == 0.0
        # turn 3: conversation tail, empty frame → 0.0 not null
        assert got[3] == 0.0

    def test_matches_bruteforce_on_transcripts(self, spark, transcripts):
        import numpy as np

        from featurescreening_jl_spark.operators.window_features import (
            forward_label,
        )

        got = (
            forward_label(
                transcripts, F.col("tool").isNotNull(), horizon_s=300
            )
            .select("conv_id", "turn_idx", "label")
            .orderBy("conv_id", "turn_idx")
            .toPandas()
        )
        pdf = transcripts.select(
            "conv_id", "turn_idx", "ts", "tool"
        ).orderBy("conv_id", "turn_idx").toPandas()
        exp = []
        for conv, g in pdf.groupby("conv_id", sort=True):
            t = g["ts"].astype("int64").to_numpy() // 1000  # micros
            ev = g["tool"].notna().to_numpy()
            for i in range(len(g)):
                win = (t > t[i]) & (t <= t[i] + 300 * 1_000_000)
                exp.append(1.0 if ev[win].any() else 0.0)
        np.testing.assert_array_equal(
            got["label"].to_numpy(dtype=float), np.array(exp)
        )


class TestSessionStats:
    def test_consistent_with_conversation_aggregates(self, spark, transcripts):
        from featurescreening_jl_spark.operators.window_features import (
            conversation_aggregates,
            session_stats,
        )

        ss = session_stats(transcripts)
        per_conv = ss.groupBy("conv_id").agg(
            F.sum("n_turns").alias("n_turns"),
            F.sum("n_tool_calls").alias("n_tool_calls"),
            F.count("*").alias("n_sessions"),
        )
        ca = conversation_aggregates(transcripts).select(
            "conv_id", "n_turns", "n_tool_calls", "n_sessions"
        )
        diff = per_conv.join(ca, "conv_id").where(
            (per_conv["n_turns"] != ca["n_turns"])
            | (per_conv["n_tool_calls"] != ca["n_tool_calls"])
            | (per_conv["n_sessions"] != ca["n_sessions"])
        )
        assert diff.count() == 0

    def test_durations_nonnegative_and_bounded(self, spark, transcripts):
        from featurescreening_jl_spark.operators.window_features import (
            session_stats,
        )

        pdf = session_stats(transcripts, gap_seconds=1800).toPandas()
        assert (pdf["duration_sec"] >= 0).all()
        assert (pdf["end_epoch"] >= pdf["start_epoch"]).all()
        assert (pdf["n_turns"] >= 1).all()


class TestCohortRetention:
    def _events(self, spark):
        # 3 weekly cohorts with designed decay:
        #  cohort W0: users 0-9, all active W0; 6 active W1; 2 active W2
        #  cohort W1: users 10-14, all active W1; 3 active W2
        #  cohort W2: user 15 only
        import datetime

        base = datetime.datetime(2024, 1, 1)  # a Monday
        rows = []

        def add(u, week):
            rows.append(
                (u, base + datetime.timedelta(days=7 * week + u % 5))
            )

        for u in range(10):
            add(u, 0)
        for u in range(6):
            add(u, 1)
        for u in range(2):
            add(u, 2)
        for u in range(10, 15):
            add(u, 1)
        for u in range(10, 13):
            add(u, 2)
        add(15, 2)
        return spark.createDataFrame(rows, "user_id long, ts timestamp")

    def test_matrix_and_rates(self, spark):
        from featurescreening_jl_spark.operators.window_features import (
            cohort_retention,
        )

        out = {
            (str(r["cohort"]), r["offset"]): (r["n_active"], r["retention"])
            for r in cohort_retention(self._events(spark)).collect()
        }
        assert out[("2024-01-01", 0)] == (10, 1.0)
        assert out[("2024-01-01", 1)] == (6, 0.6)
        assert out[("2024-01-01", 2)] == (2, 0.2)
        assert out[("2024-01-08", 0)] == (5, 1.0)
        assert out[("2024-01-08", 1)] == (3, 0.6)
        assert out[("2024-01-15", 0)] == (1, 1.0)
        assert len(out) == 6

    def test_monthly_period(self, spark):
        import datetime

        from featurescreening_jl_spark.operators.window_features import (
            cohort_retention,
        )

        rows = [
            (1, datetime.datetime(2024, 1, 15)),
            (1, datetime.datetime(2024, 3, 2)),   # offset 2 months
            (2, datetime.datetime(2024, 2, 28)),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        out = {
            (str(r["cohort"]), r["offset"]): r["n_active"]
            for r in cohort_retention(df, period="month").collect()
        }
        assert out[("2024-01-01", 0)] == 1
        assert out[("2024-01-01", 2)] == 1
        assert out[("2024-02-01", 0)] == 1

    def test_rejects_unknown_period(self, spark):
        from featurescreening_jl_spark.operators.window_features import (
            cohort_retention,
        )

        with pytest.raises(ValueError, match="period"):
            cohort_retention(self._events(spark), period="year")


class TestSessionizeVsNativeSessionWindow:
    def test_session_boundaries_match_builtin(self, spark):
        """two independent implementations: our lag+cumsum sessionize vs
        Spark's native session_window aggregate must carve identical
        sessions (same per-conversation session count and same turn
        count per session). Boundary semantics differ AT exactly-gap
        spacing (ours keeps `gap == g` in-session, session_window
        closes), so the generator draws gaps strictly away from the
        threshold — the regime every real stream is in."""
        import datetime
        import random

        from featurescreening_jl_spark.operators.window_features import (
            sessionize,
        )

        rng = random.Random(13)
        base = datetime.datetime(2024, 3, 1)
        rows = []
        for conv in range(30):
            t = base + datetime.timedelta(minutes=rng.randint(0, 500))
            for turn in range(rng.randint(1, 40)):
                rows.append((f"c{conv}", turn, t))
                # short gaps well under, occasional burst well over 30 min
                if rng.random() < 0.2:
                    t += datetime.timedelta(seconds=rng.randint(2000, 9000))
                else:
                    t += datetime.timedelta(seconds=rng.randint(1, 1500))
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, ts timestamp"
        )

        ours = (
            sessionize(df, gap_seconds=1800)
            .groupBy("conv_id", "session_id")
            .count()
        )
        a = sorted(
            (r["conv_id"], r["count"]) for r in ours.collect()
        )
        native = (
            df.groupBy(
                "conv_id", F.session_window("ts", "30 minutes")
            ).count()
        )
        b = sorted(
            (r["conv_id"], r["count"]) for r in native.collect()
        )
        assert a == b

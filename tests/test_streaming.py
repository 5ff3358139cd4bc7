"""Streaming ingest: watermarked session windows vs the batch
sessionizer on identical data (same gap ⇒ same per-conversation session
count and per-session turn totals)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from featurescreening_jl_spark.operators.feature_encoding import (
    decayed_time_features_stable,
)
from featurescreening_jl_spark.operators.window_features import (
    expanding_zscore,
    sessionize,
)
from featurescreening_jl_spark.sources.transcripts import synthetic_transcripts
from featurescreening_jl_spark.streaming.ingest import (
    read_transcript_stream,
    streaming_conversation_rates,
    streaming_decayed_features,
    streaming_expanding_zscore,
    streaming_session_aggregates,
    streaming_turn_state_features,
)

GAP = 1800
_T0 = 1735689600  # 2025-01-01T00:00:00Z


@pytest.fixture(scope="module")
def transcript_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "transcripts")
    synthetic_transcripts(spark, 30, seed=11, heavy_every=0).repartition(
        4
    ).write.parquet(path)
    return path


def _run_stream(spark, df, mode: str, name: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _run_phases(spark, tmp_path, batches, build, confs=None):
    """Appends each frame of ``batches`` to one source directory and,
    after each append, runs ``build(stream)`` once with ``availableNow``
    into a parquet sink over one shared checkpoint (the file sink is the
    one built-in sink that restarts from a checkpoint; the memory sink
    does not). ``confs`` are session confs set for the runs and restored
    in ``finally``. Returns the sink's rows."""
    src, ckpt, out_dir = (str(tmp_path / n) for n in ("src", "ckpt", "out"))
    confs = dict(confs or {})
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        for batch in batches:
            batch.coalesce(1).write.mode("append").parquet(src)
            q = (
                build(read_transcript_stream(spark, src))
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            # a stateful query with registered timeouts stays alive
            # waiting for them — block until the data is processed, then
            # stop explicitly
            q.processAllAvailable()
            q.stop()
            q.awaitTermination(60)
        return spark.read.parquet(out_dir).toPandas()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def _turns(spark, rows):
    """Transcript rows, in the given order, from ``(conv_id, turn_idx,
    text, tool, seconds after _T0)`` tuples."""
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, tool string, dt long"
    ).select(
        "conv_id",
        "turn_idx",
        F.lit("user").alias("role"),
        "text",
        "tool",
        F.timestamp_seconds(F.col("dt") + _T0).alias("ts"),
    )


def _batch_turn_state(df):
    """The batch running columns ``streaming_turn_state_features`` must
    reproduce, ordered by (conv_id, turn_seq)."""
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    return (
        df.select(
            "conv_id",
            "turn_idx",
            (F.row_number().over(w) - 1).cast("long").alias("turn_seq"),
            F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long")
            .alias("cum_tool_calls"),
            F.coalesce(
                F.col("ts").cast("double")
                - F.lag(F.col("ts").cast("double")).over(w),
                F.lit(0.0),
            ).alias("time_since_prev"),
        )
        .toPandas()
        .sort_values(["conv_id", "turn_seq"])
        .reset_index(drop=True)
    )


def _batch_zscore(df):
    """``expanding_zscore`` over text length, indexed by (conv_id,
    turn_idx)."""
    text_len = F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long")
    return (
        expanding_zscore(df.withColumn("text_len", text_len), "text_len")
        .select("conv_id", "turn_idx", "zscore")
        .toPandas()
        .set_index(["conv_id", "turn_idx"])
        .sort_index()
    )


def _batch_decay_stable(df, half_life_s):
    """``decayed_time_features_stable`` over turn count and text length,
    indexed by (conv_id, turn_idx)."""
    return (
        decayed_time_features_stable(
            df.select(
                "conv_id",
                "turn_idx",
                "ts",
                F.lit(1.0).alias("one"),
                F.length(F.coalesce(F.col("text"), F.lit("")))
                .cast("double")
                .alias("chars"),
            ),
            ["conv_id"],
            {"dec_turns": "one", "dec_chars": "chars"},
            order_cols=["turn_idx"],
            half_life_s=half_life_s,
        )
        .select("conv_id", "turn_idx", "dec_turns", "dec_chars")
        .toPandas()
        .set_index(["conv_id", "turn_idx"])
        .sort_index()
    )


class TestStreamingSessions:
    def test_matches_batch_sessionization(self, spark, transcript_dir):
        stream = read_transcript_stream(spark, transcript_dir)
        out = _run_stream(
            spark,
            streaming_session_aggregates(stream, gap_seconds=GAP),
            "complete",
            "sessions_tbl",
        ).toPandas()

        batch = (
            sessionize(
                spark.read.parquet(transcript_dir), gap_seconds=GAP
            )
            .groupBy("conv_id", "session_id")
            .agg(
                F.count("*").alias("n_turns"),
                F.sum(
                    F.when(F.col("tool").isNotNull(), 1).otherwise(0)
                ).alias("n_tool_calls"),
            )
            .toPandas()
        )

        # same session count per conversation
        s_counts = out.groupby("conv_id").size().sort_index()
        b_counts = batch.groupby("conv_id").size().sort_index()
        assert s_counts.equals(b_counts)

        # same multiset of (n_turns, n_tool_calls) per conversation
        key = lambda pdf: sorted(
            map(tuple, pdf[["n_turns", "n_tool_calls"]].values.tolist())
        )
        for conv in b_counts.index:
            assert key(out[out.conv_id == conv]) == key(
                batch[batch.conv_id == conv]
            ), conv

    def test_session_bounds_ordered(self, spark, transcript_dir):
        stream = read_transcript_stream(spark, transcript_dir)
        out = _run_stream(
            spark,
            streaming_session_aggregates(stream, gap_seconds=GAP),
            "complete",
            "sessions_bounds_tbl",
        ).toPandas()
        assert (out["session_start"] <= out["session_end"]).all()
        assert (out["first_turn_idx"] <= out["last_turn_idx"]).all()


class TestStreamingRates:
    def test_rate_totals_match_batch(self, spark, transcript_dir):
        stream = read_transcript_stream(spark, transcript_dir)
        out = _run_stream(
            spark,
            streaming_conversation_rates(stream, window="5 minutes"),
            "complete",
            "rates_tbl",
        ).toPandas()
        batch_total = spark.read.parquet(transcript_dir).count()
        assert int(out["n_turns"].sum()) == batch_total
        assert set(out["role"]) <= {"user", "assistant", "tool"}
        assert (out["n_active_convs"] > 0).all()


class TestStatefulTurnFeatures:
    def test_state_carries_across_micro_batches(self, spark, tmp_path):
        """applyInPandasWithState running features == batch running
        features, with the input split into two file batches processed by
        two availableNow runs sharing one checkpoint (state must carry)."""
        full = synthetic_transcripts(spark, 8, seed=7, heavy_every=0)
        full.cache()
        split = 4
        got = (
            _run_phases(
                spark,
                tmp_path,
                [
                    full.where(F.col("turn_idx") < split),
                    full.where(F.col("turn_idx") >= split),
                ],
                # TTL (= watermark delay) larger than the dataset's time
                # span: nothing is late, nothing evicts mid-test
                lambda s: streaming_turn_state_features(
                    s, state_ttl_seconds=10**7
                ),
                # stateful micro-batches commit one state store per
                # shuffle partition per batch — at tiny scale that
                # overhead dominates, so pin the stream to 2 partitions
                {"spark.sql.shuffle.partitions": "2"},
            )
            .sort_values(["conv_id", "turn_seq"])
            .reset_index(drop=True)
        )
        exp = _batch_turn_state(full)
        # phase 1 saw turn_idx < split first: since ts increases with
        # turn_idx within a conversation, arrival order == event order and
        # the streamed running features must equal the batch ones
        assert len(got) == len(exp)
        pd.testing.assert_frame_equal(
            got[["conv_id", "turn_idx", "turn_seq", "cum_tool_calls"]],
            exp[["conv_id", "turn_idx", "turn_seq", "cum_tool_calls"]],
            check_dtype=False,
        )
        assert (abs(got["time_since_prev"] - exp["time_since_prev"]) < 1e-6).all()
        full.unpersist()


class TestStreamingDedup:
    """streaming_dedup_turns: exactly-once materialization from an
    at-least-once source — every turn delivered twice must come out
    once, matching the batch-distinct answer on the same files."""

    @pytest.fixture(scope="class")
    def dup_dir(self, spark, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("stream-dup") / "transcripts")
        df = synthetic_transcripts(spark, 20, seed=5, heavy_every=0)
        df.repartition(2).write.parquet(path)
        # simulate redelivery: the whole feed arrives a second time
        df.repartition(3).write.mode("append").parquet(path)
        return path

    def test_identity_dedup_matches_batch_distinct(self, spark, dup_dir):
        from featurescreening_jl_spark.streaming.ingest import (
            streaming_dedup_turns,
        )

        out = _run_stream(
            spark,
            streaming_dedup_turns(read_transcript_stream(spark, dup_dir)),
            "append",
            "dedup_ident_tbl",
        ).toPandas()
        raw = spark.read.parquet(dup_dir)
        n_raw = raw.count()
        n_distinct = raw.select("conv_id", "turn_idx").distinct().count()
        assert n_raw == 2 * n_distinct  # the fixture really doubled the feed
        assert len(out) == n_distinct
        assert out.duplicated(["conv_id", "turn_idx"]).sum() == 0

    def test_content_dedup_matches_batch_distinct_text(self, spark, dup_dir):
        from featurescreening_jl_spark.streaming.ingest import (
            streaming_dedup_turns,
        )

        out = _run_stream(
            spark,
            streaming_dedup_turns(
                read_transcript_stream(spark, dup_dir), by_content=True
            ),
            "append",
            "dedup_content_tbl",
        ).toPandas()
        norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        n_texts = (
            spark.read.parquet(dup_dir).select(norm.alias("t")).distinct().count()
        )
        assert len(out) == n_texts
        # the internal fingerprint column must not leak into the output
        assert "__fp" not in out.columns


class TestStreamingDecayedFeatures:
    def test_matches_batch_decay(self, spark, transcript_dir):
        # all data in one availableNow pass, arrival order = event-time
        # order ⇒ the O(1)-state streaming recurrence must agree with the
        # batch closed-form operator per (conv, turn)
        from featurescreening_jl_spark.operators.feature_encoding import (
            decayed_time_features,
        )
        from featurescreening_jl_spark.streaming.ingest import (
            streaming_decayed_features,
        )

        batch_df = spark.read.parquet(transcript_dir)
        stream = read_transcript_stream(spark, transcript_dir)
        got = _run_stream(
            spark,
            streaming_decayed_features(
                stream, half_life_s=86400.0, state_ttl_seconds=10**7
            ),
            "append",
            "decay_stream",
        ).toPandas().set_index(["conv_id", "turn_idx"]).sort_index()

        want = (
            decayed_time_features(
                batch_df,
                ["conv_id"],
                {
                    "dec_turns": F.lit(1.0),
                    "dec_chars": F.length(
                        F.coalesce(F.col("text"), F.lit(""))
                    ),
                },
                ts_col="ts",
                order_cols=["turn_idx"],
                half_life_s=86400.0,
            )
            .select("conv_id", "turn_idx", "dec_turns", "dec_chars")
            .toPandas()
            .set_index(["conv_id", "turn_idx"])
            .sort_index()
        )
        assert len(got) == len(want) and len(got) > 0
        import numpy as np

        assert np.allclose(
            got[["dec_turns", "dec_chars"]].to_numpy(),
            want[["dec_turns", "dec_chars"]].to_numpy(),
            atol=1e-6,
        )

    def test_state_carries_across_micro_batches_decay(self, spark, tmp_path):
        """Two availableNow runs over a shared checkpoint: the second
        run's outputs must continue the first run's O(1) decayed
        accumulator, agreeing with the batch operator over the union."""
        from featurescreening_jl_spark.operators.feature_encoding import (
            decayed_time_features,
        )

        full = synthetic_transcripts(spark, 12, seed=23, heavy_every=0)
        full.cache()
        split = 4
        got = (
            _run_phases(
                spark,
                tmp_path,
                [
                    full.where(F.col("turn_idx") < split),
                    full.where(F.col("turn_idx") >= split),
                ],
                lambda s: streaming_decayed_features(
                    s, half_life_s=86400.0, state_ttl_seconds=10**7
                ),
                {"spark.sql.shuffle.partitions": "2"},
            )
            .set_index(["conv_id", "turn_idx"])
            .sort_index()
        )
        want = (
            decayed_time_features(
                full,
                ["conv_id"],
                {
                    "dec_turns": F.lit(1.0),
                    "dec_chars": F.length(
                        F.coalesce(F.col("text"), F.lit(""))
                    ),
                },
                ts_col="ts",
                order_cols=["turn_idx"],
                half_life_s=86400.0,
            )
            .select("conv_id", "turn_idx", "dec_turns", "dec_chars")
            .toPandas()
            .set_index(["conv_id", "turn_idx"])
            .sort_index()
        )
        assert len(got) == len(want) and len(got) > 20
        assert np.allclose(
            got[["dec_turns", "dec_chars"]].to_numpy(),
            want[["dec_turns", "dec_chars"]].to_numpy(),
            atol=1e-6,
        )


class TestStreamingExpandingZscore:
    def test_bit_identical_to_batch(self, spark, transcript_dir):
        # integer-sum state ⇒ EXACT equality with the batch operator (no
        # allclose tolerance needed), arrival order == event-time order
        stream = read_transcript_stream(spark, transcript_dir)
        got = (
            _run_stream(
                spark,
                streaming_expanding_zscore(stream, state_ttl_seconds=10**7),
                "append",
                "zscore_stream",
            )
            .toPandas()
            .set_index(["conv_id", "turn_idx"])
            .sort_index()
        )
        want = _batch_zscore(spark.read.parquet(transcript_dir))
        assert len(got) == len(want) and len(got) > 0
        g = got["zscore"].to_numpy(dtype=float)
        w = want["zscore"].to_numpy(dtype=float)
        assert ((g == w) | (np.isnan(g) & np.isnan(w))).all()

    def test_state_carries_across_micro_batches(self, spark, tmp_path):
        full = synthetic_transcripts(spark, 12, seed=23, heavy_every=0)
        full.cache()
        got = (
            _run_phases(
                spark,
                tmp_path,
                [
                    full.where(F.col("turn_idx") < 5),
                    full.where(F.col("turn_idx") >= 5),
                ],
                lambda s: streaming_expanding_zscore(
                    s, state_ttl_seconds=10**7
                ),
            )
            .set_index(["conv_id", "turn_idx"])
            .sort_index()
        )
        want = _batch_zscore(full)
        assert len(got) == len(want) and len(got) > 0
        g = got["zscore"].to_numpy(dtype=float)
        w = want["zscore"].to_numpy(dtype=float)
        assert ((g == w) | (np.isnan(g) & np.isnan(w))).all()


class TestOutOfOrderChunks:
    """One conversation's 10 turns written in reverse event order and
    read as one micro-batch that Arrow splits into chunks of 3 rows:
    every stateful operator must still fold the turns in (ts, turn_idx)
    order and equal its batch twin."""

    CONFS = {
        "spark.sql.shuffle.partitions": "2",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "3",
    }

    @staticmethod
    def _reversed_turns(spark):
        rows = [
            ("c", i, "x" * (5 + i * 7 % 11), None if i % 3 else "bash", 10 * i)
            for i in range(10)
        ]
        return _turns(spark, rows[::-1])

    def test_turn_state(self, spark, tmp_path):
        df = self._reversed_turns(spark)
        got = (
            _run_phases(
                spark,
                tmp_path,
                [df],
                lambda s: streaming_turn_state_features(
                    s, state_ttl_seconds=10**7
                ),
                self.CONFS,
            )
            .sort_values(["conv_id", "turn_seq"])
            .reset_index(drop=True)
        )
        exp = _batch_turn_state(df)
        seq = got.sort_values("turn_idx")["turn_seq"].tolist()
        assert seq == list(range(10))
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)

    def test_decayed(self, spark, tmp_path):
        df = self._reversed_turns(spark)
        got = (
            _run_phases(
                spark,
                tmp_path,
                [df],
                lambda s: streaming_decayed_features(
                    s, half_life_s=30.0, state_ttl_seconds=10**7
                ),
                self.CONFS,
            )
            .set_index(["conv_id", "turn_idx"])
            .sort_index()
        )
        want = _batch_decay_stable(df, 30.0)
        assert len(got) == len(want) == 10
        assert np.allclose(got.to_numpy(), want.to_numpy(), atol=1e-6)

    def test_zscore(self, spark, tmp_path):
        df = self._reversed_turns(spark)
        got = (
            _run_phases(
                spark,
                tmp_path,
                [df],
                lambda s: streaming_expanding_zscore(
                    s, state_ttl_seconds=10**7
                ),
                self.CONFS,
            )
            .set_index(["conv_id", "turn_idx"])
            .sort_index()
        )
        want = _batch_zscore(df)
        assert len(got) == len(want) == 10
        g = got["zscore"].to_numpy(dtype=float)
        w = want["zscore"].to_numpy(dtype=float)
        assert ((g == w) | (np.isnan(g) & np.isnan(w))).all()


class TestLongSpanDecay:
    def test_no_overflow_inside_one_micro_batch(self, spark, tmp_path):
        # 48 hourly turns at a one-minute half-life span 2,820 half-lives
        # in one micro-batch: no 2^x factor may overflow to inf/NaN
        df = _turns(
            spark,
            [("c", i, "y" * (3 + i % 5), None, 3600 * i) for i in range(48)],
        )
        got = (
            _run_phases(
                spark,
                tmp_path,
                [df],
                lambda s: streaming_decayed_features(
                    s, half_life_s=60.0, state_ttl_seconds=10**7
                ),
                {"spark.sql.shuffle.partitions": "2"},
            )
            .set_index(["conv_id", "turn_idx"])
            .sort_index()
        )
        want = _batch_decay_stable(df, 60.0)
        assert len(got) == len(want) == 48
        assert not got.isna().to_numpy().any()
        assert np.allclose(got.to_numpy(), want.to_numpy(), atol=1e-6)


class TestStateEviction:
    def test_idle_conversation_restarts_after_ttl(self, spark, tmp_path):
        """Four availableNow runs over one checkpoint at a 100 s TTL:
        A idles past it while B advances the watermark, so A's state is
        evicted and its next turn starts a new conversation."""
        batches = [
            _turns(spark, [("A", i, "a", None, 10 * i) for i in range(10)]),
            _turns(spark, [("B", 0, "b", None, 300)]),
            # A times out in this batch, which has no rows for A
            _turns(spark, [("B", 1, "b", None, 301)]),
            _turns(spark, [("A", 10, "a", None, 350)]),
        ]
        got = _run_phases(
            spark,
            tmp_path,
            batches,
            lambda s: streaming_turn_state_features(s, state_ttl_seconds=100),
            {"spark.sql.shuffle.partitions": "2"},
        ).set_index(["conv_id", "turn_idx"])
        assert len(got) == 13
        assert got.loc[("A", 9), "turn_seq"] == 9
        # B's state is live across runs
        assert got.loc[("B", 1), "turn_seq"] == 1
        assert got.loc[("B", 1), "time_since_prev"] == 1.0
        assert got.loc[("A", 10), "turn_seq"] == 0
        assert got.loc[("A", 10), "time_since_prev"] == 0.0


class TestNeardupGate:
    """Streaming near-dup gate (streaming_neardup_gate): per micro-batch
    LSH match against a static index must agree pair-for-pair with the
    batch incremental path on identical data."""

    @pytest.fixture(scope="class")
    def corpora(self, spark, tmp_path_factory):
        # index: 30 docs; stream: 10 docs of which 4 are near-copies of
        # index docs (a few words dropped)
        idx_rows = [
            (i, " ".join(f"w{(i * 13 + j * 7) % 101}" for j in range(50)))
            for i in range(30)
        ]
        idx = spark.createDataFrame(idx_rows, ["doc_id", "text"])
        new_rows = [
            (1000 + i, " ".join(f"v{(i * 11 + j * 5) % 97}" for j in range(50)))
            for i in range(6)
        ] + [
            (2000 + i, " ".join(idx_rows[i * 7][1].split()[:45]))
            for i in range(4)
        ]
        new = spark.createDataFrame(new_rows, ["doc_id", "text"])
        path = str(tmp_path_factory.mktemp("gate") / "new_docs")
        new.repartition(3).write.parquet(path)
        return idx, new, path

    def test_stream_matches_batch_incremental(self, spark, corpora):
        from featurescreening_jl_spark.operators.dedup import (
            minhash_lsh_pairs_incremental,
        )
        from featurescreening_jl_spark.streaming.ingest import (
            streaming_neardup_gate,
        )

        idx, new, path = corpora
        want = sorted(
            map(
                tuple,
                minhash_lsh_pairs_incremental(
                    idx, new, jaccard_threshold=0.7
                ).collect(),
            )
        )
        assert len(want) >= 4  # the injected near-copies are found

        got: list[tuple] = []
        stream = spark.readStream.schema("doc_id long, text string").option(
            "maxFilesPerTrigger", 1
        ).parquet(path)
        q = streaming_neardup_gate(
            stream,
            idx,
            lambda pairs, _bid: got.extend(map(tuple, pairs.collect())),
            jaccard_threshold=0.7,
        )
        q.awaitTermination(120)
        assert sorted(got) == want

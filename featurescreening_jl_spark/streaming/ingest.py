"""Structured Streaming ingest for transcript turns.

The reference is strictly batch (SURVEY.md §2.9 — no streaming operators
exist in /root/reference), so nothing here ports reference semantics.
This module is the engine's forward path for CONTINUOUS transcript
arrival: the same per-turn aggregates the batch layer computes, expressed
as a watermarked streaming query so late turns are handled explicitly
instead of silently reordering history.

Design points (the parts that matter at cluster scale):

- ``readStream`` over the same parquet/Iceberg directory layout the batch
  engine uses — one schema, two execution modes.
- Event-time watermark on ``ts`` bounds state: conversations idle past the
  watermark are finalized and evicted, so state size tracks ACTIVE
  conversations, not history.
- ``F.session_window(ts, gap)`` is the streaming twin of the batch
  gap-sessionization in operators/window_features.py (lag + cumulative
  sum): same gap semantics, windows merge as turns arrive.
- The windowed aggregations (sessions, rates) are built-ins → partial
  aggregation + state-store backed incremental merge; no Python in those
  streams.
- The three per-turn stateful operators (running turn state, decayed
  sums, expanding z-score) emit one row per arriving turn, which no
  built-in aggregation expresses. They share one ``applyInPandasWithState``
  fold, ``_fold_per_conversation``: Python sees one sorted frame per
  conversation per micro-batch, with text lengths computed in the JVM.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from featurescreening_jl_spark.operators.feature_encoding import (
    _decayed_prior_sums,
)
from featurescreening_jl_spark.sources.transcripts import TRANSCRIPT_SCHEMA

__all__ = [
    "read_transcript_stream",
    "streaming_session_aggregates",
    "streaming_conversation_rates",
    "streaming_turn_state_features",
    "streaming_decayed_features",
    "streaming_expanding_zscore",
    "streaming_dedup_turns",
    "streaming_neardup_gate",
]


def read_transcript_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """File-source stream over a transcripts directory (parquet files
    appear → micro-batches). Schema is pinned — streaming sources cannot
    infer it."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_session_aggregates(
    stream: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Per (conversation, session) rollup with merging session windows.

    Emits one row per closed session: turn/tool counts, text volume, and
    session bounds. The watermark finalizes a session once event time has
    moved ``watermark`` past its last turn — late turns inside the
    watermark still merge; later ones are dropped (counted by the state
    store metrics, not silently absorbed).
    """
    gap = f"{gap_seconds} seconds"
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("conv_id", F.session_window("ts", gap).alias("session"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(
                F.when(F.col("tool").isNotNull(), 1).otherwise(0)
            ).alias("n_tool_calls"),
            F.sum(F.length("text")).alias("total_chars"),
            F.min("turn_idx").alias("first_turn_idx"),
            F.max("turn_idx").alias("last_turn_idx"),
        )
        .select(
            "conv_id",
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_turns",
            "n_tool_calls",
            "total_chars",
            "first_turn_idx",
            "last_turn_idx",
        )
    )


def _text_len() -> Column:
    """Turn text length as a long, computed in the JVM (the expression the
    batch twins use); a function because building a ``Column`` needs an
    active SparkContext."""
    return F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias(
        "text_len"
    )


def _fold_per_conversation(
    stream: DataFrame,
    cols: list,
    out_schema: str,
    state_schema: str,
    init: tuple,
    step,
    state_ttl_seconds: int,
) -> DataFrame:
    """The one stateful fold under the per-turn streaming operators.

    Selects ``cols`` (which must include ``conv_id``, ``turn_idx`` and
    ``ts``), sets the watermark to ``state_ttl_seconds`` and runs
    ``applyInPandasWithState`` per ``conv_id`` with ``EventTimeTimeout``.
    For each conversation in a micro-batch it calls ``step(pdf, t,
    state) -> (out_cols, new_state)`` once: ``pdf`` holds every row the
    conversation brought to the micro-batch, sorted by ``(ts, turn_idx)``
    (stable mergesort), ``t`` is their event times in epoch seconds, and
    ``state`` is the tuple carried from earlier micro-batches (``init``
    for a new conversation). It emits one row per turn: ``conv_id``,
    ``turn_idx``, then the ``out_cols`` mapping of column name →
    per-row array, in ``out_schema`` order. Across micro-batches turns
    fold in processing order: a turn that arrives after later turns were
    already processed is folded after them (the late-data contract).

    Spark splits one conversation's rows over several Arrow chunks when
    they exceed ``spark.sql.execution.arrow.maxRecordsPerBatch``; the
    chunks are concatenated before the sort, so turns fold in order
    whatever the chunking. Memory bound: one conversation's rows of one
    micro-batch.

    Eviction: the timer is set to ``max(last_ts + ttl, watermark + 1 s)``
    with ``last_ts`` the batch's latest turn, so the state is removed
    once the watermark passes ``state_ttl_seconds`` beyond the
    conversation's last activity and state size tracks ACTIVE
    conversations only. (Event-time, not processing-time: a
    processing-time timer keeps the query busy-looping empty
    micro-batches until the TTL fires — measured as an availableNow run
    that never quiesces — whereas event-time timeouts ride the watermark
    the data itself advances.)
    """

    def update(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts", "turn_idx"], kind="mergesort", ignore_index=True
        )
        t = (pdf["ts"].astype("int64") / 1e9).to_numpy()
        out, new_state = step(pdf, t, state.get if state.exists else init)
        yield pd.DataFrame(
            {"conv_id": pdf["conv_id"], "turn_idx": pdf["turn_idx"], **out}
        )
        state.update(new_state)
        state.setTimeoutTimestamp(
            max(
                int((t[-1] + state_ttl_seconds) * 1000),
                state.getCurrentWatermarkMs() + 1000,
            )
        )

    return (
        stream.select(*cols)
        .withWatermark("ts", f"{state_ttl_seconds} seconds")
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def streaming_turn_state_features(
    stream: DataFrame,
    state_ttl_seconds: int = 7200,
) -> DataFrame:
    """Per-turn RUNNING features computed incrementally with explicit
    per-conversation state — the custom stateful operator the built-in
    windowed aggregations can't express: it emits one row PER INPUT TURN
    (not per closed window), carrying the running state as of that turn.

    Output per arriving turn: ``(conv_id, turn_idx, turn_seq,
    cum_tool_calls, time_since_prev)`` where ``turn_seq`` is the
    conversation-arrival ordinal and ``time_since_prev`` the gap to the
    previous processed turn (0.0 at conversation start) — matching the
    batch ``turn_features`` running columns.

    State per key is three scalars (turns seen, tool calls, last event
    ts). Within a micro-batch, turns are processed in ``(ts, turn_idx)``
    order — the same total order the batch layer uses; ordering, TTL
    eviction and late data follow ``_fold_per_conversation``.
    """

    def step(pdf, t, state):
        n_turns, cum_tools, last_ts = state
        prev = np.r_[t[0] if last_ts is None else last_ts, t[:-1]]
        cums = cum_tools + np.cumsum(pdf["tool"].notna().to_numpy("int64"))
        out = {
            "turn_seq": n_turns + np.arange(len(pdf), dtype="int64"),
            "cum_tool_calls": cums,
            "time_since_prev": t - prev,
        }
        return out, (n_turns + len(pdf), int(cums[-1]), float(t[-1]))

    return _fold_per_conversation(
        stream,
        ["conv_id", "turn_idx", "ts", "tool"],
        "conv_id string, turn_idx int, turn_seq long, "
        "cum_tool_calls long, time_since_prev double",
        "n_turns long, cum_tools long, last_ts double",
        (0, 0, None),
        step,
        state_ttl_seconds,
    )


def streaming_decayed_features(
    stream: DataFrame,
    half_life_s: float = 86400.0,
    state_ttl_seconds: int = 7200,
) -> DataFrame:
    """Streaming twin of ``feature_encoding.decayed_time_features``: the
    strictly-prior exponential time-decayed turn count and char sum, one
    output row per arriving turn, with O(1) state per conversation.

    The decayed sum admits a constant-state recurrence — state holds only
    ``(last_ts, acc)`` where ``acc`` is the decayed sum INCLUDING the
    last processed turn, valued at ``last_ts``. A micro-batch's own
    prior sums come from ``feature_encoding._decayed_prior_sums`` (the
    batch operator's segmented kernel, so any span inside one micro-batch
    is safe), plus the carried ``acc * 2^(-(t - last_ts)/hl)``. All
    decays are relative (never an absolute-epoch exponent), so a
    conversation can live for years of event time without overflow.

    Within a micro-batch, turns are processed in ``(ts, turn_idx)``
    order (the batch layer's total order); across micro-batches the
    recurrence follows processing order, the same late-data contract as
    ``streaming_turn_state_features``.

    Output per turn: ``(conv_id, turn_idx, dec_turns, dec_chars)`` —
    agreeing exactly with the batch operator when arrival order matches
    event-time order (pinned in tests/test_streaming.py).
    """

    def step(pdf, t, state):
        last_ts, acc_cnt, acc_chars = state
        v = np.column_stack(
            [np.ones(len(pdf)), pdf["text_len"].to_numpy(dtype="float64")]
        )
        dec = _decayed_prior_sums((t - t[0]) / half_life_s, [0], v)
        if last_ts is not None:
            decay = np.exp2(-(t - last_ts) / half_life_s)[:, None]
            dec = dec + np.array([acc_cnt, acc_chars]) * decay
        # fold the batch into O(1) state, valued at the last turn
        acc_cnt, acc_chars = dec[-1] + v[-1]
        out = {"dec_turns": dec[:, 0], "dec_chars": dec[:, 1]}
        return out, (float(t[-1]), float(acc_cnt), float(acc_chars))

    return _fold_per_conversation(
        stream,
        ["conv_id", "turn_idx", "ts", _text_len()],
        "conv_id string, turn_idx int, dec_turns double, dec_chars double",
        "last_ts double, acc_cnt double, acc_chars double",
        (None, 0.0, 0.0),
        step,
        state_ttl_seconds,
    )


def streaming_dedup_turns(
    stream: DataFrame,
    *,
    watermark: str = "2 hours",
    by_content: bool = False,
) -> DataFrame:
    """Exactly-once turn materialization from an at-least-once source.

    Every real ingestion bus (Kafka, file redelivery, job retries) can
    deliver a turn twice; this keeps the FIRST arrival per identity key
    ``(conv_id, turn_idx)`` — or, with ``by_content=True``, per exact
    normalized-text fingerprint (the streaming twin of the batch
    ``operators/dedup.dedup_exact``).

    The load-bearing choice is ``dropDuplicatesWithinWatermark``: plain
    ``dropDuplicates`` on a stream keeps EVERY key ever seen in the state
    store — unbounded growth, the classic streaming-dedup OOM. Within-
    watermark dedup evicts a key once event time passes its watermark, so
    state tracks the redelivery horizon (duplicates arrive close to the
    original in event time), not history. A duplicate later than the
    watermark is not caught here — that is the batch dedup layer's job;
    the two compose into the standard lambda arrangement.
    """
    wm = stream.withWatermark("ts", watermark)
    if by_content:
        keyed = wm.withColumn(
            "__fp",
            F.xxhash64(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
            ),
        )
        return keyed.dropDuplicatesWithinWatermark(["__fp"]).drop("__fp")
    return wm.dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])


def streaming_conversation_rates(
    stream: DataFrame,
    window: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window turn/tool rates — the monitoring feed for an
    ingestion pipeline (turns/interval per role)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "role")
        .agg(
            F.count("*").alias("n_turns"),
            # exact distinct is unsupported on streams; the HLL sketch is
            # the standard monitoring-feed answer
            F.approx_count_distinct("conv_id").alias("n_active_convs"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "role",
            "n_turns",
            "n_active_convs",
        )
    )


def streaming_expanding_zscore(
    stream: DataFrame,
    state_ttl_seconds: int = 7200,
) -> DataFrame:
    """Streaming twin of ``window_features.expanding_zscore`` over turn
    text length: each arriving turn is scored against the mean/std of
    every turn the conversation has streamed SO FAR (strictly prior), one
    output row per turn, O(1) state per conversation.

    The state is the same EXACT INTEGER sums the batch operator derives
    its formula from — ``(n, Σy, Σy²)`` as int64 — so when arrival order
    matches event-time order the streamed scores are BIT-IDENTICAL to
    the batch operator's (no fp accumulation drift to tolerate; pinned
    in tests/test_streaming.py). Same late-data contract as the other
    stateful ops: within a micro-batch turns process in (ts, turn_idx)
    order, across batches in processing order; event-time TTL evicts
    idle conversations. The state keeps its ``last_ts`` field so
    checkpoints written with it still restore.
    """

    def step(pdf, t, state):
        _, n, s1, s2 = state
        v = pdf["text_len"].to_numpy(dtype="int64")
        # strictly-prior exact sums at each row: state + batch prefix
        np_ = n + np.arange(len(v), dtype="int64")
        s1p = s1 + np.cumsum(v) - v
        s2p = s2 + np.cumsum(v * v) - v * v
        var_num = (np_ * s2p - s1p * s1p).astype("float64")
        with np.errstate(invalid="ignore", divide="ignore"):
            mean = s1p.astype("float64") / np_.astype("float64")
            z = (v.astype("float64") - mean) / np.sqrt(
                var_num / (np_ * (np_ - 1)).astype("float64")
            )
        z = np.where((np_ >= 2) & (var_num > 0), z, np.nan)
        new_state = (
            float(t[-1]),
            int(np_[-1] + 1),
            int(s1p[-1] + v[-1]),
            int(s2p[-1] + v[-1] * v[-1]),
        )
        return {"text_len": v, "zscore": z}, new_state

    return _fold_per_conversation(
        stream,
        ["conv_id", "turn_idx", "ts", _text_len()],
        "conv_id string, turn_idx int, text_len long, zscore double",
        "last_ts double, n long, s1 long, s2 long",
        (None, 0, 0, 0),
        step,
        state_ttl_seconds,
    )


def streaming_neardup_gate(
    stream: DataFrame,
    index_docs: DataFrame,
    sink,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_dir: str | None = None,
    query_name: str = "neardup_gate",
    trigger_available_now: bool = True,
    **lsh_kwargs,
):
    """Near-duplicate gate at ingest: every arriving micro-batch is
    LSH-matched against the accepted-corpus index and the verified
    ``(new_id, index_id, jaccard)`` pairs go to ``sink`` — the streaming
    twin of :func:`~featurescreening_jl_spark.operators.dedup.
    minhash_lsh_pairs_incremental`, and the production shape of "reject
    near-copies before they enter the corpus".

    Built on ``foreachBatch`` — the Spark-sanctioned way to reuse exact
    batch logic (multi-join + verify) per micro-batch, which keeps this
    gate BIT-IDENTICAL to the batch incremental path: same banding, same
    candidate join, same exact-Jaccard verify, pinned by the
    stream-vs-batch agreement test. The gate itself is STATELESS (no
    watermark, no state store): all state lives in the index relation,
    which production recomputes per corpus version (band tables are
    precomputable and bucket-partitioned; see the batch docstring).
    Pair the gate with ``streaming_dedup_turns`` upstream for exact
    within-stream duplicates; new-vs-new NEAR-dups inside one batch are
    the batch self-join's job at compaction time.

    ``sink(pairs_df, batch_id)`` receives the verified pairs of each
    micro-batch. Returns the started ``StreamingQuery``.
    """
    from featurescreening_jl_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        pairs = minhash_lsh_pairs_incremental(
            index_docs,
            batch_df,
            id_col,
            text_col,
            **lsh_kwargs,
        )
        sink(pairs, batch_id)

    writer = stream.writeStream.foreachBatch(process).queryName(query_name)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

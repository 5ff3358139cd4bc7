"""Windowed point-in-time featurization over transcripts.

Layer B of the engine (SURVEY.md §7.0): turns an Iceberg/parquet transcript
table ``(conv_id, turn_idx, role, text, tool, ts)`` into per-turn feature
vectors with ZERO temporal leakage — every feature at turn t is a function
of rows with ``ts <= t.ts`` only (window frames end at ``currentRow``).

Everything here is built-in ``pyspark.sql.functions`` over window specs —
JVM-side, whole-stage-codegen'd; no Python in the hot path. One window
spec ``(partitionBy conv_id, orderBy ts, turn_idx)`` is shared by all
features so Catalyst plans a SINGLE sort+window stage, not one per feature.

At cluster scale the input should be range-partitioned by ``(conv_id, ts)``
and sorted within partitions (Iceberg ``sortedBy``) so the window sort is
cheap or elided; skewed mega-conversations are fine here because window
functions process a partition's rows streamingly (running frames), unlike
grouped UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from featurescreening_jl_spark.frame import FeatureFrame
from featurescreening_jl_spark.functions.time import epoch_micros, epoch_seconds
from featurescreening_jl_spark.plans.keyed import map_key_blocks

__all__ = [
    "turn_order_window",
    "with_lag_lead",
    "sessionize",
    "turn_features",
    "turn_sample_id",
    "turn_feature_frame",
    "conversation_aggregates",
    "trailing_time_window",
    "trailing_time_features",
    "session_funnel",
    "expanding_zscore",
    "trailing_slope",
    "expanding_rank",
    "forward_label",
    "session_stats",
    "cohort_retention",
]


def turn_sample_id(conv_id="conv_id", turn_idx="turn_idx"):
    """THE canonical per-turn sample id (used by :func:`turn_feature_frame`):
    a portable 60-bit hash of the joint ``conv_id:turn_idx`` key string.
    Hashing the delimited joint string rules out the cross-key collisions
    of an additive ``xxhash64(conv_id) + turn_idx`` form
    (``hash(a) + i == hash(b) + j``), and the md5-based
    ``hash60_portable`` keeps ids reproducible by external engines
    (DuckDB oracle)."""
    from featurescreening_jl_spark.operators.dedup import hash60_portable

    return hash60_portable(
        F.concat_ws(":", F.col(conv_id), F.col(turn_idx).cast("string"))
    )


def turn_feature_frame(transcripts: DataFrame,
                       gap_seconds: int = 1800) -> FeatureFrame:
    """THE labelled per-turn frame the flagship, the CLI job and the benches
    screen: ``sample_id`` = :func:`turn_sample_id`, ``label`` = ``tool``
    when the next turn calls a tool (else ``no_tool``), and the
    :data:`TURN_FEATURE_COLS`; the text never enters the window shuffle."""
    feats = turn_features(transcripts, gap_seconds, keep_text=False).select(
        turn_sample_id().alias("sample_id"),
        F.when(F.col("label_next_is_tool") > 0, "tool")
        .otherwise("no_tool").alias("label"),
        *TURN_FEATURE_COLS,
    )
    return FeatureFrame(feats, TURN_FEATURE_COLS)


def turn_order_window(
    by: str = "conv_id", order: tuple[str, ...] = ("ts", "turn_idx")
):
    """The canonical per-conversation event-time ordering.

    ``turn_idx`` tie-breaks equal timestamps so ordering is total and
    deterministic — the per-turn text-equality invariant
    (BASELINE.json ``input_hint``) depends on this.
    """
    return Window.partitionBy(by).orderBy(*[F.col(c) for c in order])


def with_lag_lead(
    df: DataFrame,
    cols: dict[str, tuple[str, int]],
    by: str = "conv_id",
    order: tuple[str, ...] = ("ts", "turn_idx"),
) -> DataFrame:
    """Add lag/lead columns: ``cols`` maps output name → (source col, offset)
    where negative offset = lag, positive = lead."""
    w = turn_order_window(by, order)
    for out, (src, off) in cols.items():
        fn = F.lag(src, -off) if off < 0 else F.lead(src, off)
        df = df.withColumn(out, fn.over(w))
    return df


def sessionize(
    df: DataFrame,
    gap_seconds: int = 1800,
    by: str = "conv_id",
    ts_col: str = "ts",
    order: tuple[str, ...] = ("ts", "turn_idx"),
    out: str = "session_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the previous turn exceeds ``gap_seconds``.

    lag(ts) → gap flag → running sum over the same window = session ordinal
    (0-based) within the conversation. One shuffle on ``by``, one sort —
    shared with every other window feature downstream.
    """
    w = turn_order_window(by, order)
    prev_ts = F.lag(ts_col).over(w)
    gap = epoch_seconds(F.col(ts_col)) - epoch_seconds(prev_ts)
    new_session = F.when(prev_ts.isNull() | (gap > gap_seconds), 1).otherwise(0)
    running = Window.partitionBy(by).orderBy(*[F.col(c) for c in order]).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(out, F.sum(new_session).over(running) - F.lit(1))


def trailing_time_window(
    by: str = "conv_id",
    ts_col: str = "ts",
    seconds: int = 600,
    include_current: bool = True,
):
    """Event-TIME trailing frame: all rows of the key whose timestamp lies
    within ``seconds`` before the current row's (range frame), not the
    trailing k ROWS — the difference matters whenever turn density varies
    ("tool calls in the last 10 minutes" vs "in the last 5 turns").

    Ordered by exact epoch MICROseconds so the boundary is integer-exact
    (``epoch_seconds`` would truncate and mis-bucket sub-second gaps).
    ``include_current=False`` ends the frame one microsecond before the
    current row — the strictly-before-now form, which also excludes
    same-timestamp peers: with an inclusive range frame ALL rows sharing
    the current timestamp join the frame, so a same-instant sibling would
    leak "now" into a feature that claims to predate it.
    """
    upper = 0 if include_current else -1
    return (
        Window.partitionBy(by)
        .orderBy(epoch_micros(F.col(ts_col)))
        .rangeBetween(-seconds * 1_000_000, upper)
    )


def trailing_time_features(
    df: DataFrame,
    windows: dict[str, int] | None = None,
    by: str = "conv_id",
    ts_col: str = "ts",
    include_current: bool = True,
) -> DataFrame:
    """Per-row trailing time-window aggregates: for each named window
    (name → seconds) adds ``turns_last_{name}``, ``tool_calls_last_
    {name}``, ``chars_last_{name}``. One shuffle on ``by`` shared by
    every frame (same partitioning + ordering ⇒ one Window exec node
    chain, no extra exchanges)."""
    windows = windows or {"5m": 300, "30m": 1800}
    is_tool = F.when(F.col("tool").isNotNull(), 1).otherwise(0)
    for name, secs in windows.items():
        w = trailing_time_window(by, ts_col, secs, include_current)
        df = (
            df.withColumn(f"turns_last_{name}", F.count(F.lit(1)).over(w))
            .withColumn(f"tool_calls_last_{name}", F.sum(is_tool).over(w))
            .withColumn(
                f"chars_last_{name}",
                F.coalesce(F.sum(F.length("text")).over(w), F.lit(0)),
            )
        )
    return df


def turn_features(
    df: DataFrame,
    gap_seconds: int = 1800,
    recent_k: int = 5,
    keep_text: bool = True,
) -> DataFrame:
    """The engine's standard per-turn point-in-time feature set.

    ``keep_text=False`` drops the raw text column BEFORE the window
    shuffle: every text-derived feature is a per-row scalar (length, token
    count) computable map-side, so nothing about the features needs the
    text to cross the wire. At transcript scale the text dominates row
    width ~10×, so the conv_id window shuffle — the pipeline's one big
    shuffle — shrinks by the same factor. Keep the default (True) only
    when downstream consumers need the text itself.

    Adds (all leakage-free — frames end at the current row):

    - ``text_len``, ``token_count`` — current-turn text stats;
    - ``is_user/is_assistant/is_tool`` — role indicators;
    - ``time_since_prev`` — seconds since previous turn (0 at conv start);
    - ``lag1_text_len``, ``lag2_text_len`` — previous turns' text length;
    - ``session_id``, ``session_turn_idx``, ``session_elapsed`` — gap-based
      session ordinal / position / age;
    - ``cum_tool_calls``, ``cum_user_turns`` — running counts;
    - ``tool_calls_last_k``, ``avg_text_len_last_k`` — sliding window over
      the trailing ``recent_k`` turns (inclusive);
    - ``label_next_is_tool`` — supervised target: does the NEXT turn use a
      tool (lead — a label, not a feature).
    """
    w = turn_order_window()
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    recent = w.rowsBetween(-(recent_k - 1), Window.currentRow)

    is_tool = F.when(F.col("tool").isNotNull(), 1.0).otherwise(0.0)
    prev_ts = F.lag("ts").over(w)

    # per-row scalars FIRST (map-side, before any shuffle) …
    df = (
        df.withColumn("text_len", F.length("text").cast("double"))
        .withColumn(
            "token_count", F.size(F.split(F.col("text"), r"\s+")).cast("double")
        )
        .withColumn("is_user", F.when(F.col("role") == "user", 1.0).otherwise(0.0))
        .withColumn(
            "is_assistant", F.when(F.col("role") == "assistant", 1.0).otherwise(0.0)
        )
        .withColumn("is_tool", is_tool)
    )
    if not keep_text:
        # … so the wide text column never enters the window shuffle
        df = df.drop("text")

    df = sessionize(df, gap_seconds=gap_seconds)
    sess_w = Window.partitionBy("conv_id", "session_id").orderBy("ts", "turn_idx")
    sess_running = sess_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    return (
        df.withColumn(
            "time_since_prev",
            F.coalesce(
                epoch_seconds(F.col("ts")) - epoch_seconds(prev_ts), F.lit(0)
            ).cast("double"),
        )
        .withColumn(
            "lag1_text_len",
            F.coalesce(F.lag("text_len", 1).over(w), F.lit(0.0)),
        )
        .withColumn(
            "lag2_text_len",
            F.coalesce(F.lag("text_len", 2).over(w), F.lit(0.0)),
        )
        .withColumn("session_turn_idx", (F.row_number().over(sess_w) - 1).cast("double"))
        .withColumn(
            "session_elapsed",
            (
                epoch_seconds(F.col("ts"))
                - F.first(epoch_seconds(F.col("ts"))).over(sess_running)
            ).cast("double"),
        )
        .withColumn("cum_tool_calls", F.sum("is_tool").over(running).cast("double"))
        .withColumn(
            "cum_user_turns", F.sum("is_user").over(running).cast("double")
        )
        .withColumn("tool_calls_last_k", F.sum("is_tool").over(recent).cast("double"))
        .withColumn(
            "avg_text_len_last_k", F.avg("text_len").over(recent).cast("double")
        )
        .withColumn(
            "label_next_is_tool",
            F.coalesce(F.lead("is_tool").over(w), F.lit(0.0)),
        )
    )


def expanding_zscore(
    df: DataFrame,
    value_col: str,
    by: str = "conv_id",
    order: tuple[str, ...] = ("ts", "turn_idx"),
    out: str = "zscore",
) -> DataFrame:
    """Leakage-free standardization: z-score of the current value against
    the mean/std of STRICTLY PRIOR rows of the key (frame ends at
    ``-1 PRECEDING``) — the point-in-time form of the classic
    standard-scaler feature. Null for the first two rows (no prior sample
    / undefined sample std) and when the prior values are constant.

    Numerically PORTABLE by construction: mean and sample variance are
    derived from integer window sums (``Σy``, ``Σy²`` as BIGINT — exact)
    via ``var = (n·Σy² − (Σy)²) / (n·(n−1))``, not from a streaming
    stddev aggregate, so any engine replaying the same formula (the
    DuckDB oracle does) reproduces bit-identical doubles. Requires an
    integral ``value_col``; overflow bound: ``n·Σy²`` must fit int64
    (fine for per-conversation counts — e.g. 1e6 turns of y ≤ 2e4 →
    4e14).

    One shuffle on ``by`` sharing the canonical per-conversation sort
    with every other window feature; the expanding frame is a running
    aggregate (O(1) per row), so mega-conversations stream — no per-group
    materialization, no UDF.
    """
    w_past = turn_order_window(by, order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    y = F.col(value_col).cast("long")
    n = F.count(y).over(w_past)
    s1 = F.sum(y).over(w_past)
    s2 = F.sum(y * y).over(w_past)
    var_num = (n * s2 - s1 * s1).cast("double")
    var = var_num / (n * (n - 1)).cast("double")
    mean = s1.cast("double") / n.cast("double")
    z = (y.cast("double") - mean) / F.sqrt(var)
    return df.withColumn(
        out, F.when((n >= 2) & (var_num > 0), z).otherwise(F.lit(None))
    )


def trailing_slope(
    df: DataFrame,
    value_col: str,
    x_col: str = "turn_idx",
    k: int = 10,
    by: str = "conv_id",
    order: tuple[str, ...] = ("ts", "turn_idx"),
    out: str = "slope",
) -> DataFrame:
    """Local trend feature: least-squares slope of ``value_col`` against
    ``x_col`` over the trailing ``k`` rows (inclusive of current — past
    information only, zero leakage). Null while fewer than 2 points or
    when ``x`` is constant in the frame.

    Like :func:`expanding_zscore`, the slope is computed from EXACT
    integer window sums — ``slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)``
    — rather than a fused ``regr_slope`` aggregate, for cross-engine
    bit-reproducibility (regr_* streaming update order is
    implementation-defined). Both columns must be integral.

    Four running sums over ONE shared window spec ⇒ a single sort+window
    stage; sliding frames evaluate incrementally, so cost is O(rows), not
    O(rows·k).
    """
    w = turn_order_window(by, order).rowsBetween(-(k - 1), Window.currentRow)
    x = F.col(x_col).cast("long")
    y = F.col(value_col).cast("long")
    n = F.count(y).over(w)
    sx = F.sum(x).over(w)
    sy = F.sum(y).over(w)
    sxy = F.sum(x * y).over(w)
    sxx = F.sum(x * x).over(w)
    denom = (n * sxx - sx * sx).cast("double")
    slope = (n * sxy - sx * sy).cast("double") / denom
    return df.withColumn(
        out, F.when((n >= 2) & (denom != 0), slope).otherwise(F.lit(None))
    )


def expanding_rank(
    df: DataFrame,
    value_col: str,
    by: str = "conv_id",
    order: tuple[str, ...] = ("ts", "turn_idx"),
    out: str = "pct_rank_past",
    keep_all: bool = True,
) -> DataFrame:
    """Point-in-time percentile rank: the fraction of STRICTLY PRIOR rows
    of the key whose value is strictly less than the current row's —
    i.e. "where does this turn sit in the conversation's history so
    far". Null at the first row (no history). The natural leakage-free
    replacement for a global ``percent_rank`` (which reads the future).

    No SQL window form exists (the frame would need a predicate on the
    CURRENT row's value), so this is the module's one Arrow crossing:
    ``plans.keyed.map_key_blocks``, whose kernel calls each cover many
    whole conversations (not one ``applyInPandas`` call per key). Per
    key the kernel is O(n log n) and CHUNK-vectorized, not per-row
    Python: rows are processed in blocks of 1024 — prior-chunk counts
    come from one ``np.searchsorted`` over a maintained sorted prefix
    (vectorized over the whole block), within-chunk counts from one
    boolean-matrix reduction.

    Skew note: a key must fit one processing block (like every grouped
    op here); the maintained state is ONE extra value array, so a
    10⁷-turn mega-conversation costs ~160 MB transient — acceptable, and
    the sort-based kernel keeps it CPU-cheap. Only (key, order, value)
    columns enter the shuffle.

    ``keep_all=False`` returns just (key, order, value, rank) straight
    from the kernel — callers that don't need the other input columns
    skip the join back to ``df``, which would otherwise shuffle AND
    re-execute the input lineage a second time.
    """
    import numpy as np
    import pandas as pd

    order_cols = list(order)
    slim = df.select(
        F.col(by),
        *[F.col(c) for c in order_cols],
        F.col(value_col).cast("double").alias("__v"),
    )
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in slim.schema.fields
    ) + f", `{out}` double"

    def _rank_one(v: np.ndarray) -> np.ndarray:
        n = len(v)
        res = np.full(n, np.nan)
        prefix = np.empty(0)
        CH = 1024
        for lo in range(0, n, CH):
            chunk = v[lo : lo + CH]
            less = np.searchsorted(prefix, chunk, side="left").astype(
                np.float64
            )
            # within-chunk strictly-less among earlier rows of the chunk
            tri = (chunk[None, :] < chunk[:, None]) & (
                np.arange(len(chunk))[None, :]
                < np.arange(len(chunk))[:, None]
            )
            less += tri.sum(axis=1)
            past = lo + np.arange(len(chunk), dtype=np.float64)
            with np.errstate(invalid="ignore", divide="ignore"):
                res[lo : lo + CH] = np.where(past > 0, less / past, np.nan)
            prefix = np.sort(
                np.concatenate([prefix, chunk]), kind="mergesort"
            )
        return res

    def _block(pdf: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
        ends = np.r_[starts[1:], len(pdf)]
        v = pdf["__v"].to_numpy()
        res = np.empty(len(pdf))
        for k in range(len(starts)):
            res[starts[k] : ends[k]] = _rank_one(v[starts[k] : ends[k]])
        pdf[out] = res
        return pdf

    ranked = map_key_blocks(slim, [by], order_cols, _block, schema)
    if not keep_all:
        return ranked.select(
            by, *order_cols, F.col("__v").alias(value_col), out
        )
    return df.join(
        ranked.select(by, *order_cols, out), on=[by, *order_cols], how="left"
    )


TURN_FEATURE_COLS = [
    "text_len",
    "token_count",
    "is_user",
    "is_assistant",
    "is_tool",
    "time_since_prev",
    "lag1_text_len",
    "lag2_text_len",
    "session_turn_idx",
    "session_elapsed",
    "cum_tool_calls",
    "cum_user_turns",
    "tool_calls_last_k",
    "avg_text_len_last_k",
]


def conversation_aggregates(df: DataFrame) -> DataFrame:
    """Per-conversation rollup (one hash-agg shuffle, map-side partials):
    turn counts, tool usage, session count, duration."""
    sess = sessionize(df)
    return sess.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0)).alias("n_tool_calls"),
        F.countDistinct("tool").alias("n_distinct_tools"),
        (F.max("session_id") + 1).alias("n_sessions"),
        (F.max(epoch_seconds(F.col("ts"))) - F.min(epoch_seconds(F.col("ts")))).alias(
            "duration_sec"
        ),
        F.avg(F.length("text")).alias("avg_text_len"),
    )


def session_funnel(
    df: DataFrame,
    stages: list[str],
    *,
    by: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order: tuple[str, ...] = ("ts", "event_id"),
    gap_seconds: int = 1800,
) -> DataFrame:
    """Ordered-stage funnel over gap-sessionized events: for each session,
    did it hit ``stages[0]``, then ``stages[1]`` at-or-after that, then
    ``stages[2]`` at-or-after THAT, ... — the product-analytics primitive
    (signup→view→purchase) re-expressed as cumulative-window flags, no
    per-session UDF and no self-join per stage.

    Mechanism: over the shared per-(entity, session) cumulative window,
    ``seen_k = max(type == stages[k] AND seen_{k-1})`` — each stage's flag
    can only turn on at a row that occurs at-or-after a row where the
    previous stage's flag was already on, which encodes the ordered-
    subsequence match exactly. ``k`` chained window columns over ONE
    window spec = one shuffle on ``by`` + one sort, identical to every
    other sessionized feature (the sort is shared/elided on ts-sorted
    inputs). The final aggregate is two tiers: per-session maxima
    (map-side partials), then a |stages|-row rollup.

    Output: one row per stage — ``stage_idx`` (1-based), ``stage``,
    ``n_sessions`` (sessions reaching the stage in order), and
    ``conversion`` (n_sessions / stage-1's n_sessions, rounded 6 dp;
    stage 1 converts from the total session count).
    """
    if not stages:
        raise ValueError("session_funnel: at least one stage required")
    sess = sessionize(
        df, gap_seconds=gap_seconds, by=by, ts_col=ts_col, order=order
    )
    cum = (
        Window.partitionBy(by, "session_id")
        .orderBy(*[F.col(c) for c in order])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = None
    seen_cols = []
    for k, stage in enumerate(stages):
        hit = F.col(type_col) == F.lit(stage)
        if prev is not None:
            # seen_{k-1} is itself a cumulative max, so its current-row
            # value already covers every preceding row — no nested window
            hit = hit & (F.col(prev) == 1)
        col = f"__seen_{k}"
        sess = sess.withColumn(col, F.max(hit.cast("int")).over(cum))
        prev = col
        seen_cols.append(col)
    per_session = sess.groupBy(by, "session_id").agg(
        *[F.max(c).alias(c) for c in seen_cols]
    )
    totals = per_session.agg(
        F.count(F.lit(1)).alias("__n_sessions"),
        *[F.sum(c).alias(c) for c in seen_cols],
    )
    # unpivot the single totals row with ONE explode — the aggregate plan
    # runs once (a per-stage union would clone it per branch)
    entries = []
    for k, stage in enumerate(stages):
        denom = F.col("__n_sessions") if k == 0 else F.col(f"__seen_{k-1}")
        entries.append(
            F.struct(
                F.lit(k + 1).alias("stage_idx"),
                F.lit(stage).alias("stage"),
                F.col(f"__seen_{k}").cast("long").alias("n_sessions"),
                F.round(
                    F.col(f"__seen_{k}")
                    / F.when(denom > 0, denom)
                    .otherwise(F.lit(None))
                    .cast("double"),
                    6,
                ).alias("conversion"),
            )
        )
    return totals.select(F.explode(F.array(*entries)).alias("__e")).select(
        "__e.stage_idx", "__e.stage", "__e.n_sessions", "__e.conversion"
    )


def forward_label(
    df: DataFrame,
    event: "F.Column | str",
    horizon_s: int,
    by: str = "conv_id",
    ts_col: str = "ts",
    out: str = "label",
) -> DataFrame:
    """FUTURE-window label generator: does ``event`` (a boolean column or
    expression) occur within ``(ts, ts + horizon_s]`` of the key — e.g.
    "will this conversation use a tool in the next 10 minutes". The
    forward-looking counterpart to the leakage-free features: FEATURES
    must end at now, LABELS must start strictly after it, and putting
    both boundaries in one audited operator is what keeps a training set
    honest (a label window that includes `now` silently teaches the
    model to read the present).

    Strictness details: the frame starts 1 microsecond after the current
    row, so same-timestamp peers are EXCLUDED from the label (a
    same-instant sibling event is 'now', not 'future' — the mirror of
    ``trailing_time_window(include_current=False)``); the upper bound is
    inclusive at exactly ``ts + horizon_s``. Rows with no event in the
    window get 0.0, including conversation tails (max over an empty
    frame is null → coalesce).

    One event-time range window over the shared ``by`` clustering — the
    same single shuffle every other per-conversation feature rides.
    """
    ev = F.col(event) if isinstance(event, str) else event
    w = (
        Window.partitionBy(by)
        .orderBy(epoch_micros(F.col(ts_col)))
        .rangeBetween(1, horizon_s * 1_000_000)
    )
    return df.withColumn(
        out,
        F.coalesce(F.max(ev.cast("double")).over(w), F.lit(0.0)),
    )


def session_stats(
    df: DataFrame,
    gap_seconds: int = 1800,
    by: str = "conv_id",
    ts_col: str = "ts",
    order: tuple[str, ...] = ("ts", "turn_idx"),
) -> DataFrame:
    """One row per (conversation, session): turn count, tool-call count,
    start/end epoch seconds, duration — the session-level rollup between
    per-turn features and ``conversation_aggregates``.

    Sessionization shares the canonical window shuffle; the rollup is a
    hash aggregate with map-side partials on (by, session_id) — bounded
    output, no second sort.
    """
    sess = sessionize(
        df, gap_seconds=gap_seconds, by=by, ts_col=ts_col, order=order
    )
    es = epoch_seconds(F.col(ts_col))
    return sess.groupBy(by, "session_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(
            F.when(F.col("tool").isNotNull(), 1).otherwise(0)
        ).alias("n_tool_calls"),
        F.min(es).alias("start_epoch"),
        F.max(es).alias("end_epoch"),
        (F.max(es) - F.min(es)).alias("duration_sec"),
    )


def cohort_retention(
    df: DataFrame,
    *,
    by: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Cohort retention matrix over an event stream: cohort = the
    ``period`` (date_trunc) of each entity's FIRST event; for every
    (cohort, period-offset) cell, how many distinct entities were active
    and what fraction of the cohort that is — the standard longitudinal
    activity rollup (user retention, but equally conversation
    re-engagement or crawl-source persistence).

    Scale shape: the first-event period comes from one whole-partition
    window min (single shuffle on ``by``, no groupBy+self-join); the
    matrix is one (cohort, offset) hash aggregate whose distinct-count
    partials combine map-side; the per-cohort denominator joins from the
    offset-0 row of the MATRIX itself (periods² rows, broadcast) — the
    raw stream is never touched again. Output:
    ``(cohort, offset, n_active, retention)`` with retention rounded
    6 dp; offset counted in ``period`` units from the cohort period.
    """
    if period not in ("week", "month", "day"):
        raise ValueError(f"unsupported period {period!r}")
    per_unit = {"day": 1, "week": 7}
    ts = F.col(ts_col)
    p = F.date_trunc(period, ts)
    first_p = F.date_trunc(
        period, F.min(ts).over(Window.partitionBy(by))
    )
    if period == "month":
        offset = (
            (F.year(p) - F.year(first_p)) * 12
            + (F.month(p) - F.month(first_p))
        ).cast("long")
    else:
        offset = (
            F.datediff(p.cast("date"), first_p.cast("date"))
            / per_unit[period]
        ).cast("long")
    matrix = (
        df.select(
            F.col(by).alias("__e"),
            first_p.cast("date").alias("cohort"),
            offset.alias("offset"),
        )
        .groupBy("cohort", "offset")
        .agg(F.count_distinct("__e").alias("n_active"))
    )
    base = matrix.where(F.col("offset") == 0).select(
        "cohort", F.col("n_active").alias("__cohort_size")
    )
    return (
        matrix.join(F.broadcast(base), "cohort")
        .select(
            "cohort",
            "offset",
            "n_active",
            F.round(F.col("n_active") / F.col("__cohort_size"), 6).alias(
                "retention"
            ),
        )
    )

"""Conversation-level data-prep gates over transcript tables.

Chat/agent training corpora need conversation-shaped hygiene that
document-level filters can't express: cutting each conversation to a
token budget without breaking turn order, and rejecting malformed
conversations (wrong opener role, stuck role repetition, empty turns)
before they reach featurization (reference scope: the screening input
contract of `/root/reference/src/FeatureScreening.jl:88-104` assumes
well-formed samples; these gates produce them).

Both operators are pure built-in expressions — one window pass or one
hash aggregate — so they stay JVM-side and whole-stage-codegen'd:

- ``truncate_to_token_budget``: a running-sum window over the shared
  conversation order ``(ts, turn_idx)``. Cumulative token counts are
  monotonically non-decreasing (counts are ≥ 0), so the single filter
  ``cum <= budget`` provably keeps a PREFIX of each conversation —
  no per-group UDF, no sort beyond the one window sort, and at cluster
  scale the sort is elided when the table is written ts-sorted within
  conv_id partitions (same argument as window_features.py).
- ``conversation_validity``: one lag window (role repetition) feeding
  one hash aggregate (map-side partials) — per-conversation shape
  stats plus an ``is_valid`` verdict under explicit thresholds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from featurescreening_jl_spark.operators.text_analysis import token_count

__all__ = [
    "truncate_to_token_budget",
    "conversation_validity",
    "render_chat",
    "sft_pairs",
    "role_transition_stats",
    "detect_degenerate_loops",
    "merge_consecutive_turns",
    "turn_edit_features",
    "preference_pairs",
    "response_latency_features",
    "tool_usage_features",
    "context_budget_features",
    "semantic_segments",
]


def _chunked_prefix_with_ghosts(
    df: DataFrame,
    *,
    by: str,
    order_col: str,
    value_col: str,
    chunk_turns: int,
    overlap_rows: int,
    what: str,
) -> DataFrame:
    """Shared machinery of the mega-conversation escape hatches
    (:func:`context_budget_features`, :func:`sft_pairs`): split each
    conversation into ``order_col``-range chunks, compute the GLOBAL
    inclusive running sum of ``value_col`` two-phase (per-chunk local
    sums + an exclusive prefix over the tiny per-chunk table — the
    global_rank offset pattern), and duplicate the last
    ``overlap_rows`` rows of every chunk into the next as GHOSTS so
    row-bounded lookback frames stay complete across the cut. Returns
    ``df``'s columns plus ``__ck`` (chunk id), ``__cum`` (global
    running sum), ``__ghost`` (drop these from final output).

    The dense-0-based-``order_col`` precondition is VALIDATED inside
    the plan, not just documented: the per-chunk aggregate (already
    required for the offsets) also carries (count, min pos, max pos),
    and an ``assert_true`` on the offset column fails the job loudly if
    any chunk has in-chunk gaps, a shifted start, or a short non-final
    chunk, or if a whole chunk is missing — sparse numbering would
    otherwise thin the ghost overlap below the frame span and silently
    corrupt results.
    """
    if overlap_rows > chunk_turns:
        raise ValueError(
            f"{what}: chunk_turns={chunk_turns} must be >= the frame "
            f"depth ({overlap_rows}): the ghost overlap is one chunk "
            f"deep"
        )
    ck = (F.col(order_col).cast("long") / F.lit(int(chunk_turns))).cast(
        "long"
    )
    pos = F.col(order_col).cast("long") % F.lit(int(chunk_turns))
    base = df.withColumn("__ck", ck).withColumn("__pos", pos)
    wloc = (
        Window.partitionBy(by, "__ck")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = base.withColumn("__lsum", F.sum(value_col).over(wloc))
    wch = (
        Window.partitionBy(by)
        .orderBy("__ck")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_last = Window.partitionBy(by)
    per_chunk = local.groupBy(by, "__ck").agg(
        F.sum(value_col).alias("__csum"),
        F.count(F.lit(1)).alias("__cnt"),
        F.min("__pos").alias("__pmin"),
        F.max("__pos").alias("__pmax"),
    )
    dense_ok = (
        (F.col("__pmin") == 0)
        & (F.col("__cnt") == F.col("__pmax") - F.col("__pmin") + 1)
        & (
            (F.col("__ck") == F.max("__ck").over(w_last))
            | (F.col("__pmax") == F.lit(int(chunk_turns - 1)))
        )
        # one row per chunk: chunks 0..max are all present exactly when
        # the conversation has max + 1 of them
        & (F.count(F.lit(1)).over(w_last) == F.max("__ck").over(w_last) + 1)
    )
    offsets = per_chunk.select(
        by,
        "__ck",
        # assert_true returns NULL when the predicate holds and raises
        # at execution otherwise; folding it into the offset keeps the
        # check un-prunable without an extra action
        F.when(
            F.assert_true(
                dense_ok,
                f"{what}: chunk_turns requires dense 0-based "
                f"{order_col} numbering per conversation (found an "
                f"in-chunk gap, shifted start, short non-final chunk, "
                f"or missing chunk) — the ghost overlap would "
                f"under-cover the lookback frame",
            ).isNull(),
            F.coalesce(F.sum("__csum").over(wch), F.lit(0)),
        ).alias("__off"),
    )
    # one join of the offsets: every row is emitted as itself and, if it
    # is among its chunk's last overlap_rows, once more as a ghost of the
    # next chunk, so the offsets subplan (and its check) runs once
    tail = F.col("__pos") >= F.lit(int(chunk_turns - overlap_rows))
    copies = F.when(tail, F.array(F.lit(False), F.lit(True))).otherwise(
        F.array(F.lit(False))
    )
    return (
        local.join(offsets, [by, "__ck"])
        .withColumn("__cum", F.col("__lsum") + F.col("__off"))
        .withColumn("__ghost", F.explode(copies))
        .withColumn("__ck", F.col("__ck") + F.col("__ghost").cast("long"))
        .drop("__pos", "__lsum", "__off")
    )


def sft_pairs(
    df: DataFrame,
    *,
    by: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    target_role: str = "assistant",
    max_context_turns: int = 8,
    max_context_chars: int = 2000,
    sep: str = "\n",
    chunk_turns: int | None = None,
) -> DataFrame:
    """Mine (context → response) training pairs from transcripts: one
    example per ``target_role`` turn, whose context is the most-recent
    prior turns that fit ``max_context_chars`` (and at most
    ``max_context_turns``), rendered in ``render_chat``'s
    ``<|role|>text`` format.

    The char cap keeps a SUFFIX of the recent turns (drop oldest first),
    decided arithmetically, not by trial re-rendering: with per-turn
    rendered contribution ``c_j = len(role)+len(text)+5`` (the
    ``<|``/``|>`` frame plus one separator) and prefix sums ``S`` over
    the conversation order, prior turn ``p`` fits iff
    ``S[anchor-1] - S[p-1] <= max_context_chars``. ``S`` is monotone, so
    the kept set is exactly the greedy most-recent-first selection.

    One window pass per conversation (prefix sum + a bounded
    ``collect_list`` of the last ``max_context_turns`` turns), then
    per-row HOF filter/render — no UDF, no self-join, one shuffle on
    ``by``. Anchors with zero surviving context are dropped (nothing to
    condition on).

    Mega-conversation escape hatch (``chunk_turns``): same contract as
    :func:`context_budget_features` — one conversation = one task is
    correct (measured 7.6 s at 10^6 turns, streaming memory) but
    serial; ``chunk_turns`` splits a conversation into ``order_col``-
    range chunks processed in parallel with an EXACTLY identical
    result. The prefix sum goes two-phase (per-chunk partials + an
    exclusive prefix over the tiny per-chunk table) and the bounded
    context frame is covered by ghosting the last ``max_context_turns``
    rows of each chunk into the next (the lookback is ≤
    ``max_context_turns`` ROWS by construction — cheaper overlap than
    context_budget's token-bounded frame). Requires ``chunk_turns >=
    max_context_turns`` and dense 0-based ``order_col`` numbering.

    Output: ``by``, ``order_col`` (the anchor), ``context``, ``target``,
    ``n_context_turns``.
    """
    contrib = (
        F.length(F.col(role_col))
        + F.length(F.coalesce(F.col(text_col), F.lit("")))
        + F.lit(4 + len(sep))
    )
    if chunk_turns is None:
        w_order = Window.partitionBy(by).orderBy(order_col)
        s = F.sum(contrib).over(
            w_order.rowsBetween(Window.unboundedPreceding, 0)
        )
        pre = df.select(
            F.col(by),
            F.col(order_col),
            F.col(role_col),
            F.coalesce(F.col(text_col), F.lit("")).alias("__t"),
            (s - contrib).alias("__s_prev"),
            F.lit(False).alias("__ghost"),
        )
        w_ctx = w_order
    else:
        work = df.select(
            F.col(by),
            F.col(order_col),
            F.col(role_col),
            F.coalesce(F.col(text_col), F.lit("")).alias("__t"),
            contrib.cast("long").alias("__c"),
        )
        pre = _chunked_prefix_with_ghosts(
            work,
            by=by,
            order_col=order_col,
            value_col="__c",
            chunk_turns=chunk_turns,
            overlap_rows=max_context_turns,
            what="sft_pairs",
        ).select(
            F.col(by),
            F.col(order_col),
            F.col(role_col),
            "__t",
            (F.col("__cum") - F.col("__c")).alias("__s_prev"),
            "__ck",
            "__ghost",
        )
        w_ctx = Window.partitionBy(by, "__ck").orderBy(order_col)

    prior = F.struct(
        F.col(order_col).alias("o"),
        F.col(role_col).alias("r"),
        F.col("__t").alias("t"),
        F.col("__s_prev").alias("s_prev"),
    )
    ctx = F.collect_list(prior).over(
        w_ctx.rowsBetween(-max_context_turns, -1)
    )
    base = (
        pre.select(
            F.col(by),
            F.col(order_col),
            F.col(role_col),
            F.col("__t").alias("__target"),
            "__s_prev",
            ctx.alias("__ctx"),
            "__ghost",
        )
        .where((F.col(role_col) == target_role) & ~F.col("__ghost"))
        .drop("__ghost")
    )
    kept = F.filter(
        F.col("__ctx"),
        lambda e: e["s_prev"]
        >= F.col("__s_prev") - F.lit(int(max_context_chars)),
    )
    # project the filtered list ONCE, then render from the projected
    # column — rendering from the `kept` expression directly would
    # re-evaluate the filter per consumer (the HOF re-evaluation trap
    # family, see tests/test_plans.py)
    context = F.array_join(
        F.transform(
            F.col("__kept"),
            lambda x: F.concat(F.lit("<|"), x["r"], F.lit("|>"), x["t"]),
        ),
        sep,
    )
    return (
        base.withColumn("__kept", kept)
        .where(F.size("__kept") > 0)
        .select(
            by,
            order_col,
            context.alias("context"),
            F.col("__target").alias("target"),
            F.size("__kept").alias("n_context_turns"),
        )
    )


def truncate_to_token_budget(
    df: DataFrame,
    budget_tokens: int,
    by: str = "conv_id",
    order: tuple[str, ...] = ("ts", "turn_idx"),
    text_col: str = "text",
    cum_col: str = "cum_tokens",
) -> DataFrame:
    """Keep the longest prefix of each conversation whose cumulative
    whitespace-token count stays within ``budget_tokens`` (inclusive).

    The prefix guarantee needs no grouped UDF: per-turn counts are
    non-negative, so the running sum is monotone within a conversation
    and ``cum <= budget`` admits exactly the turns before the first
    overflow. A turn that itself overflows the remaining budget is
    dropped along with everything after it (no partial turns — a split
    mid-turn would break the per-row text-equality invariant).
    """
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    w = (
        Window.partitionBy(by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(token_count(F.col(text_col)).cast("long")).over(w)
    return df.withColumn(cum_col, cum).where(F.col(cum_col) <= budget_tokens)


def conversation_validity(
    df: DataFrame,
    by: str = "conv_id",
    order: tuple[str, ...] = ("ts", "turn_idx"),
    opener_role: str = "user",
    min_alternation: float = 0.5,
) -> DataFrame:
    """Per-conversation chat-format audit: shape stats plus an
    ``is_valid`` verdict.

    Emitted per conversation:

    - ``n_turns``
    - ``starts_with_opener`` — first turn (by ``order``) has
      ``opener_role``
    - ``n_empty_turns`` — turns whose text is blank/whitespace
    - ``n_role_repeats`` — consecutive turn pairs with the same role
      ("stuck speaker"; assistant→assistant etc.)
    - ``alternation_rate`` — ``1 - repeats/(n_turns-1)``, NULL for
      single-turn conversations (no pairs to judge)
    - ``is_valid`` — opener correct AND zero empty turns AND
      (single-turn OR alternation_rate ≥ ``min_alternation``)

    One lag window feeding one hash aggregate; both stages shuffle on
    ``by`` only, and AQE coalesces the tiny post-agg side.
    """
    ow = Window.partitionBy(by).orderBy(*order)
    flagged = df.select(
        by,
        F.col("role"),
        (F.length(F.trim(F.col("text"))) == 0).cast("int").alias("__empty"),
        (F.lag("role").over(ow) == F.col("role")).cast("int").alias("__rep"),
        (F.row_number().over(ow) == 1).cast("int").alias("__first"),
    )
    pairs = F.count("*") - 1
    repeats = F.coalesce(F.sum("__rep"), F.lit(0))
    rate = F.when(
        pairs > 0, 1.0 - repeats.cast("double") / pairs.cast("double")
    )
    opener_ok = (
        F.max(F.when(F.col("__first") == 1, F.col("role"))) == opener_role
    )
    n_empty = F.sum("__empty")
    return flagged.groupBy(by).agg(
        F.count("*").alias("n_turns"),
        opener_ok.alias("starts_with_opener"),
        n_empty.alias("n_empty_turns"),
        repeats.alias("n_role_repeats"),
        F.round(rate, 4).alias("alternation_rate"),
        (
            opener_ok
            & (n_empty == 0)
            & ((pairs == 0) | (rate >= min_alternation))
        ).alias("is_valid"),
    )


def render_chat(
    df: DataFrame,
    by: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Flatten each conversation into ONE training-format string:
    turns ordered by ``order_col``, each rendered ``<|role|>text``,
    joined with ``sep`` — the chat-template step that turns a transcript
    table into rows a tokenizer consumes (the reference consumes exactly
    such flattened per-sample rows, `/root/reference/screen:49-83`).

    Pure built-in expressions: ``collect_list(struct(order, role, text))``
    (map-side partials, one shuffle on ``by``) → ``array_sort`` on the
    struct (orders by the leading ``order_col`` field — deterministic
    regardless of arrival order) → ``transform`` + ``array_join``. State
    per group is one conversation's turns — the same bound every
    conversation-level operator in this module already carries; no UDF,
    no driver collect.

    Output: ``by``, ``rendered`` (the flat string), ``n_turns``,
    ``n_tokens`` (whitespace tokens of the rendered string).
    """
    from featurescreening_jl_spark.operators.text_analysis import token_count

    turn = F.struct(
        F.col(order_col).alias("o"),
        F.col(role_col).alias("r"),
        F.coalesce(F.col(text_col), F.lit("")).alias("t"),
    )
    agg = df.groupBy(by).agg(
        F.array_sort(F.collect_list(turn)).alias("__turns")
    )
    rendered = F.array_join(
        F.transform(
            F.col("__turns"),
            lambda x: F.concat(F.lit("<|"), x["r"], F.lit("|>"), x["t"]),
        ),
        sep,
    )
    return agg.select(
        by,
        rendered.alias("rendered"),
        F.size("__turns").alias("n_turns"),
        token_count(rendered).alias("n_tokens"),
    )


def role_transition_stats(
    df: DataFrame,
    *,
    conv_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("ts", "turn_idx"),
    role_col: str = "role",
) -> DataFrame:
    """Corpus-wide role-transition (Markov bigram) statistics over a
    transcript table: for every ordered pair of consecutive turns within
    a conversation, count ``role_from -> role_to`` and its conditional
    probability ``P(role_to | role_from)``. This is the shape signal
    conversation-corpus QA leans on — a healthy chat corpus transitions
    user->assistant nearly always, while assistant->assistant spikes mark
    stitched or malformed conversations (the validity gate
    :func:`conversation_validity` rejects per-conversation; this operator
    profiles the corpus as a whole).

    Plan shape: ONE window pass over the shared conversation order
    ``(conv_col, *order_cols)`` — the same partitioning every operator in
    this module shuffles on, so at scale the sort is reused/elided for
    ts-sorted inputs — feeding one hash aggregate whose output is bounded
    by ``|roles|^2`` rows (single-digit), over which the normalizing
    window is free. Final turns of each conversation (lead = NULL) are
    excluded: they have no transition.

    Output: ``role_from``, ``role_to``, ``n_transitions``,
    ``p_transition`` (rounded to 6 dp).
    """
    w = Window.partitionBy(conv_col).orderBy(*[F.col(c) for c in order_cols])
    pairs = df.select(
        F.col(role_col).alias("role_from"),
        F.lead(role_col).over(w).alias("role_to"),
    ).where(F.col("role_to").isNotNull())
    counts = pairs.groupBy("role_from", "role_to").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    norm = Window.partitionBy("role_from")
    return counts.select(
        "role_from",
        "role_to",
        "n_transitions",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(norm).cast("double"),
            6,
        ).alias("p_transition"),
    )


def detect_degenerate_loops(
    df: DataFrame,
    *,
    by: str = "conv_id",
    order: tuple[str, ...] = ("ts", "turn_idx"),
    role_col: str = "role",
    text_col: str = "text",
    min_run: int = 3,
    normalize: bool = True,
) -> DataFrame:
    """Per-conversation degenerate-loop audit: find maximal runs of
    CONSECUTIVE turns whose (role, text) repeat verbatim — the signature
    of a stuck agent (same tool call re-issued, same apology re-emitted)
    that poisons SFT corpora if it survives to training. Document-level
    dedup can't see it: the duplicate lives INSIDE one sample.

    A run is a gaps-and-islands segment over the conversation order:
    a new segment starts whenever role or (optionally lower/trimmed)
    text differs from the previous turn. Emitted per conversation:

    - ``n_turns``
    - ``max_run_len`` — longest repeated streak (1 = no repetition)
    - ``n_looped_turns`` — turns inside runs of length ≥ ``min_run``
    - ``loop_share`` — ``n_looped_turns / n_turns`` (4 dp)
    - ``is_looping`` — ``max_run_len >= min_run``

    Plan shape: one lag window over the shared conversation order →
    running-sum run ids (same window frame, same exchange) → two hash
    aggregates, BOTH clustering on supersets of ``by`` — Catalyst reuses
    the single conv-keyed exchange end-to-end, so the whole audit costs
    one shuffle. Per-group state is a handful of longs; no UDF, no
    collect_list. (Reference scope: input hygiene for the screening
    contract, `/root/reference/src/FeatureScreening.jl:88-104`.)
    """
    if min_run < 2:
        raise ValueError(f"min_run must be >= 2, got {min_run}")
    key = F.coalesce(F.col(text_col), F.lit(""))
    if normalize:
        key = F.lower(F.trim(key))
    ow = Window.partitionBy(by).orderBy(*[F.col(c) for c in order])
    run_frame = ow.rowsBetween(Window.unboundedPreceding, 0)
    marked = df.select(
        by,
        *order,
        F.when(
            (F.lag(role_col).over(ow) == F.col(role_col))
            & (F.lag(key).over(ow) == key),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("__new_run"),
    ).select(by, "__new_run", *order)
    runs = (
        marked.withColumn("__run", F.sum("__new_run").over(run_frame))
        .groupBy(by, "__run")
        .agg(F.count(F.lit(1)).alias("__len"))
    )
    n_turns = F.sum("__len")
    looped = F.sum(F.when(F.col("__len") >= min_run, F.col("__len")).otherwise(F.lit(0)))
    max_run = F.max("__len")
    return runs.groupBy(by).agg(
        n_turns.alias("n_turns"),
        max_run.alias("max_run_len"),
        looped.alias("n_looped_turns"),
        F.round(looped.cast("double") / n_turns.cast("double"), 4).alias(
            "loop_share"
        ),
        (max_run >= min_run).alias("is_looping"),
    )


def merge_consecutive_turns(
    df: DataFrame,
    *,
    by: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    ts_col: str | None = "ts",
    sep: str = "\n",
) -> DataFrame:
    """Normalize a transcript by merging runs of CONSECUTIVE same-role
    turns into one turn (texts joined by ``sep`` in turn order, ts =
    the run's first timestamp) and re-indexing ``turn_idx`` densely —
    the canonical fix for stitched/streamed transcripts where one
    logical message arrived as several fragments, and a precondition
    for alternation-based gates (:func:`conversation_validity` would
    otherwise reject fragmented-but-fine conversations).

    Same gaps-and-islands skeleton as :func:`detect_degenerate_loops`
    (runs keyed by role change only), then one aggregate per run:
    ``array_sort(collect_list(struct(order, text)))`` keeps fragment
    order deterministic regardless of arrival order, and the final
    dense ``turn_idx`` is a row_number over runs within the
    conversation. Every stage clusters on a superset of ``by`` — one
    conv-keyed exchange serves the lag window, the run aggregate, and
    the re-index window. Per-group state is one run's fragments (≤ one
    conversation's turns — the bound every operator in this module
    carries).

    Output: ``by``, ``turn_idx`` (dense, 0-based), ``role_col``,
    ``text_col`` (merged), ``n_merged`` (fragments in the run), plus
    ``ts_col`` (run-first) when given.
    """
    ow = Window.partitionBy(by).orderBy(order_col)
    run_frame = ow.rowsBetween(Window.unboundedPreceding, 0)
    marked = df.withColumn(
        "__new_run",
        F.when(F.lag(role_col).over(ow) == F.col(role_col), F.lit(0))
        .otherwise(F.lit(1)),
    ).withColumn("__run", F.sum("__new_run").over(run_frame))
    frag = F.struct(
        F.col(order_col).alias("o"),
        F.coalesce(F.col(text_col), F.lit("")).alias("t"),
    )
    aggs = [
        F.min(order_col).alias("__first_o"),
        F.max(role_col).alias(role_col),  # constant within a run
        F.array_sort(F.collect_list(frag)).alias("__frags"),
    ]
    if ts_col is not None:
        aggs.append(F.min(ts_col).alias(ts_col))
    runs = marked.groupBy(by, "__run").agg(*aggs)
    reindex = Window.partitionBy(by).orderBy("__first_o")
    merged_text = F.array_join(
        F.transform(F.col("__frags"), lambda x: x["t"]), sep
    )
    out_cols = [
        by,
        (F.row_number().over(reindex) - 1).cast("int").alias(order_col),
        role_col,
        merged_text.alias(text_col),
        F.size("__frags").alias("n_merged"),
    ]
    if ts_col is not None:
        out_cols.append(F.col(ts_col))
    return runs.select(*out_cols)


def turn_edit_features(
    df: DataFrame,
    *,
    by: str = "conv_id",
    order: tuple[str, ...] = ("ts", "turn_idx"),
    role_col: str = "role",
    text_col: str = "text",
    order_col: str = "turn_idx",
    max_chars: int = 2000,
    chunk_turns: int | None = None,
) -> DataFrame:
    """Per-turn self-repetition features: Levenshtein distance and
    normalized similarity between each turn and the PREVIOUS turn of
    the SAME role in the conversation — the graded companion to
    :func:`detect_degenerate_loops` (which only sees verbatim repeats).
    High ``edit_sim`` on assistant turns marks paraphrase loops and
    copy-edit churn; as screening features these feed the same
    turn-level frame as window_features.py.

    Scale guards, both explicit:

    - texts are capped at ``max_chars`` before the distance
      (Levenshtein is O(len²) per pair; the cap bounds per-row cost
      at a constant — the standard production compromise);
    - the "previous same-role turn" lag does NOT re-partition by
      (conv, role): the window partitions by ``by`` alone and orders
      by (role, *order), so the previous row in that order IS the
      previous same-role turn whenever its role matches (guarded with
      a ``when``) — the operator rides the module's shared conv-keyed
      exchange instead of introducing a second shuffle key.

    Mega-conversation escape hatch (``chunk_turns``): one conversation
    = one task, measured 7.9 s at 10^6 turns (linear, O(1) window
    memory; per-row cost is the capped Levenshtein, which dominates).
    Unlike :func:`context_budget_features` / :func:`sft_pairs`, whose
    lookback is bounded in ROWS and chunkable with a fixed-depth ghost
    overlap, this op's lag-1-per-role can reach arbitrarily far back
    (a role absent for a million turns), so the chunked variant
    carries state instead of overlapping rows: a per-(conv, chunk,
    role) last-text aggregate (map-side combined — only |groups| rows
    shuffle), lagged per (conv, role) over chunk order, yields each
    chunk's incoming predecessor (the nearest EARLIER chunk containing
    that role — chunks where it is absent simply have no row to lag
    over). The carried texts enter the window input as GHOST rows
    sorted before their role block, so the existing in-chunk lag finds
    them exactly where the single-task window would have found the
    real predecessor — no join back, so the corpus pays only the one
    (conv, chunk) exchange the window needs anyway. The carry is exact
    when ``order`` agrees with the chunk order within each (conv, role):
    every turn of a role in chunk c sorts by ``order`` before its turns
    in any later chunk. That, not dense numbering (gaps only change
    chunk sizes), is the precondition, and it is checked in-plan: the
    per-(conv, chunk, role) aggregate also carries the min and max
    ``order`` key, and an ``assert_true`` on the ghost rows fails the
    job if a chunk's max exceeds the next chunk's min. Exact equality
    with the single-task path is pinned in tests.

    Output: ``by``, ``order_col``, ``role_col``, ``prev_`` distance
    columns — ``edit_dist`` (NULL for a role's first turn),
    ``edit_sim`` = ``1 - dist / max(len_a, len_b, 1)`` (6 dp).
    """
    cur = F.substring(F.coalesce(F.col(text_col), F.lit("")), 1, max_chars)
    if chunk_turns is None:
        ow = Window.partitionBy(by).orderBy(
            F.col(role_col), *[F.col(c) for c in order]
        )
        prev = F.when(
            F.lag(role_col).over(ow) == F.col(role_col),
            F.lag(cur).over(ow),
        )
        base = df.select(
            by,
            F.col(order_col),
            F.col(role_col),
            cur.alias("__cur"),
            prev.alias("__prev"),
        )
    else:
        ck = (
            F.col(order_col).cast("long") / F.lit(int(chunk_turns))
        ).cast("long")
        extra_order = [c for c in order if c != order_col]
        pre = df.select(
            by,
            F.col(order_col),
            F.col(role_col),
            cur.alias("__cur"),
            ck.alias("__ck"),
            *[F.col(c) for c in extra_order],
        )
        # carry as GHOST ROWS, not a join: per-(conv, chunk, role) last
        # texts collapse map-side to |groups| rows (the corpus never
        # shuffles for this aggregate — partials combine), a lag per
        # (conv, role) over chunk order yields each chunk's incoming
        # predecessor (skipping chunks where the role is absent), and
        # the result unions into the window input sorted BEFORE its
        # role block — so the existing in-chunk lag picks it up exactly
        # where the single-task window would have found the real
        # predecessor. Joining the carry back instead (the first
        # formulation) re-shuffled the WHOLE corpus on (conv, chunk,
        # role) through a SortMergeJoin; ghosts ride the one (conv,
        # chunk) exchange the window already pays.
        key = F.struct(*[F.col(c) for c in order])
        lasts = pre.groupBy(by, "__ck", role_col).agg(
            F.max_by("__cur", key).alias("__last"),
            F.min(key).alias("__kmin"),
            F.max(key).alias("__kmax"),
        )
        w_carry = Window.partitionBy(by, role_col).orderBy("__ck")
        # the carry's precondition, on |groups| rows: a role's turns in
        # chunk c all sort before its turns in the next chunk it has
        ordered = F.coalesce(
            F.lag("__kmax").over(w_carry) <= F.col("__kmin"), F.lit(True)
        )
        sentinels = [
            F.lit(None).cast(pre.schema[c].dataType).alias(c)
            for c in [order_col, *extra_order]
        ]
        ghosts = (
            lasts.select(
                by,
                "__ck",
                F.col(role_col),
                F.when(
                    F.assert_true(
                        ordered,
                        f"turn_edit_features: chunk_turns requires "
                        f"{order} order to agree with {order_col} chunk "
                        f"order within each conversation and role (a "
                        f"turn sorts before a same-role turn of an "
                        f"earlier chunk)",
                    ).isNull(),
                    F.lag("__last").over(w_carry),
                ).alias("__cur"),
            )
            .where(F.col("__cur").isNotNull())
            .select(
                F.col(by),
                *sentinels[:1],
                F.col(role_col),
                "__cur",
                "__ck",
                *sentinels[1:],
                F.lit(True).alias("__ghost"),
            )
        )
        both = pre.withColumn("__ghost", F.lit(False)).unionByName(ghosts)
        # __ghost DESC sorts each chunk's carried predecessor first
        # within its role block; real rows keep the single-task
        # (role, *order) relative order
        w_in = Window.partitionBy(by, "__ck").orderBy(
            F.col(role_col),
            F.col("__ghost").desc(),
            *[F.col(c) for c in order],
        )
        lag_role = F.lag(role_col).over(w_in)
        base = (
            both.select(
                by,
                F.col(order_col),
                F.col(role_col),
                "__cur",
                F.when(
                    lag_role == F.col(role_col), F.lag("__cur").over(w_in)
                ).alias("__prev"),
                "__ghost",
            )
            .where(~F.col("__ghost"))
            .drop("__ghost")
        )
    dist = F.levenshtein(F.col("__cur"), F.col("__prev"))
    denom = F.greatest(
        F.length("__cur"), F.length("__prev"), F.lit(1)
    ).cast("double")
    return base.select(
        by,
        order_col,
        role_col,
        dist.alias("edit_dist"),
        F.round(F.lit(1.0) - dist.cast("double") / denom, 6).alias(
            "edit_sim"
        ),
    )


def preference_pairs(
    df: DataFrame,
    *,
    by: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    prompt_role: str = "user",
    response_role: str = "assistant",
    min_candidates: int = 2,
    min_gap_ppm: int = 0,
) -> DataFrame:
    """Best-of-n preference-pair mining (DPO/RLHF-style): across the whole
    corpus, group every ``response_role`` turn by the text of its
    immediately-preceding ``prompt_role`` turn; for prompts with ≥
    ``min_candidates`` competing responses, emit (prompt, chosen,
    rejected) where chosen/rejected are the best/worst response under a
    deterministic, engine-portable score.

    The score is EXACT INTEGER arithmetic — distinct-token ratio in parts
    per million (``n_distinct_tokens * 1_000_000 DIV n_tokens``), with
    (n_tokens, response text, conv, turn) as total-order tie-breaks — so
    Spark's lexicographic ``max(struct(...))`` and a SQL engine's
    ``row_number() OVER (ORDER BY ... DESC)`` pick the IDENTICAL winner;
    no float comparison can flip the argmax between engines. The scorer
    is a placeholder policy (swap in a reward-model score column at
    production); the mining mechanics are the operator.

    Plan shape: one lag window per conversation (prompt attach), then ONE
    hash aggregate keyed on ``md5(prompt)`` — the 32-byte digest is the
    shuffle key, never the raw prompt text (prompts can be KBs; at 100 TB
    the narrow key is the difference between shuffling digests and
    shuffling the corpus). min/max(struct) aggregate with map-side
    partials — no second window, no self-join, no Python.

    Output: ``prompt, n_candidates, chosen, rejected, chosen_ppm,
    rejected_ppm``, one row per surviving prompt group.
    """
    w = Window.partitionBy(by).orderBy(order_col)
    prev_role = F.lag(F.col(role_col)).over(w)
    prev_text = F.lag(F.col(text_col)).over(w)
    resp = (
        df.select(
            F.col(by),
            F.col(order_col),
            F.col(role_col),
            F.coalesce(F.col(text_col), F.lit("")).alias("__resp"),
            prev_role.alias("__prole"),
            F.coalesce(prev_text, F.lit("")).alias("__prompt"),
        )
        .where(
            (F.col(role_col) == response_role)
            & (F.col("__prole") == prompt_role)
            & (F.length("__prompt") > 0)
        )
    )
    toks = F.filter(F.split(F.trim(F.col("__resp")), r"\s+"), lambda x: x != "")
    scored = resp.select(
        F.md5(F.col("__prompt")).alias("__ph"),
        F.col("__prompt"),
        F.col("__resp"),
        F.size(F.array_distinct(toks)).cast("long").alias("__nd"),
        F.size(toks).cast("long").alias("__nt"),
        F.col(by),
        F.col(order_col),
    ).where(F.col("__nt") > 0)
    scored = scored.withColumn(
        "__ppm", F.expr("__nd * 1000000L DIV __nt")
    )
    rank_key = F.struct(
        F.col("__ppm").alias("ppm"),
        F.col("__nt").alias("nt"),
        F.col("__resp").alias("resp"),
        F.col(by).alias("c"),
        F.col(order_col).alias("o"),
    )
    agg = scored.groupBy("__ph").agg(
        F.min("__prompt").alias("prompt"),
        F.count(F.lit(1)).alias("n_candidates"),
        F.max(rank_key).alias("__best"),
        F.min(rank_key).alias("__worst"),
    )
    return (
        agg.where(
            (F.col("n_candidates") >= min_candidates)
            & (F.col("__best.resp") != F.col("__worst.resp"))
            & (
                F.col("__best.ppm") - F.col("__worst.ppm")
                >= F.lit(int(min_gap_ppm))
            )
        )
        .select(
            "prompt",
            "n_candidates",
            F.col("__best.resp").alias("chosen"),
            F.col("__worst.resp").alias("rejected"),
            F.col("__best.ppm").alias("chosen_ppm"),
            F.col("__worst.ppm").alias("rejected_ppm"),
        )
    )


def response_latency_features(
    df: DataFrame,
    *,
    by: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
    prompt_role: str = "user",
    response_role: str = "assistant",
) -> DataFrame:
    """Per-conversation response-latency profile: for every
    ``prompt_role`` turn whose NEXT turn is ``response_role``, the
    latency is the event-time gap between the two turns; aggregate to
    one row per conversation (exchange count + min/mean/max latency).

    The agent-analytics signal document-level features can't see — a
    conversation whose assistant latencies blow up mid-session reads
    very differently from one with uniform response times — and a
    natural screening feature alongside `window_features`' lag/lead set.

    One lead window + one hash aggregate, both keyed on ``by`` (the
    window's sort carries ``order_col``) — a single conv-keyed exchange
    end-to-end, no Python. Event-time arithmetic is exact integer
    MICROSECONDS (``unix_micros`` / DuckDB ``epoch_us``; second-level
    truncation would silently zero sub-second agent latencies), so the
    aggregate is exact until the final mean.

    Output: ``by, n_exchanges, min_latency_us, mean_latency_us,
    max_latency_us``.
    """
    w = Window.partitionBy(by).orderBy(order_col)
    nxt_role = F.lead(F.col(role_col)).over(w)
    nxt_ts = F.lead(F.col(ts_col)).over(w)
    # parquet transcripts carry TIMESTAMP_NTZ; unix_micros requires LTZ.
    # The cast interprets NTZ in the session zone, which cancels in the
    # difference (both endpoints shift by the same offset)
    lat = F.unix_micros(nxt_ts.cast("timestamp_ltz")) - F.unix_micros(
        F.col(ts_col).cast("timestamp_ltz")
    )
    pairs = df.select(
        F.col(by),
        F.col(role_col),
        nxt_role.alias("__nrole"),
        lat.alias("__lat"),
    ).where(
        (F.col(role_col) == prompt_role)
        & (F.col("__nrole") == response_role)
    )
    return pairs.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_exchanges"),
        F.min("__lat").alias("min_latency_us"),
        F.round(F.avg("__lat"), 6).alias("mean_latency_us"),
        F.max("__lat").alias("max_latency_us"),
    )


def tool_usage_features(
    df: DataFrame,
    *,
    conv_col: str = "conv_id",
    tool_col: str = "tool",
) -> DataFrame:
    """Per-conversation agent tool-usage profile: turn count, tool-call
    count and ratio, distinct tools, and the modal tool (deterministic
    tie-break: higher count, then lexicographically-smaller name).

    The agent-analytics companion to :func:`role_transition_stats` —
    screening features for "how tool-heavy is this session" that the
    reference's per-sample feature rows can't derive from text alone
    (reference scope: feature columns fed to
    `/root/reference/src/FeatureScreening.jl:88-104`).

    Plan shape at scale: two hash aggregates, both keyed on
    ``conv_col`` (partial aggregation map-side, so the shuffle carries
    pre-combined counters, not turns); the modal-tool window runs over
    the per-(conv, tool) aggregate — bounded by |tools| rows per
    conversation — and the final join is between two conv-keyed
    aggregates AQE can co-partition. NULL ``tool_col`` marks a
    non-tool turn (the transcripts contract); ``count(tool)`` skips
    NULLs by SQL semantics, which is exactly the tool-call count.

    Output: ``conv_col, n_turns, n_tool_calls, n_distinct_tools,
    tool_call_ratio, top_tool, top_tool_calls`` (``top_*`` NULL for
    conversations with no tool calls).
    """
    base = df.groupBy(conv_col).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.count(tool_col).alias("n_tool_calls"),
        F.countDistinct(tool_col).alias("n_distinct_tools"),
        F.round(F.count(tool_col) / F.count(F.lit(1)), 6).alias(
            "tool_call_ratio"
        ),
    )
    per_tool = (
        df.where(F.col(tool_col).isNotNull())
        .groupBy(conv_col, tool_col)
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    w = Window.partitionBy(conv_col).orderBy(
        F.col("__n").desc(), F.col(tool_col).asc()
    )
    top = (
        per_tool.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") == 1)
        .select(
            F.col(conv_col),
            F.col(tool_col).alias("top_tool"),
            F.col("__n").alias("top_tool_calls"),
        )
    )
    return base.join(top, conv_col, "left")


def context_budget_features(
    df: DataFrame,
    budget_tokens: int,
    *,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    chunk_turns: int | None = None,
) -> DataFrame:
    """Per-turn context-window occupancy: for every turn, how many
    trailing turns (including itself) fit inside a ``budget_tokens``
    context window ending at that turn, and how many tokens that
    maximal window holds. This is the primitive behind context-assembly
    decisions in SFT-pair mining and packing — "at this point in the
    conversation, how much usable history is there?".

    Exact, and computed WITHOUT a self-join or per-group Python: each
    turn costs ``max(token_count, 1)`` tokens (every turn carries at
    least its role overhead, and the floor makes the running sum
    STRICTLY increasing, which both defines tie-free RANGE frames and
    bounds the frame correctly). Over the running sum ``cum``, the
    turns j..i fit in the budget iff ``cum[i] - cum[j-1] <= B``, so the
    fitting start positions map to rows of the numeric RANGE frame
    ``[cum[i]-B, cum[i]]`` — shifted by one: the current row stands for
    the empty window (subtract it) and the virtual ``cum = 0`` row
    standing for the whole-prefix window lies outside the table (add it
    back exactly when ``cum[i] <= B``). The maximal window's token
    total is ``cum[i] - min(cum over frame)``, floored to the full
    ``cum[i]`` under the same whole-prefix condition.

    Plan shape at scale: two window passes, both partitioned by
    ``conv_col`` — ONE exchange; the second window's sort key (the
    running sum) is monotone in the first's (``order_col``), so the
    in-partition re-sort is a no-op pass over already-ordered runs.
    Zero joins, zero Python, rows never widen beyond 4 numeric columns.

    Mega-conversation escape hatch: one conversation = one task by
    construction, which is correct and streaming (measured 4.7 s for a
    10^6-turn conversation at local[8]; the window specs are all
    running/bounded so memory stays O(budget)) but serializes on one
    core as the conversation grows. ``chunk_turns`` (the conv-keyed
    twin of the as-of join's salted-bucket path) splits each
    conversation into ``turn_idx``-range chunks processed in PARALLEL
    tasks, exactly reproducing the single-task result: the running sum
    goes two-phase (per-chunk partials + an exclusive prefix over the
    tiny per-chunk table), and the budget window is covered by GHOST
    rows — every turn costs ≥ 1 token, so the ``[cum−B, cum]`` RANGE
    frame spans at most ``budget_tokens`` rows back, and duplicating
    the last ``budget_tokens`` rows of the previous chunk into each
    chunk makes every frame complete (ghosts are dropped from the
    output). Requires ``chunk_turns >= budget_tokens`` (so one
    previous chunk always covers the lookback) and DENSE 0-based
    ``order_col`` numbering per conversation (the transcripts
    ``turn_idx`` contract) — sparse numbering would thin the ghost
    overlap below the frame span.

    Output: ``conv_col, order_col, turn_tokens, cum_tokens, ctx_turns,
    ctx_tokens``.
    """
    tok = F.greatest(token_count(F.col(text_col)), F.lit(1))
    whole_prefix = (F.col("cum_tokens") <= F.lit(int(budget_tokens)))

    def budget_cols(w_budget):
        return [
            (
                F.count(F.lit(1)).over(w_budget)
                - 1
                + whole_prefix.cast("long")
            )
            .cast("int")
            .alias("ctx_turns"),
            (
                F.col("cum_tokens")
                - F.when(whole_prefix, F.lit(0)).otherwise(
                    F.min("cum_tokens").over(w_budget)
                )
            ).alias("ctx_tokens"),
        ]

    if chunk_turns is None:
        wcum = (
            Window.partitionBy(conv_col)
            .orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = df.select(
            F.col(conv_col),
            F.col(order_col),
            tok.cast("long").alias("turn_tokens"),
        ).withColumn("cum_tokens", F.sum("turn_tokens").over(wcum))
        wb = (
            Window.partitionBy(conv_col)
            .orderBy("cum_tokens")
            .rangeBetween(-int(budget_tokens), 0)
        )
        return cum.select(
            conv_col, order_col, "turn_tokens", "cum_tokens",
            *budget_cols(wb),
        )

    work = df.select(
        F.col(conv_col),
        F.col(order_col),
        tok.cast("long").alias("turn_tokens"),
    )
    both = _chunked_prefix_with_ghosts(
        work,
        by=conv_col,
        order_col=order_col,
        value_col="turn_tokens",
        chunk_turns=chunk_turns,
        overlap_rows=budget_tokens,
        what="context_budget_features",
    ).withColumnRenamed("__cum", "cum_tokens")
    wb = (
        Window.partitionBy(conv_col, "__ck")
        .orderBy("cum_tokens")
        .rangeBetween(-int(budget_tokens), 0)
    )
    return (
        both.select(
            conv_col, order_col, "turn_tokens", "cum_tokens", "__ghost",
            *budget_cols(wb),
        )
        .where(~F.col("__ghost"))
        .drop("__ghost")
    )


def semantic_segments(
    df: DataFrame,
    *,
    by: str = "conv_id",
    order_col: str = "turn_idx",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    round_sim: int = 6,
) -> DataFrame:
    """Topic segmentation of conversations by embedding drift: a turn
    OPENS a new segment when its cosine similarity to the PREVIOUS turn
    falls below ``threshold`` (TextTiling's boundary rule on modern
    embeddings). Emits per-turn segment ids plus the boundary evidence,
    ready for segment-level aggregation, per-topic sampling, or
    segment-grain dedup downstream.

    Plan shape at scale: one lag window + one running-sum window, BOTH
    keyed on ``by`` with the same sort — a single conv-keyed exchange
    end-to-end (gaps-and-islands over the boundary flag, the
    sessionize/loop-detection pattern). The cosine is a codegen'd HOF
    fold over the two adjacent vectors; vectors never leave their row
    (no join, no explode — row width is 2×dim doubles during the lag,
    dropped immediately after).

    ``sim_prev`` is rounded to ``round_sim`` dp so the boundary decision
    and the emitted evidence are reproducible cross-engine (a boundary
    sitting exactly AT the threshold compares on the rounded value).
    First turns have NULL ``sim_prev`` and always open segment 0.

    Output: ``by, order_col, sim_prev, is_boundary, segment_idx``.
    """
    from featurescreening_jl_spark.functions.vector import cosine

    w = Window.partitionBy(by).orderBy(order_col)
    prev = F.lag(F.col(vec_col)).over(w)
    sim = F.round(
        cosine(F.col(vec_col).cast("array<double>"),
               prev.cast("array<double>")),
        round_sim,
    )
    flagged = df.select(
        F.col(by),
        F.col(order_col),
        sim.alias("sim_prev"),
    ).withColumn(
        "is_boundary",
        F.col("sim_prev").isNotNull()
        & (F.col("sim_prev") < F.lit(float(threshold))),
    )
    seg = F.sum(F.col("is_boundary").cast("long")).over(
        Window.partitionBy(by)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return flagged.withColumn("segment_idx", seg.cast("int"))

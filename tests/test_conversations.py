"""Conversation-level gates (truncation, validity) and JSON extraction."""

import datetime as dt

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from featurescreening_jl_spark.operators.conversations import (
    conversation_validity,
    truncate_to_token_budget,
)
from featurescreening_jl_spark.operators.semistructured import (
    json_field,
    parse_json_fields,
)


def _ts(i):
    return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i)


def _conv(spark, rows):
    return spark.createDataFrame(
        [(c, i, r, t, None, _ts(i)) for (c, i, r, t) in rows],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


class TestTruncateToTokenBudget:
    def test_prefix_cut_at_budget(self, spark):
        df = _conv(
            spark,
            [
                ("a", 0, "user", "one two three"),        # cum 3
                ("a", 1, "assistant", "four five"),       # cum 5
                ("a", 2, "user", "six seven eight nine"), # cum 9 > 8 → drop
                ("a", 3, "assistant", "ten"),             # after cut → drop
                ("b", 0, "user", "solo"),                 # cum 1
            ],
        )
        out = truncate_to_token_budget(df, budget_tokens=8)
        kept = sorted(
            (r["conv_id"], r["turn_idx"], r["cum_tokens"]) for r in out.collect()
        )
        # turn a/3 is small enough on its own but sits AFTER the overflow
        # turn — a prefix cut must drop it too
        assert kept == [("a", 0, 3), ("a", 1, 5), ("b", 0, 1)]

    def test_exact_boundary_inclusive(self, spark):
        df = _conv(spark, [("a", 0, "user", "one two"), ("a", 1, "assistant", "x")])
        assert truncate_to_token_budget(df, budget_tokens=3).count() == 2
        assert truncate_to_token_budget(df, budget_tokens=2).count() == 1

    def test_empty_turns_cost_zero(self, spark):
        df = _conv(spark, [("a", 0, "user", "   "), ("a", 1, "assistant", "hi")])
        out = truncate_to_token_budget(df, budget_tokens=1)
        assert out.count() == 2

    def test_negative_budget_raises(self, spark):
        df = _conv(spark, [("a", 0, "user", "x")])
        with pytest.raises(ValueError):
            truncate_to_token_budget(df, budget_tokens=-1)


class TestConversationValidity:
    def test_verdicts(self, spark):
        df = _conv(
            spark,
            [
                # valid: user opener, perfect alternation, no empties
                ("good", 0, "user", "q"),
                ("good", 1, "assistant", "a"),
                ("good", 2, "user", "q2"),
                # wrong opener
                ("opener", 0, "assistant", "hi"),
                ("opener", 1, "user", "??"),
                # empty turn
                ("empty", 0, "user", "q"),
                ("empty", 1, "assistant", "  "),
                # stuck speaker: 2 repeats in 3 pairs → rate 1/3 < 0.5
                ("stuck", 0, "user", "a"),
                ("stuck", 1, "assistant", "b"),
                ("stuck", 2, "assistant", "c"),
                ("stuck", 3, "assistant", "d"),
                # single turn: no pairs, rate NULL, still valid
                ("solo", 0, "user", "hello"),
            ],
        )
        rows = {
            r["conv_id"]: r
            for r in conversation_validity(df, min_alternation=0.5).collect()
        }
        assert rows["good"]["is_valid"] and rows["good"]["alternation_rate"] == 1.0
        assert not rows["opener"]["is_valid"]
        assert rows["opener"]["starts_with_opener"] is False
        assert not rows["empty"]["is_valid"] and rows["empty"]["n_empty_turns"] == 1
        assert not rows["stuck"]["is_valid"]
        assert rows["stuck"]["n_role_repeats"] == 2
        assert abs(rows["stuck"]["alternation_rate"] - 0.3333) < 1e-9
        assert rows["solo"]["is_valid"]
        assert rows["solo"]["alternation_rate"] is None

    def test_opener_judged_by_order_not_turn_idx_value(self, spark):
        # order is (ts, turn_idx); a conversation whose first row by ts has
        # role 'user' is opener-ok even if its turn_idx numbering is odd
        df = spark.createDataFrame(
            [
                ("a", 7, "user", "first by ts", None, _ts(0)),
                ("a", 8, "assistant", "second", None, _ts(1)),
            ],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        row = conversation_validity(df).collect()[0]
        assert row["starts_with_opener"] and row["is_valid"]


class TestQualityScore:
    def test_bounded_and_favors_stopword_prose(self, spark):
        from featurescreening_jl_spark.operators.text_analysis import quality_score

        df = spark.createDataFrame(
            [
                (0, "the cat is on the mat and it is a good cat"),
                (1, "@@@@ #### !!!! $$$$ %%%% ^^^^ &&&& ****"),
                (2, ""),
            ],
            ["doc_id", "text"],
        )
        rows = {
            r["doc_id"]: r["s"]
            for r in df.select(
                "doc_id", quality_score(F.col("text")).alias("s")
            ).collect()
        }
        assert all(0.0 < s < 1.0 for s in rows.values())
        assert rows[0] > rows[1]  # prose beats punctuation soup


class TestParseJsonFields:
    def test_typed_extraction_and_null_paths(self, spark):
        df = spark.createDataFrame(
            [
                (0, '{"k": 7, "tag": "x"}'),
                (1, '{"tag": "y"}'),       # missing key → NULL
                (2, "not json"),            # malformed → NULL fields
                (3, None),                  # NULL document
            ],
            ["i", "props"],
        )
        out = parse_json_fields(df, "props", {"k": "bigint", "tag": "string"})
        assert out.columns == ["i", "k", "tag"]
        rows = {r["i"]: (r["k"], r["tag"]) for r in out.collect()}
        assert rows[0] == (7, "x")
        assert rows[1] == (None, "y")
        assert rows[2] == (None, None)
        assert rows[3] == (None, None)

    def test_single_parse_in_plan(self, spark):
        # the whole point vs get_json_object: N fields, ONE from_json
        df = spark.createDataFrame([(0, '{"a":1,"b":2}')], ["i", "props"])
        out = parse_json_fields(df, "props", {"a": "int", "b": "int"})
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("from_json") == 1

    def test_keep_raw_and_empty_fields(self, spark):
        df = spark.createDataFrame([(0, '{"a":1}')], ["i", "props"])
        out = parse_json_fields(df, "props", {"a": "int"}, keep_raw=True)
        assert out.columns == ["i", "props", "a"]
        with pytest.raises(ValueError):
            parse_json_fields(df, "props", {})

    def test_json_field_escape_hatch(self, spark):
        df = spark.createDataFrame([(0, '{"k": 42}')], ["i", "props"])
        v = df.select(json_field(F.col("props"), "$.k", "bigint").alias("k"))
        assert v.collect()[0]["k"] == 42


def test_sft_pairs_char_budget_keeps_recent_suffix(spark):
    from pyspark.sql import functions as F

    from featurescreening_jl_spark.operators.conversations import sft_pairs

    # contributions: len(role)+len(text)+5
    rows = [
        ("c", 0, "user", "aaaaaaaaaa"),       # 10 chars -> contrib 19
        ("c", 1, "assistant", "bb"),          # contrib 16
        ("c", 2, "user", "cccc"),             # contrib 13
        ("c", 3, "assistant", "dddd"),        # anchor
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")
    # budget 30: before anchor 3, suffix sums are turn2=13, +turn1=29,
    # +turn0=48 -> keep turns 1 and 2 only (most-recent-first greedy)
    out = {
        r["turn_idx"]: r
        for r in sft_pairs(df, max_context_turns=8, max_context_chars=30).collect()
    }
    assert out[3]["context"] == "<|assistant|>bb\n<|user|>cccc"
    assert out[3]["n_context_turns"] == 2
    assert out[3]["target"] == "dddd"
    # anchor 1 has turn 0 in range (19 <= 30) -> kept
    assert out[1]["context"] == "<|user|>aaaaaaaaaa"
    # max_context_turns caps the window: with cap=1 only turn 2 is visible
    out1 = {
        r["turn_idx"]: r
        for r in sft_pairs(df, max_context_turns=1, max_context_chars=10**6).collect()
    }
    assert out1[3]["context"] == "<|user|>cccc"
    assert out1[3]["n_context_turns"] == 1


def test_sft_pairs_drops_contextless_anchor(spark):
    from featurescreening_jl_spark.operators.conversations import sft_pairs

    rows = [("c", 0, "assistant", "opener"), ("c", 1, "user", "q")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")
    got = sft_pairs(df).collect()
    assert got == []  # the only assistant turn has no prior context


def test_role_transition_counts_and_probs(spark):
    from featurescreening_jl_spark.operators.conversations import (
        role_transition_stats,
    )

    rows = [
        # conv A: user -> assistant -> user -> assistant
        ("A", 0, "user"), ("A", 1, "assistant"),
        ("A", 2, "user"), ("A", 3, "assistant"),
        # conv B: user -> assistant -> tool
        ("B", 0, "user"), ("B", 1, "assistant"), ("B", 2, "tool"),
    ]
    df = spark.createDataFrame(
        [(c, i, r, float(i)) for c, i, r in rows],
        "conv_id string, turn_idx int, role string, ts double",
    )
    out = {
        (r["role_from"], r["role_to"]): (
            r["n_transitions"], r["p_transition"]
        )
        for r in role_transition_stats(
            df, order_cols=("ts", "turn_idx")
        ).collect()
    }
    assert out[("user", "assistant")] == (3, 1.0)
    assert out[("assistant", "user")] == (1, 0.5)
    assert out[("assistant", "tool")] == (1, 0.5)
    # final turns have no transition; no cross-conversation bigrams
    assert len(out) == 3


def test_role_transition_single_window_shuffle(spark):
    from featurescreening_jl_spark.operators.conversations import (
        role_transition_stats,
    )

    df = spark.createDataFrame(
        [("A", 0, "user", 0.0), ("A", 1, "assistant", 1.0)],
        "conv_id string, turn_idx int, role string, ts double",
    )
    plan = role_transition_stats(df)._jdf.queryExecution().optimizedPlan().toString()
    # exactly one per-conversation window (the lead) — the normalizing
    # window runs over the tiny post-aggregate relation
    assert plan.count("Window") == 2


class TestDetectDegenerateLoops:
    def test_finds_verbatim_stuck_run(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            detect_degenerate_loops,
        )

        df = _conv(
            spark,
            [
                ("a", 0, "user", "hi"),
                ("a", 1, "assistant", "Sorry, I can't."),
                ("a", 2, "assistant", "sorry, i can't. "),  # normalized ==
                ("a", 3, "assistant", "Sorry, I can't."),
                ("a", 4, "user", "ok"),
                ("b", 0, "user", "x"),
                ("b", 1, "assistant", "y"),
            ],
        )
        out = {
            r["conv_id"]: r
            for r in detect_degenerate_loops(df, min_run=3).collect()
        }
        a, b = out["a"], out["b"]
        assert (a["n_turns"], a["max_run_len"], a["n_looped_turns"]) == (5, 3, 3)
        assert a["loop_share"] == pytest.approx(0.6)
        assert a["is_looping"] is True
        assert (b["max_run_len"], b["is_looping"]) == (1, False)

    def test_normalize_false_distinguishes_case(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            detect_degenerate_loops,
        )

        df = _conv(
            spark,
            [
                ("a", 0, "assistant", "Same"),
                ("a", 1, "assistant", "same"),
                ("a", 2, "assistant", "Same"),
            ],
        )
        strict = detect_degenerate_loops(
            df, min_run=2, normalize=False
        ).collect()[0]
        loose = detect_degenerate_loops(
            df, min_run=2, normalize=True
        ).collect()[0]
        assert strict["max_run_len"] == 1 and strict["is_looping"] is False
        assert loose["max_run_len"] == 3 and loose["is_looping"] is True

    def test_role_change_breaks_run(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            detect_degenerate_loops,
        )

        # identical text but alternating roles — never a run
        df = _conv(
            spark,
            [("a", i, "user" if i % 2 == 0 else "tool", "ping") for i in range(6)],
        )
        out = detect_degenerate_loops(df, min_run=2).collect()[0]
        assert out["max_run_len"] == 1 and out["n_looped_turns"] == 0

    def test_min_run_validation(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            detect_degenerate_loops,
        )

        with pytest.raises(ValueError):
            detect_degenerate_loops(_conv(spark, [("a", 0, "user", "x")]), min_run=1)


class TestMergeConsecutiveTurns:
    def test_merges_fragments_in_turn_order(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            merge_consecutive_turns,
        )

        df = _conv(
            spark,
            [
                ("a", 0, "user", "part one"),
                ("a", 1, "user", "part two"),
                ("a", 2, "assistant", "answer"),
                ("a", 3, "user", "followup"),
            ],
        )
        out = (
            merge_consecutive_turns(df, sep=" ")
            .orderBy("turn_idx")
            .collect()
        )
        assert [(r["turn_idx"], r["role"], r["text"], r["n_merged"]) for r in out] == [
            (0, "user", "part one part two", 2),
            (1, "assistant", "answer", 1),
            (2, "user", "followup", 1),
        ]
        # run-first timestamp survives
        assert out[0]["ts"] == _ts(0)

    def test_same_role_nonadjacent_not_merged(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            merge_consecutive_turns,
        )

        df = _conv(
            spark,
            [
                ("a", 0, "user", "q1"),
                ("a", 1, "assistant", "a1"),
                ("a", 2, "user", "q2"),
            ],
        )
        assert merge_consecutive_turns(df).count() == 3

    def test_single_shuffle_plan(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            merge_consecutive_turns,
        )

        df = _conv(spark, [("a", 0, "user", "x"), ("a", 1, "user", "y")])
        plan = (
            merge_consecutive_turns(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # lag window, run aggregate, and re-index window all ride ONE
        # conv-keyed exchange (hash clustering on a superset of conv_id)
        assert plan.count("Exchange hashpartitioning") == 1


class TestTurnEditFeatures:
    def test_distance_against_previous_same_role_turn(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            turn_edit_features,
        )

        df = _conv(
            spark,
            [
                ("a", 0, "user", "hello there"),
                ("a", 1, "assistant", "kitten"),
                ("a", 2, "user", "hello their"),   # vs turn 0: dist 2
                ("a", 3, "assistant", "sitting"),  # vs turn 1: dist 3
            ],
        )
        out = {
            r["turn_idx"]: r for r in turn_edit_features(df).collect()
        }
        assert out[0]["edit_dist"] is None and out[1]["edit_dist"] is None
        assert out[2]["edit_dist"] == 2
        assert out[3]["edit_dist"] == 3
        assert out[3]["edit_sim"] == pytest.approx(1 - 3 / 7, abs=1e-6)

    def test_max_chars_caps_distance(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            turn_edit_features,
        )

        df = _conv(
            spark,
            [
                ("a", 0, "user", "aaaa" + "x" * 100),
                ("a", 1, "user", "aaaa" + "y" * 100),
            ],
        )
        out = {
            r["turn_idx"]: r
            for r in turn_edit_features(df, max_chars=4).collect()
        }
        # both cap to "aaaa" — identical under the cap
        assert out[1]["edit_dist"] == 0 and out[1]["edit_sim"] == 1.0

    def test_no_extra_shuffle_key(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            turn_edit_features,
        )

        df = _conv(spark, [("a", 0, "user", "x"), ("a", 1, "tool", "y")])
        plan = (
            turn_edit_features(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the same-role lag partitions by conv_id ONLY (role rides the
        # sort key) — no (conv, role) exchange
        assert plan.count("Exchange hashpartitioning") == 1
        assert "hashpartitioning(conv_id" in plan


class TestPreferencePairs:
    """Best-of-n preference mining (conversations.preference_pairs)."""

    def _t(self, spark, rows):
        return spark.createDataFrame(
            rows, ["conv_id", "turn_idx", "role", "text"]
        )

    def test_picks_best_and_worst_by_distinct_ppm(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            preference_pairs,
        )

        # three conversations answering the SAME prompt; distinct-token
        # ratios: c1 = 4/4 (best), c2 = 2/4, c3 = 3/4
        rows = [
            ("c1", 0, "user", "what is spark"),
            ("c1", 1, "assistant", "a fast cluster compute engine"),
            ("c2", 0, "user", "what is spark"),
            ("c2", 1, "assistant", "spark spark is is"),
            ("c3", 0, "user", "what is spark"),
            ("c3", 1, "assistant", "it is is distributed"),
        ]
        out = preference_pairs(self._t(spark, rows)).collect()
        assert len(out) == 1
        r = out[0]
        assert r["prompt"] == "what is spark"
        assert r["n_candidates"] == 3
        assert r["chosen"] == "a fast cluster compute engine"
        assert r["rejected"] == "spark spark is is"
        assert r["chosen_ppm"] == 1_000_000
        assert r["rejected_ppm"] == 500_000

    def test_group_needs_min_candidates_and_distinct_responses(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            preference_pairs,
        )

        rows = [
            # lone response -> no pair
            ("c1", 0, "user", "solo prompt"),
            ("c1", 1, "assistant", "only answer"),
            # two identical responses -> chosen == rejected -> dropped
            ("c2", 0, "user", "dup prompt"),
            ("c2", 1, "assistant", "same answer"),
            ("c3", 0, "user", "dup prompt"),
            ("c3", 1, "assistant", "same answer"),
        ]
        assert preference_pairs(self._t(spark, rows)).count() == 0

    def test_only_prompt_role_to_response_role_adjacency(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            preference_pairs,
        )

        # assistant follows TOOL here, not user -> not a candidate
        rows = [
            ("c1", 0, "user", "q"),
            ("c1", 1, "tool", "result blob"),
            ("c1", 2, "assistant", "answer one two"),
            ("c2", 0, "user", "q"),
            ("c2", 1, "tool", "result blob"),
            ("c2", 2, "assistant", "answer three four"),
        ]
        assert preference_pairs(self._t(spark, rows)).count() == 0

    def test_min_gap_ppm_filter(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            preference_pairs,
        )

        # ratios 3/4 vs 4/4 -> gap 250_000 ppm
        rows = [
            ("c1", 0, "user", "p"),
            ("c1", 1, "assistant", "w x y z"),
            ("c2", 0, "user", "p"),
            ("c2", 1, "assistant", "a a b c"),
        ]
        t = self._t(spark, rows)
        assert preference_pairs(t, min_gap_ppm=250_000).count() == 1
        assert preference_pairs(t, min_gap_ppm=250_001).count() == 0

    def test_shuffle_key_is_digest_not_prompt(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            preference_pairs,
        )

        rows = [
            ("c1", 0, "user", "p"),
            ("c1", 1, "assistant", "a b"),
            ("c2", 0, "user", "p"),
            ("c2", 1, "assistant", "c d"),
        ]
        plan = (
            preference_pairs(self._t(spark, rows))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the aggregate exchange hashes the md5 digest column, never the
        # raw prompt text
        assert "hashpartitioning(__ph" in plan


class TestResponseLatency:
    """Per-conversation response-latency profile
    (conversations.response_latency_features)."""

    def test_latency_math_and_pair_selection(self, spark):
        import datetime as dt

        from featurescreening_jl_spark.operators.conversations import (
            response_latency_features,
        )

        t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

        def ts(us):
            return t0 + dt.timedelta(microseconds=us)

        rows = [
            # c1: two user->assistant exchanges (1.5 s then 250 ms) and
            # one user->tool adjacency that must NOT count
            ("c1", 0, "user", ts(0)),
            ("c1", 1, "assistant", ts(1_500_000)),
            ("c1", 2, "user", ts(2_000_000)),
            ("c1", 3, "assistant", ts(2_250_000)),
            ("c1", 4, "user", ts(3_000_000)),
            ("c1", 5, "tool", ts(9_000_000)),
            # c2: no qualifying adjacency at all
            ("c2", 0, "assistant", ts(0)),
            ("c2", 1, "user", ts(1)),
        ]
        df = spark.createDataFrame(
            rows, ["conv_id", "turn_idx", "role", "ts"]
        )
        out = {
            r["conv_id"]: r
            for r in response_latency_features(df).collect()
        }
        assert set(out) == {"c1"}
        r = out["c1"]
        assert r["n_exchanges"] == 2
        assert r["min_latency_us"] == 250_000
        assert r["max_latency_us"] == 1_500_000
        assert r["mean_latency_us"] == 875_000.0

    def test_single_conv_exchange(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            response_latency_features,
        )

        plan = (
            response_latency_features(
                spark.createDataFrame(
                    [("c", 0, "user", None)],
                    "conv_id string, turn_idx int, role string, ts timestamp",
                )
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # window + aggregate both key on conv_id: one exchange only
        assert plan.count("Exchange hashpartitioning") == 1


class TestToolUsage:
    """Per-conversation tool-usage profile
    (conversations.tool_usage_features)."""

    def test_counts_ratio_and_modal_tool(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            tool_usage_features,
        )

        rows = [
            # c1: 4 turns, 2 tool calls (bash, bash) -> top bash
            ("c1", "user", None),
            ("c1", "tool", "bash"),
            ("c1", "tool", "bash"),
            ("c1", "assistant", None),
            # c2: tie between bash and sql (1 each) -> lexicographic bash
            ("c2", "tool", "sql"),
            ("c2", "tool", "bash"),
            # c3: no tool calls at all -> NULL top_tool
            ("c3", "user", None),
        ]
        df = spark.createDataFrame(rows, ["conv_id", "role", "tool"])
        out = {r["conv_id"]: r for r in tool_usage_features(df).collect()}
        assert out["c1"]["n_turns"] == 4
        assert out["c1"]["n_tool_calls"] == 2
        assert out["c1"]["n_distinct_tools"] == 1
        assert out["c1"]["tool_call_ratio"] == 0.5
        assert out["c1"]["top_tool"] == "bash"
        assert out["c1"]["top_tool_calls"] == 2
        # deterministic tie-break: equal counts -> smaller name wins
        assert out["c2"]["top_tool"] == "bash"
        assert out["c3"]["n_tool_calls"] == 0
        assert out["c3"]["top_tool"] is None
        assert out["c3"]["tool_call_ratio"] == 0.0


class TestContextBudget:
    """Per-turn context-window occupancy
    (conversations.context_budget_features)."""

    def test_window_arithmetic(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            context_budget_features,
        )

        # token counts per turn: 3, 4, 5, 12, 1  (budget 9)
        rows = [
            ("c", 0, "a b c"),
            ("c", 1, "a b c d"),
            ("c", 2, "a b c d e"),
            ("c", 3, " ".join(["x"] * 12)),
            ("c", 4, "y"),
            # empty text floors to 1 token
            ("d", 0, "   "),
        ]
        df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
        out = {
            (r["conv_id"], r["turn_idx"]): r
            for r in context_budget_features(df, 9).collect()
        }
        # turn 0: itself (3 <= 9)
        assert out[("c", 0)]["ctx_turns"] == 1
        assert out[("c", 0)]["ctx_tokens"] == 3
        # turn 1: 3+4=7 <= 9 -> both fit
        assert out[("c", 1)]["ctx_turns"] == 2
        assert out[("c", 1)]["ctx_tokens"] == 7
        # turn 2: 4+5=9 fits, 3+4+5=12 doesn't
        assert out[("c", 2)]["ctx_turns"] == 2
        assert out[("c", 2)]["ctx_tokens"] == 9
        # turn 3: 12 > 9 -> not even the current turn fits
        assert out[("c", 3)]["ctx_turns"] == 0
        assert out[("c", 3)]["ctx_tokens"] == 0
        # turn 4: 1 <= 9 but 12+1 > 9 -> only itself
        assert out[("c", 4)]["ctx_turns"] == 1
        assert out[("c", 4)]["ctx_tokens"] == 1
        # blank turn costs the 1-token floor
        assert out[("d", 0)]["turn_tokens"] == 1
        assert out[("d", 0)]["ctx_turns"] == 1

    def test_single_exchange_plan(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            context_budget_features,
        )

        plan = (
            context_budget_features(
                spark.createDataFrame(
                    [("c", 0, "x")],
                    "conv_id string, turn_idx int, text string",
                ),
                100,
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # both windows key on conv_id: exactly one shuffle end-to-end
        assert plan.count("Exchange hashpartitioning") == 1


class TestContextBudgetChunked:
    """The mega-conversation escape hatch: chunk_turns must reproduce
    the single-task result EXACTLY (two-phase running sum + ghost-row
    frame coverage)."""

    def _varied(self, spark, n=400, convs=3):
        # varied token counts (1..13 words) so frames span uneven row
        # counts; multiple convs so chunk/offset logic is per-conv
        from pyspark.sql import functions as F

        return spark.range(n * convs).select(
            F.concat(F.lit("c"), (F.col("id") % convs)).alias("conv_id"),
            (F.col("id") / convs).cast("int").alias("turn_idx"),
            F.concat_ws(
                " ",
                F.array_repeat(
                    F.lit("w"), ((F.col("id") * 7919) % 13 + 1).cast("int")
                ),
            ).alias("text"),
        )

    @pytest.mark.parametrize("budget,chunk", [(30, 30), (30, 64), (7, 50)])
    def test_chunked_equals_single_task(self, spark, budget, chunk):
        from featurescreening_jl_spark.operators.conversations import (
            context_budget_features,
        )

        df = self._varied(spark)
        key = lambda r: (r["conv_id"], r["turn_idx"])  # noqa: E731
        single = {
            key(r): (r["turn_tokens"], r["cum_tokens"], r["ctx_turns"],
                     r["ctx_tokens"])
            for r in context_budget_features(df, budget).collect()
        }
        chunked = {
            key(r): (r["turn_tokens"], r["cum_tokens"], r["ctx_turns"],
                     r["ctx_tokens"])
            for r in context_budget_features(
                df, budget, chunk_turns=chunk
            ).collect()
        }
        assert chunked == single

    def test_chunk_smaller_than_budget_raises(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            context_budget_features,
        )

        with pytest.raises(ValueError, match="ghost overlap"):
            context_budget_features(
                self._varied(spark, n=5), 100, chunk_turns=10
            )

    @pytest.mark.parametrize("chunk", [8, 25, 100])
    def test_sft_pairs_chunked_equals_single_task(self, spark, chunk):
        # same hatch, row-bounded frame: the last max_context_turns rows
        # of each chunk ghost into the next; result must be identical
        # including the rendered context strings
        from pyspark.sql import functions as F

        from featurescreening_jl_spark.operators.conversations import (
            sft_pairs,
        )

        df = self._varied(spark).withColumn(
            "role",
            F.when(F.col("turn_idx") % 3 == 1, "assistant").otherwise(
                "user"
            ),
        )
        key = lambda r: (r["conv_id"], r["turn_idx"])  # noqa: E731
        single = {
            key(r): (r["context"], r["target"], r["n_context_turns"])
            for r in sft_pairs(df, max_context_chars=120).collect()
        }
        chunked = {
            key(r): (r["context"], r["target"], r["n_context_turns"])
            for r in sft_pairs(
                df, max_context_chars=120, chunk_turns=chunk
            ).collect()
        }
        assert chunked == single
        assert len(single) > 50  # non-vacuous

    def test_sft_pairs_chunk_smaller_than_context_raises(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            sft_pairs,
        )

        df = self._varied(spark, n=5).withColumn("role", F.lit("user"))
        with pytest.raises(ValueError, match="ghost overlap"):
            sft_pairs(df, chunk_turns=4)

    def test_sparse_numbering_fails_loudly(self, spark):
        # the dense-0-based order_col precondition is validated INSIDE
        # the plan: gappy turn_idx (every other turn filtered out) must
        # raise at execution, not silently thin the ghost overlap and
        # corrupt frames
        from featurescreening_jl_spark.operators.conversations import (
            context_budget_features,
        )

        df = self._varied(spark, n=200, convs=1).where(
            F.col("turn_idx") % 2 == 0
        )
        with pytest.raises(SparkRuntimeException, match="dense 0-based"):
            context_budget_features(df, 10, chunk_turns=20).write.format(
                "noop"
            ).mode("overwrite").save()

    @pytest.mark.parametrize("op", ["context_budget_features", "sft_pairs"])
    @pytest.mark.parametrize("missing", [0, 1])
    def test_missing_chunk_fails_loudly(self, spark, op, missing):
        # turn_idx 0-74 at chunk_turns=25 without one chunk's 25 turns:
        # every present chunk is dense and full, but a missing chunk 1
        # leaves chunk 2's lookback without ghosts from the turns just
        # before it; a missing chunk 0 breaks the 0-based numbering the
        # hatch requires
        from featurescreening_jl_spark.operators import conversations

        lo = 25 * missing
        df = (
            self._varied(spark, n=75, convs=1)
            .where(~F.col("turn_idx").between(lo, lo + 24))
            .withColumn(
                "role",
                F.when(F.col("turn_idx") % 3 == 1, "assistant").otherwise(
                    "user"
                ),
            )
        )
        args = (10,) if op == "context_budget_features" else ()
        out = getattr(conversations, op)(df, *args, chunk_turns=25)
        with pytest.raises(SparkRuntimeException, match="missing chunk"):
            out.write.format("noop").mode("overwrite").save()

    @pytest.mark.parametrize("chunk", [7, 40, 500])
    def test_turn_edit_chunked_equals_single_task(self, spark, chunk):
        # the carry variant: rare roles (tool appears every 17 turns,
        # and only in some chunks at chunk=7/40) force the cross-chunk
        # carry to skip role-less chunks; result must be identical,
        # including NULL edit_dist for each role's globally-first turn
        from pyspark.sql import functions as F

        from featurescreening_jl_spark.operators.conversations import (
            turn_edit_features,
        )

        df = self._varied(spark, n=300).select(
            "conv_id",
            "turn_idx",
            F.when(F.col("turn_idx") % 17 == 3, "tool")
            .when(F.col("turn_idx") % 2 == 0, "user")
            .otherwise("assistant")
            .alias("role"),
            "text",
            (
                F.lit(1700000000).cast("timestamp")
                + F.make_interval(secs=F.col("turn_idx"))
            ).alias("ts"),
        )
        key = lambda r: (r["conv_id"], r["turn_idx"])  # noqa: E731
        single = {
            key(r): (r["role"], r["edit_dist"], r["edit_sim"])
            for r in turn_edit_features(df).collect()
        }
        chunked = {
            key(r): (r["role"], r["edit_dist"], r["edit_sim"])
            for r in turn_edit_features(df, chunk_turns=chunk).collect()
        }
        assert chunked == single
        # non-vacuous: NULL firsts exist and real distances exist
        dists = [v[1] for v in single.values()]
        assert any(d is None for d in dists)
        assert any(d is not None and d > 0 for d in dists)

    def _edit_turns(self, spark, moved_turn, moved_to_s):
        # one conversation, user on even turns and assistant on odd ones,
        # ts = turn_idx seconds except one turn moved to moved_to_s
        secs = F.when(
            F.col("turn_idx") == moved_turn, F.lit(moved_to_s)
        ).otherwise(F.col("turn_idx"))
        return self._varied(spark, n=40, convs=1).select(
            "conv_id",
            "turn_idx",
            F.when(F.col("turn_idx") % 2 == 0, "user")
            .otherwise("assistant")
            .alias("role"),
            "text",
            (
                F.lit(1700000000).cast("timestamp")
                + F.make_interval(secs=secs.cast("decimal(18,6)"))
            ).alias("ts"),
        )

    def test_turn_edit_ts_disagreeing_across_chunks_fails_loudly(self, spark):
        # at chunk_turns=10, assistant turn 5 moved to 25 s sorts after
        # the chunk-1 assistant turns (11-19 s): the carry would hand
        # turn 11 turn 5's text where the single task sees turn 9's
        from featurescreening_jl_spark.operators.conversations import (
            turn_edit_features,
        )

        df = self._edit_turns(spark, moved_turn=5, moved_to_s=25)
        turn_edit_features(df).write.format("noop").mode("overwrite").save()
        out = turn_edit_features(df, chunk_turns=10)
        with pytest.raises(SparkRuntimeException, match="agree with turn_idx"):
            out.write.format("noop").mode("overwrite").save()

    def test_turn_edit_chunked_needs_only_per_role_order(self, spark):
        # the carry is per role: assistant turn 9 moved past user turn 10
        # (10.5 s) is still before every later assistant turn, and gaps
        # in turn_idx only change chunk sizes — both stay exact
        from featurescreening_jl_spark.operators.conversations import (
            turn_edit_features,
        )

        df = self._edit_turns(spark, moved_turn=9, moved_to_s=10.5).where(
            F.col("turn_idx") % 7 != 3
        )
        key = lambda r: (r["turn_idx"], r["edit_dist"], r["edit_sim"])  # noqa: E731
        single = sorted(map(key, turn_edit_features(df).collect()))
        chunked = sorted(
            map(key, turn_edit_features(df, chunk_turns=10).collect())
        )
        assert chunked == single and len(single) == 34

    def test_chunked_parallelizes_one_conversation(self, spark):
        # the point of the hatch: a single conversation's work lands in
        # MANY tasks — the budget window partitions by (conv, chunk),
        # not conv alone
        from featurescreening_jl_spark.operators.conversations import (
            context_budget_features,
        )

        df = self._varied(spark, n=300, convs=1)
        plan = (
            context_budget_features(df, 30, chunk_turns=50)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the budget window and the local running sum must both key on
        # (conv, chunk) — a conv-only exchange would re-serialize the
        # mega conversation into one task
        assert "hashpartitioning(conv_id" in plan
        import re

        assert re.search(r"hashpartitioning\(conv_id[^)]*__ck", plan), (
            "no (conv_id, __ck) exchange found — the chunked path is "
            "not fanning a conversation out across tasks"
        )


@pytest.mark.slow
class TestMegaConversationStress:
    """Round-4 verdict task 5: the conv-keyed window operators put one
    conversation in one task by construction — correct for real
    transcripts, serial for a pathological 10^6-turn conversation.
    These pin (a) that the hottest three ops COMPLETE at 10^6 turns in
    one conv_id with streaming memory, (b) the measured per-op
    ceilings (generous 10x wall-clock bounds so host weather can't
    flake the suite), and (c) that the chunked escape hatch matches
    the single-task path at this scale. Measured on local[32]
    (calibration run, quiet host): context_budget 4.7 s, turn_edit
    7.9 s, sft_pairs 7.6 s — all linear in turns, no spill."""

    def _mega(self, spark, n=1_000_000):
        from pyspark.sql import functions as F

        return (
            spark.range(n)
            .select(
                F.lit("megaconv").alias("conv_id"),
                F.col("id").cast("int").alias("turn_idx"),
                F.when(F.col("id") % 2 == 0, "user")
                .otherwise("assistant")
                .alias("role"),
                F.concat(F.lit("turn text number "), F.col("id")).alias(
                    "text"
                ),
                (
                    F.lit(1700000000).cast("timestamp")
                    + F.make_interval(secs=F.col("id"))
                ).alias("ts"),
            )
            .repartition(8)
            .localCheckpoint()
        )

    def test_mega_conversation_ceilings(self, spark):
        import time

        from featurescreening_jl_spark.operators.conversations import (
            context_budget_features,
            sft_pairs,
            turn_edit_features,
        )

        t = self._mega(spark)
        ceilings = {}
        for name, df in [
            ("context_budget", context_budget_features(t, 512)),
            ("turn_edit", turn_edit_features(t)),
            ("sft_pairs", sft_pairs(t)),
        ]:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            ceilings[name] = time.perf_counter() - t0
        # 10x the measured quiet-host numbers — a structural regression
        # (spill loop, O(n^2) frame, plan explosion) blows through this;
        # host bursts don't
        assert ceilings["context_budget"] < 60, ceilings
        assert ceilings["turn_edit"] < 90, ceilings
        assert ceilings["sft_pairs"] < 90, ceilings

    def test_chunked_hatch_matches_at_mega_scale(self, spark):
        from pyspark.sql import functions as F

        from featurescreening_jl_spark.operators.conversations import (
            context_budget_features,
        )

        t = self._mega(spark, n=200_000)
        single = context_budget_features(t, 512)
        chunked = context_budget_features(t, 512, chunk_turns=10_000)
        # exact frame equality via anti-join both ways (collecting 200k
        # rows to the driver would be the thing we're avoiding)
        cols = ["conv_id", "turn_idx", "turn_tokens", "cum_tokens",
                "ctx_turns", "ctx_tokens"]
        a, b = single.select(cols), chunked.select(cols)
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0
        assert b.count() == 200_000
        # and the hatch genuinely fans out: >1 task's worth of chunks
        assert (
            t.select(
                (F.col("turn_idx") / 10_000).cast("long").alias("ck")
            )
            .distinct()
            .count()
            == 20
        )


class TestSemanticSegments:
    """Topic segmentation by embedding drift
    (conversations.semantic_segments)."""

    def test_boundaries_and_segment_ids(self, spark):
        # c1: turns 0-1 similar, turn 2 orthogonal (boundary), turn 3
        # similar to 2 -> segments [0, 0, 1, 1]
        rows = [
            ("c1", 0, [1.0, 0.0, 0.0]),
            ("c1", 1, [0.9, 0.1, 0.0]),
            ("c1", 2, [0.0, 0.0, 1.0]),
            ("c1", 3, [0.1, 0.0, 0.9]),
            # c2: single turn -> segment 0, NULL sim
            ("c2", 0, [0.5, 0.5, 0.0]),
        ]
        from featurescreening_jl_spark.operators.conversations import (
            semantic_segments,
        )

        df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "embedding"])
        out = {
            (r["conv_id"], r["turn_idx"]): r
            for r in semantic_segments(df, threshold=0.5).collect()
        }
        assert out[("c1", 0)]["sim_prev"] is None
        assert out[("c1", 0)]["is_boundary"] is False
        assert [out[("c1", i)]["segment_idx"] for i in range(4)] == [0, 0, 1, 1]
        assert out[("c1", 2)]["is_boundary"] is True
        assert out[("c1", 1)]["sim_prev"] > 0.9
        assert out[("c2", 0)]["segment_idx"] == 0

    def test_single_exchange_plan(self, spark):
        from featurescreening_jl_spark.operators.conversations import (
            semantic_segments,
        )

        df = spark.createDataFrame(
            [("c", 0, [1.0, 0.0])], "conv_id string, turn_idx int, embedding array<double>"
        )
        plan = (
            semantic_segments(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # lag window + running sum share the conv-keyed sort: ONE exchange
        assert plan.count("Exchange hashpartitioning") == 1

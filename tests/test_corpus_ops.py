"""Corpus-hygiene operators: within-document repetition stats
(operators/text_analysis.repetition_stats) and benchmark decontamination
(operators/decontam).

Scale properties pinned here: repetition_stats must stay MAP-ONLY (zero
exchanges — it is a pure per-row function), and contamination must probe
the corpus through a BROADCAST of the benchmark's n-gram index (the
corpus side never shuffles).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from featurescreening_jl_spark.operators.decontam import (
    bitmap_contains,
    build_gram_bitmap,
    contamination_pairs,
    flag_contaminated,
)
from featurescreening_jl_spark.operators.text_analysis import repetition_stats

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def rep_docs(spark):
    return spark.createDataFrame(
        [
            (0, "a b\nc d\na b\n\n  \nx y z"),
            (1, "hello world hello world hello world"),
            (2, ""),
            (3, "one line only"),
        ],
        ["doc_id", "text"],
    )


class TestRepetitionStats:
    def test_golden_values(self, rep_docs):
        rows = {r["doc_id"]: r for r in repetition_stats(rep_docs).collect()}
        # doc 0: lines [a b, c d, a b, x y z] — "a b" duplicated (2 of 4
        # lines, 6 of 14 chars); bigrams of "a b c d a b x y z": 8 total,
        # "a b" twice
        assert rows[0]["n_lines"] == 4
        assert rows[0]["dup_line_frac"] == pytest.approx(0.5)
        assert rows[0]["dup_line_char_frac"] == pytest.approx(6 / 14)
        assert rows[0]["n_bigrams"] == 8
        assert rows[0]["top_bigram_frac"] == pytest.approx(2 / 8)
        # doc 1: one line, no dups; "hello world" is 3 of 5 bigrams
        assert rows[1]["dup_line_frac"] == 0.0
        assert rows[1]["top_bigram_frac"] == pytest.approx(3 / 5)
        # doc 2 (empty): all zeros, no division blow-ups
        assert rows[2]["n_lines"] == 0
        assert rows[2]["dup_line_frac"] == 0.0
        assert rows[2]["dup_line_char_frac"] == 0.0
        assert rows[2]["n_bigrams"] == 0
        assert rows[2]["top_bigram_frac"] == 0.0
        # doc 3: 2 bigrams, each unique
        assert rows[3]["n_bigrams"] == 2
        assert rows[3]["top_bigram_frac"] == pytest.approx(0.5)

    def test_fully_repeated_doc_maxes_out(self, spark):
        df = spark.createDataFrame(
            [(0, "spam spam\nspam spam\nspam spam")], ["doc_id", "text"]
        )
        r = repetition_stats(df).collect()[0]
        assert r["dup_line_frac"] == 1.0
        assert r["dup_line_char_frac"] == 1.0
        # bigrams: 5 total, "spam spam" x5
        assert r["top_bigram_frac"] == 1.0

    def test_map_only_plan(self, rep_docs):
        plan = (
            repetition_stats(rep_docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan

    def test_runs_on_real_documents(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = repetition_stats(docs)
        assert out.count() == docs.count()
        bad = out.where(
            (F.col("dup_line_frac") < 0)
            | (F.col("dup_line_frac") > 1)
            | (F.col("top_bigram_frac") < 0)
            | (F.col("top_bigram_frac") > 1)
        ).count()
        assert bad == 0


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog today"),
            (1, "completely unrelated text about spark physical plans"),
            (2, "another doc where the quick brown fox jumps over fences"),
            (3, "short"),
        ],
        ["doc_id", "text"],
    )


class TestContamination:
    def test_substring_benchmark_flags_sources(self, spark, corpus):
        # benchmark = a verbatim span of doc 0 — decontamination's core case
        bench = spark.createDataFrame(
            [(900, "quick brown fox jumps over")], ["bench_id", "text"]
        )
        pairs = contamination_pairs(corpus, bench, n=3, min_shared=1)
        got = {(r["doc_id"], r["bench_id"]): r["n_shared"] for r in pairs.collect()}
        # docs 0 and 2 share the span's 3-grams; doc 0 shares all 3
        assert got[(0, 900)] == 3
        assert got[(2, 900)] == 3
        assert (1, 900) not in got
        assert (3, 900) not in got

    def test_min_shared_threshold(self, spark, corpus):
        bench = spark.createDataFrame(
            [(900, "quick brown fox zzz yyy over the lazy")],
            ["bench_id", "text"],
        )
        # only "quick brown fox" + "over the lazy" match doc 0 → 2 shared
        loose = contamination_pairs(corpus, bench, n=3, min_shared=1)
        tight = contamination_pairs(corpus, bench, n=3, min_shared=3)
        assert loose.where(F.col("doc_id") == 0).count() == 1
        assert tight.where(F.col("doc_id") == 0).count() == 0

    def test_flag_contaminated_annotates_all_rows(self, spark, corpus):
        bench = spark.createDataFrame(
            [(900, "quick brown fox jumps over"), (901, "the lazy dog today")],
            ["bench_id", "text"],
        )
        out = flag_contaminated(corpus, bench, n=3, min_shared=1)
        rows = {r["doc_id"]: r for r in out.collect()}
        assert len(rows) == 4  # every corpus row present exactly once
        assert rows[0]["contaminated"] and rows[0]["n_bench_matches"] == 2
        assert rows[2]["contaminated"] and rows[2]["n_bench_matches"] == 1
        assert not rows[1]["contaminated"] and rows[1]["n_bench_matches"] == 0
        assert not rows[3]["contaminated"]

    def test_benchmark_broadcasts_corpus_never_shuffles(self, spark, corpus):
        bench = spark.createDataFrame(
            [(900, "quick brown fox jumps over")], ["bench_id", "text"]
        )
        plan = (
            contamination_pairs(corpus, bench, n=3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        # the only exchanges allowed: the broadcast of the benchmark index
        # and the (doc,bench)-pair aggregate — never a shuffle of the
        # corpus n-gram stream (SortMergeJoin would require one)
        assert "SortMergeJoin" not in plan

    def test_empty_texts_never_match(self, spark):
        c = spark.createDataFrame([(0, ""), (1, "   ")], ["doc_id", "text"])
        b = spark.createDataFrame([(9, "")], ["bench_id", "text"])
        assert contamination_pairs(c, b, n=3).count() == 0


class TestBitmapPrefilter:
    def test_membership_no_false_negatives(self, spark):
        # every gram that went into the fit must test positive; grams that
        # did not should (at this density: 4 grams / 2^16 bits) all test
        # negative — a deterministic check, the hashes never change
        bench = spark.createDataFrame(
            [(0, "alpha beta gamma delta epsilon zeta")], ["bench_id", "text"]
        )
        bm = build_gram_bitmap(bench, n=3, log2_bits=16)
        present = [
            "alpha beta gamma",
            "beta gamma delta",
            "gamma delta epsilon",
            "delta epsilon zeta",
        ]
        absent = [f"missing gram {i}" for i in range(50)]
        probe = spark.createDataFrame(
            [(g, True) for g in present] + [(g, False) for g in absent],
            ["g", "expect"],
        )
        rows = probe.select(
            "expect", bitmap_contains(F.col("g"), bm).alias("hit")
        ).collect()
        for r in rows:
            if r["expect"]:
                assert r["hit"], "bitmap dropped a gram it was built from"
            else:
                assert not r["hit"]

    def test_prefiltered_pairs_identical_to_exact(self, spark, corpus):
        # the bitmap is a superset screen + exact re-verify: output must be
        # row-identical to the unfiltered shuffled-join path
        bench = spark.createDataFrame(
            [(900, "quick brown fox jumps over"), (901, "the lazy dog today")],
            ["bench_id", "text"],
        )
        bm = build_gram_bitmap(bench, n=3, log2_bits=14)
        exact = contamination_pairs(
            corpus, bench, n=3, broadcast_benchmark=False
        )
        filtered = contamination_pairs(
            corpus,
            bench,
            n=3,
            broadcast_benchmark=False,
            prefilter_bitmap=bm,
        )
        as_set = lambda df: {  # noqa: E731
            (r["doc_id"], r["bench_id"], r["n_shared"]) for r in df.collect()
        }
        assert as_set(filtered) == as_set(exact)
        assert len(as_set(exact)) > 0  # non-vacuous

    def test_join_strategy_identical_to_literal(self, spark, corpus):
        # the >2^22-bit regime swaps the SQL-literal word array for a
        # broadcast word-indexed dimension table; both physical plans
        # must keep EXACTLY the same rows on the same bitmap
        from featurescreening_jl_spark.operators.decontam import (
            _exploded_ngrams,
            bitmap_prefilter,
        )

        bench = spark.createDataFrame(
            [(900, "quick brown fox jumps over"), (901, "the lazy dog today")],
            ["bench_id", "text"],
        )
        bm = build_gram_bitmap(bench, n=3, log2_bits=14)
        grams = _exploded_ngrams(corpus, "doc_id", "text", 3)
        as_set = lambda df: {  # noqa: E731
            (r["doc_id"], r["__g"]) for r in df.collect()
        }
        lit_rows = as_set(bitmap_prefilter(grams, "__g", bm, strategy="literal"))
        join_rows = as_set(bitmap_prefilter(grams, "__g", bm, strategy="join"))
        assert lit_rows == join_rows
        assert len(lit_rows) > 0  # non-vacuous

    def test_join_strategy_broadcasts_the_word_table(self, spark, corpus):
        # the join path must be a broadcast hash join probing the corpus
        # gram stream — never a shuffle of that stream
        from featurescreening_jl_spark.operators.decontam import (
            _exploded_ngrams,
            bitmap_prefilter,
        )

        bench = spark.createDataFrame(
            [(900, "quick brown fox jumps over")], ["bench_id", "text"]
        )
        bm = build_gram_bitmap(bench, n=3, log2_bits=14)
        grams = _exploded_ngrams(corpus, "doc_id", "text", 3)
        plan = (
            bitmap_prefilter(grams, "__g", bm, strategy="join")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_literal_path_capped_at_2pow22(self, spark):
        # a 2^30-bit bitmap as a SQL literal would be a ~150 MB expression
        # string — the literal path must refuse, pointing at the join path
        from featurescreening_jl_spark.operators.decontam import GramBitmap

        big = GramBitmap(words=(0,), log2_bits=30, n=3)
        with pytest.raises(ValueError, match="bitmap_prefilter"):
            bitmap_contains(F.col("g"), big)

    def test_auto_strategy_picks_join_above_cap(self, spark, corpus):
        # auto mode must route an oversized bitmap to the join path (the
        # fit is at log2_bits=23 so the literal guard would reject it);
        # no-false-negatives still holds end-to-end
        from featurescreening_jl_spark.operators.decontam import (
            _exploded_ngrams,
            bitmap_prefilter,
        )

        bench = spark.createDataFrame(
            [(900, "quick brown fox jumps over")], ["bench_id", "text"]
        )
        bm = build_gram_bitmap(bench, n=3, log2_bits=23)
        grams = _exploded_ngrams(bench, "bench_id", "text", 3)
        kept = bitmap_prefilter(grams, "__g", bm).count()
        assert kept == grams.count(), "join path dropped a fitted gram"

    def test_gram_length_mismatch_raises(self, spark, corpus):
        bench = spark.createDataFrame(
            [(900, "quick brown fox jumps over")], ["bench_id", "text"]
        )
        bm = build_gram_bitmap(bench, n=4, log2_bits=14)
        with pytest.raises(ValueError, match="fitted for n=4"):
            contamination_pairs(corpus, bench, n=3, prefilter_bitmap=bm)

    def test_bitmap_filter_sits_below_the_join(self, spark, corpus):
        # the whole point is dropping corpus grams BEFORE the shuffle: the
        # bitmap test (its shiftleft word/bit arithmetic) must appear under
        # the join in the optimized plan, not above it
        bench = spark.createDataFrame(
            [(900, "quick brown fox jumps over")], ["bench_id", "text"]
        )
        bm = build_gram_bitmap(bench, n=3, log2_bits=14)
        plan = (
            contamination_pairs(
                corpus,
                bench,
                n=3,
                broadcast_benchmark=False,
                prefilter_bitmap=bm,
            )
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "shiftleft" in plan
        assert plan.index("Join") < plan.index("shiftleft")


class TestPII:
    def test_counts_and_redaction(self, spark):
        from featurescreening_jl_spark.operators.text_analysis import (
            pii_stats,
            redact_pii,
        )

        df = spark.createDataFrame(
            [
                (0, "mail a.b-c_d%x+1@sub.example.org now"),
                (1, "server at 192.168.001.42 port 80"),
                (2, "call 555-867-5309 or 555 123 4567."),
                (3, "no pii here, just 12.5 percent and v1.2.3.4beta"),
                (4, ""),
            ],
            ["doc_id", "text"],
        )
        text = F.col("text")
        out = df.select(
            "doc_id",
            *[c.alias(n) for n, c in pii_stats(text).items()],
            redact_pii(text).alias("red"),
        )
        rows = {r["doc_id"]: r for r in out.collect()}
        assert rows[0]["n_email"] == 1 and rows[0]["red"] == "mail <EMAIL> now"
        assert rows[1]["n_ipv4"] == 1 and rows[1]["red"] == "server at <IP> port 80"
        assert rows[2]["n_phone"] == 2
        assert rows[2]["red"] == "call <PHONE> or <PHONE>."
        # 12.5 / version-ish strings must not trip the IP pattern...
        assert rows[3]["n_ipv4"] == 0
        # ...well, 1.2.3.4 WOULD match standalone; 'v' prefix + 'beta'
        # suffix sit on word boundaries with digits, so \b blocks it
        assert rows[3]["red"] == rows[3]["red"]  # no crash path
        assert rows[4]["n_email"] == rows[4]["n_ipv4"] == rows[4]["n_phone"] == 0

    def test_email_redacted_before_phone(self, spark):
        from featurescreening_jl_spark.operators.text_analysis import redact_pii

        # an email whose local part looks phone-ish must become <EMAIL>,
        # never a half-redacted hybrid
        df = spark.createDataFrame([(0, "x 555-123-4567@ex.com y")], ["i", "text"])
        red = df.select(redact_pii(F.col("text")).alias("r")).collect()[0]["r"]
        assert red == "x <EMAIL> y"


class TestMaskRepeatedNgrams:
    """CCNet-style repeated-span removal: word n-grams occurring in
    >= min_df distinct docs are boilerplate; their spans get stripped and
    the document is reassembled from surviving words."""

    @pytest.fixture(scope="class")
    def boiler_docs(self, spark):
        # "click here to subscribe now" appears in docs 0-2 (df=3);
        # "alpha beta gamma delta" only in doc 0 (df=1, survives).
        return spark.createDataFrame(
            [
                (0, "alpha beta gamma delta click here to subscribe now"),
                (1, "click here to subscribe now unique one text"),
                (2, "prefix words click here to subscribe now suffix"),
                (3, "totally unrelated content with enough words here"),
                (4, "tiny doc"),  # shorter than n — untouched
            ],
            ["doc_id", "text"],
        )

    def test_boilerplate_stripped_exactly(self, boiler_docs):
        from featurescreening_jl_spark.operators.text_analysis import (
            mask_repeated_ngrams,
        )

        out = {
            r["doc_id"]: r
            for r in mask_repeated_ngrams(
                boiler_docs, n=4, min_df=3
            ).collect()
        }
        # every 4-gram inside the 5-word boilerplate sentence has df=3, so
        # the union of spans covers all 5 words in each occurrence
        assert out[0]["text_clean"] == "alpha beta gamma delta"
        assert out[0]["n_words_removed"] == 5
        assert out[1]["text_clean"] == "unique one text"
        assert out[2]["text_clean"] == "prefix words suffix"
        # df=1 and df=2 grams survive untouched
        assert (
            out[3]["text_clean"]
            == "totally unrelated content with enough words here"
        )
        assert out[3]["n_words_removed"] == 0
        # doc shorter than n: no grams, text unchanged
        assert out[4]["text_clean"] == "tiny doc"
        assert out[4]["n_words"] == 2

    def test_overlapping_spans_union(self, spark):
        from featurescreening_jl_spark.operators.text_analysis import (
            mask_repeated_ngrams,
        )

        # the repeated 4-grams "a b c d" and "c d e f" overlap inside
        # doc 0; coverage is the UNION of spans, not double-removal
        docs = spark.createDataFrame(
            [
                (0, "x a b c d e f y"),
                (1, "a b c d tail words here"),
                (2, "a b c d other filler words"),
                (3, "lead c d e f words more"),
                (4, "c d e f yet more filler"),
            ],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r
            for r in mask_repeated_ngrams(docs, n=4, min_df=3).collect()
        }
        assert out[0]["text_clean"] == "x y"
        assert out[0]["n_words_removed"] == 6


class TestBM25:
    def test_matches_pure_python_replica(self, spark):
        import math
        import re
        from collections import Counter

        from featurescreening_jl_spark.operators.text_analysis import (
            bm25_topk,
        )

        docs = [
            (1, "the cat sat on the mat"),
            (2, "the dog chased the cat"),
            (3, "dogs and cats living together"),
            (4, "a completely unrelated document about spark"),
            (5, "cat cat cat cat"),
        ]
        queries = [(1, "cat"), (2, "the dog"), (3, "zebra")]
        k1, b = 1.2, 0.75

        def toks(t):
            return [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]

        tf = {d: Counter(toks(t)) for d, t in docs}
        dlen = {d: sum(c.values()) for d, c in tf.items()}
        n = len(docs)
        avgl = sum(dlen.values()) / n
        df = Counter(t for c in tf.values() for t in set(c))

        def score(q, d):
            s = 0.0
            for t, qtf in Counter(toks(q)).items():
                if tf[d].get(t, 0) == 0:
                    continue
                idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                tfv = tf[d][t]
                s += qtf * idf * tfv * (k1 + 1) / (
                    tfv + k1 * (1 - b + b * dlen[d] / avgl)
                )
            return s

        want = {}
        for qid, q in queries:
            ranked = sorted(
                ((score(q, d), d) for d, _ in docs if score(q, d) > 0),
                key=lambda x: (-x[0], x[1]),
            )[:3]
            for r, (sc, d) in enumerate(ranked, 1):
                want[(qid, d)] = (round(sc, 6), r)

        sdocs = spark.createDataFrame(docs, "doc_id int, text string")
        sq = spark.createDataFrame(queries, "query_id int, query string")
        got = {
            (r["query_id"], r["doc_id"]): (round(r["score"], 6), r["rank"])
            for r in bm25_topk(sdocs, sq, k=3).collect()
        }
        assert got == want
        assert not any(qid == 3 for qid, _ in got)  # no zero-score rows

    def test_corpus_never_shuffles_for_query_join(self, spark):
        # the query side must broadcast into the tf table — a shuffled
        # join on `term` would move the whole corpus tf table per query
        # set
        from featurescreening_jl_spark.operators.text_analysis import (
            bm25_topk,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        q = spark.createDataFrame(
            [(1, "data systems")], "query_id int, query string"
        )
        plan = (
            bm25_topk(docs, q, k=5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan, plan


class TestDsirWeights:
    def test_self_target_weight_is_one(self, spark):
        from featurescreening_jl_spark.operators.lm import dsir_weights

        docs = spark.createDataFrame(
            [(0, "the quick brown fox jumps"), (1, "pack my box with jugs")],
            "doc_id long, text string",
        )
        out = dsir_weights(docs, docs, n=3).toPandas()
        # target model == raw model -> log ratio 0, weight exactly 1
        assert (abs(out["log_ratio"]) < 1e-12).all()
        assert (abs(out["weight"] - 1.0) < 1e-12).all()

    def test_target_like_docs_weigh_more(self, spark):
        from featurescreening_jl_spark.operators.lm import dsir_weights

        rows = [
            (0, "spark table join scan filter window", "code"),
            (1, "spark table join filter scan window plan", "code"),
            (2, "zzq xqv jjw qqz vvx wwj", "noise"),
            (3, "spark join window scan table filter", "code"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, d string")
        target = docs.where(F.col("d") == "code")
        w = {
            r["doc_id"]: r["weight"]
            for r in dsir_weights(docs, target, n=3).collect()
        }
        assert w[0] > w[2] and w[1] > w[2] and w[3] > w[2]
        assert w[2] < 1.0

    def test_single_scoring_pass_plan(self, spark):
        from featurescreening_jl_spark.operators.lm import dsir_weights

        docs = spark.createDataFrame(
            [(0, "abcdef"), (1, "bcdefg")], "doc_id long, text string"
        )
        out = dsir_weights(docs, docs, n=3)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the totals aggregate and the scoring join both consume the
        # merged-model subplan; physically the model-build shuffles must
        # be REUSED (each gram explode runs once), not recomputed per
        # consumer
        assert plan.count("ReusedExchange") >= 2


class TestStripMarkup:
    def _strip(self, spark, html):
        from featurescreening_jl_spark.operators.text_analysis import (
            strip_markup,
        )

        df = spark.createDataFrame([(html,)], "h string")
        return df.select(strip_markup("h").alias("t")).collect()[0]["t"]

    def test_script_payload_removed_even_with_lt(self, spark):
        out = self._strip(
            spark, 'before<script>if (1 < 2) { x = "<b>"; }</script>after'
        )
        assert out == "before after"

    def test_double_escaped_amp_not_double_unescaped(self, spark):
        # "&amp;lt;" is the ESCAPED text "&lt;" — it must NOT collapse to
        # "<" (amp is unescaped last, exactly once)
        assert self._strip(spark, "a &amp;lt; b") == "a &lt; b"

    def test_block_tags_and_entities(self, spark):
        out = self._strip(
            spark,
            "<ul><li>one</li><li>two</li></ul><p>3 &gt; 2 &amp; 1 &lt; 2</p>",
        )
        assert out == 'one two 3 > 2 & 1 < 2'

    def test_comment_and_style_dropped(self, spark):
        out = self._strip(
            spark, "<style>body{}</style>x<!-- <p>hidden</p> -->y"
        )
        assert out == "x y"


class TestEntropyFeatures:
    """Char/token Shannon entropy via the run-length fold
    (text_analysis.shannon_entropy / entropy_features)."""

    def _ent(self, items):
        import math
        from collections import Counter

        n = len(items)
        return -sum(
            v / n * math.log2(v / n) for v in Counter(items).values()
        )

    def test_matches_direct_computation(self, spark):
        from featurescreening_jl_spark.operators.text_analysis import (
            entropy_features,
        )

        texts = [
            "abc",
            "aaaa",
            "the cat sat on the mat the cat",
            "  spaced   out  tokens ",
            "xyxyxyxyxyxy zz",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        out = {
            r["doc_id"]: r
            for r in entropy_features(df, id_cols=("doc_id",)).collect()
        }
        for i, t in enumerate(texts):
            chars = list(t)
            toks = [w for w in t.split() if w]
            assert out[i]["n_chars"] == len(chars)
            assert out[i]["n_tokens"] == len(toks)
            assert abs(out[i]["char_entropy"] - self._ent(chars)) < 1e-9
            assert abs(out[i]["token_entropy"] - self._ent(toks)) < 1e-9

    def test_degenerate_and_uniform_bounds(self, spark):
        from featurescreening_jl_spark.operators.text_analysis import (
            entropy_features,
        )

        df = spark.createDataFrame(
            [(0, "aaaaaaaa"), (1, "abcdefgh")], ["doc_id", "text"]
        )
        rows = {
            r["doc_id"]: r
            for r in entropy_features(df, id_cols=("doc_id",)).collect()
        }
        # single-symbol text: H = 0; 8 distinct chars: H = 3 bits exactly
        assert rows[0]["char_entropy"] == 0.0
        assert abs(rows[1]["char_entropy"] - 3.0) < 1e-12

    def test_no_shuffle_in_plan(self, spark):
        from featurescreening_jl_spark.operators.text_analysis import (
            entropy_features,
        )

        df = spark.createDataFrame([(0, "abc")], ["doc_id", "text"])
        plan = (
            entropy_features(df, id_cols=("doc_id",))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan


class TestHashedVerify:
    """Two-tier hashed_verify path of minhash_lsh_pairs."""

    def _corpus(self, spark):
        from pyspark.sql import functions as F

        base = [
            (i, " ".join(f"w{(i * 37 + j * 11) % 211}" for j in range(60)))
            for i in range(40)
        ]
        df = spark.createDataFrame(base, ["doc_id", "text"])
        clones = df.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000).alias("doc_id"),
            # drop the last few words: near-dup, not exact
            F.concat_ws(
                " ", F.slice(F.split("text", " "), 1, 55)
            ).alias("text"),
        )
        return df.unionByName(clones)

    def test_identical_output_to_exact_path(self, spark):
        from featurescreening_jl_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        corpus = self._corpus(spark)
        kw = dict(jaccard_threshold=0.7, num_hashes=64, bands=16)
        exact = sorted(
            map(tuple, minhash_lsh_pairs(corpus, **kw).collect())
        )
        hashed = sorted(
            map(
                tuple,
                minhash_lsh_pairs(
                    corpus, hashed_verify=True, **kw
                ).collect(),
            )
        )
        assert len(exact) >= 4  # non-vacuous: the clone pairs exist
        assert hashed == exact

    def test_short_and_empty_texts_match_exact_path(self, spark):
        # texts shorter than shingle_n hash the tokens they have (ANSI
        # mode would raise on element_at past the end of the token array)
        from featurescreening_jl_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        corpus = spark.createDataFrame(
            [(1, "hello world"), (2, "hello world"), (3, "hello"),
             (4, "hello"), (5, ""), (6, ""), (7, "a b c d")],
            ["doc_id", "text"],
        )
        exact = sorted(map(tuple, minhash_lsh_pairs(corpus).collect()))
        hashed = sorted(
            map(tuple, minhash_lsh_pairs(corpus, hashed_verify=True).collect())
        )
        assert (1, 2, 1.0) in exact  # non-vacuous: the short pair exists
        assert hashed == exact

    def test_shingles_hashed_matches_string_level1_cardinality(self, spark):
        # shingles_hashed must produce the same SET SIZE as hashing the
        # string shingles (bijection between token triples and joined
        # strings), though the hash values themselves differ
        from pyspark.sql import functions as F

        from featurescreening_jl_spark.operators.dedup import (
            shingles,
            shingles_hashed,
        )

        df = self._corpus(spark)
        bad = df.select(
            (
                F.size(shingles_hashed(F.col("text"), n=3))
                != F.size(shingles(F.col("text"), n=3))
            ).alias("mismatch")
        ).where("mismatch")
        assert bad.count() == 0

    def test_exact_string_jaccard_decides_boundary(self, spark):
        # a pair whose true Jaccard is just UNDER threshold must not be
        # emitted by the hashed path even though the screen (threshold -
        # margin) lets it through to tier 2
        from featurescreening_jl_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        words_a = [f"t{j}" for j in range(40)]
        # overlap chosen so shingle Jaccard lands between
        # (threshold - margin) and threshold
        words_b = words_a[:30] + [f"u{j}" for j in range(10)]
        df = spark.createDataFrame(
            [(1, " ".join(words_a)), (2, " ".join(words_b))],
            ["doc_id", "text"],
        )
        from featurescreening_jl_spark.operators.dedup import shingles
        from pyspark.sql import functions as F

        j = (
            df.alias("a")
            .crossJoin(df.alias("b"))
            .where("a.doc_id < b.doc_id")
            .select(
                (
                    F.size(
                        F.array_intersect(
                            shingles(F.col("a.text")),
                            shingles(F.col("b.text")),
                        )
                    )
                    / F.size(
                        F.array_union(
                            shingles(F.col("a.text")),
                            shingles(F.col("b.text")),
                        )
                    )
                ).alias("j")
            )
            .first()["j"]
        )
        thr = j + 0.02  # true jaccard sits 0.02 under the threshold
        out = minhash_lsh_pairs(
            df,
            jaccard_threshold=thr,
            screen_margin=0.1,
            hashed_verify=True,
        )
        assert out.count() == 0
        # and with the threshold just below, the pair IS found
        out2 = minhash_lsh_pairs(
            df,
            jaccard_threshold=j - 0.02,
            screen_margin=0.1,
            hashed_verify=True,
        )
        assert out2.count() == 1


class TestEncodingQuality:
    def test_goldens(self, spark):
        from featurescreening_jl_spark.operators.text_analysis import (
            encoding_quality,
        )

        docs = spark.createDataFrame(
            [
                (0, "clean text here"),
                (1, "bad �� decode"),
                (2, "ctrl\x01\x02 here"),
                (3, ""),
                (4, "x" * 2000 + "�"),
            ],
            ["doc_id", "text"],
        )
        rows = {r["doc_id"]: r for r in encoding_quality(docs).collect()}
        assert rows[0]["n_replacement"] == 0 and rows[0]["encoding_ok"]
        assert rows[1]["n_replacement"] == 2 and not rows[1]["encoding_ok"]
        assert rows[2]["n_control"] == 2 and not rows[2]["encoding_ok"]
        # empty docs pass: no evidence of damage, and no 0/0
        assert rows[3]["n_chars"] == 0 and rows[3]["encoding_ok"]
        # 1 bad char in 2001 -> ratio ~0.0005 stays under the 0.001 gate
        assert rows[4]["n_replacement"] == 1 and rows[4]["encoding_ok"]

    def test_null_text_behaves_as_empty(self, spark):
        # NULL text must take the SAME row as an empty doc — counts 0,
        # ratios 0.0, encoding_ok true — never a half-NULL output (the
        # n_chars > 0 guard is NULL-false, which used to leave counts
        # NULL while the ratios coerced to 0.0)
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from featurescreening_jl_spark.operators.text_analysis import (
            encoding_quality,
        )

        schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("text", StringType()),
            ]
        )
        docs = spark.createDataFrame([(0, None), (1, "")], schema)
        rows = {r["doc_id"]: r for r in encoding_quality(docs).collect()}
        assert rows[0].asDict() == {**rows[1].asDict(), "doc_id": 0}
        assert rows[0]["n_chars"] == 0
        assert rows[0]["n_replacement"] == 0
        assert rows[0]["replacement_ratio"] == 0.0
        assert rows[0]["encoding_ok"]

    def test_tab_newline_cr_are_not_control_damage(self, spark):
        from featurescreening_jl_spark.operators.text_analysis import (
            encoding_quality,
        )

        docs = spark.createDataFrame(
            [(0, "a\tb\nc\rd")], ["doc_id", "text"]
        )
        [r] = encoding_quality(docs).collect()
        assert r["n_control"] == 0 and r["encoding_ok"]

    def test_map_only_plan(self, spark):
        from featurescreening_jl_spark.operators.text_analysis import (
            encoding_quality,
        )

        docs = spark.createDataFrame([(0, "t")], ["doc_id", "text"])
        plan = (
            encoding_quality(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan

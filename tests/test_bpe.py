"""Distributed BPE: the Spark trainer must reproduce a pure-Python
reference implementation merge-for-merge (same tie-breaks), and the
Arrow encoder must replay the training segmentation.

BPE is inherently iterative (each merge depends on the previous state),
so it is the documented non-SQL-expressible operator class — correctness
is pinned here instead of a DuckDB oracle.
"""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from featurescreening_jl_spark.operators.bpe import (
    _EOW,
    bpe_encode,
    bpe_encode_word,
    learn_bpe,
    word_counts,
)

CORPUS = [
    (1, "low low low low low"),
    (2, "lower lower widest widest widest"),
    (3, "newest newest newest newest newest newest"),
    (4, "the lowest newest widest low"),
]


def _ref_word_counts(rows):
    c = Counter()
    for _, text in rows:
        for w in re.split(r"[^a-z0-9']+", text.lower()):
            if w:
                c[w] += 1
    return c


def _ref_learn(rows, n_merges):
    words = {
        tuple(list(w) + [_EOW]): n for w, n in _ref_word_counts(rows).items()
    }
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, n in words.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        # same tie-break as the Spark trainer: count desc, then pair asc
        (l, r), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if n <= 1:
            break
        merges.append((l, r))
        new_words = {}
        for syms, cnt in words.items():
            out = []
            for s in syms:  # fold-left greedy, matching _apply_merge
                if out and out[-1] == l and s == r:
                    out[-1] = l + r
                else:
                    out.append(s)
            new_words[tuple(out)] = new_words.get(tuple(out), 0) + cnt
        words = new_words
    return merges, words


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(CORPUS, "doc_id int, text string")


def test_learn_bpe_matches_python_reference(spark, corpus_df):
    # default threshold routes this tiny vocab through the DRIVER loop
    got = learn_bpe(corpus_df, 12, checkpoint_every=4)
    want, _ = _ref_learn(CORPUS, 12)
    assert got == want
    assert len(got) >= 8  # non-vacuous: the corpus supports many merges


def test_learn_bpe_distributed_path_matches_reference(spark, corpus_df):
    # driver_threshold=0 forces the per-merge Spark loop; must agree
    # merge-for-merge with both the reference and the driver path
    got = learn_bpe(corpus_df, 12, checkpoint_every=4, driver_threshold=0)
    want, _ = _ref_learn(CORPUS, 12)
    assert got == want
    assert got == learn_bpe(corpus_df, 12)


def test_learn_bpe_stops_when_saturated(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id int, text string"
    )
    # every pair occurs once -> nothing repeats -> no merges learned
    assert learn_bpe(df, 10) == []


def test_encode_replays_training_segmentation(spark, corpus_df):
    # rank-greedy encoding of each training word must reproduce the
    # trainer's final symbol table exactly
    merges = learn_bpe(corpus_df, 12, checkpoint_every=4)
    _, final_words = _ref_learn(CORPUS, 12)
    ranks = {p: i for i, p in enumerate(merges)}
    for syms in final_words:
        word = "".join(syms).removesuffix(_EOW)
        assert tuple(bpe_encode_word(word, ranks)) == syms, word


def test_bpe_encode_dataframe_matches_word_encoder(spark, corpus_df):
    merges = learn_bpe(corpus_df, 12, checkpoint_every=4)
    ranks = {p: i for i, p in enumerate(merges)}
    out = {
        r["doc_id"]: (list(r["bpe_tokens"]), r["n_bpe_tokens"])
        for r in bpe_encode(corpus_df, merges).collect()
    }
    for doc_id, text in CORPUS:
        want = []
        for w in re.split(r"[^a-z0-9']+", text.lower()):
            if w:
                want.extend(bpe_encode_word(w, ranks))
        assert out[doc_id] == (want, len(want)), doc_id
    # unseen words still encode (fall back toward characters)
    novel = spark.createDataFrame(
        [(9, "zzz lowest")], "doc_id int, text string"
    )
    row = bpe_encode(novel, merges).collect()[0]
    assert row["n_bpe_tokens"] >= 4
    assert "".join(row["bpe_tokens"]).replace(_EOW, "") == "zzzlowest"


def test_word_counts_is_one_aggregate(spark, corpus_df):
    wc = {r["word"]: r["cnt"] for r in word_counts(corpus_df).collect()}
    assert wc["low"] == 6 and wc["newest"] == 7
    plan = word_counts(corpus_df)._jdf.queryExecution().executedPlan()
    assert str(plan).count("Exchange hashpartitioning") == 1


def test_encode_oracle_sql_quotes_apostrophe_symbols():
    # the DuckDB oracle inlines the merge list as SQL string literals;
    # symbols may contain ' (the word pattern keeps apostrophes), so an
    # unescaped quote would end the literal. Needs no SparkSession.
    import os
    import sys

    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    merges = [("n", "'"), ("n'", "t")]
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT 1 AS doc_id, 'don''t' AS text")
    got = con.execute(entrymod._bpe_encode_oracle(merges)).fetchall()
    want = bpe_encode_word("don't", {p: i for i, p in enumerate(merges)})
    assert want == ["d", "o", "n't", _EOW]
    assert got == [(1, len(want), " ".join(want))]

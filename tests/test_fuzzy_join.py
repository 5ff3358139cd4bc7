"""Tests for the sound edit-distance join (operators/fuzzy_join)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


def _brute(spark, left, right, k):
    return set(
        (r["id_a"], r["id_b"], r["dist"])
        for r in left.select(
            F.col("doc_id").alias("id_a"), F.col("text").alias("__ta")
        )
        .crossJoin(
            right.select(
                F.col("doc_id").alias("id_b"), F.col("text").alias("__tb")
            )
        )
        .withColumn("dist", F.levenshtein("__ta", "__tb"))
        .where(F.col("dist") <= k)
        .collect()
    )


def _corpus(spark, seed, n=60, with_short=False):
    rng = random.Random(seed)
    alphabet = "abcdefgh"
    base = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(12, 30)))
        for _ in range(n)
    ]
    rows = [(i, s) for i, s in enumerate(base)]
    # seeded near-copies: substitutions / deletions / insertions
    for j in range(0, n, 4):
        s = list(base[j])
        for _ in range(rng.randint(1, 2)):
            op = rng.choice("sdi")
            pos = rng.randrange(len(s))
            if op == "s":
                s[pos] = rng.choice(alphabet)
            elif op == "d" and len(s) > 2:
                del s[pos]
            else:
                s.insert(pos, rng.choice(alphabet))
        rows.append((1000 + j, "".join(s)))
    if with_short:
        rows += [(2000, "ab"), (2001, "ac"), (2002, "b"), (2003, "abcd")]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestEditDistanceJoin:
    @pytest.mark.parametrize("k", [1, 2, 3])
    @pytest.mark.parametrize("prefix", [False, True])
    def test_equals_brute_force(self, spark, k, prefix):
        from featurescreening_jl_spark.operators.fuzzy_join import (
            edit_distance_join,
        )

        docs = _corpus(spark, seed=7 + k)
        got = set(
            (r["id_a"], r["id_b"], r["dist"])
            for r in edit_distance_join(
                docs, docs, max_dist=k, prefix_filter=prefix
            ).collect()
        )
        assert got == _brute(spark, docs, docs, k)
        # non-vacuous: the seeded near-copies must actually match
        assert any(a != b for a, b, _ in got)

    def test_short_strings_covered(self, spark):
        """pairs where BOTH strings sit at/below the vacuous-bound length
        must still be found (they can share zero q-grams)"""
        from featurescreening_jl_spark.operators.fuzzy_join import (
            edit_distance_join,
        )

        docs = _corpus(spark, seed=3, with_short=True)
        k = 1
        for prefix in (False, True):
            got = set(
                (r["id_a"], r["id_b"], r["dist"])
                for r in edit_distance_join(
                    docs, docs, max_dist=k, prefix_filter=prefix
                ).collect()
            )
            assert got == _brute(spark, docs, docs, k), prefix
            # "ab" ~ "ac": zero shared 3-grams
            assert (2000, 2001, 1) in got, prefix

    def test_repetitive_strings_covered_by_prefix_path(self, spark):
        """a long repetitive string has ONE distinct gram (<= k*q): the
        prefix bound is vacuous despite the length — must fall back"""
        from featurescreening_jl_spark.operators.fuzzy_join import (
            edit_distance_join,
        )

        docs = spark.createDataFrame(
            [(1, "a" * 30), (2, "a" * 29 + "b"), (3, "c" * 30)],
            "doc_id long, text string",
        )
        got = set(
            (r["id_a"], r["id_b"], r["dist"])
            for r in edit_distance_join(
                docs, docs, max_dist=1, prefix_filter=True
            ).collect()
        )
        assert got == _brute(spark, docs, docs, 1)
        assert (1, 2, 1) in got

    def test_gram_df_cap_is_lossless(self, spark, caplog):
        """dropping hot grams lowers the bound by the dropped mass — the
        cap must change candidates, never results — and the cap is
        reported like every other hot-key cap"""
        import logging
        import time

        from featurescreening_jl_spark.operators.fuzzy_join import (
            edit_distance_join,
        )

        docs = _corpus(spark, seed=11)
        a = set(
            map(tuple, edit_distance_join(docs, docs, max_dist=2).collect())
        )
        with caplog.at_level(
            logging.WARNING,
            logger="featurescreening_jl_spark.operators.dedup",
        ):
            b = set(
                map(
                    tuple,
                    edit_distance_join(
                        docs, docs, max_dist=2, max_gram_df=3
                    ).collect(),
                )
            )
            # the report is logged by a daemon thread a hair after the
            # action returns
            deadline = time.monotonic() + 10
            while time.monotonic() < deadline and not any(
                "capped" in r.message for r in caplog.records
            ):
                time.sleep(0.05)
        assert a == b
        assert any(
            "capped" in r.message and "edit_distance_join" in r.message
            for r in caplog.records
        )

    def test_cross_table_and_zero_k(self, spark):
        from featurescreening_jl_spark.operators.fuzzy_join import (
            edit_distance_join,
        )

        left = spark.createDataFrame(
            [(1, "hello world"), (2, "spark")], "doc_id long, text string"
        )
        right = spark.createDataFrame(
            [(10, "hello world"), (11, "hello worlds"), (12, "flink")],
            "doc_id long, text string",
        )
        out = {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in edit_distance_join(
                left, right, max_dist=0
            ).collect()
        }
        assert out == {(1, 10): 0}

    def test_rejects_bad_args(self, spark):
        from featurescreening_jl_spark.operators.fuzzy_join import (
            edit_distance_join,
        )

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="max_dist"):
            edit_distance_join(df, df, max_dist=-1)
        with pytest.raises(ValueError, match="q"):
            edit_distance_join(df, df, q=1)

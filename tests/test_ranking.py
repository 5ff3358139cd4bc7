"""Exact distributed global ranking (operators/ranking.py): correctness
vs a driver-side sort, partition-count invariance, descending order,
the no-single-task plan property, and the curriculum bucket contract."""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import functions as F

from featurescreening_jl_spark.operators.ranking import (
    curriculum_buckets,
    global_rank,
)

pytestmark = pytest.mark.spark


class TestGlobalRank:
    def _df(self, spark, n=500):
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            (F.xxhash64("id") % 97).alias("score"),
        )

    def test_matches_driver_sort_and_partition_invariance(self, spark):
        df = self._df(spark)
        expect = [
            r["doc_id"]
            for r in sorted(
                df.collect(), key=lambda r: (r["score"], r["doc_id"])
            )
        ]
        for parts in (3, 8, 64):
            got = (
                global_rank(df, ["score", "doc_id"], num_partitions=parts)
                .orderBy("rank")
                .collect()
            )
            assert [r["rank"] for r in got] == list(range(1, 501)), parts
            assert [r["doc_id"] for r in got] == expect, parts

    def test_descending(self, spark):
        df = self._df(spark, 100)
        got = (
            global_rank(
                df, ["score", "doc_id"], ascending=False, num_partitions=5
            )
            .orderBy("rank")
            .collect()
        )
        keys = [(r["score"], r["doc_id"]) for r in got]
        assert keys == sorted(keys, reverse=True)

    def test_never_single_task(self, spark):
        # the scale property: ranking 500 rows across 8 range partitions
        # means no stage processes everything in one task — pin that the
        # plan contains a rangepartitioning exchange and NO global-sort
        # single-partition window
        df = self._df(spark)
        plan = (
            global_rank(df, ["score", "doc_id"], num_partitions=8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Window" not in plan
        # ranks spread across partitions: every partition holds some rows
        ranked = global_rank(df, ["score", "doc_id"], num_partitions=8)
        per_part = (
            ranked.select(F.spark_partition_id().alias("p"))
            .groupBy("p")
            .count()
            .collect()
        )
        assert len(per_part) > 1


    def test_plan_is_one_jvm_projection(self, spark):
        # the rank is element_at(offsets, pid + 1) + pos + 1 over the
        # checkpointed frame: no Python worker, no broadcast join
        plan = (
            global_rank(self._df(spark), ["score", "doc_id"], num_partitions=8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for node in ("Python", "ArrowEval", "MapInPandas", "MapInArrow",
                     "BroadcastExchange", "Window"):
            assert node not in plan, (node, plan)


class TestCurriculumBuckets:
    def test_equal_frequency_and_remainder(self, spark):
        df = spark.range(10).select(
            F.col("id").alias("doc_id"), F.col("id").alias("score")
        )
        out = sorted(
            curriculum_buckets(df, "score", "doc_id", 3).collect(),
            key=lambda r: r["rank"],
        )
        assert [r["bucket"] for r in out] == [0, 0, 0, 0, 1, 1, 1, 2, 2, 2]
        df2 = spark.range(400).select(
            F.col("id").alias("doc_id"),
            (F.xxhash64("id") % 7).alias("score"),
        )
        counts = collections.Counter(
            r["bucket"]
            for r in curriculum_buckets(df2, "score", "doc_id", 4).collect()
        )
        assert counts == {0: 100, 1: 100, 2: 100, 3: 100}

    def test_validation(self, spark):
        df = spark.range(3).select(
            F.col("id").alias("doc_id"), F.col("id").alias("score")
        )
        with pytest.raises(ValueError):
            curriculum_buckets(df, "score", "doc_id", 0)

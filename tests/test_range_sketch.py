"""Interval (range) join and KMV distinct sketch."""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from featurescreening_jl_spark.operators.range_join import range_join
from featurescreening_jl_spark.operators.sketches import kmv_distinct_by


def _t(s, us=0):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s, microseconds=us)


def _points(spark, rows):
    return spark.createDataFrame(rows, "user_id long, ts timestamp, value double")


def _intervals(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, interval_id long, start_ts timestamp, end_ts timestamp"
    )


class TestRangeJoin:
    def test_containment_and_keys(self, spark):
        pts = _points(
            spark,
            [
                (1, _t(100), 1.0),
                (1, _t(500), 2.0),   # outside
                (2, _t(100), 3.0),   # right time, wrong key
            ],
        )
        iv = _intervals(spark, [(1, 10, _t(50), _t(200))])
        out = range_join(pts, iv, by="user_id", bucket_seconds=60)
        rows = [(r["interval_id"], r["value"]) for r in out.collect()]
        assert rows == [(10, 1.0)]

    def test_multi_bucket_interval_matches_each_point_once(self, spark):
        # interval spans many buckets → replicated rows; every contained
        # point must appear EXACTLY once (pairs meet only in the point's
        # own bucket)
        pts = _points(spark, [(1, _t(s), float(s)) for s in range(0, 300, 30)])
        iv = _intervals(spark, [(1, 7, _t(0), _t(299))])
        out = range_join(pts, iv, by="user_id", bucket_seconds=60)
        vals = sorted(r["value"] for r in out.collect())
        assert vals == [float(s) for s in range(0, 300, 30)]

    def test_subsecond_boundaries_exact(self, spark):
        # 1 µs before start is OUT; exactly start is IN; exactly end is
        # IN (inclusive) / OUT (exclusive) — second-truncated comparison
        # would get all three wrong
        pts = _points(
            spark,
            [
                (1, _t(100, -1), 0.1),
                (1, _t(100, 0), 0.2),
                (1, _t(200, 0), 0.3),
            ],
        )
        iv = _intervals(spark, [(1, 1, _t(100), _t(200))])
        inc = range_join(pts, iv, by="user_id", bucket_seconds=60)
        assert sorted(r["value"] for r in inc.collect()) == [0.2, 0.3]
        exc = range_join(
            pts, iv, by="user_id", bucket_seconds=60, inclusive_end=False
        )
        assert sorted(r["value"] for r in exc.collect()) == [0.2]

    def test_no_key_join(self, spark):
        pts = _points(spark, [(1, _t(10), 1.0), (2, _t(999), 2.0)])
        iv = _intervals(spark, [(5, 1, _t(0), _t(100))]).drop("user_id")
        out = range_join(pts, iv, bucket_seconds=60)
        assert [r["value"] for r in out.collect()] == [1.0]

    def test_span_guard_raises_in_plan(self, spark):
        pts = _points(spark, [(1, _t(0), 1.0)])
        iv = _intervals(spark, [(1, 1, _t(0), _t(10_000))])
        bad = range_join(pts, iv, by="user_id", bucket_seconds=10, max_span_buckets=5)
        with pytest.raises(Exception, match="spans more than"):
            bad.collect()

    def test_overlapping_columns_rejected(self, spark):
        pts = _points(spark, [(1, _t(0), 1.0)])
        iv = _intervals(spark, [(1, 1, _t(0), _t(10))]).withColumn(
            "value", F.lit(9.9)
        )
        with pytest.raises(ValueError, match="non-key columns"):
            range_join(pts, iv, by="user_id")

    def test_equi_join_on_bucket_in_plan(self, spark):
        # the whole point vs the naive BETWEEN join: __bucket must be a
        # JOIN KEY (hash-partitionable), not a post-join filter over a
        # nested-loop product
        pts = _points(spark, [(1, _t(0), 1.0)])
        iv = _intervals(spark, [(1, 1, _t(0), _t(10))])
        plan = (
            range_join(pts, iv, by="user_id", bucket_seconds=60)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        join_line = next(l for l in plan.splitlines() if l.startswith("Join") or " Join" in l)
        assert "__bucket" in join_line
        assert "NestedLoop" not in plan


class TestKmvDistinct:
    def test_exact_below_k(self, spark):
        df = spark.createDataFrame(
            [("a", i % 7) for i in range(100)] + [("b", i) for i in range(3)],
            "g string, v long",
        )
        rows = {r["g"]: r for r in kmv_distinct_by(df, "v", by="g", k=64).collect()}
        # fewer distinct values than k → the sketch IS the value set
        assert rows["a"]["kmv_k"] == 7 and rows["a"]["kmv_estimate"] == 7.0
        assert rows["b"]["kmv_k"] == 3 and rows["b"]["kmv_estimate"] == 3.0
        assert rows["a"]["n_rows"] == 100

    def test_estimate_accuracy_and_determinism(self, spark):
        df = spark.createDataFrame(
            [("g", i) for i in range(5000)], "g string, v long"
        )
        out1 = kmv_distinct_by(df, "v", by="g", k=256).collect()[0]
        est = out1["kmv_estimate"]
        assert abs(est - 5000) / 5000 < 0.2  # ~1/sqrt(k) relative error
        # membership is a pure function of values — invariant to layout
        out2 = kmv_distinct_by(df.repartition(13), "v", by="g", k=256).collect()[0]
        assert out1 == out2

    def test_k_validation(self, spark):
        df = spark.createDataFrame([("g", 1)], "g string, v long")
        with pytest.raises(ValueError):
            kmv_distinct_by(df, "v", by="g", k=1)


def test_kmv_no_per_group_window_sort(spark):
    """The min-k must come from bounded two-level aggregates, never a
    per-group window (which sorts a group's whole distinct-hash set in
    one reducer)."""
    from featurescreening_jl_spark.operators.sketches import kmv_distinct_by

    df = spark.createDataFrame(
        [(i % 3, f"v{i}") for i in range(500)], "g int, v string"
    )
    plan = (
        kmv_distinct_by(df, "v", by="g", k=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan


def test_kmv_invariant_to_partitioning(spark):
    from featurescreening_jl_spark.operators.sketches import kmv_distinct_by

    df = spark.createDataFrame(
        [(i % 3, f"v{i}") for i in range(500)], "g int, v string"
    )
    a = sorted(map(tuple, kmv_distinct_by(df, "v", by="g", k=16).collect()))
    b = sorted(
        map(
            tuple,
            kmv_distinct_by(df.repartition(13), "v", by="g", k=16).collect(),
        )
    )
    assert a == b


class TestKmvOverlap:
    def _df(self, spark):
        rows = (
            [("A", f"v{i}") for i in range(30)]
            + [("B", f"v{i}") for i in range(15, 45)]  # |A∩B|=15, |A∪B|=45
            + [("C", f"w{i}") for i in range(10)]  # disjoint from A and B
        )
        return spark.createDataFrame(rows, "g string, v string")

    def test_exact_when_k_covers_union(self, spark):
        from featurescreening_jl_spark.operators.sketches import kmv_overlap

        out = {
            (r["g_a"], r["g_b"]): r
            for r in kmv_overlap(self._df(spark), "v", "g", k=512).collect()
        }
        assert set(out) == {("A", "B"), ("A", "C"), ("B", "C")}
        ab = out[("A", "B")]
        assert (ab["k_union"], ab["k_inter"]) == (45, 15)
        assert ab["jaccard_est"] == pytest.approx(15 / 45, abs=1e-6)
        for pair in [("A", "C"), ("B", "C")]:
            assert out[pair]["k_inter"] == 0
            assert out[pair]["jaccard_est"] == 0.0

    def test_estimator_matches_pure_python_replay(self, spark):
        """k below the union size: the sketch-space estimate must equal a
        pure-Python replay of the identical md5 bottom-k definition —
        pinning the estimator itself, not just its plumbing."""
        import hashlib

        from featurescreening_jl_spark.operators.sketches import kmv_overlap

        k = 8
        sets = {
            "A": {f"v{i}" for i in range(30)},
            "B": {f"v{i}" for i in range(15, 45)},
        }

        def h60(v):
            return int(hashlib.md5(v.encode()).hexdigest()[:15], 16) / float(
                1 << 60
            )

        sk = {g: sorted(map(h60, vs))[:k] for g, vs in sets.items()}
        merged = sorted(set(sk["A"]) | set(sk["B"]))[:k]
        inter = [u for u in merged if u in set(sk["A"]) & set(sk["B"])]
        expect = (len(merged), len(inter), round(len(inter) / len(merged), 6))

        row = (
            kmv_overlap(self._df(spark), "v", "g", k=k)
            .filter((F.col("g_a") == "A") & (F.col("g_b") == "B"))
            .collect()[0]
        )
        assert (row["k_union"], row["k_inter"], row["jaccard_est"]) == expect

    def test_invariant_to_partitioning(self, spark):
        from featurescreening_jl_spark.operators.sketches import kmv_overlap

        df = self._df(spark)
        a = sorted(map(tuple, kmv_overlap(df, "v", "g", k=8).collect()))
        b = sorted(
            map(tuple, kmv_overlap(df.repartition(11), "v", "g", k=8).collect())
        )
        assert a == b

    def test_no_window_and_broadcast_pairs(self, spark):
        """Plan shape: min-k via bounded aggregates (no Window), and the
        pairwise stage a broadcast join over the sketch rows."""
        from featurescreening_jl_spark.operators.sketches import kmv_overlap

        plan = (
            kmv_overlap(self._df(spark), "v", "g", k=8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Window" not in plan
        assert "Broadcast" in plan


class TestKSStatistic:
    def _np_ks(self, xa, xb):
        import numpy as np

        allv = np.sort(np.unique(np.round(np.concatenate([xa, xb]), 6)))
        fa = np.searchsorted(
            np.sort(np.round(xa, 6)), allv, side="right"
        ) / len(xa)
        fb = np.searchsorted(
            np.sort(np.round(xb, 6)), allv, side="right"
        ) / len(xb)
        d = np.abs(fa - fb)
        i = d.argmax()
        return round(float(d.max()), 6), float(allv[i])

    def test_matches_numpy_ecdf_replay(self, spark):
        import numpy as np

        from featurescreening_jl_spark.operators.profiling import (
            ks_statistic,
        )

        rng = np.random.default_rng(5)
        xa = rng.normal(0, 1, 4000)
        xb = rng.normal(0.3, 1.2, 3000)
        a = spark.createDataFrame([(float(x),) for x in xa], "value double")
        b = spark.createDataFrame([(float(x),) for x in xb], "value double")
        [row] = ks_statistic(a, b, "value").collect()
        want_d, want_v = self._np_ks(xa, xb)
        assert abs(row["ks_stat"] - want_d) < 2e-6
        assert abs(row["at_value"] - want_v) < 1e-9
        assert (row["n_a"], row["n_b"]) == (4000, 3000)

    def test_identical_distributions_give_zero(self, spark):
        from featurescreening_jl_spark.operators.profiling import (
            ks_statistic,
        )

        df = spark.range(500).select((F.col("id") % 37).cast("double").alias("value"))
        [row] = ks_statistic(df, df, "value").collect()
        assert row["ks_stat"] == 0.0

    def test_disjoint_distributions_give_one(self, spark):
        from featurescreening_jl_spark.operators.profiling import (
            ks_statistic,
        )

        a = spark.range(100).select(F.col("id").cast("double").alias("value"))
        b = spark.range(100).select(
            (F.col("id") + 1000).cast("double").alias("value")
        )
        [row] = ks_statistic(a, b, "value").collect()
        assert row["ks_stat"] == 1.0
        assert row["at_value"] == 99.0  # end of a's support

    def test_nulls_excluded(self, spark):
        from featurescreening_jl_spark.operators.profiling import (
            ks_statistic,
        )

        a = spark.createDataFrame(
            [(1.0,), (2.0,), (None,)], "value double"
        )
        b = spark.createDataFrame([(1.0,), (2.0,)], "value double")
        [row] = ks_statistic(a, b, "value").collect()
        assert row["n_a"] == 2 and row["n_b"] == 2
        assert row["ks_stat"] == 0.0

    def test_distinct_value_cap_fails_the_query(self, spark, monkeypatch):
        from featurescreening_jl_spark.operators import profiling

        a = spark.range(10).select(F.col("id").cast("double").alias("value"))
        b = spark.range(5).select(F.col("id").cast("double").alias("value"))
        monkeypatch.setattr(profiling, "MAX_KS_VALUES", 10)
        [row] = profiling.ks_statistic(a, b, "value").collect()
        assert (row["n_a"], row["n_b"]) == (10, 5)
        monkeypatch.setattr(profiling, "MAX_KS_VALUES", 9)
        with pytest.raises(Exception, match="more than 9 distinct values"):
            profiling.ks_statistic(a, b, "value").collect()


class TestEmbeddingDrift:
    def _drift(self, spark, ref_rows, cur_rows, dim):
        from featurescreening_jl_spark.operators.profiling import (
            embedding_drift,
        )

        ref = spark.createDataFrame(ref_rows, ["vec_id", "embedding"])
        cur = spark.createDataFrame(cur_rows, ["vec_id", "embedding"])
        return embedding_drift(ref, cur, dim=dim).collect()[0]

    def test_identical_snapshots_have_zero_drift(self, spark):
        rows = [(i, [0.5 + i * 0.01, -0.25]) for i in range(6)]
        r = self._drift(spark, rows, rows, dim=2)
        assert r["l2_shift"] == 0.0
        assert r["cosine_sim"] == 1.0
        assert r["n_ref"] == r["n_cur"] == 6

    def test_matches_numpy_replica(self, spark):
        import math

        import numpy as np

        ref_rows = [(i, [0.1 * i, -0.05 * i, 0.3]) for i in range(8)]
        cur_rows = [(i, [0.1 * i + 0.2, -0.05 * i, 0.31]) for i in range(5)]
        r = self._drift(spark, ref_rows, cur_rows, dim=3)

        def snap(v):
            return math.floor(float(v) * 1000 + 0.5)

        A = np.array([[snap(v) for v in vec] for _, vec in ref_rows])
        B = np.array([[snap(v) for v in vec] for _, vec in cur_rows])
        a, b = A.mean(axis=0), B.mean(axis=0)
        assert abs(r["l2_shift"] - np.linalg.norm(a - b)) < 1e-5
        cos = a.dot(b) / (np.linalg.norm(a) * np.linalg.norm(b))
        assert abs(r["cosine_sim"] - cos) < 1e-5

    def test_translation_moves_l2_not_direction_much(self, spark):
        # a pure positive shift on one axis: l2_shift equals the shift,
        # and n bookkeeping survives unequal sizes
        ref_rows = [(i, [1.0, 0.0]) for i in range(4)]
        cur_rows = [(i, [1.0, 0.5]) for i in range(9)]
        r = self._drift(spark, ref_rows, cur_rows, dim=2)
        assert abs(r["l2_shift"] - 500.0) < 1e-9  # 0.5 on the 10^-3 grid
        assert r["n_ref"] == 4 and r["n_cur"] == 9

    def test_empty_side_gives_zero_count_null_metrics(self, spark):
        # the documented contract (and what the oracle's COALESCE
        # replays): an empty snapshot reports its COUNT as 0 — not NULL,
        # which the oracle's per-dimension join CTE would otherwise
        # produce — while the metrics are NULL (0/0 mean is undefined)
        from featurescreening_jl_spark.operators.profiling import (
            embedding_drift,
        )

        ref = spark.createDataFrame(
            [(i, [0.1, 0.2]) for i in range(3)], ["vec_id", "embedding"]
        )
        cur = ref.where(F.col("vec_id") < 0)  # empty, same schema
        [r] = embedding_drift(ref, cur, dim=2).collect()
        assert r["n_ref"] == 3 and r["n_cur"] == 0
        assert r["l2_shift"] is None and r["cosine_sim"] is None

    def test_corpus_never_shuffles(self, spark):
        from featurescreening_jl_spark.operators.profiling import (
            embedding_drift,
        )

        ref = spark.createDataFrame(
            [(i, [0.1, 0.2]) for i in range(4)], ["vec_id", "embedding"]
        )
        cur = spark.createDataFrame(
            [(i, [0.3, 0.4]) for i in range(4)], ["vec_id", "embedding"]
        )
        plan = (
            embedding_drift(ref, cur, dim=2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # partial aggregation collapses each side map-side; the only
        # exchanges move single-row partials, never hash-partition rows
        assert "Exchange hashpartitioning" not in plan

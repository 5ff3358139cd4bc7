"""Checkpoint/resume tests: lineage records, state atomicity, and
resume-equals-fresh-run equivalence (seed streams replay identically)."""

from __future__ import annotations

import json
import os

import pytest

from featurescreening_jl_spark.operators.screen import screen
from featurescreening_jl_spark.sources.checkpoint import RoundCheckpoint

from conftest import fixture_screen_config, spark_jobs

pytestmark = pytest.mark.spark


def _run(ff, ckpt=None, resume=None, stop_after=None):
    calls = {"n": 0}

    def maybe_stop(selected):
        calls["n"] += 1
        if stop_after is not None and calls["n"] >= stop_after:
            raise KeyboardInterrupt  # simulate a mid-job crash

    return screen(
        ff,
        reduced_size=3,
        step_size=3,
        config=fixture_screen_config(),
        rng=7,
        show_progress=False,
        checkpoint=ckpt,
        resume_from=resume,
        after=maybe_stop if stop_after else None,
    )


class TestCheckpoint:
    def test_rounds_and_lineage_written(self, feature_frame, tmp_path, spark):
        root = str(tmp_path / "ckpt")
        ckpt = RoundCheckpoint(root)
        _run(feature_frame, ckpt=ckpt)
        # 11 features / step 3 → 4 rounds
        rounds = sorted(os.listdir(os.path.join(root, "rounds")))
        assert rounds == [f"round={i:04d}" for i in range(4)]
        lineage = ckpt.lineage(spark).collect()
        assert [r["round"] for r in lineage] == [0, 1, 2, 3]
        rec = json.loads(lineage[-1]["record"])
        assert rec["n_rows"] == 25
        assert rec["n_features"] == 3
        # the record carries the round's full ranking, survivors included
        ranked = {name for name, _ in rec["importances"]}
        assert set(rec["features"]) <= ranked
        assert all(isinstance(c, int) for _, c in rec["importances"])
        state = ckpt.load_state()
        assert state["round"] == 3
        assert len(state["selected"]) == 3

    def test_resume_after_crash_matches_fresh_run(self, feature_frame, tmp_path):
        fresh = _run(feature_frame)

        root = str(tmp_path / "ckpt2")
        ckpt = RoundCheckpoint(root)
        with pytest.raises(KeyboardInterrupt):
            _run(feature_frame, ckpt=ckpt, stop_after=2)  # crash after round 2
        assert ckpt.load_state()["round"] == 1  # rounds 0,1 completed

        resumed = _run(feature_frame, ckpt=ckpt, resume=root)
        assert resumed.names == fresh.names

    def test_round_frame_roundtrip(self, feature_frame, tmp_path, spark):
        root = str(tmp_path / "ckpt3")
        ckpt = RoundCheckpoint(root)
        result = _run(feature_frame, ckpt=ckpt)
        restored = ckpt.round_frame(spark, 3)
        assert set(restored.names) == set(result.names)
        assert restored.count() == 25

    def test_resume_requires_checkpoint(self, feature_frame):
        with pytest.raises(ValueError):
            screen(feature_frame, resume_from="/nope", show_progress=False)

    def test_round_frame_parquet_fallback_when_iceberg_table_missing(
        self, feature_frame, tmp_path, spark, monkeypatch
    ):
        """A checkpoint written BEFORE the Iceberg catalog was configured
        (parquet-only rounds) must stay resumable after the jar arrives:
        round_frame falls back to the parquet round dir when the round's
        Iceberg table does not exist."""
        import featurescreening_jl_spark.sources.iceberg as iceberg_mod

        root = str(tmp_path / "ckpt4")
        ckpt = RoundCheckpoint(root)
        _run(feature_frame, ckpt=ckpt)  # parquet-only rounds

        # simulate a later session WITH the catalog active; no such table
        monkeypatch.setattr(iceberg_mod, "iceberg_active", lambda s: True)
        restored = ckpt.round_frame(spark, 3)
        assert restored.count() == 25

    def test_save_round_runs_one_spark_job(self, feature_frame, tmp_path, spark):
        """A round checkpoint is the survivor write alone: its row count
        rides on the write as an Observation, and the ranking and lineage
        go to a driver-side record."""
        ckpt = RoundCheckpoint(str(tmp_path / "ckpt5"))
        jobs = []
        for i in range(3):
            selected = feature_frame.select_features(feature_frame.names[i:])
            jobs.append(spark_jobs(
                spark, f"save_round-{tmp_path.name}-{i}",
                lambda: ckpt.save_round(
                    i, selected, [(n, 1) for n in selected.names]
                ),
            ))
        assert jobs == [1, 1, 1]
        rec = json.loads(ckpt.lineage(spark).collect()[-1]["record"])
        assert rec["n_rows"] == 25 and rec["n_features"] == 9

    def test_resume_from_root_with_parquet_lineage_dir(
        self, feature_frame, tmp_path, spark
    ):
        """A root whose rounds also left a parquet ``_lineage/`` directory
        and ``importances/`` round dirs (the earlier on-disk layout) still
        resumes: resume reads only state.json, and the JSON-lines lineage
        record does not collide with the directory."""
        root = str(tmp_path / "ckpt6")
        ckpt = RoundCheckpoint(root)
        with pytest.raises(KeyboardInterrupt):
            _run(feature_frame, ckpt=ckpt, stop_after=2)
        os.remove(ckpt.lineage_path)
        for i in range(2):
            spark.createDataFrame(
                [(i, json.dumps({"round": i}))], "round long, record string"
            ).write.mode("append").parquet(os.path.join(root, "_lineage"))
            spark.createDataFrame(
                [("01", 1)], "feature string, importance long"
            ).write.parquet(
                os.path.join(root, "rounds", f"round={i:04d}", "importances")
            )

        resumed = _run(feature_frame, ckpt=RoundCheckpoint(root), resume=root)
        assert ckpt.load_state() == {"round": 3, "selected": resumed.names}
        # the parquet directory is left alone and is not read back
        assert os.path.isdir(os.path.join(root, "_lineage"))
        assert [r["round"] for r in ckpt.lineage(spark).collect()] == [2, 3]

"""Round checkpointing, lineage, and resume for the screening loop.

Engine-grade version of the reference CLI's per-pass HDF5 snapshots
(/root/reference/screen:91-100, files ``pass-NN.h5`` — write-only, manual
resume): every completed round writes

- the survivor feature frame   → ``<root>/rounds/round=NNNN/data``
- a lineage record             → one JSON line appended to
  ``<root>/lineage.jsonl`` (round, row count, survivor names, the full
  importance ranking, wall time, timestamp)
- driver state                 → ``<root>/state.json`` (atomic rename)

One round costs ONE Spark job: the survivor write carries an
``Observation`` that counts its rows, so the record needs no second scan.
The record and the state are metadata-sized and written with plain file
I/O on the driver, so ``root`` must be a driver-local path.

``screen(..., checkpoint=ckpt, resume_from=root)`` re-enters the loop after
the last completed round with the recorded survivor set (resume reads only
``state.json``); per-round seed streams are pre-spawned in ``screen`` so the
resumed run replays identical randomness.

Storage backend: a parquet directory tree by default; when the session has
the ``graft`` Iceberg catalog configured (sources/iceberg.py — requires the
runtime jar, absent in this sandbox), each round's survivor frame is ALSO
committed as an Iceberg table (``ckpt_<ns>.round_NNNN_data`` via
``writeTo(...).createOrReplace()``): one screening round = one atomic
Iceberg snapshot, replacing the parquet path's state.json rename dance
(SURVEY.md §7.3 hard part 5).
"""

from __future__ import annotations

import json
import os
import time
from typing import Any, Optional

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

__all__ = ["RoundCheckpoint"]


class RoundCheckpoint:
    def __init__(
        self,
        root: str,
        *,
        iceberg_namespace: Optional[str] = None,
    ) -> None:
        self.root = root
        # Iceberg table namespace for round snapshots; defaults to a name
        # derived from the root dir. Only used when the live session has
        # the catalog configured (iceberg_active).
        self.iceberg_namespace = iceberg_namespace or (
            "ckpt_" + os.path.basename(os.path.normpath(root)).replace("-", "_")
        )
        os.makedirs(root, exist_ok=True)
        self._t_last = time.perf_counter()

    # -- paths ---------------------------------------------------------------

    def _round_dir(self, i: int) -> str:
        return os.path.join(self.root, "rounds", f"round={i:04d}")

    @property
    def state_path(self) -> str:
        return os.path.join(self.root, "state.json")

    @property
    def lineage_path(self) -> str:
        return os.path.join(self.root, "lineage.jsonl")

    # -- write side (called by screen() after each round) ---------------------

    def save_round(self, i: int, selected, importances) -> None:
        from featurescreening_jl_spark.frame import FeatureFrame
        from featurescreening_jl_spark.sources.iceberg import (
            iceberg_active,
            write_table,
        )

        assert isinstance(selected, FeatureFrame)
        rows = Observation()
        selected._child(
            selected.df.observe(rows, F.count(F.lit(1)).alias("n")),
            selected.names,
        ).save(os.path.join(self._round_dir(i), "data"))

        spark = selected.df.sparkSession
        if iceberg_active(spark):
            # one round = one atomic Iceberg snapshot (createOrReplace)
            ns = self.iceberg_namespace
            cols = [selected.id_col, selected.label_col, *selected.names]
            write_table(
                selected.df.select(*cols), f"{ns}.round_{i:04d}_data"
            )

        elapsed = time.perf_counter() - self._t_last
        self._t_last = time.perf_counter()
        record = {
            "round": i,
            "n_rows": rows.get["n"],
            "n_features": selected.n_features,
            "features": selected.names,
            "importances": [[str(n), int(c)] for n, c in importances],
            "wall_sec": round(elapsed, 3),
            "ts": time.time(),
        }
        with open(self.lineage_path, "a") as fh:
            fh.write(json.dumps(record) + "\n")

        state = {"round": i, "selected": selected.names}
        tmp = self.state_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(state, fh)
        os.replace(tmp, self.state_path)  # atomic: readers never see a torn state

    # -- read side -------------------------------------------------------------

    def load_state(self, root: Optional[str] = None) -> Optional[dict[str, Any]]:
        path = os.path.join(root or self.root, "state.json")
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    def lineage(self, spark: SparkSession):
        """The lineage table ``(round long, record string)``: one JSON
        record per completed round, ordered by round."""
        records = []
        if os.path.exists(self.lineage_path):
            with open(self.lineage_path) as fh:
                records = [
                    (json.loads(line)["round"], line.rstrip("\n"))
                    for line in fh
                    if line.strip()
                ]
        return spark.createDataFrame(
            sorted(records, key=lambda r: r[0]), "round long, record string"
        )

    def round_frame(self, spark: SparkSession, i: int):
        from featurescreening_jl_spark.frame import FeatureFrame
        from featurescreening_jl_spark.sources.iceberg import iceberg_active

        # Prefer the Iceberg snapshot, but only if this round's table
        # actually exists: a checkpoint written before the catalog was
        # configured (parquet-only rounds) must stay resumable after the
        # Iceberg jar is installed — the parquet round dir is the source
        # of truth for those rounds.
        if iceberg_active(spark):
            table = f"graft.{self.iceberg_namespace}.round_{i:04d}_data"
            try:
                exists = spark.catalog.tableExists(table)
            except Exception:  # unregistered catalog → same as no table
                exists = False
            if exists:
                return FeatureFrame.load(spark, table)
        return FeatureFrame.load(spark, os.path.join(self._round_dir(i), "data"))

"""FeatureFrame — the engine's labeled feature-matrix abstraction.

Spark-first re-expression of the reference's ``FeatureSet{L,N,F}`` (a dense
in-memory labeled matrix with named columns, reference
/root/reference/src/FeatureScreening.jl:33-52 and FeatureSets.jl as used
there). Here it is a lazy ``pyspark.sql.DataFrame`` with schema
``(sample_id long, label string, <double per feature>)`` plus an explicit
ordered feature-name list — exactly the reference's ``names`` vector.

Design notes for scale:
- Column projection (= the reference's ``@view fs[:, names]``,
  /root/reference/src/FeatureScreening.jl:147,154,169) is ``df.select``:
  O(1) plan metadata; Catalyst column pruning pushes it into the parquet /
  Iceberg scan, so a screening round over a 100 TB table only reads the
  ≤ (reduced_size + step_size) columns it touches.
- Horizontal ``merge`` (/root/reference/src/FeatureScreening.jl:159) of two
  projections of the SAME base is a wider ``select`` — no join, no shuffle.
  Only when the two sides are materialized separately does it become an
  equi-join on ``sample_id``.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["FeatureFrame"]


class FeatureFrame:
    """A labeled feature matrix: lazy DataFrame + ordered feature names."""

    def __init__(
        self,
        df: DataFrame,
        feature_names: Sequence[str],
        label_col: str = "label",
        id_col: str = "sample_id",
    ) -> None:
        missing = [c for c in (id_col, label_col) if c not in df.columns]
        if missing:
            raise ValueError(f"DataFrame missing required columns: {missing}")
        absent = [n for n in feature_names if n not in df.columns]
        if absent:
            raise ValueError(f"feature columns not in DataFrame: {absent[:5]}")
        self.df = df
        self.feature_names: list[str] = [str(n) for n in feature_names]
        self.label_col = label_col
        self.id_col = id_col
        self._labels_cache: Optional[list[str]] = None
        # the widest DataFrame this frame is a projection of; lets merge()
        # recognize two DISJOINT projections of one (cached, possibly
        # laid-out) base and re-project from it instead of joining —
        # keeps every screening round map-only over the cached partitions
        self._base: DataFrame = df

    # distinct_labels() materializes the class list on the driver; the
    # class-count contract says that list is tiny (it sizes one-hot
    # label vectors, per-class counts, the CLI's class report). A label
    # column that is accidentally an ID would otherwise stream the whole
    # distinct-key set through the driver — cap it loudly instead, the
    # same guard bpe.py's driver_threshold puts on its word table.
    MAX_DISTINCT_LABELS = 10_000

    def distinct_labels(self) -> list[str]:
        """Sorted distinct label values (cached — label cardinality is the
        class count, tiny; the scan happens once per base frame, not once
        per screening round). Raises if the cardinality exceeds
        :data:`MAX_DISTINCT_LABELS` — the ``limit(cap + 1)`` bounds the
        driver transfer BEFORE the check, so a pathological label column
        (an ID passed as the label) fails fast instead of OOMing the
        driver."""
        if self._labels_cache is None:
            cap = self.MAX_DISTINCT_LABELS
            rows = (
                self.df.select(self.label_col)
                .distinct()
                .limit(cap + 1)
                .collect()
            )
            if len(rows) > cap:
                raise ValueError(
                    f"label column {self.label_col!r} has more than "
                    f"{cap} distinct values — that is an ID, not a class "
                    f"label; pass the real label column (or raise "
                    f"FeatureFrame.MAX_DISTINCT_LABELS if you genuinely "
                    f"train with this many classes)"
                )
            self._labels_cache = sorted(r[0] for r in rows)
        return self._labels_cache

    def _child(self, df: DataFrame, names: list[str]) -> "FeatureFrame":
        child = FeatureFrame(df, names, label_col=self.label_col, id_col=self.id_col)
        child._labels_cache = self._labels_cache
        child._base = self._base
        return child

    # -- constructors --------------------------------------------------------

    @classmethod
    def from_arrays(
        cls,
        spark: SparkSession,
        labels: Sequence,
        names: Sequence,
        X: np.ndarray,
        *,
        num_partitions: Optional[int] = None,
    ) -> "FeatureFrame":
        """Build from (labels, names, matrix) — the reference's primary
        constructor shape (rows = samples, columns = features)."""
        X = np.asarray(X, dtype=np.float64)
        n_rows, n_cols = X.shape
        if len(labels) != n_rows:
            raise ValueError(f"{len(labels)} labels for {n_rows} rows")
        if len(names) != n_cols:
            raise ValueError(f"{len(names)} names for {n_cols} columns")
        str_names = [str(n) for n in names]
        import pandas as pd

        pdf = pd.DataFrame(X, columns=str_names)
        pdf.insert(0, "label", [str(lbl) for lbl in labels])
        pdf.insert(0, "sample_id", np.arange(n_rows, dtype=np.int64))
        df = spark.createDataFrame(pdf)
        if num_partitions:
            df = df.repartition(num_partitions)
        return cls(df, str_names)

    @classmethod
    def from_xy(
        cls, spark: SparkSession, X: np.ndarray, y: Sequence
    ) -> "FeatureFrame":
        """``FeatureSet(X, y)`` shape: names default to 1-based integer
        indices, stringified (the reference CLI stringifies integer names
        too, /root/reference/screen:75-79)."""
        X = np.asarray(X, dtype=np.float64)
        names = [str(i) for i in range(1, X.shape[1] + 1)]
        return cls.from_arrays(spark, y, names, X)

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        label_col: str = "label",
        id_col: str = "sample_id",
    ) -> "FeatureFrame":
        """Read a persisted feature table (parquet directory / Iceberg table
        name). Feature columns = all numeric columns except id/label."""
        df = spark.table(path) if "/" not in path else spark.read.parquet(path)
        numeric = (
            T.DoubleType,
            T.FloatType,
            T.LongType,
            T.IntegerType,
            T.ShortType,
        )
        names = [
            f.name
            for f in df.schema.fields
            if f.name not in (label_col, id_col) and isinstance(f.dataType, numeric)
        ]
        return cls(df, names, label_col=label_col, id_col=id_col)

    def save(self, path: str, mode: str = "overwrite") -> None:
        cols = [self.id_col, self.label_col, *self.feature_names]
        self.df.select(*[F.col(c) for c in cols]).write.mode(mode).parquet(path)

    # -- reference FeatureSet contract ---------------------------------------

    @property
    def names(self) -> list[str]:
        """Ordered feature-name vector (reference ``names(fs)``)."""
        return list(self.feature_names)

    @property
    def n_features(self) -> int:
        return len(self.feature_names)

    def count(self) -> int:
        return self.df.count()

    def select_features(self, names: Sequence[str]) -> "FeatureFrame":
        """Order-preserving column projection by name list — the reference's
        ``@view fs[:, names]``. Lazy; prunes down to the scan."""
        names = [str(n) for n in names]
        have = set(self.feature_names)
        absent = [n for n in names if n not in have]
        if absent:
            raise KeyError(f"unknown feature(s): {absent[:5]}")
        cols = [self.id_col, self.label_col, *names]
        return self._child(self.df.select(*[F.col(c) for c in cols]), names)

    def merge(self, other: "FeatureFrame") -> "FeatureFrame":
        """Row-aligned horizontal concatenation (reference ``merge(a, b)``).

        Shared-base fast path: both sides are projections of one DataFrame →
        a single wider ``select`` (no shuffle). Otherwise an equi-join on
        ``sample_id``; Spark broadcasts / AQE-plans the physical join.
        Duplicate names are rejected (disjoint by construction in the
        screening loop, /root/reference/src/FeatureScreening.jl:149).
        """
        dup = set(self.feature_names) & set(other.feature_names)
        if dup:
            raise ValueError(f"duplicate feature names in merge: {sorted(dup)[:5]}")
        merged_names = self.feature_names + other.feature_names
        if self._base is other._base and all(
            c in self._base.columns for c in merged_names
        ):
            # disjoint projections of ONE base (the screening loop's
            # selected ⊕ new-slice every round): re-project from the base —
            # no join, and the base's caching/partitioning is preserved
            cols = [self.id_col, self.label_col, *merged_names]
            return self._child(
                self._base.select(*[F.col(c) for c in cols]), merged_names
            )
        right = other.df.select(
            F.col(other.id_col).alias(self.id_col), *other.feature_names
        )
        joined = self.df.select(
            self.id_col, self.label_col, *self.feature_names
        ).join(right, on=self.id_col, how="inner")
        return self._child(joined, merged_names)

    def to_pandas(self):
        cols = [self.id_col, self.label_col, *self.feature_names]
        return (
            self.df.select(*[F.col(c) for c in cols])
            .orderBy(self.id_col)
            .toPandas()
        )

    def __repr__(self) -> str:
        return (
            f"FeatureFrame(n_features={self.n_features}, "
            f"label_col={self.label_col!r}, id_col={self.id_col!r})"
        )

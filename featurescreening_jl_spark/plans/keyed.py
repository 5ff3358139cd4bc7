"""Whole-key blocks over Arrow batches: the engine's one keyed-batch runner.

A grouped-map ``applyInPandas`` pays the pandas call machinery once per
KEY (~3 ms/group measured: ~5 s of call overhead for 1,500 conversations
at sf0.1). ``map_key_blocks`` instead hash-partitions on the keys, sorts
each partition by ``(keys, order)`` and runs one ``mapInPandas`` whose
kernel sees many keys per call. A key may straddle an Arrow batch
boundary, so each batch's trailing key is held back and stitched onto the
next batch: the kernel only ever sees whole keys, whatever
``spark.sql.execution.arrow.maxRecordsPerBatch`` is.

Memory per call is O(batch + largest single key); a key with more rows
than executor memory must be pre-capped, as for every grouped operator.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

__all__ = ["key_starts", "map_key_blocks", "stitch_key_blocks"]

Block = Callable[[pd.DataFrame, np.ndarray], pd.DataFrame]


def key_starts(pdf: pd.DataFrame, keys: Sequence[str]) -> np.ndarray:
    """First-row index of every key run in a key-sorted, non-empty
    ``pdf``."""
    change = np.zeros(len(pdf), dtype=bool)
    change[0] = True
    for c in keys:
        col = pdf[c].to_numpy()
        change[1:] |= col[1:] != col[:-1]
    return np.flatnonzero(change)


def stitch_key_blocks(
    batches: Iterable[pd.DataFrame], keys: Sequence[str], block: Block
) -> Iterator[pd.DataFrame]:
    """Call ``block(pdf, starts)`` on key-sorted ``batches`` regrouped so
    that every ``pdf`` holds whole keys: the trailing key of each batch
    waits for the next one. ``starts`` is :func:`key_starts` of ``pdf``."""
    buf = None
    for pdf in batches:
        if not len(pdf):
            continue
        if buf is not None:
            pdf = pd.concat([buf, pdf], ignore_index=True)
        starts = key_starts(pdf, keys)
        cut = int(starts[-1])
        if cut:
            yield block(pdf.iloc[:cut].reset_index(drop=True), starts[:-1])
        buf = pdf.iloc[cut:].reset_index(drop=True)
    if buf is not None and len(buf):
        yield block(buf, np.zeros(1, dtype=np.int64))


def map_key_blocks(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    block: Block,
    schema: str,
) -> DataFrame:
    """Run ``block(pdf, starts)`` over ``df`` in whole-key blocks sorted by
    ``(keys, order)``; ``schema`` is the DDL of the frames ``block``
    returns. One shuffle on ``keys``, then map-only."""
    keys = list(keys)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return stitch_key_blocks(batches, keys, block)

    prepped = df.repartition(*keys).sortWithinPartitions(*keys, *order)
    return prepped.mapInPandas(run, schema)

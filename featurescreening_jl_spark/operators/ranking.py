"""Exact DISTRIBUTED global ranking and rank-derived bucketing.

Every other ranking in the engine is per-group (``expanding_rank``,
``row_number`` over conv_id, per-cluster argmax). A corpus-level exact
rank — "where does this document sit in the GLOBAL quality order?" — is
the primitive behind curriculum ordering, exact equal-frequency binning,
and top-fraction cuts, and the naive Spark spelling
(``row_number() OVER (ORDER BY ...)`` with no partition key) collapses
the whole corpus into ONE task, which is exactly the plan a 100 TB run
cannot survive.

``global_rank`` computes the same exact answer distributed:

1. ``repartitionByRange`` on the order columns — Spark's range
   partitioner (sampled boundaries) puts partition *i*'s every row
   before partition *i+1*'s;
2. ``sortWithinPartitions`` — rows are now globally ordered across the
   partition sequence;
3. ``monotonically_increasing_id()`` tags every row with
   ``pid << 33 | pos`` — its range partition and its position in it —
   and the tagged frame is checkpointed once;
4. one tiny aggregate collects per-partition row counts (P rows — the
   ONLY driver-side state, bounded by the partition count, never data);
5. the rank is one JVM projection,
   ``element_at(<literal cumulative offsets>, pid + 1) + pos + 1`` —
   no Python, no join, zero additional shuffles after the range
   exchange.

Ties: callers must pass a TOTAL order (include a unique id as the last
order column) — with ties the within-partition position is still
deterministic for a fixed partitioning, but the rank of tied rows is
then partitioning-dependent, same caveat as any ``row_number`` ranking.
"""

from __future__ import annotations

from itertools import accumulate
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["global_rank", "curriculum_buckets"]


def global_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    *,
    rank_col: str = "rank",
    ascending: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based global rank of every row under ``order_cols``
    (a total order — append a unique id for tie-free results), without
    ever funnelling the corpus through one task.

    Plan: one range exchange (+ in-partition sort), one P-row count
    aggregate, one projection. Output schema: input columns +
    ``rank_col`` (long).
    """
    cols = [F.col(c) if ascending else F.col(c).desc() for c in order_cols]
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # materialize ONCE: the counts job and the rank projection must
    # observe the IDENTICAL partition assignment (range boundaries come
    # from sampling; recomputation is deterministic for deterministic
    # inputs, but a nondeterministic upstream — sample(), speculative
    # retry — would silently desync the two without this)
    tagged = (
        df.repartitionByRange(parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__id", F.monotonically_increasing_id())
        .localCheckpoint()
    )
    pid = F.shiftright("__id", 33)

    # P rows of driver-side state: (partition id, row count)
    sizes = dict(
        tagged.groupBy(pid.alias("__pid")).agg(F.count(F.lit(1))).collect()
    )
    offsets = F.array(*[
        F.lit(o).cast("long")
        for o in accumulate((sizes.get(p, 0) for p in range(parts)), initial=0)
    ])
    pos = F.col("__id").bitwiseAND(F.lit((1 << 33) - 1))
    rank = F.element_at(offsets, (pid + 1).cast("int")) + pos + 1
    return tagged.withColumn(rank_col, rank).drop("__id")


def curriculum_buckets(
    df: DataFrame,
    score_col: str,
    id_col: str,
    n_buckets: int,
    *,
    ascending: bool = True,
    bucket_col: str = "bucket",
    rank_col: str = "rank",
) -> DataFrame:
    """Exact equal-frequency curriculum phases: rank the corpus by
    ``score_col`` (ties broken by ``id_col`` — a total order, so the
    assignment is unique and any engine replays it) and cut into
    ``n_buckets`` contiguous phases of near-equal size, the classic
    easy→hard curriculum split. Bucket b holds ranks in
    ``(b*n/k, (b+1)*n/k]`` — identical to SQL ``ntile(k)`` only when
    ``n % k == 0``, so the contract is the explicit floor formula
    ``bucket = floor((rank-1) * k / n)``, which both engines compute
    exactly in integers.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    # row count from the INPUT (global_rank preserves rows; counting the
    # ranked output would re-run the whole rank pipeline for one scalar)
    n = df.count()
    ranked = global_rank(
        df, [score_col, id_col], ascending=ascending, rank_col=rank_col
    )
    if n == 0:
        return ranked.withColumn(bucket_col, F.lit(0).cast("int"))
    # integer DIV, not float floor: (rank-1)*k/n in doubles can misfloor
    # at exact bucket boundaries once n*k exceeds 2^53
    return ranked.withColumn(
        bucket_col,
        F.expr(
            f"CAST((({rank_col} - 1) * {int(n_buckets)}) "
            f"DIV {int(n)} AS INT)"
        ),
    )

"""Data-shape diagnostics: key-skew profiling and distribution drift.

Two operators an operations team runs BEFORE pointing a 100 TB job at a
table — both are one-aggregation plans whose outputs are tiny (top-N rows
per column, one row per histogram bin), so they are cheap at any scale:

- ``skew_profile``  — per key column: total rows, distinct keys, the
  top-N heaviest values with exact counts and corpus shares, and the
  skew factor (heaviest key's count ÷ the mean per-key count). The
  north_rule requires "partitioning / shuffle / skew handled
  explicitly"; this is the measurement half of that contract — the
  number that tells you whether a groupBy/join on this key needs
  salting (``asof_join`` and ``per_key_cap`` are the mitigation half).
  Plan: one hash-aggregate on the key (map-side combined), then top-N
  over the (already tiny) per-key counts.
- ``psi_drift``     — Population Stability Index of a numeric column
  between a reference period (``ts < split``) and the current period,
  over caller-supplied bin edges: ``PSI = Σ_b (cur_b - ref_b) *
  ln(cur_b / ref_b)``. The standard feature-drift gate in front of a
  model retrain (PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 broken).
  Bin edges are explicit literals (derive them once from a frozen
  reference snapshot) so re-runs are deterministic and the binning is a
  pure per-row expression — one scan, one tiny aggregate, no quantile
  recomputation drifting under you. Laplace-style smoothing keeps empty
  bins finite.

Reference scope: FeatureScreening.jl has no data diagnostics (it takes a
ready matrix); these belong to the pipeline-operations graft layer.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "skew_profile",
    "psi_drift",
    "bucketize",
    "heavy_hitters",
    "robust_outliers",
    "snapshot_diff",
    "ks_statistic",
    "embedding_drift",
]

# ks_statistic's cumulative window runs in ONE task over the distinct
# rounded values; past this many it fails loudly instead of exhausting that
# task (coarsen ``round_dp`` or sample the inputs).
MAX_KS_VALUES = 5_000_000


def heavy_hitters(
    df: DataFrame, key_col: str, k: int = 10, m: int = 1024
) -> DataFrame:
    """Top-k keys with EXACT counts, without a full-cardinality groupBy —
    the scale path ``skew_profile`` defers to when the key column has
    more distincts than a per-key count table should hold.

    Two phases:

    1. **Candidates** — a per-partition Misra–Gries sketch (``m``
       counters) streamed over Arrow batches: batch ``value_counts`` is
       vectorized C, the MG merge-and-decrement touches only the
       sketch's ≤ a-few-× ``m`` entries per batch (never per row). MG is
       mergeable, so every key with global frequency > N/(m+1) is
       guaranteed to survive in at least one partition's sketch
       (pigeonhole: it must be locally that frequent somewhere).
    2. **Exact recount** — the candidate set (≤ m × partitions keys,
       tiny) broadcasts back; only candidate rows are counted, so the
       aggregate's key space is the candidate set, not the column's
       cardinality.

    Counts in the output are exact. The top-k is exact whenever the
    k-th true count exceeds N/(m+1) (size ``m`` to taste: the driver
    query uses m large enough to make the guarantee unconditional on
    the test corpus; a pytest pins the small-m guarantee on a skewed
    synthetic). NULL keys count as the value ``<NULL>``, same contract
    as ``skew_profile``. Output: ``value, cnt, rank``.
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import kept local

    key = F.coalesce(F.col(key_col).cast("string"), F.lit("<NULL>"))
    keyed = df.select(key.alias("value"))

    def mg_candidates(batches):
        import numpy as np  # noqa: PLC0415

        counters: dict = {}
        for pdf in batches:
            for v, c in pdf["value"].value_counts().items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > m:
                # Misra–Gries shrink: subtract the (m+1)-th largest
                # count from everyone, drop the non-positive
                vals = np.fromiter(
                    counters.values(), dtype=np.int64, count=len(counters)
                )
                t = int(np.partition(vals, -(m + 1))[-(m + 1)])
                counters = {
                    v: c - t for v, c in counters.items() if c - t > 0
                }
        yield pd.DataFrame({"value": list(counters.keys())})

    candidates = keyed.mapInPandas(mg_candidates, "value string").distinct()
    counts = (
        keyed.join(F.broadcast(candidates), "value")
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("value"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("value", "cnt", "rank")
    )


def skew_profile(df: DataFrame, key_col: str, top_n: int = 5) -> DataFrame:
    """Top-N heavy hitters + skew factor for one key column.

    Output (≤ ``top_n`` rows): ``column, value, cnt, share, rank,
    n_distinct, skew`` where ``share = cnt / total_rows`` and ``skew =
    top1_cnt / (total_rows / n_distinct)`` (1.0 = perfectly uniform).
    NULL keys count as a value (a NULL-heavy join key is the most common
    real-world skew). Deterministic tie-break: count desc, then value.

    Scale: the per-key count aggregate is the only shuffle; everything
    after runs over ≤ n_distinct rows (and the final rank/totals over a
    single partition of exactly top-N candidate rows would only matter
    if n_distinct were huge — the window below orders the PER-KEY COUNT
    table, which is already the small side; for a key column with
    billions of distincts, cap with an approximate heavy-hitter pass
    first).
    """
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("<NULL>"))
    counts = df.groupBy(key.alias("value")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("value"))
    everything = Window.partitionBy()
    ranked = (
        counts.withColumn("rank", F.row_number().over(w))
        .withColumn("total", F.sum("cnt").over(everything))
        .withColumn("n_distinct", F.count(F.lit(1)).over(everything))
    )
    top1 = F.max(F.when(F.col("rank") == 1, F.col("cnt"))).over(everything)
    return (
        ranked.withColumn("__top1", top1)
        .filter(F.col("rank") <= top_n)
        .select(
            F.lit(key_col).alias("column"),
            "value",
            "cnt",
            F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
            "rank",
            "n_distinct",
            F.round(
                F.col("__top1") / (F.col("total") / F.col("n_distinct")), 4
            ).alias("skew"),
        )
    )


def bucketize(value: Column, edges: Sequence[float]) -> Column:
    """Bin index for explicit ``edges``: 0 for v < edges[0], k for
    edges[k-1] <= v < edges[k], len(edges) for v >= edges[-1]. A chain of
    comparisons against literals — pure codegen, no lookup structure."""
    b = F.lit(0)
    for e in edges:
        b = b + F.when(value >= F.lit(float(e)), 1).otherwise(0)
    return b


def psi_drift(
    df: DataFrame,
    value_col: str | Column,
    edges: Sequence[float],
    *,
    ts_col: str = "ts",
    split,
    smoothing: float = 0.5,
) -> DataFrame:
    """Population Stability Index per bin, reference vs current period.

    Rows with ``ts < split`` form the reference distribution, the rest the
    current one. Output: one row per bin (``bin, ref_cnt, cur_cnt,
    ref_share, cur_share, psi``) — sum ``psi`` for the headline index.
    Shares are Laplace-smoothed by ``smoothing`` pseudo-counts per bin so
    an empty bin contributes a finite penalty instead of ±inf.

    Scale: single scan → one hash aggregate keyed on (≤ len(edges)+1)
    bins; conditional counts make it one pass, not two jobs. Output and
    the share-normalizing window are O(#bins).
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    is_ref = F.col(ts_col) < F.lit(split)
    binned = df.select(
        bucketize(v.cast("double"), edges).alias("bin"), is_ref.alias("__r")
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("__r"), 1).otherwise(0)).alias("ref_cnt"),
        F.sum(F.when(~F.col("__r"), 1).otherwise(0)).alias("cur_cnt"),
    )
    everything = Window.partitionBy()
    n_bins = float(len(edges) + 1)
    lam = F.lit(float(smoothing))
    ref_share = (F.col("ref_cnt") + lam) / (
        F.sum("ref_cnt").over(everything) + lam * F.lit(n_bins)
    )
    cur_share = (F.col("cur_cnt") + lam) / (
        F.sum("cur_cnt").over(everything) + lam * F.lit(n_bins)
    )
    return per_bin.select(
        "bin",
        "ref_cnt",
        "cur_cnt",
        F.round(ref_share, 6).alias("ref_share"),
        F.round(cur_share, 6).alias("cur_share"),
        F.round(
            (cur_share - ref_share) * F.log(cur_share / ref_share), 6
        ).alias("psi"),
    )


def robust_outliers(
    df: DataFrame,
    value_col: str,
    *,
    by: str | None = None,
    threshold: float = 3.5,
    z_col: str = "robust_z",
    flag_col: str = "is_outlier",
) -> DataFrame:
    """Median/MAD outlier scoring — the Iglewicz–Hoaglin modified
    z-score ``M = 0.6745·(x − median) / MAD`` with ``|M| > threshold``
    (their recommended 3.5) flagging the row. The robust replacement for
    mean/std filters in corpus QA: a handful of 100 MB documents cannot
    drag the center the way they drag a mean.

    Dataflow: two chained single-row aggregates (median, then the median
    absolute deviation AROUND it) cross-broadcast into a map-only
    projection — the corpus never shuffles. ``percentile`` here is the
    exact interpolating aggregate (memory ∝ distinct values of the
    metric — fine for bounded count/length metrics); at true 100 TB
    swap ``approx_percentile``, the same trade documented on
    ``length_quantiles``. MAD = 0 (over half the values identical)
    yields NULL scores and ``false`` flags rather than ±inf.

    ``by`` scores each group against ITS OWN median/MAD — per-language
    length outliers, not global ones (a long German doc is normal; the
    same length in tweets is not). Grouped form: two chained percentile
    WINDOW aggregates over the same partitioning — ONE shuffle on
    ``by``, two Window nodes, still no join.
    """
    v = F.col(value_col).cast("double")
    if by is not None:
        w = Window.partitionBy(by)
        d1 = df.withColumn(
            "__med", F.percentile(v, F.lit(0.5)).over(w)
        )
        d2 = d1.withColumn(
            "__mad",
            F.percentile(F.abs(v - F.col("__med")), F.lit(0.5)).over(w),
        )
        z = F.lit(0.6745) * (v - F.col("__med")) / F.col("__mad")
        return (
            d2.withColumn(z_col, F.when(F.col("__mad") > 0, z))
            .withColumn(
                flag_col,
                F.when(
                    F.col("__mad") > 0, F.abs(z) > F.lit(float(threshold))
                ).otherwise(F.lit(False)),
            )
            .drop("__med", "__mad")
        )
    med = df.agg(
        F.expr(f"percentile(cast({value_col} as double), 0.5)").alias("__med")
    )
    mad = (
        df.crossJoin(F.broadcast(med))
        .agg(
            F.expr(
                f"percentile(abs(cast({value_col} as double) - __med), 0.5)"
            ).alias("__mad")
        )
    )
    z = F.lit(0.6745) * (v - F.col("__med")) / F.col("__mad")
    return (
        df.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .withColumn(z_col, F.when(F.col("__mad") > 0, z))
        .withColumn(
            flag_col,
            F.when(
                F.col("__mad") > 0, F.abs(z) > F.lit(float(threshold))
            ).otherwise(F.lit(False)),
        )
        .drop("__med", "__mad")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_cols: Sequence[str],
    *,
    compare_cols: Sequence[str] | None = None,
    rows: bool = False,
) -> DataFrame:
    """Diff two snapshots of the same logical table (e.g. two Iceberg
    snapshot reads): classify every key as ``added`` (only in ``new``),
    ``removed`` (only in ``old``), ``changed`` (in both, any compared
    column differs) or ``unchanged``. The audit an incremental pipeline
    runs after a backfill or a dedup re-run — "how much did this rewrite
    actually touch?".

    ``compare_cols`` defaults to all shared non-key columns. Comparison
    hashes each side's compared columns into one 64-bit fingerprint
    (``xxhash64`` over canonically-cast values with per-column NULL
    sentinels), so the join carries ``(keys, 8-byte hash)`` per side —
    never the payload — and a wide table diffs at key-column shuffle
    width. A fingerprint collision can only misclassify a changed row as
    ``unchanged`` (probability ~2⁻⁶⁴ per changed key).

    ``rows=False`` (default): one bounded summary row per status with
    ``n`` counts. ``rows=True``: per-key rows ``(id_cols…, status)`` for
    drill-down (corpus-sized — write it, don't collect it).

    Plan: each side collapses to (keys, fingerprint) map-side, then ONE
    full outer join on the key columns (co-partitioned shuffle both
    sides) and a map-only CASE; the summary form adds one bounded
    4-row aggregate. Duplicate keys within a side are the caller's bug;
    they surface as join fan-out (count them first with
    ``skew_profile``).
    """
    ids = list(id_cols)
    if not ids:
        raise ValueError("id_cols must be non-empty")
    shared = [c for c in old.columns if c in set(new.columns)]
    cmp_cols = (
        list(compare_cols)
        if compare_cols is not None
        else [c for c in shared if c not in set(ids)]
    )

    def _fp(df: DataFrame, side: str) -> DataFrame:
        # per-column NULL sentinel keeps (NULL, 'x') ≠ ('x', NULL)
        parts = [
            F.coalesce(F.col(c).cast("string"), F.lit(f"\x00null:{c}"))
            for c in cmp_cols
        ]
        fp = (
            F.xxhash64(*parts) if parts else F.lit(0).cast("long")
        )
        return df.select(*ids, fp.alias(f"__fp_{side}"),
                         F.lit(1).alias(f"__in_{side}"))

    o = _fp(old, "old")
    n = _fp(new, "new")
    joined = o.join(n, on=ids, how="full_outer")
    status = (
        F.when(F.col("__in_old").isNull(), "added")
        .when(F.col("__in_new").isNull(), "removed")
        .when(F.col("__fp_old") != F.col("__fp_new"), "changed")
        .otherwise("unchanged")
    )
    per_key = joined.select(*ids, status.alias("status"))
    if rows:
        return per_key
    return per_key.groupBy("status").agg(F.count("*").alias("n"))


def ks_statistic(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    *,
    round_dp: int = 6,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic — the
    binning-free complement to :func:`psi_drift` (PSI needs frozen
    edges; KS compares whole ECDFs and flags drift PSI's bins can
    hide).

    Returns ONE row: ``(ks_stat, at_value, n_a, n_b)`` — the max
    ``|ECDF_a − ECDF_b|`` over observed values, the value where it is
    attained (ties: smallest such value), and the two sample sizes.

    Scale shape: values round to ``round_dp`` and pre-aggregate to
    per-value counts MAP-SIDE (the 10^12-row input collapses to the
    bounded distinct-rounded-value table — ≤ a few million rows for
    doubles in any realistic range), the two count tables full-outer
    join on value, and the single cumulative window runs over that
    BOUNDED table only — one task over pre-aggregated rows, the same
    bounded-final-state class as the profile gates. Rounding shifts the
    exact statistic by at most the mass within half an ulp of a
    boundary (identical in both engines, so the oracle matches
    exactly). More than :data:`MAX_KS_VALUES` distinct rounded values
    fail the query instead of the window's one task.
    """
    va = (
        a.select(F.round(F.col(value_col).cast("double"), round_dp).alias("v"))
        .where(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n1"))
    )
    vb = (
        b.select(F.round(F.col(value_col).cast("double"), round_dp).alias("v"))
        .where(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n2"))
    )
    merged = va.join(vb, "v", "full_outer").select(
        "v",
        F.coalesce("n1", F.lit(0)).alias("n1"),
        F.coalesce("n2", F.lit(0)).alias("n2"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    curves = merged.select(
        "v",
        (F.sum("n1").over(w) / F.sum("n1").over(tot)).alias("f1"),
        (F.sum("n2").over(w) / F.sum("n2").over(tot)).alias("f2"),
        # the cardinality guard rides the existing unbounded window (no
        # extra job); coalesce keeps it in a column the output reads
        F.coalesce(
            F.assert_true(
                F.count(F.lit(1)).over(tot) <= F.lit(MAX_KS_VALUES),
                F.lit(
                    f"ks_statistic: more than {MAX_KS_VALUES} distinct "
                    f"values at round_dp={round_dp}"
                ),
            ).cast("long"),
            F.sum("n1").over(tot),
        ).alias("__na"),
        F.sum("n2").over(tot).alias("__nb"),
    ).select(
        "v",
        F.round(F.abs(F.col("f1") - F.col("f2")), round_dp).alias("d"),
        "__na",
        "__nb",
    )
    # argmax with smallest-value tie-break, as a single aggregate
    return curves.agg(
        F.max("d").alias("ks_stat"),
        # max_by on (d, -v): max d first, then the SMALLEST v among ties
        F.max_by("v", F.struct("d", (-F.col("v")).alias("nv"))).alias(
            "at_value"
        ),
        F.first("__na").alias("n_a"),
        F.first("__nb").alias("n_b"),
    ).select(
        "ks_stat",
        "at_value",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
    )


def embedding_drift(
    ref: DataFrame,
    cur: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int,
    scale: int = 3,
    round_dp: int = 6,
) -> DataFrame:
    """Centroid drift between two embedding snapshots — the
    embedding-modality member of the drift family (``psi_drift`` /
    ``ks_statistic`` watch scalar columns; a re-embedded or
    re-distributed corpus moves in vector space first). Returns ONE row:
    ``(l2_shift, cosine_sim, n_ref, n_cur)`` — the L2 distance and
    cosine between the two per-dimension mean vectors.

    Scale + determinism: vectors snap to the 10^-scale integer grid
    (``snap_fixed_point``) and each side collapses MAP-SIDE to a single
    row of ``dim`` exact int64 sums + a count — the only reduction is
    integer addition, so the aggregate is invariant to partitioning and
    core count, and the closing double-precision arithmetic runs on
    exact integers (engine-replayable at ``round_dp``; the 10^12-row
    corpus never shuffles, the drift math is a 1×1 cross join).
    Empty sides produce NULL metrics with count 0 (a global count
    aggregate is 0 on empty input, the sums NULL), not an error — the
    SQL oracle COALESCEs its per-dimension-join counts to 0 to match.
    """
    from functools import reduce
    from operator import add

    from featurescreening_jl_spark.operators.clustering import (
        snap_fixed_point,
    )

    def side(df: DataFrame, p: str):
        snapped = df.select(
            snap_fixed_point(F.col(vec_col), scale).alias("__x")
        )
        return snapped.agg(
            F.count(F.lit(1)).alias(f"{p}n"),
            *[
                F.sum(F.element_at("__x", i + 1)).alias(f"{p}s{i}")
                for i in range(dim)
            ],
        )

    joined = side(ref, "r").crossJoin(side(cur, "c"))
    a = [
        F.col(f"rs{i}").cast("double") / F.col("rn").cast("double")
        for i in range(dim)
    ]
    b = [
        F.col(f"cs{i}").cast("double") / F.col("cn").cast("double")
        for i in range(dim)
    ]
    d2 = reduce(add, [(a[i] - b[i]) * (a[i] - b[i]) for i in range(dim)])
    ab = reduce(add, [a[i] * b[i] for i in range(dim)])
    aa = reduce(add, [a[i] * a[i] for i in range(dim)])
    bb = reduce(add, [b[i] * b[i] for i in range(dim)])
    return joined.select(
        F.round(F.sqrt(d2), round_dp).alias("l2_shift"),
        F.round(ab / (F.sqrt(aa) * F.sqrt(bb)), round_dp).alias(
            "cosine_sim"
        ),
        F.col("rn").cast("long").alias("n_ref"),
        F.col("cn").cast("long").alias("n_cur"),
    )

"""Leakage-safe (point-in-time) feature encoders over event streams.

Three encoders a feature-engineering pipeline needs on top of the as-of /
window layer, all with the same zero-temporal-leakage contract as the
backfill joins (BASELINE.json north_rule): a feature computed at a row's
timestamp may only see rows with a STRICTLY earlier event time — never
same-timestamp peers, never the row itself, never the future.

- ``pit_target_encode``   — per-key running target statistics with
  Bayesian smoothing toward a frozen prior. The classic target-encoding
  leak (each row's encoding includes its own label, or labels from the
  same batch/timestamp) is structurally impossible here: the per-key
  window frame is ``RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING``
  over exact epoch micros, which excludes every row whose ``ts`` equals
  the current row's. One shuffle on the key; the prior is a broadcast
  scalar (computed once from rows before a frozen cutoff, see
  ``pit_global_prior``) so no global-ordering window appears anywhere —
  a single-partition global window would not survive 100 TB.
- ``decayed_time_features`` — exponential time-decayed sums over each
  entity's strictly-prior history (recency-weighted activity features):
  ``S_i = sum_{j<i} v_j * 2^(-(t_i - t_j)/half_life)``. Expressed in
  closed form as one cumulative window per entity (pure codegen: the
  decayed sum factorizes into ``2^(-x_i) * cumsum(v_j * 2^(x_j))`` with
  ``x`` in half-life units relative to the entity's first event) — zero
  Python, one shuffle. The factorization overflows doubles when an
  entity's history spans more than ~1000 half-lives, so it guards with a
  documented bound; ``decayed_time_features_stable`` is the unbounded-
  span variant.
- ``decayed_time_features_stable`` — the same semantics with segmented
  renormalization (``plans.keyed.map_key_blocks``, vectorized across
  many entities per call, no per-row Python loop):
  histories are cut into fixed 500-half-life segments, the cumulative
  sum runs within each segment at bounded exponent, and a per-segment
  carry folds earlier segments down by ``2^(-500 * gap)``. Works for
  arbitrarily long spans (a years-long conversation with a minutes-scale
  half-life), which is the 100 TB regime where the closed form is
  unusable.
- ``oof_target_encode``   — the non-temporal twin: out-of-fold target
  encoding for datasets without an event-time axis (each row's encoding
  excludes its own hash-fold's labels, prior included).
- ``rolling_origin_folds`` — expanding-window (rolling-origin) cross-
  validation assignment: fold ``k`` trains on rows strictly before
  boundary ``k`` and tests on rows in ``[boundary_k, boundary_{k+1})``.
  Pure per-row arithmetic against broadcast literals (map-only, no
  shuffle, no RNG) — the temporal analogue of ``hash_split``, and the
  split every time-series model selection needs to avoid look-ahead.

Reference scope: FeatureScreening.jl has no temporal encoders (its
feature matrix is pre-built; reference ``src/FeatureScreening.jl``); these
belong to the point-in-time feature-engineering graft layer that replaces
the matrix-building step upstream of ``screen``.
"""

from __future__ import annotations

from typing import Iterable, Mapping, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from featurescreening_jl_spark.functions.time import epoch_micros
from featurescreening_jl_spark.plans.keyed import map_key_blocks

__all__ = [
    "pit_global_prior",
    "pit_target_encode",
    "oof_target_encode",
    "decayed_time_features",
    "decayed_time_features_stable",
    "rolling_origin_folds",
    "woe_encode",
    "hashed_cross",
    "fit_quantile_bins",
    "quantile_bin",
]

# Half-lives per renormalization segment in the stable variant. 2^±500 is
# comfortably inside float64 (max 2^1024); one segment's worth of terms
# can never overflow, and the carry between adjacent segments multiplies
# by 2^(-500 * gap) ≤ 2^-500 which underflows gracefully to 0 (histories
# older than ~500 half-lives contribute < 1e-150 — genuinely nothing).
_SEGMENT_HALF_LIVES = 500.0


def pit_global_prior(
    df: DataFrame, label: str | Column, ts_col: str = "ts", cutoff=None
) -> float:
    """Mean of ``label`` over rows with ``ts < cutoff`` (all rows if no
    cutoff) — the frozen prior ``pit_target_encode`` smooths toward.

    One aggregate → one driver scalar (bounded metadata, not data). Using
    a frozen pre-cutoff prior instead of a running global mean is what
    keeps the encoder scalable: a running global mean is a single-
    partition ordering window. Returns 0.0 on an empty selection.
    """
    lab = F.col(label) if isinstance(label, str) else label
    sel = df if cutoff is None else df.filter(F.col(ts_col) < F.lit(cutoff))
    row = sel.agg(F.avg(lab.cast("double")).alias("p")).collect()[0]
    return float(row["p"]) if row["p"] is not None else 0.0


def pit_target_encode(
    df: DataFrame,
    key: str,
    label: str | Column,
    *,
    ts_col: str = "ts",
    prior: float = 0.0,
    smoothing: float = 20.0,
    out_col: str = "te",
) -> DataFrame:
    """Leakage-free target encoding of categorical ``key``.

    For each row, the Bayesian-smoothed mean of ``label`` over the rows of
    the SAME key with STRICTLY earlier ``ts``::

        te = (sum_prior + smoothing * prior) / (count_prior + smoothing)

    A key's first occurrence (and any row whose only same-key peers share
    its timestamp) gets exactly ``prior``. Appends ``out_col`` plus the
    audit columns ``{out_col}_n`` (how many prior labels the encoding
    saw) — keep them: at serving time a small ``_n`` flags a cold key.

    Scale: one shuffle on ``key`` (the window partition). Skewed keys
    concentrate their rows, but the frame is cumulative (no per-row
    re-scan) and the state per partition is O(1) per window function.
    """
    lab = (F.col(label) if isinstance(label, str) else label).cast("double")
    epoch = epoch_micros(F.col(ts_col))
    strictly_before = (
        Window.partitionBy(key)
        .orderBy(epoch)
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    cnt = F.count(lab).over(strictly_before)
    s = F.coalesce(F.sum(lab).over(strictly_before), F.lit(0.0))
    m = F.lit(float(smoothing))
    denom = cnt.cast("double") + m
    # smoothing=0 + a cold key would divide 0/0 (ANSI error): such a row
    # has no information at all — it gets the prior outright
    te = F.when(
        denom > 0.0, (s + m * F.lit(float(prior))) / denom
    ).otherwise(F.lit(float(prior)))
    return df.withColumn(out_col, te).withColumn(f"{out_col}_n", cnt)


def oof_target_encode(
    df: DataFrame,
    key: str,
    label: str | Column,
    *,
    fold: Column,
    n_folds: int,
    smoothing: float = 20.0,
    out_col: str = "te",
) -> DataFrame:
    """Out-of-fold target encoding — the non-temporal twin of
    ``pit_target_encode`` for datasets without an event-time axis.

    Each row's encoding of ``key`` uses only labels from OTHER folds::

        te = (sum_key - sum_key_fold + m * prior_fold)
             / (cnt_key - cnt_key_fold + m)

    where ``prior_fold`` is the global label mean computed over the
    other folds too — no term anywhere includes the row's own fold, so
    a model trained on fold k's encodings never sees fold k's labels
    (the standard CV-consistent encoder; ``fold`` is typically a
    deterministic hash fold — see ``sampling.hash_unit`` — so the
    assignment is rerun- and partitioning-stable).

    Plan: one hash aggregate keyed on (key, fold) → a per-key rollup of
    those partials (both map-side combined, cardinality keys × folds)
    → broadcast-join the encoding table back to rows. The row table
    shuffles once on ``key``; at huge key cardinality swap the broadcast
    for a shuffle join on (key, fold) — same plan, Spark picks it from
    the table size.

    Appends ``out_col`` and ``{out_col}_n`` (how many out-of-fold
    labels informed the encoding).
    """
    lab = (F.col(label) if isinstance(label, str) else label).cast("double")
    rows = df.withColumn("__fold", fold.cast("int"))
    kf = rows.groupBy(key, "__fold").agg(
        F.sum(lab).alias("__s"), F.count(lab).alias("__c")
    )
    per_key = kf.groupBy(key).agg(
        F.sum("__s").alias("__s_k"), F.sum("__c").alias("__c_k")
    )
    enc = kf.join(per_key, key)
    # global per-fold priors: tiny (n_folds rows), computed from the same
    # partials — prior for fold f excludes fold f
    gl = kf.groupBy("__fold").agg(
        F.sum("__s").alias("__s_f"), F.sum("__c").alias("__c_f")
    )
    tot = gl.agg(
        F.sum("__s_f").alias("__s_all"), F.sum("__c_f").alias("__c_all")
    )
    # try_divide: a fold holding ALL rows has no out-of-fold prior (NULL,
    # degenerate single-fold input) — never an ANSI divide-by-zero crash
    prior = gl.crossJoin(F.broadcast(tot)).select(
        "__fold",
        F.coalesce(
            F.try_divide(
                F.col("__s_all") - F.col("__s_f"),
                F.col("__c_all") - F.col("__c_f"),
            ),
            F.lit(0.0),
        ).alias("__prior"),
    )
    m = F.lit(float(smoothing))
    denom = F.col("__c_k") - F.col("__c") + m
    enc = enc.join(F.broadcast(prior), "__fold").select(
        key,
        "__fold",
        F.when(
            denom > 0,
            (F.col("__s_k") - F.col("__s") + m * F.col("__prior")) / denom,
        )
        .otherwise(F.col("__prior"))
        .alias(out_col),
        (F.col("__c_k") - F.col("__c")).alias(f"{out_col}_n"),
    )
    return rows.join(enc, [key, "__fold"]).drop("__fold")


def _halflife_x(ts_col: str, part_cols: Sequence[str], half_life_s: float):
    """Event time in half-life units, relative to the entity's first
    event (keeps exponents small); also returns the partition window."""
    epoch = epoch_micros(F.col(ts_col))
    part = Window.partitionBy(*part_cols)
    base = F.min(epoch).over(part)
    x = ((epoch - base) / F.lit(1000000.0)) / F.lit(float(half_life_s))
    return x


def decayed_time_features(
    df: DataFrame,
    part_cols: Sequence[str],
    values: Mapping[str, Column],
    *,
    ts_col: str = "ts",
    order_cols: Sequence[str] = (),
    half_life_s: float = 86400.0,
) -> DataFrame:
    """Exponential time-decayed sums over each entity's strictly-prior
    rows, in closed form (pure codegen, one shuffle on ``part_cols``).

    For each output name → value column in ``values``::

        out_i = sum_{j < i} v_j * 2^(-(t_i - t_j) / half_life_s)

    "j < i" is row order by ``(ts, *order_cols)`` within the entity, and
    the decay is by exact event-time difference. The first row of an
    entity gets 0.0. Factorized as ``2^(-x_i) * cumsum_{j<i}(v_j *
    2^(x_j))`` with ``x`` relative to the entity's first event.

    Bound: requires the entity's time span ≤ ~1000 half-lives (the
    ``2^x`` factor otherwise overflows float64). Fine for sessions and
    conversations; for open-ended histories use
    ``decayed_time_features_stable``.
    """
    x = _halflife_x(ts_col, part_cols, half_life_s)
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(ts_col, *order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = df
    grow = F.pow(F.lit(2.0), x)
    shrink = F.pow(F.lit(2.0), -x)
    for name, v in values.items():
        prefix = F.sum(v.cast("double") * grow).over(w)
        out = out.withColumn(name, F.coalesce(shrink * prefix, F.lit(0.0)))
    return out


def _decayed_prior_sums(
    x: np.ndarray, gstarts: np.ndarray, v: np.ndarray
) -> np.ndarray:
    """The one numpy decayed-sum kernel: ``out_i = sum_{j < i} v_j *
    2^(x_j - x_i)`` over the earlier rows of row i's entity, where
    entities are the runs that start at ``gstarts`` and ``x`` is event
    time in half-lives since the entity's first row (sorted, ≥ 0).
    ``v`` is rows × value columns; the result has its shape.

    Each entity's history is cut at fixed 500-half-life boundaries; the
    ``v * 2^(x - seg_base)`` cumulative sum runs within each segment
    (exponent ≤ 500, no overflow), and segments are folded together
    with a per-segment carry that decays by ``2^(-500 * gap)`` (reset to
    0 at entity changes). The only Python loop is over (entity ×
    segment) runs of tiny numpy slices.
    """
    seg_hl = _SEGMENT_HALF_LIVES
    seg = np.floor(x / seg_hl)
    rel = x - seg * seg_hl  # in [0, 500)
    terms = v * np.exp2(rel)[:, None]
    # processing runs restart at entity OR 500-half-life boundaries
    change = np.zeros(len(x), dtype=bool)
    change[gstarts] = True
    new_entity = change.copy()
    change[1:] |= seg[1:] != seg[:-1]
    starts = np.flatnonzero(change)
    ends = np.r_[starts[1:], len(x)]
    new_entity = new_entity[starts]
    # exclusive prefix WITHIN each run. The cumsum must RESTART at every
    # boundary: a single global cumsum would add a new segment's
    # ~2^0-scale terms into the previous segment's ~2^500-scale total and
    # cancel them to nothing when rebased.
    prefix = np.empty(v.shape)
    seg_total = np.empty((len(starts), v.shape[1]))
    for k in range(len(starts)):
        sl = slice(starts[k], ends[k])
        c = np.cumsum(terms[sl], axis=0)
        prefix[sl] = c - terms[sl]
        seg_total[k] = c[-1]
    # carry: decayed total of the entity's EARLIER segments, expressed at
    # each segment's own base exponent; a new entity starts from 0
    carry = np.zeros(seg_total.shape)
    for k in range(1, len(starts)):
        if new_entity[k]:
            continue
        gap = seg[starts[k]] - seg[starts[k - 1]]
        carry[k] = (carry[k - 1] + seg_total[k - 1]) * np.exp2(-seg_hl * gap)
    carry = np.repeat(carry, ends - starts, axis=0)
    return np.exp2(-rel)[:, None] * (prefix + carry)


def decayed_time_features_stable(
    df: DataFrame,
    part_cols: Sequence[str],
    value_cols: Mapping[str, str],
    *,
    ts_col: str = "ts",
    order_cols: Sequence[str] = (),
    half_life_s: float = 86400.0,
) -> DataFrame:
    """Same semantics as ``decayed_time_features`` (strictly-prior decayed
    sums), numerically stable for arbitrarily long entity histories.

    Runs under ``plans.keyed.map_key_blocks``: each kernel call is one
    vectorized block of many whole entities (not one ``applyInPandas``
    call per entity), with entity boundaries handled as just another
    segment reset.

    The stability trick (500-half-life segments with a decaying carry)
    lives in ``_decayed_prior_sums``, the package's one numpy
    decayed-sum kernel, which ``streaming_decayed_features`` runs too.
    ``value_cols`` maps output name → input column name (plain names,
    not Columns — they cross the Arrow boundary).

    Scale: one shuffle on ``part_cols`` (repartition + in-partition
    sort); per-batch memory is O(batch + largest single entity). A
    single entity with more rows than executor memory should be
    pre-capped (``per_key_cap``) — same caveat as every grouped op.
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import kept local

    ts = ts_col
    parts = list(part_cols)
    order = list(order_cols)
    vmap = dict(value_cols)
    in_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    out_fields = ", ".join(f"`{n}` double" for n in vmap)
    schema = f"{in_fields}, {out_fields}"

    def _block(pdf: pd.DataFrame, gstarts: np.ndarray) -> pd.DataFrame:
        t = pdf[ts].to_numpy(dtype="datetime64[us]").astype("int64")
        gsizes = np.diff(np.r_[gstarts, len(pdf)])
        # x relative to each entity's first (min, since sorted) event
        x = (t - np.repeat(t[gstarts], gsizes)) / 1.0e6 / half_life_s
        v = pdf[list(vmap.values())].to_numpy(dtype="float64")
        pdf[list(vmap)] = _decayed_prior_sums(x, gstarts, v)
        return pdf

    return map_key_blocks(df, parts, [ts, *order], _block, schema)


def rolling_origin_folds(
    df: DataFrame,
    boundaries: Iterable,
    *,
    ts_col: str = "ts",
    fold_col: str = "fold",
    split_col: str = "split",
) -> DataFrame:
    """Expanding-window (rolling-origin) cross-validation assignment.

    ``boundaries`` is an ordered list of K+1 timestamps defining K folds:
    fold ``k`` (1-based) trains on ``ts < boundaries[k-1]`` and tests on
    ``boundaries[k-1] <= ts < boundaries[k]``. Each input row is emitted
    once per fold it participates in, tagged ``(fold, 'train'|'test')``;
    rows outside every fold's horizon are dropped. Train windows expand
    (fold k's train set contains fold k-1's train ∪ test) — the standard
    look-ahead-free model-selection split for temporal data.

    Scale: map-only — the fold table is a ~K-element broadcast literal
    array exploded per row; no shuffle, no RNG, rerun-stable at any
    partitioning (the temporal analogue of ``hash_split``).
    """
    bs = list(boundaries)
    if len(bs) < 2:
        raise ValueError("need at least 2 boundaries (K+1 for K folds)")
    folds = F.array(
        *[
            F.struct(
                F.lit(k + 1).alias("__fold"),
                F.lit(bs[k]).cast("timestamp").alias("__lo"),
                F.lit(bs[k + 1]).cast("timestamp").alias("__hi"),
            )
            for k in range(len(bs) - 1)
        ]
    )
    ts = F.col(ts_col)
    exploded = df.withColumn("__f", F.explode(folds))
    return (
        exploded.withColumn(
            split_col,
            F.when(ts < F.col("__f.__lo"), F.lit("train")).when(
                (ts >= F.col("__f.__lo")) & (ts < F.col("__f.__hi")),
                F.lit("test"),
            ),
        )
        .filter(F.col(split_col).isNotNull())
        .withColumn(fold_col, F.col("__f.__fold"))
        .drop("__f")
    )


def woe_encode(
    df: DataFrame,
    key_col: str,
    label_col: str,
    *,
    smoothing: float = 0.5,
) -> DataFrame:
    """Weight-of-evidence encoder FIT: per category, ``woe =
    ln(p(key|pos) / p(key|neg))`` with Laplace smoothing, plus the
    category's information-value contribution ``iv = (p(key|pos) −
    p(key|neg)) · woe`` — the credit-scoring-standard categorical
    encoding next to the mean encoders (``pit_target_encode`` is the
    leakage-free per-row variant; this is the batch fit artifact whose
    output is the bounded (key → woe) table you broadcast-join onto
    features).

    ONE map-side-combined aggregate collapses the corpus to |keys| rows;
    the class totals are a second single-row aggregate cross-broadcast
    in. WOE is computed as a SUM OF LOGS of exactly-representable
    smoothed counts (counts + 0.5), so any engine replaying the formula
    reproduces identical doubles (the same portability argument as
    ``pmi_bigrams``) — no ratio products that could overflow or
    re-associate.
    """
    y = F.col(label_col).cast("int")
    per_key = df.groupBy(key_col).agg(
        F.sum(y).alias("pos_k"),
        F.sum(1 - y).alias("neg_k"),
    )
    totals = df.agg(
        F.sum(y).alias("__pos"), F.sum(1 - y).alias("__neg")
    )
    s_ = float(smoothing)
    p_k = F.col("pos_k") + F.lit(s_)
    n_k = F.col("neg_k") + F.lit(s_)
    p_t = F.col("__pos") + F.lit(2 * s_)
    n_t = F.col("__neg") + F.lit(2 * s_)
    woe = F.log(p_k) - F.log(p_t) - (F.log(n_k) - F.log(n_t))
    iv = (p_k / p_t - n_k / n_t) * woe
    return (
        per_key.crossJoin(F.broadcast(totals))
        .select(
            key_col,
            "pos_k",
            "neg_k",
            F.round(woe, 6).alias("woe"),
            F.round(iv, 6).alias("iv"),
        )
    )


def hashed_cross(
    df: DataFrame,
    cols: Sequence[str],
    n_buckets: int,
    *,
    out: str = "cross_bucket",
) -> DataFrame:
    """Hashing-trick feature cross (Weinberger et al. 2009; the
    ``tf.feature_column.crossed_column`` shape): the interaction of
    ``cols`` becomes ONE bounded integer feature, ``portable_hash(c1 ┆ c2
    ┆ …) mod n_buckets`` — no vocabulary to fit, broadcast, or keep in
    sync between training and serving, which is the point at 10^12 rows
    where a distinct-combination dictionary would itself be a big table.

    Map-only expression, zero shuffle. NULLs are encoded as a reserved
    token (not dropped, not collided with the empty string) so missing ×
    present combinations stay distinguishable. The md5-based portable
    hash keeps every bucket id reproducible by external engines (the
    DuckDB oracle replays it; xxhash64 would be faster but Spark-only —
    swap via ``operators.dedup.hash60_portable``'s documented trade).
    Collisions are the accepted lossy-compression trade of the hashing
    trick; size ``n_buckets`` to the tolerated collision rate (birthday
    bound), and prefer powers of two only for downstream embedding
    tables, not for the mod itself.
    """
    from featurescreening_jl_spark.operators.dedup import hash60_portable

    if not cols:
        raise ValueError("hashed_cross: at least one column required")
    joint = F.concat_ws(
        "\u0001",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\u0000NULL"))
            for c in cols
        ],
    )
    return df.withColumn(
        out, F.pmod(hash60_portable(joint), F.lit(int(n_buckets))).cast("int")
    )


def fit_quantile_bins(
    df: DataFrame,
    value_col: str,
    n_bins: int,
    *,
    by: str | None = None,
    approx: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Fit equal-frequency bin boundaries: the fit half of the standard
    feature-store discretizer (fit on train, persist the tiny boundary
    table, transform anything later — the split is what keeps the
    encoder leakage-controllable and reusable across snapshots).

    Returns one row per ``by`` group (single global row when ``by`` is
    None): ``(by?, boundaries array<double>)`` with ``n_bins - 1``
    interior boundaries at quantiles ``1/n, …, (n-1)/n``, rounded to
    6 dp. The rounding is a cross-engine determinism guard, not a
    precision loss: linear-interpolated quantiles computed by two
    engines (or two partitionings) agree to far better than 1e-6, and
    rounding both to the SAME grid makes downstream ``>=`` bucket
    comparisons identical everywhere.

    ``approx=False``: exact ``percentile`` — a per-group sort, the
    oracle-checkable verifier. ``approx=True``: the 100 TB path —
    ``approx_percentile`` is a map-side-combinable sketch (no per-group
    sort; error ≤ 1/accuracy of rank), same output contract.
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    qs = F.array(
        *[F.lit(i / n_bins) for i in range(1, n_bins)]
    )
    v = F.col(value_col).cast("double")
    agg = (
        F.percentile_approx(v, qs, F.lit(accuracy))
        if approx
        else F.percentile(v, qs)
    )
    rounded = F.transform(agg, lambda b: F.round(b, 6)).alias("boundaries")
    if by is None:
        return df.agg(rounded)
    return df.groupBy(by).agg(rounded)


def quantile_bin(
    df: DataFrame,
    bins: DataFrame,
    value_col: str,
    *,
    by: str | None = None,
    out: str = "bucket",
) -> DataFrame:
    """Transform half: assign each row the count of fitted boundaries
    ``<= value`` (bucket 0..n_bins-1). The boundary table is tiny
    (groups × (n_bins-1) doubles) and broadcasts; the scan side is
    map-only — one HOF fold per row, no shuffle, no sort. NULL values
    get NULL buckets.
    """
    joined = (
        df.join(F.broadcast(bins), on=by)
        if by is not None
        else df.crossJoin(F.broadcast(bins))
    )
    v = F.col(value_col).cast("double")
    bucket = F.aggregate(
        "boundaries",
        F.lit(0),
        lambda acc, b: acc + F.when(v >= b, 1).otherwise(0),
    )
    return joined.withColumn(
        out, F.when(v.isNotNull(), bucket).cast("int")
    ).drop("boundaries")

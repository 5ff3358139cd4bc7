"""Point-in-time (as-of) join — the graft's throughput-critical operator.

For every query row ``(by, ts, ...)`` attach the LATEST source row
``(by, ts, values...)`` with ``source.ts <= query.ts`` (strict event-time
cutoff: no row with source ts AFTER the cutoff may contribute — zero
temporal leakage; ``allow_exact_matches=False`` tightens to ``<``).

Spark has no built-in as-of join. Three strategies behind one API, chosen
by data shape (SURVEY.md §2.3, §7.1 M5):

``window``    — union-tag-sort baseline: union sources and queries, one
                window ``partitionBy(by).orderBy(ts, tag)`` with
                ``last(value, ignorenulls=True)`` over an unbounded-to-
                current frame, keep query rows. Pure built-ins, fully
                codegen'd, ONE shuffle; window processing is streaming per
                partition so even mega-keys don't blow memory. The
                reference implementation the others are tested against.

``bucketed``  — the 10^12-row scale path, skew-resistant: phase 1 as-of
                joins WITHIN each (key-salt, time-bucket) cogroup with
                ``pandas.merge_asof(by=key)`` — expected group size is
                rows-per-bucket ÷ salt_buckets and does NOT grow with
                corpus size (grouping on the time bucket ALONE, as round
                1 did, makes group size grow linearly with the corpus —
                executor OOM at 10^12 rows). The hard bound: salting
                splits KEYS across groups, not one key's rows — all of a
                single key's rows in one time bucket land in one pandas
                group, so the worst-case group is the HOTTEST KEY'S rows
                per ``bucket_seconds``. Shrink ``bucket_seconds`` to bound
                a mega-key (verified by the single-mega-key stress test
                in tests/test_asof.py); phase 2 computes each bucket's
                carry-in — the last source value from any strictly
                earlier bucket — via a per-key window over the (tiny)
                bucket-level rollup, then patches phase-1 misses. This is
                the "applyInPandas over conv_id-salted partitions +
                residual merge" design from BASELINE.json north_star.

``merge_asof``— ``bucketed`` over ONE time bucket: phase 1 alone, the
                cogroup keyed by the salt ``hash(by) % salt_buckets``
                only. With one bucket there is nothing to carry in, so
                phase 2 is skipped. One pandas call handles many keys,
                amortizing per-group overhead; a single mega-key still
                lands whole in one group — that's what ``bucketed`` is
                for.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from featurescreening_jl_spark.functions.time import epoch_seconds

__all__ = ["asof_join"]

_MATCH_TS = "__asof_src_ts"


def asof_join(
    queries: DataFrame,
    sources: DataFrame,
    *,
    on: str = "ts",
    by: str = "conv_id",
    value_cols: Optional[list[str]] = None,
    strategy: str = "window",
    allow_exact_matches: bool = True,
    tolerance_seconds: Optional[int] = None,
    bucket_seconds: int = 3600,
    salt_buckets: Optional[int] = None,
    keep_match_ts: bool = False,
) -> DataFrame:
    """As-of join ``sources``' latest values onto each ``queries`` row.

    Returns the query rows plus one column per ``value_cols`` (null when no
    source precedes the cutoff, or the match is older than
    ``tolerance_seconds``). Output column sets must be disjoint:
    ``value_cols`` may not collide with query columns.

    ``salt_buckets`` (merge_asof, bucketed) is how many cogroups the key
    space is hashed into (default: the session's shuffle-partition
    count) — size to the cluster (≈ 2-3× total cores) so pandas groups
    stay executor-memory-sized. It never changes a result.
    """
    if value_cols is None:
        value_cols = [c for c in sources.columns if c not in (on, by)]
    clash = set(value_cols) & set(queries.columns)
    if clash:
        raise ValueError(f"value_cols collide with query columns: {sorted(clash)}")
    if strategy == "window":
        out = _asof_window(queries, sources, on, by, value_cols, allow_exact_matches)
    elif strategy in ("merge_asof", "bucketed"):
        if salt_buckets is None:
            salt_buckets = int(
                queries.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        out = _asof_bucketed(
            queries, sources, on, by, value_cols, allow_exact_matches,
            bucket_seconds if strategy == "bucketed" else None, salt_buckets,
        )
    else:
        raise ValueError(f"unknown strategy: {strategy!r}")

    if tolerance_seconds is not None:
        age = epoch_seconds(F.col(on)) - epoch_seconds(F.col(_MATCH_TS))
        keep = F.col(_MATCH_TS).isNotNull() & (age <= tolerance_seconds)
        for v in value_cols:
            out = out.withColumn(v, F.when(keep, F.col(v)))
        out = out.withColumn(_MATCH_TS, F.when(keep, F.col(_MATCH_TS)))
    if not keep_match_ts:
        out = out.drop(_MATCH_TS)
    return out


def _asof_window(
    queries: DataFrame,
    sources: DataFrame,
    on: str,
    by: str,
    value_cols: list[str],
    allow_exact: bool,
) -> DataFrame:
    q_cols = [c for c in queries.columns if c not in (by, on)]
    # sort tag: queries always 1; sources 0 (before queries at equal ts →
    # exact matches visible) or 2 (after → excluded)
    src_tag, q_tag = (0, 1) if allow_exact else (2, 1)

    src = sources.select(
        F.col(by),
        F.col(on),
        F.lit(src_tag).alias("__tag"),
        F.col(on).alias(_MATCH_TS),
        *[F.col(v) for v in value_cols],
        *[F.lit(None).cast(queries.schema[c].dataType).alias(c) for c in q_cols],
    )
    qry = queries.select(
        F.col(by),
        F.col(on),
        F.lit(q_tag).alias("__tag"),
        F.lit(None).cast(sources.schema[on].dataType).alias(_MATCH_TS),
        *[F.lit(None).cast(sources.schema[v].dataType).alias(v) for v in value_cols],
        *[F.col(c) for c in q_cols],
    )
    unioned = src.unionByName(qry)
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on), F.col("__tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        F.col(by),
        F.col(on),
        F.col("__tag"),
        *[F.col(c) for c in q_cols],
        F.last(_MATCH_TS, ignorenulls=True).over(w).alias(_MATCH_TS),
        *[F.last(v, ignorenulls=True).over(w).alias(v) for v in value_cols],
    )
    return filled.where(F.col("__tag") == q_tag).drop("__tag")


def _merged_schema(
    queries: DataFrame, sources: DataFrame, on: str, value_cols: list[str]
) -> T.StructType:
    fields = list(queries.schema.fields)
    fields.append(T.StructField(_MATCH_TS, sources.schema[on].dataType, True))
    for v in value_cols:
        f = sources.schema[v]
        fields.append(T.StructField(v, f.dataType, True))
    return T.StructType(fields)


def _asof_bucketed(
    queries: DataFrame,
    sources: DataFrame,
    on: str,
    by: str,
    value_cols: list[str],
    allow_exact: bool,
    bucket_seconds: Optional[int],
    salt_buckets: int,
) -> DataFrame:
    """``bucket_seconds=None`` is one time bucket: phase 1 alone."""
    if bucket_seconds is None:
        bucket = F.lit(0).cast("long")
    else:
        bucket = (epoch_seconds(F.col(on)) / bucket_seconds).cast("long")
    salt = F.pmod(F.xxhash64(F.col(by)), F.lit(salt_buckets)).cast("int")
    q_b = queries.withColumn("__bkt", bucket).withColumn("__salt", salt)
    s_b = sources.withColumn("__bkt", bucket).withColumn("__salt", salt)

    # ---- phase 1: as-of WITHIN each (key-salt, time bucket) ---------------
    # The cogroup key is (hash(by) % salt_buckets, bucket): expected group
    # size is rows-per-bucket ÷ salt_buckets and independent of total
    # corpus size — round 1 grouped on the bucket alone, whose group size
    # grows linearly with the corpus (one giant pandas group per hour at
    # 10^12 rows → executor OOM). All of a key's rows share a salt, so
    # per-key as-of semantics are untouched — which also means the WORST
    # CASE group is one key's rows within one bucket (salting cannot split
    # a single mega-key); bucket_seconds is the knob that bounds that.
    # Keys inside a group are handled vectorized by merge_asof(by=key),
    # keeping per-group overhead amortized. salt_buckets sizes groups to
    # the cluster, not the data.
    schema = _merged_schema(q_b, s_b, on, value_cols)
    out_cols = [f.name for f in schema.fields]
    # the key is re-aliased on the source side: when queries and sources
    # share lineage (self-as-of), the cogroup planner deduplicates right
    # attributes that alias left ones and would drop the key column
    src_proj = s_b.select(
        F.col(by).alias("__src_by"), "__bkt", "__salt",
        F.col(on).alias(_MATCH_TS), *value_cols,
    )

    def join_bucket(qpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        if qpdf.empty:
            return pd.DataFrame(columns=out_cols)
        qpdf = qpdf.sort_values(on, kind="mergesort")
        if spdf.empty:
            res = qpdf.copy()
            res[_MATCH_TS] = pd.NaT
            for v in value_cols:
                res[v] = None
            return res[out_cols]
        spdf = spdf.rename(columns={"__src_by": by})
        spdf = spdf.sort_values(_MATCH_TS, kind="mergesort")
        res = pd.merge_asof(
            qpdf,
            spdf.drop(columns=["__bkt", "__salt"]),
            left_on=on,
            right_on=_MATCH_TS,
            by=by,
            direction="backward",
            allow_exact_matches=allow_exact,
        )
        return res[out_cols]

    phase1 = (
        q_b.groupBy("__salt", "__bkt")
        .cogroup(src_proj.groupBy("__salt", "__bkt"))
        .applyInPandas(join_bucket, schema=schema)
    )
    if bucket_seconds is None:
        return phase1.drop("__bkt", "__salt")

    # ---- phase 2: carry-in = last source value from strictly earlier
    # buckets. Bucket-level rollup is tiny (one row per non-empty
    # (key, bucket)); the window over it shuffles only that rollup. --------
    last_struct = F.max(
        F.struct(F.col(on).alias("__t"), *[F.col(v) for v in value_cols])
    ).alias("__last")
    rollup = s_b.groupBy(by, "__bkt").agg(last_struct)
    # a bucket-b source becomes visible to query buckets >= b+1
    src_keyed = rollup.select(
        by, (F.col("__bkt") + 1).alias("__k"), F.lit(0).alias("__isq"), "__last"
    )
    # NB: query buckets come from the INPUT queries, not phase1 — deriving
    # them from phase1 would put the expensive cogroup on two plan branches
    # and execute it twice.
    qry_keyed = (
        q_b.select(by, "__bkt")
        .distinct()
        .select(
            by,
            F.col("__bkt").alias("__k"),
            F.lit(1).alias("__isq"),
            F.lit(None)
            .cast(rollup.schema["__last"].dataType)
            .alias("__last"),
        )
    )
    w = (
        Window.partitionBy(by)
        .orderBy("__k", "__isq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carry = (
        src_keyed.unionByName(qry_keyed)
        .select(
            by,
            "__k",
            "__isq",
            F.last("__last", ignorenulls=True).over(w).alias("__carry"),
        )
        .where(F.col("__isq") == 1)
        .select(by, F.col("__k").alias("__bkt"), "__carry")
    )

    patched = phase1.join(carry, on=[by, "__bkt"], how="left")
    matched = F.col(_MATCH_TS).isNotNull()
    cols = [
        F.col(c)
        for c in phase1.columns
        if c not in (_MATCH_TS, *value_cols, "__bkt", "__salt")
    ]
    cols.append(
        F.when(matched, F.col(_MATCH_TS)).otherwise(F.col("__carry.__t")).alias(_MATCH_TS)
    )
    for v in value_cols:
        cols.append(F.when(matched, F.col(v)).otherwise(F.col(f"__carry.{v}")).alias(v))
    return patched.select(*cols)

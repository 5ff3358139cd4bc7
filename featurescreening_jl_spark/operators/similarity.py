"""Similarity search over embedding columns.

- ``brute_force_topk``  — exact cosine top-k: a broadcast of the (small)
  query set against the corpus, dot products in codegen via higher-order
  functions, TakeOrderedAndProject for the top-k. The correctness baseline.
- ``lsh_topk``          — the scale path: random-hyperplane LSH buckets
  (sign-bit sketch, JVM-side) prune the corpus to colliding buckets before
  exact re-scoring. Probe multiple hash tables for recall.
- ``cosine_neardup_pairs`` — embedding near-duplicate detection: pairs with
  cosine ≥ threshold, LSH-bucketed to avoid the O(n²) self-join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from featurescreening_jl_spark.functions.vector import (
    cosine,
    dot,
    double_array_literal,
    norm,
)
from featurescreening_jl_spark.operators.dedup import (
    _block_pairs,
    _verify_pairs,
)

__all__ = [
    "brute_force_topk",
    "lsh_topk",
    "cosine_neardup_pairs",
    "project_embeddings",
    "projection_matrix",
    "pool_embeddings",
]


def projection_matrix(
    in_dim: int, out_dim: int, seed: int = 17
) -> list[list[float]]:
    """Seeded Gaussian Johnson–Lindenstrauss projection matrix
    (out_dim × in_dim, entries N(0, 1/out_dim)) — deterministic, so the
    identical matrix is reconstructable anywhere (tests, oracles, a
    different engine) from (in_dim, out_dim, seed)."""
    rng = np.random.default_rng(seed)
    return (
        rng.standard_normal((out_dim, in_dim)) / np.sqrt(out_dim)
    ).tolist()


def project_embeddings(
    df: DataFrame,
    *,
    in_dim: int,
    out_dim: int,
    seed: int = 17,
    vec_col: str = "embedding",
    out_col: str = "projected",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection of an embedding column to
    ``out_dim`` dimensions — the standard pre-step that makes downstream
    ANN/LSH/clustering cheaper while approximately preserving pairwise
    distances (within 1±ε for out_dim = O(log n / ε²)).

    Map-only, zero shuffle, zero Python at run time: the projection
    matrix is ONE nested literal (built with ``double_array_literal`` —
    one py4j call) and each output coordinate is a codegen'd dot
    product. Composes with ``lsh_topk`` / ``ivf`` / ``kmeans`` as a
    drop-in narrower ``vec_col``.
    """
    planes = double_array_literal(projection_matrix(in_dim, out_dim, seed))
    vec = F.col(vec_col)
    return df.withColumn(
        out_col, F.transform(planes, lambda row: dot(vec, row))
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_decimals: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries``: (query_id, embedding). Broadcast-joined against the corpus
    (query sets are small; the corpus never shuffles), ranked per query.
    Deterministic tie-break: similarity desc, then corpus id asc.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col), F.col(vec_col).alias("__qvec")
        )
    )
    sim = cosine(F.col(vec_col), F.col("__qvec"))
    if round_decimals is not None:
        sim = F.round(sim, round_decimals)
    scored = corpus.select(id_col, vec_col).crossJoin(q).select(
        query_id_col, id_col, sim.alias("similarity")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("similarity"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "similarity", "rank")
    )


def _require_dim(dim: int | None, op: str) -> int:
    """The hyperplane sketch needs the embedding dimensionality at PLAN
    time; inferring it with a blocking ``.first()`` during plan
    construction was a round-1 anti-pattern (a cluster action hidden in
    what looks like pure plan building). Callers pass it explicitly —
    it's a property of the embedding model, not of the data."""
    if dim is None:
        raise ValueError(
            f"{op}: `dim` (embedding dimensionality) must be passed "
            "explicitly — plan construction must not run a Spark job"
        )
    return int(dim)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _table_buckets(vec_col, tables: list[list[list[float]]]):
    """All tables' buckets in ONE expression: an ``array<long>`` with entry
    t = table t's sign-sketch of the vector.

    The hyperplanes are a single 3-D literal (tables × planes × dim) walked
    with nested higher-order functions — one plan node total. Building a
    separate dot-product aggregate per plane (n_tables × n_planes plan
    nodes, times every union branch of the corpus) made Catalyst
    analysis/codegen the dominant cost at small row counts (measured 14s
    for 516 rows).
    """
    planes_lit = double_array_literal(tables)
    return F.transform(
        planes_lit,
        lambda tbl: F.aggregate(
            F.transform(
                tbl,
                lambda p: F.when(dot(vec_col, p) > 0, F.lit(1)).otherwise(
                    F.lit(0)
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, b: acc * 2 + b,
        ),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only corpus rows sharing an LSH bucket with
    the query in ANY of ``n_tables`` hash tables. At 10^9 vectors this
    turns a full scan per query into a few bucket lookups; recall is tuned
    by (n_planes, n_tables)."""
    dim = _require_dim(dim, "lsh_topk")
    tables = [_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]

    c_keys = corpus.select(
        id_col,
        vec_col,
        F.posexplode(_table_buckets(F.col(vec_col), tables)).alias(
            "table", "bucket"
        ),
    )

    q_keys = queries.select(
        query_id_col,
        F.col(vec_col).alias("__qvec"),
        F.posexplode(_table_buckets(F.col(vec_col), tables)).alias(
            "table", "bucket"
        ),
    )

    cand = (
        c_keys.join(F.broadcast(q_keys), on=["table", "bucket"])
        .select(query_id_col, id_col, vec_col, "__qvec")
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cand.select(
        query_id_col,
        id_col,
        cosine(F.col(vec_col), F.col("__qvec")).alias("similarity"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("similarity"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "similarity", "rank")
    )


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 7,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ threshold), bucketed by
    sign-LSH so the self-join runs within buckets, not across the corpus:
    the (table, bucket) keys go through ``dedup._block_pairs``, and only
    the unique pairs fetch their vectors for the exact cosine.

    ``max_bucket_size`` guards the O(bucket²) self-join against hot
    buckets (e.g. millions of near-identical boilerplate embeddings);
    capped buckets are excluded and logged (``dedup._hot_keys``). Pairs
    only findable through a capped bucket are lost."""
    dim = _require_dim(dim, "cosine_neardup_pairs")
    tables = [_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    keyed = df.select(
        id_col,
        F.posexplode(_table_buckets(F.col(vec_col), tables)).alias(
            "table", "bucket"
        ),
    )
    vecs = df.select(id_col, vec_col)
    return _verify_pairs(
        _block_pairs(
            keyed, ["table", "bucket"],
            cap=max_bucket_size, op="cosine_neardup_pairs",
        ),
        vecs, vecs, "similarity", cosine, F.col("similarity") >= threshold,
    ).select("id_a", "id_b", "similarity")


def pool_embeddings(
    df: DataFrame,
    *,
    by: str = "conv_id",
    vec_col: str = "embedding",
    normalize: bool = True,
    out_col: str = "pooled",
) -> DataFrame:
    """Group-level embedding pooling: element-wise MEAN of every
    ``vec_col`` vector in the group, optionally L2-normalized. The
    primitive that lifts turn/document embeddings to conversation (or
    source/domain) level so the conversation-granular operators —
    semantic dedup, ANN retrieval, cluster-balanced sampling — can run
    on one vector per group.

    Plan shape at scale: ONE hash aggregate keyed on ``by``. The naive
    posexplode→groupBy(by, pos) multiplies the shuffle by the embedding
    dimension; instead the vectors fold INSIDE the aggregate via
    ``zip_with`` over a bounded ``collect_list`` (bounded by group size —
    turns per conversation, the same contract render_chat relies on),
    so the shuffle carries map-side-combined partial lists, and the fold
    plus the final normalize are single codegen'd HOF expressions. Empty
    or NULL vectors are excluded from both the sum and the divisor.

    Output: ``by, n_vectors, out_col`` (``array<double>``; NULL pooled
    vector only if the group had no usable vectors).
    """
    vecs = F.collect_list(
        F.when(F.size(F.col(vec_col)) > 0, F.col(vec_col).cast("array<double>"))
    )
    agg = df.groupBy(by).agg(
        vecs.alias("__vs"),
        F.count(F.when(F.size(F.col(vec_col)) > 0, 1)).alias("n_vectors"),
    )
    summed = F.aggregate(
        F.col("__vs"),
        F.transform(
            F.element_at(F.col("__vs"), 1), lambda _: F.lit(0.0)
        ),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )
    mean = F.transform(summed, lambda s: s / F.col("n_vectors"))
    agg = agg.where(F.col("n_vectors") > 0).withColumn("__mean", mean)
    if not normalize:
        return agg.select(
            by,
            "n_vectors",
            F.transform(
                F.col("__mean"), lambda x: F.round(x, 9)
            ).alias(out_col),
        )
    nrm = F.sqrt(
        F.aggregate(
            F.col("__mean"),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    return (
        agg.withColumn("__norm", nrm)
        .select(
            by,
            "n_vectors",
            F.when(
                F.col("__norm") > 0,
                F.transform(
                    F.col("__mean"), lambda x: F.round(x / F.col("__norm"), 9)
                ),
            ).alias(out_col),
        )
    )

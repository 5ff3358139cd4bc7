"""Benchmark decontamination: flag training documents that overlap an
evaluation/benchmark set by shared word n-grams.

The standard LLM-corpus hygiene step (GPT-3 appendix C, PaLM, Llama — all
n-gram-overlap based): any training document sharing enough long word
n-grams with a benchmark prompt/answer is contaminated and must be
dropped or audited before training.

Scale design (the asymmetry IS the algorithm): the benchmark side is
small by definition (eval sets are thousands of rows, the corpus is
billions), so the benchmark's exploded n-gram index is ``broadcast`` —
the corpus side streams map-side through a broadcast hash join and NEVER
shuffles; only the matching ``(doc, bench)`` candidate pairs (a tiny
fraction of the corpus) enter the aggregate that counts shared n-grams.
Corpus n-grams are produced by the same lazily-exploded expression as the
dedup operators (``dedup.shingles`` — distinct word n-grams), pipelined
into the join probe without materialization.

Reference scope: FeatureScreening.jl has no corpus operators; this is
part of the LLM-training-data graft layer (same family as
``operators/dedup.py``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from featurescreening_jl_spark.operators.dedup import _block_pairs, shingles

__all__ = [
    "contamination_pairs",
    "flag_contaminated",
    "GramBitmap",
    "build_gram_bitmap",
    "bitmap_contains",
    "bitmap_prefilter",
]

# Ceiling for embedding the word array as a generated-SQL literal: 2^22
# bits = 65,536 int64 words ≈ a ~0.8 MB expression string — comfortably
# inside what the driver can parse/analyze/codegen per plan. Beyond this
# the literal is no longer "a broadcast" in any meaningful sense (at
# 2^30 bits it would be a ~150 MB expression the analyzer chokes on), so
# bitmap_prefilter switches to a real broadcast: the non-zero words as a
# word-indexed dimension table joined on shiftright(pos, 6).
_LITERAL_MAX_LOG2_BITS = 22


@dataclass(frozen=True)
class GramBitmap:
    """A broadcastable bitmap (k=1 Bloom filter) over a gram set's 64-bit
    hashes. ``words`` is the bit array as ``2^log2_bits / 64`` int64
    words; ``n`` records the gram length it was fitted for (probe-side
    shingling must match). False-positive rate ≈ set density =
    n_distinct_grams / 2^log2_bits; false negatives are impossible, so a
    downstream exact join sees a SUPERSET of its true probe rows and
    produces identical results."""

    words: tuple
    log2_bits: int
    n: int


def build_gram_bitmap(
    benchmark: DataFrame,
    *,
    n: int = 8,
    text_col: str = "text",
    log2_bits: int = 20,
) -> GramBitmap:
    """Fit half of the bitmap-prefiltered decontamination path: collapse
    the benchmark's distinct word ``n``-grams into a ``2^log2_bits``-bit
    membership bitmap (one eager, bounded Spark job — the fit/transform
    split used by ``fit_quantile_bins``; callers compose the returned
    value into lazy plans).

    Why this exists: ``contamination_pairs``'s default plan broadcasts
    the benchmark's EXACT gram index, which is right while eval sets are
    thousands of rows. When the "benchmark" side is itself large — the
    union of every eval suite plus held-out documents, 10^8-10^9 distinct
    grams whose strings no longer broadcast — the join must shuffle the
    corpus gram stream, and at 10^12 corpus grams that shuffle IS the
    cost. A 2^30-bit bitmap is 128 MiB regardless of gram-string width,
    still broadcasts (via :func:`bitmap_prefilter`'s join path — a real
    word-indexed broadcast table, NOT a SQL literal, which is capped at
    2^22 bits), and drops ~(1 - density) of corpus grams MAP-SIDE
    before the exchange; the exact join then re-verifies survivors, so
    results stay exact (Bloom filters have no false negatives).

    Spark's own ``bloom_filter_agg`` is not SQL-registered in this build,
    so the bitmap is assembled from public primitives: gram →
    ``xxhash64`` → bit position, ``bit_or`` aggregate per 64-bit word
    (map-side combinable, ≤ 2^log2_bits/64 result rows), collected and
    densified driver-side."""
    nbits = 1 << log2_bits
    g = benchmark.select(
        F.explode_outer(shingles(F.col(text_col), n=n)).alias("__g")
    ).where(F.col("__g").isNotNull() & (F.length("__g") > 0))
    pos = F.pmod(F.xxhash64(F.col("__g")), F.lit(nbits))
    # toPandas (Arrow batches + a numpy scatter), not collect(): at the
    # 2^30-bit regime the non-zero word table is up to 16.7M rows, and
    # row-object materialization would dominate the fit
    packed = (
        g.select(pos.alias("__p"))
        .select(
            F.shiftright(F.col("__p"), 6).alias("__w"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.pmod(F.col("__p"), F.lit(64)).cast("int"),
            ).alias("__b"),
        )
        .groupBy("__w")
        .agg(F.bit_or("__b").alias("__bits"))
        .toPandas()
    )
    import numpy as np

    words = np.zeros(nbits >> 6, dtype=np.int64)
    words[packed["__w"].to_numpy()] = packed["__bits"].to_numpy()
    return GramBitmap(
        words=tuple(int(w) for w in words), log2_bits=log2_bits, n=n
    )


def _long_array_literal(values) -> Column:
    # one generated-SQL expr, not element-wise F.lit (the
    # double_array_literal lesson: one py4j round-trip per element makes
    # big literals a plan-construction bottleneck)
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in values) + ")")


def bitmap_contains(gram_col: Column, bm: GramBitmap) -> Column:
    """Boolean test of ``gram_col`` against a fitted :class:`GramBitmap`.
    May return true for absent grams (rate ≈ bitmap density), never false
    for present ones. The bit position is bound ONCE as a lambda variable
    (it feeds both the word index and the bit mask — referencing the raw
    hash expression twice would evaluate xxhash64 twice per row).

    Only valid up to ``log2_bits = 22``: the word array rides the plan as
    a generated-SQL array literal, which the driver must parse/analyze/
    codegen — fine at ≤ 65k words (~0.8 MB of expression), fatal at the
    2^30-bit scale (a ~150 MB expression string is not a broadcast).
    Larger bitmaps must go through :func:`bitmap_prefilter`, which ships
    the words as a genuine broadcast dimension table instead."""
    if bm.log2_bits > _LITERAL_MAX_LOG2_BITS:
        raise ValueError(
            f"bitmap_contains embeds the bitmap as a SQL literal and is "
            f"capped at log2_bits={_LITERAL_MAX_LOG2_BITS} "
            f"(got {bm.log2_bits}); use bitmap_prefilter(), whose join "
            f"path handles large bitmaps as a real broadcast"
        )
    nbits = 1 << bm.log2_bits
    arr = _long_array_literal(bm.words)
    pos = F.pmod(F.xxhash64(gram_col), F.lit(nbits))

    def test(p: Column) -> Column:
        word = F.element_at(arr, (F.shiftright(p, 6) + 1).cast("int"))
        bit = F.call_function(
            "shiftleft",
            F.lit(1).cast("long"),
            F.pmod(p, F.lit(64)).cast("int"),
        )
        return word.bitwiseAND(bit) != 0

    return F.element_at(F.transform(F.array(pos), test), 1)


def bitmap_prefilter(
    df: DataFrame,
    gram_col: str,
    bm: GramBitmap,
    *,
    strategy: str | None = None,
) -> DataFrame:
    """Keep only rows whose ``gram_col`` MAY be in the bitmap (superset
    semantics: false positives at ≈ density rate, never false negatives
    — downstream exact joins re-verify, so composed results are exact).

    Two physically different plans with identical semantics, chosen by
    bitmap size (``strategy=None``) or forced (``"literal"``/``"join"``):

    - **literal** (≤ 2^22 bits): the word array rides the filter
      expression itself via :func:`bitmap_contains` — zero extra
      operators, evaluated inside whole-stage codegen.
    - **join** (> 2^22 bits): the NON-ZERO words become a
      ``(word_idx, bits)`` dimension table, broadcast and inner-joined on
      ``shiftright(pos, 6)``. A gram whose word index misses the table
      has no bits set → correctly dropped by the inner join; survivors
      are bit-tested against the joined word. At 2^30 bits the table is
      ≤ 16.7M rows / ~128 MiB of payload — a genuine Tungsten broadcast,
      not a 150 MB expression string the driver would have to parse.
      Built driver-side via Arrow (the words already live on the driver
      post-fit).
    """
    if strategy is None:
        strategy = (
            "literal" if bm.log2_bits <= _LITERAL_MAX_LOG2_BITS else "join"
        )
    if strategy == "literal":
        return df.where(bitmap_contains(F.col(gram_col), bm))
    if strategy != "join":
        raise ValueError(f"unknown bitmap strategy {strategy!r}")

    import numpy as np
    import pandas as pd

    # vectorized non-zero extraction: at 2^30 bits the word array is
    # 16.7M entries — a Python loop over it would cost seconds of
    # driver CPU per call
    arr = np.asarray(bm.words, dtype=np.int64)
    idx = np.flatnonzero(arr)
    words_df = df.sparkSession.createDataFrame(
        pd.DataFrame({"__bm_w": idx.astype(np.int64), "__bm_bits": arr[idx]}),
        schema="__bm_w long, __bm_bits long",
    )
    nbits = 1 << bm.log2_bits
    # bind the hash once: __bm_p is computed a single time per row, then
    # feeds both the join key and the bit mask
    probe = df.withColumn(
        "__bm_p", F.pmod(F.xxhash64(F.col(gram_col)), F.lit(nbits))
    )
    bit = F.call_function(
        "shiftleft",
        F.lit(1).cast("long"),
        F.pmod(F.col("__bm_p"), F.lit(64)).cast("int"),
    )
    return (
        probe.join(
            F.broadcast(words_df),
            F.shiftright(F.col("__bm_p"), 6) == F.col("__bm_w"),
        )
        .where(F.col("__bm_bits").bitwiseAND(bit) != 0)
        .drop("__bm_p", "__bm_w", "__bm_bits")
    )


def _exploded_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    # explode_outer + null filter, not explode: InferFiltersFromGenerate
    # would clone the shingle expression into a pre-projection Filter run
    # on every input row (same trap as winnow_candidate_pairs).
    return (
        df.select(
            F.col(id_col),
            F.explode_outer(shingles(F.col(text_col), n=n)).alias("__g"),
        )
        .where(F.col("__g").isNotNull() & (F.length("__g") > 0))
    )


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 8,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    broadcast_benchmark: bool = True,
    prefilter_bitmap: GramBitmap | None = None,
) -> DataFrame:
    """``(id_col, bench_id_col, n_shared)`` for every corpus document
    sharing ≥ ``min_shared`` distinct word ``n``-grams with a benchmark
    row. ``n_shared`` is the exact distinct-n-gram intersection size
    (both sides shingle with ``array_distinct``, so the count of join
    hits per pair IS the intersection cardinality).

    ``broadcast_benchmark=True`` (default) pins the broadcast-hash-join
    strategy — set it False only if the "benchmark" side is genuinely
    large, in which case a shuffled join on the n-gram string applies.
    For that large-benchmark regime pass ``prefilter_bitmap`` (fitted by
    :func:`build_gram_bitmap` with the SAME ``n``): corpus grams that
    cannot be in the benchmark are dropped map-side BEFORE the shuffle,
    cutting the exchanged volume by ~1/density; the join then re-verifies
    the surviving superset exactly, so output is identical with or
    without the bitmap. ``n`` defaults to 8 words, the common
    decontamination gram length; lower it for short benchmark prompts.
    """
    if prefilter_bitmap is not None and prefilter_bitmap.n != n:
        raise ValueError(
            f"prefilter_bitmap was fitted for n={prefilter_bitmap.n}, "
            f"probe uses n={n} — membership would be meaningless"
        )
    c = _exploded_ngrams(corpus, id_col, text_col, n)
    if prefilter_bitmap is not None:
        c = bitmap_prefilter(c, "__g", prefilter_bitmap)
    b = _exploded_ngrams(benchmark, bench_id_col, bench_text_col, n)
    if broadcast_benchmark:
        b = F.broadcast(b)
    return _block_pairs(c, ["__g"], b).select(
        F.col("id_a").alias(id_col),
        F.col("id_b").alias(bench_id_col),
        F.col("shared").alias("n_shared"),
    ).where(F.col("n_shared") >= min_shared)


def flag_contaminated(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 8,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    flag_col: str = "contaminated",
    matches_col: str = "n_bench_matches",
) -> DataFrame:
    """Corpus rows annotated with ``flag_col`` (true iff the row shares ≥
    ``min_shared`` n-grams with ANY benchmark row) and ``matches_col``
    (how many benchmark rows it matched). The per-doc rollup of
    :func:`contamination_pairs` joined back — the join's right side is
    one row per contaminated doc (tiny), so AQE broadcasts it.
    """
    pairs = contamination_pairs(
        corpus,
        benchmark,
        n=n,
        min_shared=min_shared,
        id_col=id_col,
        text_col=text_col,
        bench_id_col=bench_id_col,
        bench_text_col=bench_text_col,
    )
    per_doc = pairs.groupBy(id_col).agg(
        F.count(F.lit(1)).alias(matches_col)
    )
    return (
        corpus.join(per_doc, on=id_col, how="left")
        .withColumn(matches_col, F.coalesce(F.col(matches_col), F.lit(0)))
        .withColumn(flag_col, F.col(matches_col) >= 1)
    )

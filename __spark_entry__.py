"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full Layer-B→Layer-A pipeline (windowed
point-in-time featurization of the events stream → random-forest
tournament screening) at sf0.001.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 plus the training-data pipeline operators, each with a DuckDB
oracle where SQL-expressible. Column names and float rounding are aligned
on both sides so the driver's order-insensitive value-hash matches.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from featurescreening_jl_spark.functions.time import epoch_seconds

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "documents":
        # The sf-scale documents table is ONE parquet row group, so Spark
        # gives the scan exactly one input split — and every map-side
        # per-document stage (shingling, minhash, simhash, LM scoring,
        # repetition stats) would serialize onto a single core no matter
        # the cluster size. Fan it out once here (the table is ~2 MB at
        # sf0.1, the shuffle is free). At production scale the scan has
        # thousands of row-group splits and this repartition would be
        # omitted — the operators themselves stay map-side.
        df = df.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return df


# ---------------------------------------------------------------------------
# derived transcripts table (the north_rule input shape)
# ---------------------------------------------------------------------------
#
# BASELINE.json input_hint mandates the exact shape
# (conv_id string, turn_idx int, role string, text string, tool string,
# ts timestamp). The driver's testdata has no transcripts table, so one is
# DERIVED deterministically from events × documents with pure modular
# arithmetic — the identical table is reconstructable in DuckDB SQL, which
# makes every transcripts-pipeline query oracle-checkable. (The package's
# own synthetic generator, sources/transcripts.py, covers tests/bench at
# arbitrary scale; this derivation exists for the oracle contract.)

_TRANSCRIPTS_SQL = """
    SELECT 'conv_' || e.user_id::VARCHAR AS conv_id,
           (row_number() OVER (PARTITION BY e.user_id
                               ORDER BY e.ts, e.event_id) - 1)::INT AS turn_idx,
           CASE e.event_id % 3 WHEN 0 THEN 'user'
                               WHEN 1 THEN 'assistant'
                               ELSE 'tool' END AS role,
           d.text AS text,
           CASE WHEN e.event_id % 3 = 2
                THEN ['search','bash','sql','browser'][(e.event_id % 4 + 1)::INT]
                ELSE NULL END AS tool,
           e.ts AS ts
    FROM events e JOIN documents d ON d.doc_id = e.event_id % 500
"""


def _transcripts(spark: SparkSession, sf: str) -> DataFrame:
    ev = _t(spark, sf, "events")
    docs = _t(spark, sf, "documents").select(
        "doc_id", F.col("text").alias("__doc_text")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tools = F.array(*[F.lit(t) for t in ("search", "bash", "sql", "browser")])
    m3 = F.col("event_id") % 3
    # turn_idx is computed over the POST-join relation, mirroring the oracle
    # SQL exactly — computing it pre-join would silently desync whenever a
    # doc_id in 0..499 had no documents row (round-1 advisor finding)
    return (
        ev.join(F.broadcast(docs), F.col("event_id") % 500 == F.col("doc_id"))
        .withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))
        .select(
            F.concat(F.lit("conv_"), F.col("user_id").cast("string")).alias(
                "conv_id"
            ),
            "turn_idx",
            F.when(m3 == 0, "user")
            .when(m3 == 1, "assistant")
            .otherwise("tool")
            .alias("role"),
            F.col("__doc_text").alias("text"),
            F.when(
                m3 == 2, F.element_at(tools, (F.col("event_id") % 4 + 1).cast("int"))
            ).alias("tool"),
            "ts",
        )
    )


# ---------------------------------------------------------------------------
# flagship: transcripts → point-in-time featurization → RF tournament screen
# ---------------------------------------------------------------------------


def _screen_transcripts(spark: SparkSession, sf: str) -> DataFrame:
    """The full Layer-B → Layer-A pipeline of SURVEY.md §7.0: windowed
    leakage-free featurization of the transcripts table, then the
    random-forest tournament screening loop."""
    from featurescreening_jl_spark import screen
    from featurescreening_jl_spark.operators.window_features import (
        turn_feature_frame,
    )

    # turn_feature_frame: the canonical sample_id (turn_sample_id, a
    # PORTABLE 60-bit md5 hash, so the DuckDB oracle can reconstruct the
    # identical ids — this is what makes the flagship screening pipeline
    # oracle-checkable end to end), the tool/no_tool label and the text
    # dropped before the window shuffle. The CLI job uses the same frame.
    ff = turn_feature_frame(_transcripts(spark, sf))
    result = screen(
        ff,
        reduced_size=4,
        step_size=5,
        config={"n_trees": 64, "max_depth": 8, "min_samples_leaf": 10,
                "min_purity_increase": 0.0},
        rng=42,
        show_progress=False,
        # map-only partition-ensemble importance — the 10^12-row scale
        # path (near-linear scaling; MLlib backend is the
        # semantics-faithful default elsewhere)
        importance_backend="partitioned",
        backend_options={"num_partitions": 16},
        # the caller (driver/bench) materializes the returned frame right
        # away; keep the loop cache so that read is a narrow in-memory
        # projection instead of a full featurization recompute
        unpersist=False,
    )
    return result.df


def entry(spark: SparkSession) -> DataFrame:
    """Featurize the sf0.001 transcripts, screen the per-turn feature set
    with the RF tournament, return the screened feature matrix."""
    return _screen_transcripts(spark, SF_DEFAULT)


# ---------------------------------------------------------------------------
# operator queries + oracles
# ---------------------------------------------------------------------------


def q_projection(spark, sf):
    return _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


def q_column_merge_join(spark, sf):
    # the reference's merge() general case: row-aligned column union of two
    # separately materialized sides = equi-join (broadcast the small side)
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    cust = _t(spark, sf, "customer").select("c_custkey", "c_acctbal")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("o_orderkey", "o_totalprice", "c_acctbal")
    )


def q_hash_count_agg(spark, sf):
    # the importance-count shape: SELECT key, count(*) GROUP BY key
    return (
        _t(spark, sf, "lineitem")
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(F.count("*").alias("cnt"))
    )


def q_topk(spark, sf):
    # sort+limit with deterministic tie-break (count desc, key asc) —
    # Spark plans TakeOrderedAndProject
    return (
        _t(spark, sf, "lineitem")
        .groupBy("l_partkey")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
        .orderBy(F.desc("total_qty"), F.asc("l_partkey"))
        .limit(10)
    )


def q_select_top_fraction(spark, sf):
    # SelectTop(0.25) data-side: floor(n * ratio) prefix of the ranked list.
    # k comes from a scalar count() first, then orderBy+limit — Spark plans
    # TakeOrderedAndProject (per-partition top-k, tiny driver merge). The
    # round-1 version used an un-partitioned window + count() OVER (), which
    # Spark executes on a SINGLE partition — a scale-killer at 100×.
    sup = _t(spark, sf, "supplier")
    k = int(sup.count() * 0.25)
    return (
        sup.select("s_suppkey", "s_acctbal")
        .orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
        .limit(k)
    )


def q_lag_lead_window(spark, sf):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return _t(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


def q_sessionize(spark, sf):
    from featurescreening_jl_spark.operators.window_features import sessionize

    ev = _t(spark, sf, "events")
    out = sessionize(ev, gap_seconds=1800, by="user_id", order=("ts", "event_id"))
    return out.select("event_id", "user_id", "session_id")


def q_running_agg(spark, sf):
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf, "events").select(
        "event_id",
        F.count("*").over(w).alias("cum_events"),
        F.round(F.sum("value").over(w), 4).alias("cum_value"),
    )


def _asof_inputs(spark, sf):
    ev = _t(spark, sf, "events")
    queries = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    sources = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("last_purchase_value")
    )
    return queries, sources


def q_asof_join_window(spark, sf):
    from featurescreening_jl_spark.operators.asof_join import asof_join

    queries, sources = _asof_inputs(spark, sf)
    out = asof_join(
        queries, sources, on="ts", by="user_id",
        value_cols=["last_purchase_value"], strategy="window",
    )
    return out.select("event_id", "user_id", "last_purchase_value")


def q_asof_join_bucketed(spark, sf):
    from featurescreening_jl_spark.operators.asof_join import asof_join

    queries, sources = _asof_inputs(spark, sf)
    # salt_buckets bounds pandas-group size (rows-per-day ÷ K). K is sized
    # so groups stay ≥~1k rows at THIS data scale — at corpus scale K
    # scales with the cluster (cogroup count = K × #days; per-group
    # overhead is the tax for bounded memory).
    out = asof_join(
        queries, sources, on="ts", by="user_id",
        value_cols=["last_purchase_value"], strategy="bucketed",
        bucket_seconds=86400, salt_buckets=4,
    )
    return out.select("event_id", "user_id", "last_purchase_value")


def q_multi_agg_rollup(spark, sf):
    return (
        _t(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            (
                F.max(epoch_seconds(F.col("ts"))) - F.min(epoch_seconds(F.col("ts")))
            ).alias("duration_sec"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


def q_dedup_exact(spark, sf):
    from featurescreening_jl_spark.operators.dedup import dedup_exact

    docs = _t(spark, sf, "documents")
    return dedup_exact(docs).select("doc_id", "n_chars")


def q_dedup_exact_incremental(spark, sf):
    """Shard-vs-index exact dedup (operators/dedup.py
    dedup_exact_incremental) — the daily-crawl ingest shape: history is
    never re-deduped, only the new shard screens against the index's
    fingerprint set and its own duplicates. The corpus has no natural
    exact duplicates, so both drop-reasons are synthesized in-query:
    every 10th index doc re-arrives in the shard under a new id (must
    drop — known text) and every 25th shard doc appears twice (min-id
    representative wins). Expected survivors = exactly the natural
    shard rows; the oracle replays fingerprinting via normalized-text
    grouping, the NOT-IN screen, and the min-id pick."""
    from featurescreening_jl_spark.operators.dedup import (
        dedup_exact_incremental,
    )

    docs = _t(spark, sf, "documents")
    index = docs.where(F.col("doc_id") < 250)
    shard_nat = docs.where(F.col("doc_id") >= 250)
    re_arrivals = index.where(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    intra_dups = shard_nat.where(F.col("doc_id") % 25 == 0).withColumn(
        "doc_id", F.col("doc_id") + 20000
    )
    shard = shard_nat.unionByName(re_arrivals).unionByName(intra_dups)
    return dedup_exact_incremental(shard, index).select("doc_id", "n_chars")


def q_text_stats(spark, sf):
    docs = _t(spark, sf, "documents")
    trimmed = F.trim(F.col("text"))
    n_chars = F.length("text").cast("long")
    n_tokens = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    ).cast("long")
    return docs.select(
        "doc_id",
        n_chars.alias("text_chars"),
        n_tokens.alias("n_tokens"),
        F.round(n_chars.cast("double") / n_tokens.cast("double"), 4).alias(
            "mean_word_len"
        ),
    )


def q_lang_distribution(spark, sf):
    return (
        _t(spark, sf, "documents").groupBy("lang").agg(F.count("*").alias("cnt"))
    )


def q_cosine_topk(spark, sf):
    from featurescreening_jl_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb, queries, k=5, round_decimals=4)
    return out.select("vec_id", "similarity", F.col("rank").cast("long").alias("rank"))


def q_minhash_pairs(spark, sf):
    # Oracle-checked END-TO-END: the oracle computes exact all-pairs
    # word-3-gram Jaccard ≥ 0.8 over the same slice, so the check verifies
    # both that LSH banding (64 hashes × 16 bands) drops NO true pair at
    # this threshold (collision prob ≥ 0.9998 at j = 0.8) and that the
    # exact-Jaccard verify step admits no sub-threshold pair.
    from featurescreening_jl_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 300)
    return minhash_lsh_pairs(docs, jaccard_threshold=0.8).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def q_screen_pipeline(spark, sf):
    # Flagship RF-tournament screen. The forest fit itself is not
    # SQL-expressible, but the WHOLE run is deterministic (seeded RNG,
    # fixed partition-ensemble layout), so the oracle recomputes the
    # featurization in SQL and projects the exact feature set the screen
    # selects — a regression in featurization values OR in the selection
    # outcome both surface as a hash/schema mismatch.
    res = _screen_transcripts(spark, sf)
    feat_cols = [c for c in res.columns if c not in ("sample_id", "label")]
    return res.select(
        "sample_id", "label",
        *[F.round(F.col(c), 4).alias(c) for c in feat_cols],
    )


# ---------------------------------------------------------------------------
# transcripts pipeline (north_rule shape), oracle-checked
# ---------------------------------------------------------------------------


def q_transcripts_shape(spark, sf):
    # the exact input_hint schema + per-turn text equality under stable
    # (conv_id, turn_idx) ordering — ts surfaced as epoch seconds so the
    # value-hash is timezone-proof
    t = _transcripts(spark, sf)
    return t.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        epoch_seconds(F.col("ts")).alias("ts_epoch"),
    )


def q_transcripts_turn_features(spark, sf):
    from featurescreening_jl_spark.operators.window_features import turn_features

    out = turn_features(_transcripts(spark, sf), gap_seconds=1800, recent_k=5)
    return out.select(
        "conv_id",
        "turn_idx",
        "text",
        "session_id",
        "time_since_prev",
        "lag1_text_len",
        "session_turn_idx",
        "session_elapsed",
        "cum_tool_calls",
        "tool_calls_last_k",
        F.round("avg_text_len_last_k", 4).alias("avg_text_len_last_k"),
        "label_next_is_tool",
    )


def q_transcripts_conversation_agg(spark, sf):
    from featurescreening_jl_spark.operators.window_features import (
        conversation_aggregates,
    )

    agg = conversation_aggregates(_transcripts(spark, sf))
    return agg.select(
        "conv_id", "n_turns", "n_tool_calls", "n_distinct_tools",
        "n_sessions", "duration_sec",
        F.round("avg_text_len", 4).alias("avg_text_len"),
    )


def q_transcripts_asof_backfill(spark, sf):
    # the north_star backfill: attach the latest preceding tool turn at
    # every (conv_id, ts) cutoff. Flagship slot showcases the WINDOW
    # strategy — the fastest plan at scale (10.4s vs merge_asof's 17.6s on
    # 15.46M rows, tools/scale_smoke.py): one shuffle, fully codegen'd,
    # streaming per partition. merge_asof coverage lives in q_asof_join_merge.
    from featurescreening_jl_spark.operators.asof_join import asof_join

    t = _transcripts(spark, sf)
    queries_df = t.select("conv_id", "ts", "turn_idx")
    sources = t.where(F.col("tool").isNotNull()).select(
        "conv_id", "ts", F.col("tool").alias("last_tool")
    )
    out = asof_join(
        queries_df, sources, on="ts", by="conv_id",
        value_cols=["last_tool"], strategy="window",
    )
    return out.select("conv_id", "turn_idx", "last_tool")


def q_asof_leakage_audit(spark, sf):
    """Operational zero-temporal-leakage audit over the flagship
    backfill: run the same window-strategy as-of join but attach the
    matched source row's OWN timestamp, then roll the table to ONE row —
    rows, matched rows, violations (matched_ts > cutoff; MUST be 0: the
    north_rule's leakage contract as a runnable production audit, not
    only a pytest property), and the max matched-minus-cutoff lead in
    exact integer µs (≤ 0 when sane). The oracle recomputes the as-of
    match independently as a correlated max-ts subquery and replays the
    same integer rollup — two different join formulations agreeing on
    the audit is itself the check."""
    from featurescreening_jl_spark.operators.asof_join import asof_join

    t = _transcripts(spark, sf)
    queries_df = t.select("conv_id", "ts", "turn_idx")
    sources = t.where(F.col("tool").isNotNull()).select(
        "conv_id", "ts", F.col("ts").alias("matched_ts")
    )
    out = asof_join(
        queries_df, sources, on="ts", by="conv_id",
        value_cols=["matched_ts"], strategy="window",
    )
    return out.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("matched_ts").cast("long").alias("n_matched"),
        F.sum(
            F.when(F.col("matched_ts") > F.col("ts"), 1).otherwise(0)
        ).cast("long").alias("n_violations"),
        F.max(
            # parquet carries TIMESTAMP_NTZ; unix_micros requires LTZ
            # (session tz is pinned UTC, so the cast is value-preserving)
            F.unix_micros(F.col("matched_ts").cast("timestamp_ltz"))
            - F.unix_micros(F.col("ts").cast("timestamp_ltz"))
        ).cast("long").alias("max_lead_us"),
    )


def q_asof_join_merge(spark, sf):
    # third as-of strategy (cogroup + pandas.merge_asof) on the events shape
    from featurescreening_jl_spark.operators.asof_join import asof_join

    queries_df, sources = _asof_inputs(spark, sf)
    out = asof_join(
        queries_df, sources, on="ts", by="user_id",
        value_cols=["last_purchase_value"], strategy="merge_asof",
    )
    return out.select("event_id", "user_id", "last_purchase_value")


# ---------------------------------------------------------------------------
# training-data pipeline operators
# ---------------------------------------------------------------------------


def q_doc_quality(spark, sf):
    from featurescreening_jl_spark.operators.text_analysis import (
        bpe_ish_token_count,
        quality_features,
    )

    docs = _t(spark, sf, "documents")
    qf = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        qf["n_chars"].cast("long").alias("n_chars"),
        qf["n_tokens"].cast("long").alias("n_tokens"),
        F.round(qf["mean_word_len"], 4).alias("mean_word_len"),
        F.round(qf["punct_ratio"], 4).alias("punct_ratio"),
        F.round(qf["upper_ratio"], 4).alias("upper_ratio"),
        F.round(qf["stopword_ratio"], 4).alias("stopword_ratio"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
    )


def q_language_id(spark, sf):
    from featurescreening_jl_spark.operators.text_analysis import language_id

    return _t(spark, sf, "documents").select(
        "doc_id", language_id(F.col("text")).alias("lang_pred")
    )


def q_fingerprint_distinct(spark, sf):
    # xxhash64 fingerprints aren't reproducible in DuckDB, but their COUNT
    # must equal the count of distinct normalized texts (collision-free at
    # this scale) — which is oracle-expressible.
    from featurescreening_jl_spark.operators.text_analysis import fingerprint

    docs = _t(spark, sf, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.agg(
        F.countDistinct(fingerprint(F.col("text"))).alias("n_fp"),
        F.countDistinct(norm).alias("n_text"),
    )


def q_ngram_jaccard(spark, sf):
    # exact all-pairs word-3-gram Jaccard on a bounded slice (O(n²) —
    # standalone verifier; minhash_lsh prunes candidates at corpus scale)
    from featurescreening_jl_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 400)
    out = ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.3)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_simhash_dedup(spark, sf):
    # portable (md5-based) shingle hashing → the DuckDB oracle recomputes
    # the exact 32-bit simhash per doc and the same min-id-per-hash dedup.
    # The simhash VALUE is part of the output so the check verifies all 32
    # bits per doc, not just row membership (which would be vacuous when no
    # two docs collide).
    from featurescreening_jl_spark.operators.dedup import simhash_dedup

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 4000)
    return simhash_dedup(
        docs, num_bits=32, portable=True, keep_hash="simhash32"
    ).select("doc_id", "n_chars", "simhash32")


def q_lsh_topk(spark, sf):
    # Oracle = brute-force exact top-5 per query. The testdata corpus has
    # no angularly-close neighbors (max off-diagonal cosine 0.48), which no
    # sign-LSH can retrieve reliably — and an ANN operator is only MEANT to
    # find close neighbors. So each query's true neighborhood is
    # synthesized in-query: 4 constant-shifted copies per query vector
    # (cosine ≈ 0.9957..0.9997, strictly ordered) plus the query itself.
    # The true top-5 is then angularly tight (LSH collision certain at
    # these params — verified deterministic) and hugely separated from the
    # rest of the corpus, so ANN output must EQUAL the exact result; any
    # recall regression fails the driver check. Probabilistic recall on
    # non-synthetic data is asserted in tests/test_pipeline_ops.py.
    from featurescreening_jl_spark.operators.similarity import lsh_topk

    # cast + SQL-parsed transforms (see q_cosine_neardup for why not
    # Column-API lambdas in a multi-branch union)
    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base4 = emb.where(F.col("vec_id") < 4)
    copies = None
    for j, c in enumerate((0.003, 0.006, 0.009, 0.012)):
        cp = base4.select(
            (F.col("vec_id") + 1000 * (j + 1)).alias("vec_id"),
            F.expr(f"transform(embedding, x -> x + {c}D)").alias("embedding"),
        )
        copies = cp if copies is None else copies.unionByName(cp)
    corpus = emb.unionByName(copies)
    queries_df = base4.select(F.col("vec_id").alias("query_id"), "embedding")
    out = lsh_topk(
        corpus, queries_df, k=5, dim=64, n_planes=8, n_tables=4, seed=42
    )
    return out.select(
        "query_id", "vec_id", F.round("similarity", 4).alias("similarity"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ivf_topk(spark, sf):
    # IVF ANN (the FAISS-style second scale path next to sign-LSH). Oracle
    # = brute-force exact top-5 per query over the SAME synthesized union
    # as q_lsh_topk: 4 constant-shifted copies per query vector (cosine
    # ≈ 0.9957..0.9997, strictly ordered) plus the query itself. The
    # probed cells (query's own top-n_probe) contain the whole true
    # neighborhood at these params — verified deterministic across SFs —
    # so IVF output must EQUAL the exact result; a recall regression, a
    # broken cell assignment, or a probe-ordering bug all fail the check.
    # Probabilistic recall on non-synthetic data: tests/test_ivf.py.
    from featurescreening_jl_spark.operators.ivf import ivf_topk, train_centroids

    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base4 = emb.where(F.col("vec_id") < 4)
    copies = None
    for j, c in enumerate((0.003, 0.006, 0.009, 0.012)):
        cp = base4.select(
            (F.col("vec_id") + 1000 * (j + 1)).alias("vec_id"),
            F.expr(f"transform(embedding, x -> x + {c}D)").alias("embedding"),
        )
        copies = cp if copies is None else copies.unionByName(cp)
    corpus = emb.unionByName(copies)
    queries_df = base4.select(F.col("vec_id").alias("query_id"), "embedding")
    cents = train_centroids(corpus, 8, seed=42, n_iter=10)
    out = ivf_topk(
        corpus, queries_df, k=5, dim=64, centroids=cents, n_probe=3
    )
    return out.select(
        "query_id", "vec_id", F.round("similarity", 4).alias("similarity"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_trailing_time(spark, sf):
    # Event-TIME trailing windows (range frames over exact epoch micros)
    # — both the inclusive form and the strictly-before-now form that
    # excludes same-timestamp peers (the leakage-safe variant).
    from featurescreening_jl_spark.operators.window_features import (
        trailing_time_features,
        trailing_time_window,
    )

    t = _transcripts(spark, sf)
    out = trailing_time_features(t, windows={"10m": 600})
    strict = trailing_time_window(seconds=600, include_current=False)
    return out.withColumn(
        "turns_before_10m", F.count(F.lit(1)).over(strict)
    ).select(
        "conv_id",
        "turn_idx",
        F.col("turns_last_10m").cast("long").alias("turns_last_10m"),
        F.col("tool_calls_last_10m").cast("long").alias("tool_calls_last_10m"),
        F.col("chars_last_10m").cast("long").alias("chars_last_10m"),
        F.col("turns_before_10m").cast("long").alias("turns_before_10m"),
    )


def q_tfidf_top_terms(spark, sf):
    # Top characteristic terms per doc; tfidf rounded to 4 decimals (ln is
    # libm-vs-JVM — last-ulp differences are sub-rounding).
    from featurescreening_jl_spark.operators.text_analysis import tfidf_top_terms

    docs = _t(spark, sf, "documents")
    out = tfidf_top_terms(docs, k=3)
    return out.select(
        "doc_id", "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.round("tfidf", 4).alias("tfidf"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_winnow_fingerprints(spark, sf):
    # MOSS winnowing (k=5-gram md5 hashes, window w=4 minima) — the oracle
    # recomputes EVERY selected fingerprint value with DuckDB list
    # functions, pinning gram hashing, window minima, and the short-text
    # edge cases end-to-end.
    from featurescreening_jl_spark.operators.text_analysis import (
        winnow_fingerprints,
    )

    # explode_outer + null filter, not explode — see winnow_candidate_pairs:
    # InferFiltersFromGenerate would clone the whole winnow expression into
    # a pre-projection Filter run on every input row (7× at this
    # selectivity).
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    return (
        winnow_fingerprints(docs, k=5, w=4)
        .select("doc_id", F.explode_outer("fingerprints").alias("fp"))
        .where(F.col("fp").isNotNull())
    )


def q_winnow_pairs(spark, sf):
    # Substring-overlap candidates: the oracle recomputes both docs'
    # fingerprint SETS and intersects them (list_intersect == the distinct
    # shared-fp count the groupBy produces), checking the bucketed join
    # against a brute-force pairwise intersection.
    from featurescreening_jl_spark.operators.text_analysis import (
        winnow_candidate_pairs,
    )

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 120)
    return winnow_candidate_pairs(docs, k=5, w=4, min_shared=5).select(
        "id_a", "id_b", F.col("n_shared").cast("long").alias("n_shared")
    )


def q_hash_split(spark, sf):
    # Deterministic train/val/test assignment — oracle reproduces the
    # portable md5→unit-interval arithmetic, so EXACT per-row membership
    # is checked, not proportions. Weights are binary-exact (0.75/0.125)
    # so Spark's cumulative-double thresholds equal DuckDB's literals.
    from featurescreening_jl_spark.operators.sampling import hash_split

    docs = _t(spark, sf, "documents")
    return hash_split(
        docs, {"train": 0.75, "val": 0.125, "test": 0.125}, key_col="doc_id"
    ).select("doc_id", "split")


def q_stratified_sample(spark, sf):
    # Per-language keep fractions (downsample the head language, keep the
    # tail) — the oracle checks the exact surviving row set.
    from featurescreening_jl_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf, "documents")
    return stratified_sample(
        docs, {"en": 0.5, "de": 1.0}, strata_col="lang", key_col="doc_id"
    ).select("doc_id", "lang")


def q_per_key_cap(spark, sf):
    # Quota sampling: newest 3 events per user (ties broken by event_id —
    # a total order, so the kept set is unique and oracle-checkable).
    from featurescreening_jl_spark.operators.sampling import per_key_cap

    ev = _t(spark, sf, "events")
    return per_key_cap(
        ev, ["user_id"], 3,
        order_by=[F.desc("ts"), F.asc("event_id")], keep_rank="rk",
    ).select("event_id", "user_id", F.col("rk").cast("long").alias("rk"))


def q_weighted_mix(spark, sf):
    # Two sources mixed at different keep fractions with provenance tags;
    # per-source coin streams (name is hashed with the key), fraction 0.5
    # is binary-exact for the oracle comparison.
    from featurescreening_jl_spark.operators.sampling import weighted_mix

    docs = _t(spark, sf, "documents")
    evens = docs.where(F.col("doc_id") % 2 == 0)
    odds = docs.where(F.col("doc_id") % 2 == 1)
    return weighted_mix(
        [("even", evens, 1.0), ("odd", odds, 0.5)], key_col="doc_id"
    ).select("doc_id", "source_name")


def _docs_with_tokens(spark, sf):
    # whitespace token counts (the text_stats contract) precomputed so the
    # packing scan never touches text
    from featurescreening_jl_spark.operators.text_analysis import token_count

    return _t(spark, sf, "documents").select(
        "doc_id",
        "source",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )


def q_pack_greedy(spark, sf):
    # Capacity-respecting sequence packing (first-fit-sequential per hash
    # group, Arrow cogroup scan — operators/packing.py). The oracle
    # replays the EXACT sequential scan as a DuckDB recursive CTE over the
    # same portable hash order, so pack membership, position, and running
    # fill are all checked row by row.
    from featurescreening_jl_spark.operators.packing import pack_sequences

    out = pack_sequences(
        _docs_with_tokens(spark, sf), 500, strategy="greedy", num_groups=4
    )
    return out.select("doc_id", "pack_id", "pack_pos", "pack_tokens")


def q_pack_offset(spark, sf):
    # Concat-then-chunk packing: pure window cumsum, pack = the budget
    # multiple where the doc begins. Same deterministic hash order as
    # greedy; fully window-SQL-expressible.
    from featurescreening_jl_spark.operators.packing import pack_sequences

    out = pack_sequences(
        _docs_with_tokens(spark, sf), 500, strategy="offset", num_groups=4
    )
    return out.select("doc_id", "pack_id", "pack_pos", "pack_tokens")


def q_token_budget_mix(spark, sf):
    # Mixture reweighting by TOKEN budget: keep fraction = min(1,
    # budget/observed source tokens), then the portable per-source hash
    # filter — exact kept-row membership and the computed fraction are
    # both oracle-checked. Budgets chosen so one source keeps everything
    # (frac clamps to 1) and two are genuinely downsampled.
    from featurescreening_jl_spark.operators.sampling import token_budget_mix

    out = token_budget_mix(
        _docs_with_tokens(spark, sf),
        {"src1": 800.0, "src2": 5000.0, "src3": 700.0},
        token_col="n_tokens",
        key_col="doc_id",
        frac_col="keep_frac",
    )
    return out.select(
        "doc_id", "source", F.round("keep_frac", 6).alias("keep_frac")
    )


def q_repetition_stats(spark, sf):
    # Gopher-style within-document repetition signals, computed entirely
    # map-side (zero shuffles — plan-shape-pinned in tests). Line
    # structure is synthesized deterministically (sentences → lines;
    # every third doc's text is doubled so duplicate-line fractions are
    # non-trivial), and the oracle recomputes every count and fraction
    # from scratch with unnest+groupBy SQL — two completely different
    # algorithms, same numbers.
    from featurescreening_jl_spark.operators.text_analysis import (
        repetition_stats,
    )

    docs = _t(spark, sf, "documents")
    base = F.regexp_replace(F.col("text"), r"\. ", "\n")
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.concat_ws("\n", base, base))
        .otherwise(base)
        .alias("text"),
    )
    out = repetition_stats(aug)
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round("top_bigram_frac", 6).alias("top_bigram_frac"),
    )


def q_contamination(spark, sf):
    # Benchmark decontamination: the "benchmark" is a verbatim character
    # span of every 50th document, so each benchmark row MUST flag its
    # source (and any near-dups). The oracle recomputes both sides'
    # distinct 5-gram sets and intersects them pairwise — checking the
    # broadcast-index join's hit counts against brute force.
    from featurescreening_jl_spark.operators.decontam import (
        contamination_pairs,
    )

    docs = _t(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 7).select(
        F.col("doc_id").alias("bench_id"),
        F.col("text").substr(11, 200).alias("text"),
    )
    return contamination_pairs(docs, bench, n=5, min_shared=2).select(
        "doc_id", "bench_id", F.col("n_shared").cast("long").alias("n_shared")
    )


def q_contamination_bitmap(spark, sf):
    """The large-benchmark decontamination regime: broadcast of the EXACT
    benchmark gram index disabled (the 10^8-gram eval-union case), so the
    join must shuffle — and a fitted 2^17-bit membership bitmap
    (operators/decontam.py build_gram_bitmap, a hand-rolled k=1 Bloom
    over xxhash64 + bit_or since bloom_filter_agg is not SQL-registered
    in this build) drops non-benchmark corpus grams MAP-SIDE before that
    exchange. Bloom filters have no false negatives and the join
    re-verifies survivors exactly, so the oracle is IDENTICAL to
    `contamination`'s — same pairs, same counts."""
    from featurescreening_jl_spark.operators.decontam import (
        build_gram_bitmap,
        contamination_pairs,
    )

    docs = _t(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 7).select(
        F.col("doc_id").alias("bench_id"),
        F.col("text").substr(11, 200).alias("text"),
    )
    bm = build_gram_bitmap(bench, n=5, log2_bits=17)
    return contamination_pairs(
        docs,
        bench,
        n=5,
        min_shared=2,
        broadcast_benchmark=False,
        prefilter_bitmap=bm,
    ).select(
        "doc_id", "bench_id", F.col("n_shared").cast("long").alias("n_shared")
    )


def q_encoding_quality(spark, sf):
    """Mojibake / binary-junk gate (operators/text_analysis.py
    encoding_quality): U+FFFD and C0-control counts, ratios, and a
    threshold verdict — the encoding-hygiene check that runs BEFORE the
    linguistic quality filters. Damage is synthesized in-query (every
    9th doc gets three replacement chars and three control bytes
    appended) so both verdict branches are exercised; the oracle replays
    the injection and the identical regex arithmetic."""
    from featurescreening_jl_spark.operators.text_analysis import (
        encoding_quality,
    )

    docs = _t(spark, sf, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(F.col("text"), F.lit("���\x01\x02\x0b")),
        ).otherwise(F.col("text")),
    )
    return encoding_quality(docs)


def q_exact_stratified(spark, sf):
    """Exact-size stratified sample (operators/sampling.py
    exact_stratified_sample): EXACTLY 40 documents apportioned across
    languages by the largest-remainder method, each stratum contributing
    its smallest-portable-hash rows. The oracle replays the integer
    apportionment (floor quotas + remainder seats with the same
    deterministic tie-break) and the per-stratum md5-hash rank, so exact
    row MEMBERSHIP is checked, not just counts."""
    from featurescreening_jl_spark.operators.sampling import (
        exact_stratified_sample,
    )

    docs = _t(spark, sf, "documents")
    return exact_stratified_sample(
        docs, strata_col="lang", key_col="doc_id", n_total=40
    ).select("doc_id", "lang")


def q_weighted_reservoir(spark, sf):
    # Importance-weighted corpus sampling (A-Res, weight = text length):
    # the oracle reproduces the portable md5→unit hash and the u^(1/w)
    # keys, so the EXACT selected membership and scores are checked —
    # the data-side counterpart of the reference's SelectByImportance.
    from featurescreening_jl_spark.operators.sampling import (
        weighted_reservoir,
    )

    docs = _t(spark, sf, "documents").withColumn(
        "w", F.length("text").cast("double")
    )
    out = weighted_reservoir(
        docs, 50, weight_col="w", key_col="doc_id", score_col="score"
    )
    return out.select("doc_id", F.round("score", 8).alias("score"))


def q_pii_redaction(spark, sf):
    # Privacy filtering: PII (email / IPv4 / phone) injected
    # deterministically into every fifth document, then counted and
    # redacted. Patterns are restricted to the Java∩RE2 regex subset, so
    # the oracle re-runs the IDENTICAL patterns in DuckDB and compares
    # the redacted text byte-for-byte.
    from featurescreening_jl_spark.operators.text_analysis import (
        pii_stats,
        redact_pii,
    )

    docs = _t(spark, sf, "documents")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-867-5309 at 10.0.0."),
                (F.col("doc_id") % 256).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    stats = pii_stats(F.col("text"))
    return injected.select(
        "doc_id",
        *[c.cast("long").alias(n) for n, c in stats.items()],
        redact_pii(F.col("text")).alias("redacted"),
    )


def q_conv_truncate(spark, sf):
    # Conversation token-budget truncation: keep each conversation's
    # longest prefix whose cumulative whitespace-token count stays within
    # the budget. One running-sum window + one filter; the monotone
    # cumsum makes the filter a provable prefix cut (no grouped UDF).
    from featurescreening_jl_spark.operators.conversations import (
        truncate_to_token_budget,
    )

    t = _transcripts(spark, sf)
    out = truncate_to_token_budget(t, budget_tokens=200)
    return out.select("conv_id", "turn_idx", "cum_tokens")


def q_conv_validity(spark, sf):
    # Chat-format audit: per-conversation shape stats + is_valid verdict
    # (opener role, empty turns, role-repetition rate). One lag window
    # feeding one hash aggregate.
    from featurescreening_jl_spark.operators.conversations import (
        conversation_validity,
    )

    return conversation_validity(_transcripts(spark, sf), min_alternation=0.7)


def q_quality_score(spark, sf):
    # Deterministic logistic quality score (C4/Gopher-style heuristic
    # filter stage) — fixed public weights over the quality_features
    # signals; the identical closed form re-runs in DuckDB.
    from featurescreening_jl_spark.operators.text_analysis import quality_score

    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id", F.round(quality_score(F.col("text")), 4).alias("q_score")
    )


def q_json_facets(spark, sf):
    # Semi-structured extraction: ONE typed from_json parse per row over
    # events.props (never per-field get_json_object re-parses, never a
    # Python UDF), then a per-event_type rollup of the extracted field.
    from featurescreening_jl_spark.operators.semistructured import (
        parse_json_fields,
    )

    ev = _t(spark, sf, "events")
    typed = parse_json_fields(ev, "props", {"k": "bigint"})
    return typed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg("k"), 4).alias("avg_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias("n_null_k"),
    )


def q_range_join(spark, sf):
    # Interval join via time-bucket replication: error events open a
    # 10-minute window; every same-user event inside a window joins via
    # an equi-join on (user_id, bucket) — the range is part of the JOIN
    # KEY, so hot users cost (rows per bucket)², never (rows per user)².
    # A pair meets in exactly one bucket (the point's), so no dedup.
    from featurescreening_jl_spark.operators.range_join import range_join

    ev = _t(spark, sf, "events")
    intervals = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("interval_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end_ts"),
    )
    pts = ev.select("user_id", "ts", "value")
    j = range_join(
        pts, intervals, by="user_id", bucket_seconds=600
    )
    return j.groupBy("interval_id").agg(
        F.count("*").alias("n_in_window"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def q_kmv_distinct(spark, sf):
    # Deterministic KMV cardinality sketch: per event_type, estimate
    # distinct user_id from the k=64 smallest portable hashes. Unlike
    # HLL (approx_count_distinct), every number here is a pure function
    # of the data — the oracle recomputes the identical k-th smallest
    # md5 hash and the identical (k-1)/u_k estimate.
    from featurescreening_jl_spark.operators.sketches import kmv_distinct_by

    ev = _t(spark, sf, "events")
    return kmv_distinct_by(ev, "user_id", by="event_type", k=64)


def q_kmv_overlap(spark, sf):
    # Pairwise corpus-overlap profile: per document SOURCE, sketch the
    # distinct word-3-shingle set with k=128 KMV, then estimate every
    # source pair's content Jaccard from the merged bottom-k — the
    # "which crawls duplicate each other" matrix, never intersecting
    # full shingle sets. Deterministic: the oracle replays the identical
    # md5 min-k sketches and the identical bottom-k estimator.
    from featurescreening_jl_spark.operators.dedup import shingles
    from featurescreening_jl_spark.operators.sketches import kmv_overlap

    docs = _t(spark, sf, "documents")
    sh = docs.select(
        "source", F.explode(shingles(F.col("text"), 3)).alias("shingle")
    )
    return kmv_overlap(sh, "shingle", by="source", k=128)


def q_pivot_counts(spark, sf):
    # Classic OLAP pivot: hour-of-day × event_type count matrix. Pivot
    # values passed EXPLICITLY so Spark skips the extra distinct-scan
    # job and the output schema is plan-time stable.
    ev = _t(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy(F.hour("ts").alias("hour"))
        .pivot("event_type", types)
        .count()
        .select(
            "hour", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types]
        )
    )


def q_cosine_neardup(spark, sf):
    # The round-1 version returned 0 rows on this corpus (max off-diagonal
    # cosine 0.48 < 0.9) — vacuously true against any bug. Near-dups are now
    # SYNTHESIZED in-query: each base vector gets a scaled copy (cosine
    # exactly 1, same sign-sketch → guaranteed LSH collision) and a
    # constant-shifted copy (cosine ≈ 0.997, direction actually perturbed),
    # and the oracle brute-forces the exact expected pairs over the union.
    from featurescreening_jl_spark.operators.similarity import cosine_neardup_pairs

    # NB: SQL-parsed transforms (F.expr), not Column-API lambdas — chained
    # lambda transforms across union branches hit a lambda-variable
    # misbinding in analysis (observed: the jitter silently dropped on some
    # branches); parsed lambdas get fresh variables per branch.
    base = (
        _t(spark, sf, "embeddings")
        .where(F.col("vec_id") < 20)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    scaled = base.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.expr("transform(embedding, x -> x * 1.5D)").alias("embedding"),
    )
    shifted = base.select(
        (F.col("vec_id") + 20000).alias("vec_id"),
        F.expr("transform(embedding, x -> x + 0.01D)").alias("embedding"),
    )
    corpus = base.unionByName(scaled).unionByName(shifted)
    out = cosine_neardup_pairs(
        corpus, threshold=0.9, dim=64, n_planes=8, n_tables=6
    )
    return out.select(
        "id_a", "id_b", F.round("similarity", 4).alias("similarity")
    )


def q_dedup_cc(spark, sf):
    # transitive dedup clustering: exact n-gram-Jaccard pair graph (via
    # the inverted-index formulation — zero-overlap pairs never
    # materialize) → distributed min-label connected components. Oracle =
    # the same pair graph clustered by a DuckDB RECURSIVE CTE (min
    # reachable id).
    from featurescreening_jl_spark.operators.dedup import (
        ngram_jaccard_pairs_indexed,
    )
    from featurescreening_jl_spark.operators.graph import connected_components

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 4000)
    pairs = ngram_jaccard_pairs_indexed(docs, shingle_n=3, threshold=0.3)
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.select(F.col("id").alias("doc_id"), "component")


def q_dedup_cluster_sizes(spark, sf):
    """Dedup-run report: the duplicate-cluster SIZE HISTOGRAM — (size,
    n_clusters, n_docs) — the number an operator actually reads after a
    dedup pass ("how much mass sits in how-big clusters, how much would
    keep-best remove"). Composes the dedup_cc pair graph + CC, then
    counts; docs in no pair are size-1 clusters labeled by their own id
    (safe: CC labels are cluster-min ids, so a non-member's id cannot
    collide). The oracle extends dedup_cc's recursive-CTE components
    with the same singleton fill and integer rollups."""
    from featurescreening_jl_spark.operators.dedup import (
        ngram_jaccard_pairs_indexed,
    )
    from featurescreening_jl_spark.operators.graph import (
        connected_components,
    )

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 4000)
    pairs = ngram_jaccard_pairs_indexed(docs, shingle_n=3, threshold=0.3)
    cc = connected_components(pairs, "id_a", "id_b")
    labeled = (
        docs.select("doc_id")
        .join(cc, docs["doc_id"] == cc["id"], "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
    )
    sizes = labeled.groupBy("component").agg(
        F.count(F.lit(1)).alias("size")
    )
    return (
        sizes.groupBy("size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("size").cast("long").alias("n_docs"),
        )
        .select(F.col("size").cast("long").alias("size"), "n_clusters", "n_docs")
    )


def q_dedup_cc_star(spark, sf):
    # same clustering task as dedup_cc, run through the alternating
    # large-star/small-star algorithm (O(log n) rounds independent of
    # graph diameter — the long-chain scale path). Identical output, so
    # it shares dedup_cc's recursive-CTE oracle.
    from featurescreening_jl_spark.operators.dedup import (
        ngram_jaccard_pairs_indexed,
    )
    from featurescreening_jl_spark.operators.graph import connected_components

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 4000)
    pairs = ngram_jaccard_pairs_indexed(docs, shingle_n=3, threshold=0.3)
    cc = connected_components(pairs, "id_a", "id_b", algorithm="star")
    return cc.select(F.col("id").alias("doc_id"), "component")


def q_keep_best(spark, sf):
    # cluster-representative dedup: the ngram-Jaccard pair graph (same
    # graph as dedup_cc) → connected components → keep the LONGEST doc of
    # each cluster (n_chars score, min-id tiebreak); unpaired docs survive
    # as singletons. Oracle: recursive-CTE components + a window argmax.
    from featurescreening_jl_spark.operators.dedup import (
        keep_best_per_cluster,
        ngram_jaccard_pairs_indexed,
    )

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 4000)
    pairs = ngram_jaccard_pairs_indexed(docs, shingle_n=3, threshold=0.3)
    return keep_best_per_cluster(docs, pairs, score_col="n_chars")


def q_corpus_prep(spark, sf):
    # END-TO-END corpus preparation as ONE composed lazy plan — the
    # LLM-training-data story the individual operators exist for:
    #   1. exact dedup (min-id per normalized text),
    #   2. near-dup clustering (exact indexed n-gram Jaccard pair graph →
    #      connected components) keeping the LONGEST doc per cluster,
    #   3. quality filtering (deterministic logistic score ≥ 0.35 — drops
    #      the corpus's bottom quality quartile without dominating the
    #      other stages),
    #   4. benchmark decontamination (drop docs sharing ≥2 distinct
    #      5-gram shingles with any benchmark span).
    # The oracle replays all four stages over the same survivors. At
    # 100 TB each stage keeps its own scale shape (hash-agg dedup, banded
    # candidate join + CC over paired ids only, map-only scoring,
    # broadcast benchmark index) — composition adds joins on doc_id, all
    # AQE-broadcastable because survivors only shrink.
    from featurescreening_jl_spark.operators.decontam import (
        contamination_pairs,
    )
    from featurescreening_jl_spark.operators.dedup import (
        dedup_exact,
        keep_best_per_cluster,
        ngram_jaccard_pairs_indexed,
    )
    from featurescreening_jl_spark.operators.text_analysis import quality_score

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 4000)
    # the exact-dedup survivor table feeds FOUR branches (pair graph,
    # cluster labeling, decontamination corpus side, quality scoring) —
    # materialize it once, same contract as the operators' own shared
    # subplans (ngram_jaccard_pairs_indexed's shingle table, CC's edges)
    surv = dedup_exact(docs).localCheckpoint()
    pairs = ngram_jaccard_pairs_indexed(surv, shingle_n=3, threshold=0.3)
    reps = keep_best_per_cluster(surv, pairs, score_col="n_chars")
    bench = _t(spark, sf, "documents").where(F.col("doc_id") % 50 == 7).select(
        F.col("doc_id").alias("bench_id"),
        F.col("text").substr(11, 200).alias("text"),
    )
    contaminated = (
        contamination_pairs(surv, bench, n=5, min_shared=2)
        .select("doc_id")
        .distinct()
    )
    scored = surv.select(
        "doc_id", F.round(quality_score(F.col("text")), 4).alias("q_score")
    )
    return (
        reps.join(scored, "doc_id")
        .where(F.col("q_score") >= 0.35)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "component", "n_docs", "n_chars", "q_score")
    )


def q_chat_render(spark, sf):
    # conversation → ONE training-format string ("<|role|>text" turns
    # joined by newline, ordered by turn_idx) + turn/token counts — the
    # chat-template flattening step before tokenization.
    from featurescreening_jl_spark.operators.conversations import render_chat

    return render_chat(_transcripts(spark, sf)).select(
        "conv_id", "rendered", "n_turns", "n_tokens"
    )


def q_doc_chunks(spark, sf):
    # fixed-size overlapping character chunking (map-side only: sequence →
    # explode → substring; zero shuffles) — context-window prep for
    # embedding/retrieval. Aggregated per doc so the oracle hash stays
    # compact while still pinning every chunk boundary and every byte
    # (md5 of the ordered chunk concat).
    from featurescreening_jl_spark.operators.text_analysis import (
        chunk_documents,
    )

    ch = chunk_documents(
        _t(spark, sf, "documents"), chunk_chars=256, overlap=32
    )
    return ch.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.length("chunk_text")).alias("sum_chunk_chars"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_idx", "chunk_text"))
                    ),
                    lambda x: x["chunk_text"],
                ),
                "",
            )
        ).alias("chunks_md5"),
    )


def q_token_histogram(spark, sf):
    # corpus token-length distribution in fixed 64-token buckets with an
    # overflow bucket — the sizing pass before packing/truncation budgets.
    from featurescreening_jl_spark.operators.text_analysis import (
        token_length_histogram,
    )

    return token_length_histogram(
        _t(spark, sf, "documents"), bucket_tokens=64, max_bucket=31
    )


def q_length_quantiles(spark, sf):
    # EXACT per-language token-count quantiles (linear interpolation, the
    # quantile_cont definition) — engine-portable corpus sizing stats; the
    # 100-TB swap-in is approx_percentile (t-digest), with this exact form
    # as the verifier.
    from featurescreening_jl_spark.operators.text_analysis import (
        length_quantiles,
    )

    q = length_quantiles(_t(spark, sf, "documents"), by="lang")
    return q.select(
        "lang",
        F.round("p50", 6).alias("p50"),
        F.round("p90", 6).alias("p90"),
        F.round("p99", 6).alias("p99"),
        "n_docs",
    )


def q_lm_score(spark, sf):
    # corpus-trained char-trigram LM, add-one smoothed, self-scored — the
    # CCNet/KenLM-style quality signal. The oracle recomputes the full
    # model AND every per-doc average log prob, so both passes (train and
    # score) are value-checked end-to-end.
    from featurescreening_jl_spark.operators.lm import ngram_lm_score

    out = ngram_lm_score(_t(spark, sf, "documents"), n=3)
    return out.select(
        "doc_id", "n_ngrams", F.round("avg_logp", 6).alias("avg_logp")
    )


def q_minhash_incremental(spark, sf):
    # incremental dedup: a NEW shard (docs ≥ 300 plus exact copies of the
    # first 20 index docs at id+10000 — guaranteed jaccard-1.0 hits, so
    # the check is never vacuous) matched against the EXISTING index
    # (docs < 300) via the shared banding scheme; the oracle brute-forces
    # exact cross-Jaccard ≥ 0.8 over the same two sides, so banding recall
    # AND the verify step are both checked end-to-end.
    from featurescreening_jl_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
    )

    docs = _t(spark, sf, "documents")
    index = docs.where(F.col("doc_id") < 300)
    new = docs.where(F.col("doc_id") >= 300).select(
        "doc_id", "text"
    ).unionByName(
        docs.where(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
    )
    out = minhash_lsh_pairs_incremental(index, new, jaccard_threshold=0.8)
    return out.select(
        "new_id", "index_id", F.round("jaccard", 4).alias("jaccard")
    )


def q_ngram_jaccard_indexed(spark, sf):
    # inverted-index exact Jaccard — identical semantics (and oracle) to
    # ngram_jaccard, different physical strategy: explode → hash-key
    # self-join → count, instead of an all-pairs cross join
    from featurescreening_jl_spark.operators.dedup import (
        ngram_jaccard_pairs_indexed,
    )

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 4000)
    out = ngram_jaccard_pairs_indexed(docs, shingle_n=3, threshold=0.3)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_simhash_neardup(spark, sf):
    # hamming-k simhash near-dup pairs, banded sub-keys (recall 1 by
    # pigeonhole: k+1 bands). Near-dups synthesized in-query: each doc gets
    # a copy with two appended tokens (simhash within a few bits); the
    # oracle recomputes the exact portable simhash for the union and
    # brute-forces all pairs with bit_count(xor) <= k.
    from featurescreening_jl_spark.operators.dedup import simhash_neardup_pairs

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 100).select(
        "doc_id", "text"
    )
    copies = docs.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzqx plugh")).alias("text"),
    )
    u = docs.unionByName(copies)
    out = simhash_neardup_pairs(u, num_bits=32, hamming_k=8, portable=True)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


# ---------------------------------------------------------------------------
# multimodal plumbing (payloads synthesized deterministically in-query)
# ---------------------------------------------------------------------------


def _media(spark, n: int = 64) -> DataFrame:
    kinds = F.array(*[F.lit(k) for k in ("image", "audio", "video")])
    return spark.range(0, n, 1, 8).select(
        F.col("id").alias("media_id"),
        F.element_at(kinds, (F.col("id") % 3 + 1).cast("int")).alias("kind"),
        F.encode(
            F.concat(F.lit("media-"), F.col("id").cast("string")), "utf-8"
        ).alias("payload"),
        F.struct(
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            ((F.col("id") % 7 + 1) * 1000).cast("int").alias("duration_ms"),
            F.lit("h264").alias("codec"),
        ).alias("meta"),
    )


def q_media_features(spark, sf):
    # Arrow-batched mapInPandas decode plumbing; the deterministic fake
    # decoder is sha256-based, so DuckDB can recompute it byte-for-byte
    from featurescreening_jl_spark.operators.multimodal import (
        extract_media_features,
    )

    feats = extract_media_features(_media(spark))
    return feats.select(
        "media_id",
        *[
            F.round(F.col("feature")[j], 6).alias(f"f{j}")
            for j in range(4)
        ],
    )


def q_media_frame_sample(spark, sf):
    from featurescreening_jl_spark.operators.multimodal import sample_frames

    return sample_frames(_media(spark, 20), every_ms=700).select(
        "media_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms")
    )


def _simhash_with(num_bits: int, src_sql: str, carry: str = "") -> str:
    """WITH-prefix reproducing the portable simhash bit for bit in DuckDB:
    word-3-gram shingles → portable 60-bit md5 hash per shingle → per-bit
    majority vote. Produces CTE ``s(doc_id{, carry}, sim)``; callers append
    further CTEs / the final SELECT. ``src_sql`` must select
    ``doc_id{, carry}, text``."""
    c = f"{carry}, " if carry else ""
    masks = [1 << i for i in range(num_bits)]
    votes = ",\n".join(
        f"list_sum(list_transform(hs, h -> CASE WHEN (h & {m}) <> 0 "
        f"THEN 1 ELSE -1 END)) AS v{i}"
        for i, m in enumerate(masks)
    )
    sim = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {m} ELSE 0 END)" for i, m in enumerate(masks)
    )
    return rf"""
        WITH d AS ({src_sql}),
        t AS (
          SELECT doc_id, {c}
                 list_transform(
                   list_distinct(list_transform(
                     range(0, greatest(len(toks) - 3, 0) + 1),
                     i -> array_to_string(toks[i+1:i+3], ' '))),
                   s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
          FROM (
            SELECT doc_id, {c}
                   string_split_regex(
                     lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                     ' ') AS toks
            FROM d
          )
        ),
        v AS (SELECT doc_id, {c}{votes} FROM t),
        s AS (SELECT doc_id, {c}{sim} AS sim FROM v)
    """


def _simhash_oracle(num_bits: int = 32, pred: str = "doc_id < 400") -> str:
    """``simhash_dedup(portable=True)`` oracle: min-doc_id per identical
    simhash, hash value exposed."""
    prefix = _simhash_with(
        num_bits,
        f"SELECT doc_id, n_chars, text FROM documents WHERE {pred}",
        carry="n_chars",
    )
    return f"""{prefix},
        k AS (SELECT min(doc_id) AS doc_id FROM s GROUP BY sim)
        SELECT s.doc_id, s.n_chars, s.sim AS simhash32
        FROM s JOIN k USING (doc_id)
    """


_BOILER_SENTENCE = "subscribe to our newsletter for updates"


def q_mask_boilerplate(spark, sf):
    # Corpus-level repeated-span removal (CCNet line-dedup / ExactSubstr
    # flavor): word n-grams occurring in >= min_df DISTINCT docs are
    # boilerplate and get stripped from every document. The synthetic
    # corpus has no cross-document boilerplate, so it is synthesized
    # in-query (the established pattern — see q_cosine_neardup): a fixed
    # sentinel sentence appended to every doc_id % 5 == 0 and prepended to
    # every doc_id % 7 == 0. The oracle replays the augmentation and the
    # full df-count + coverage-mask + reassembly in closed-form SQL, so
    # the cleaned TEXT itself is byte-compared.
    from featurescreening_jl_spark.operators.text_analysis import (
        mask_repeated_ngrams,
    )

    docs = _t(spark, sf, "documents")
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" " + _BOILER_SENTENCE)),
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(_BOILER_SENTENCE + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return mask_repeated_ngrams(aug, n=4, min_df=20)


def q_semantic_dedup(spark, sf):
    # SemDeDup-style semantic dedup over embeddings: LSH-bucketed cosine
    # near-dup pair graph -> connected components -> keep the best member
    # of each semantic cluster (here: largest L2 norm — in production, a
    # quality score). Composes cosine_neardup_pairs + keep_best_per_cluster
    # end-to-end; the oracle brute-forces the exact pair graph, clusters it
    # with a recursive CTE, and replays the argmax.
    from featurescreening_jl_spark.operators.dedup import (
        keep_best_per_cluster,
    )
    from featurescreening_jl_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    base = (
        _t(spark, sf, "embeddings")
        .where(F.col("vec_id") < 20)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    scaled = base.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.expr("transform(embedding, x -> x * 1.5D)").alias("embedding"),
    )
    shifted = base.select(
        (F.col("vec_id") + 20000).alias("vec_id"),
        F.expr("transform(embedding, x -> x + 0.01D)").alias("embedding"),
    )
    corpus = base.unionByName(scaled).unionByName(shifted)
    pairs = cosine_neardup_pairs(
        corpus, threshold=0.9, dim=64, n_planes=8, n_tables=6
    )
    scored = corpus.select(
        "vec_id",
        F.round(
            F.aggregate(
                "embedding", F.lit(0.0), lambda acc, x: acc + x * x
            ),
            2,
        ).alias("norm2"),
    )
    return keep_best_per_cluster(
        scored, pairs, score_col="norm2", id_col="vec_id"
    )


def q_target_encode(spark, sf):
    # Leakage-safe (point-in-time) target encoding: each event's encoding
    # of user_id is the Bayesian-smoothed mean of `value` over that user's
    # STRICTLY-earlier events (RANGE frame over exact epoch micros — same-
    # timestamp peers excluded), smoothed toward a prior frozen from the
    # pre-2024-01-08 period. One shuffle on the key; the prior is one
    # broadcast scalar, never a global-ordering window.
    from featurescreening_jl_spark.operators.feature_encoding import (
        pit_global_prior,
        pit_target_encode,
    )

    ev = _t(spark, sf, "events")
    prior = pit_global_prior(ev, "value", cutoff="2024-01-08")
    out = pit_target_encode(
        ev, "user_id", "value", ts_col="ts", prior=prior, smoothing=20.0
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("te", 4).alias("te"),
        F.col("te_n").cast("long").alias("te_n"),
    )


def q_decayed_features(spark, sf):
    # Exponential time-decayed activity features per conversation (1-day
    # half-life), strictly-prior rows only — closed-form cumulative window
    # (pure codegen, one conv_id shuffle, zero Python).
    from featurescreening_jl_spark.operators.feature_encoding import (
        decayed_time_features,
    )

    t = _transcripts(spark, sf)
    out = decayed_time_features(
        t,
        ["conv_id"],
        {"dec_turns": F.lit(1.0), "dec_chars": F.length("text")},
        ts_col="ts",
        order_cols=["turn_idx"],
        half_life_s=86400.0,
    )
    return out.select(
        "conv_id",
        "turn_idx",
        F.round("dec_turns", 4).alias("dec_turns"),
        F.round("dec_chars", 4).alias("dec_chars"),
    )


def q_decayed_features_arrow(spark, sf):
    # The numerically-stable variant of q_decayed_features: segmented-
    # renormalization applyInPandas (Arrow, vectorized numpy) — the
    # unbounded-span path for histories longer than ~1000 half-lives.
    # SAME oracle as the closed form: the two implementations are
    # independent (JVM codegen vs numpy) and must agree bit-for-bit at
    # 4 decimals, which is itself a correctness statement.
    from featurescreening_jl_spark.operators.feature_encoding import (
        decayed_time_features_stable,
    )

    # project to the 5 needed columns BEFORE the grouped-map: the full
    # transcripts schema (notably `text`) would otherwise cross the Arrow
    # boundary in both directions for no reason (measured 7.3 s → with
    # the projection the transfer is 5 narrow columns)
    t = _transcripts(spark, sf).select(
        "conv_id",
        "turn_idx",
        "ts",
        F.lit(1.0).alias("__one"),
        F.length("text").cast("double").alias("__chars"),
    )
    out = decayed_time_features_stable(
        t,
        ["conv_id"],
        {"dec_turns": "__one", "dec_chars": "__chars"},
        ts_col="ts",
        order_cols=["turn_idx"],
        half_life_s=86400.0,
    )
    return out.select(
        "conv_id",
        "turn_idx",
        F.round("dec_turns", 4).alias("dec_turns"),
        F.round("dec_chars", 4).alias("dec_chars"),
    )


def q_rolling_folds(spark, sf):
    # Rolling-origin (expanding-window) cross-validation assignment over
    # the transcripts table: 3 folds on weekly boundaries. Map-only
    # explode against broadcast literals — no shuffle, no RNG, the
    # temporal analogue of hash_split.
    from featurescreening_jl_spark.operators.feature_encoding import (
        rolling_origin_folds,
    )

    t = _transcripts(spark, sf)
    out = rolling_origin_folds(
        t,
        ["2024-01-05", "2024-01-12", "2024-01-19", "2024-01-26"],
        ts_col="ts",
    )
    return out.select("fold", "split", "conv_id", "turn_idx")


def q_skew_profile(spark, sf):
    # Key-skew diagnostics for the transcripts `tool` column (NULL counts
    # as a value — the most common real-world hot key): top-5 heavy
    # hitters with exact counts/shares + the skew factor. One map-side-
    # combined aggregate; everything downstream is O(n_distinct).
    from featurescreening_jl_spark.operators.profiling import skew_profile

    return skew_profile(_transcripts(spark, sf), "tool", top_n=5)


def q_psi_drift(spark, sf):
    # Population Stability Index of events.value between the reference
    # period (ts < 2024-01-16) and the current one, over frozen explicit
    # bin edges — the standard drift gate before a model retrain. One
    # scan, one tiny aggregate keyed on the bin.
    from featurescreening_jl_spark.operators.profiling import psi_drift

    ev = _t(spark, sf, "events")
    return psi_drift(
        ev,
        "value",
        [10.0, 50.0, 100.0, 500.0],
        ts_col="ts",
        split="2024-01-16",
        smoothing=0.5,
    ).orderBy("bin")


def q_sft_pairs(spark, sf):
    # (context -> response) SFT pair mining: one example per assistant
    # turn, context = the most-recent prior turns that fit a 2000-char
    # budget (cap decided arithmetically from prefix sums, not trial
    # re-rendering), rendered in the <|role|>text chat format. One window
    # pass per conversation; the oracle replays prefix sums + the
    # bounded self-join and string_agg's the identical rendering.
    from featurescreening_jl_spark.operators.conversations import sft_pairs

    t = _transcripts(spark, sf)
    out = sft_pairs(
        t, max_context_turns=8, max_context_chars=2000
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "context",
        "target",
        F.col("n_context_turns").cast("long").alias("n_context_turns"),
    )


def q_oof_target_encode(spark, sf):
    # Out-of-fold target encoding (the CV-consistent encoder): each
    # event's encoding of user_id excludes its own hash-fold's labels,
    # prior included. Folds come from the portable md5 hash (hash_unit),
    # so the oracle reconstructs the identical assignment.
    from featurescreening_jl_spark.operators.feature_encoding import (
        oof_target_encode,
    )
    from featurescreening_jl_spark.operators.sampling import hash_unit

    ev = _t(spark, sf, "events")
    fold = F.floor(hash_unit(F.col("event_id"), seed=42) * 5).cast("int")
    out = oof_target_encode(
        ev, "user_id", "value", fold=fold, n_folds=5, smoothing=20.0
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("te", 4).alias("te"),
        F.col("te_n").cast("long").alias("te_n"),
    )


def q_project_embeddings(spark, sf):
    # Johnson-Lindenstrauss random projection 64 -> 8 dims: map-only, the
    # seeded matrix is ONE literal, each coordinate a codegen'd dot
    # product. The oracle reconstructs the identical matrix from
    # (in_dim, out_dim, seed) and replays list_dot_product per dim.
    from featurescreening_jl_spark.operators.similarity import (
        project_embeddings,
    )

    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = project_embeddings(emb, in_dim=64, out_dim=8, seed=17)
    return out.select(
        "vec_id", F.posexplode("projected").alias("dim_idx", "val")
    ).select("vec_id", "dim_idx", F.round("val", 4).alias("val"))


_BM25_QUERIES = [
    (1, "data processing systems"),
    (2, "machine learning model training"),
    (3, "the quick brown fox"),
]


def q_bm25(spark, sf):
    # Okapi BM25 lexical retrieval: top-5 documents per query. The corpus
    # is tokenized once into the (doc, term) tf table; df is a window on
    # it; the tiny query side broadcasts in, so the corpus never shuffles
    # for the join. Oracle replays the identical RSJ-idf scoring.
    from featurescreening_jl_spark.operators.text_analysis import bm25_topk

    docs = _t(spark, sf, "documents")
    qdf = spark.createDataFrame(_BM25_QUERIES, "query_id int, query string")
    out = bm25_topk(docs, qdf, k=5)
    return out.select(
        "query_id",
        "doc_id",
        F.round("score", 4).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_bpe_vocab(spark, sf):
    # Distributed BPE vocabulary learning over the distinct-word table
    # (20 merges). Inherently iterative (each merge conditions the next),
    # so this is the documented non-SQL-expressible class: the driver
    # records a rows-only check; merge-for-merge agreement with a pure-
    # Python reference (same tie-breaks) is pinned in tests/test_bpe.py.
    from featurescreening_jl_spark.operators.bpe import learn_bpe

    docs = _t(spark, sf, "documents")
    merges = learn_bpe(docs, 20)
    return spark.createDataFrame(
        [(i, l, r) for i, (l, r) in enumerate(merges)],
        "merge_idx int, left string, right string",
    )


# The frozen BPE vocabulary for the value-oracled encode query: learned
# ONCE by operators/bpe.learn_bpe at sf0.01 (20 merges, deterministic
# count-desc/pair-lexicographic tie-breaks). Frozen literals — not a
# per-run learn — because encoding against a fixed merge table is the
# production contract (tokenizer trained offline, applied to every new
# shard) and is deterministic, so a SQL oracle can replay it; the LEARN
# stays the documented iterative rows-only class (q_bpe_vocab).
_BPE_FROZEN_MERGES = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"), ("o", "w"),
    ("ow", "</w>"), ("o", "r"), ("s", "t"), ("h", "</w>"), ("a", "t"),
    ("l", "u"), ("i", "n"), ("a", "</w>"), ("g", "</w>"), ("y", "</w>"),
    ("a", "r"), ("p", "ar"), ("t", "</w>"), ("i", "n</w>"), ("j", "o"),
]


def q_bpe_encode(spark, sf):
    # Arrow BPE encoding against the FROZEN 20-merge vocabulary above
    # (distinct-word memo per batch). Value-oracled (round-4 verdict
    # task 3): the oracle replays merge-rank greedy segmentation per
    # distinct word as a recursive CTE — one recursion step per merge
    # application, lowest-rank-then-leftmost pair each step, exactly
    # bpe_encode_word's loop — then reassembles documents in word order.
    # Vocabulary LEARNING stays rows-only in q_bpe_vocab; semantics are
    # additionally pinned against the pure-Python encoder in
    # tests/test_bpe.py.
    from featurescreening_jl_spark.operators.bpe import bpe_encode

    docs = _t(spark, sf, "documents")
    out = bpe_encode(docs, _BPE_FROZEN_MERGES)
    return out.select(
        "doc_id",
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.concat_ws(" ", F.slice("bpe_tokens", 1, 8)).alias("head_tokens"),
    )


def q_heavy_hitters(spark, sf):
    # Two-phase exact-count heavy hitters: per-partition Misra-Gries
    # candidates (Arrow-batched, never a per-row Python crossing) ->
    # broadcast the tiny candidate set back -> exact recount of candidate
    # rows only. The aggregate never keys on the column's full
    # cardinality. m=4096 makes the top-k guarantee unconditional on this
    # corpus (every key with freq > N/4097 survives; here m > distincts),
    # so the exact-SQL oracle is a valid check.
    from featurescreening_jl_spark.operators.profiling import heavy_hitters

    ev = _t(spark, sf, "events")
    return heavy_hitters(ev, "user_id", k=10, m=4096)


def q_role_transitions(spark, sf):
    # corpus-wide role-bigram (Markov) transition counts + conditional
    # probabilities over the transcripts relation — the conversation-shape
    # QA profile. One window pass on the shared (conv_id, ts, turn_idx)
    # order feeding a |roles|^2-row aggregate.
    from featurescreening_jl_spark.operators.conversations import (
        role_transition_stats,
    )

    return role_transition_stats(_transcripts(spark, sf))


def q_temperature_mix(spark, sf):
    # temperature-scaled mixture weights (XLM-R/mT5-style rebalancing):
    # per-language corpus share^tau renormalized, plus the target
    # char-budget allocation and over/undersample factor. The corpus
    # collapses to |languages| rows in one aggregate; the normalizing
    # windows run over that tiny frame.
    from featurescreening_jl_spark.operators.sampling import (
        temperature_weights,
    )

    docs = _t(spark, sf, "documents")
    return temperature_weights(
        docs, group_col="lang", size_col="n_chars", tau=0.5, budget=1_000_000
    )


def q_session_funnel(spark, sf):
    # ordered-stage funnel (view -> click -> purchase) over gap-sessionized
    # events: cumulative-window subsequence match, one shuffle + one sort
    # shared with every other sessionized feature; final rollup is
    # |stages| rows from a single totals row (one explode, no per-stage
    # union re-running the aggregate).
    from featurescreening_jl_spark.operators.window_features import (
        session_funnel,
    )

    ev = _t(spark, sf, "events")
    return session_funnel(
        ev, ["view", "click", "purchase"], by="user_id", gap_seconds=1800
    )


def q_dsir_weights(spark, sf):
    # DSIR importance weights: likelihood ratio between the English-subset
    # char-trigram LM (target domain) and the whole-corpus LM, length
    # normalized. The oracle recomputes BOTH models and every per-doc
    # ratio, so the merged-model single-pass scoring join is value-checked
    # end-to-end.
    from featurescreening_jl_spark.operators.lm import dsir_weights

    docs = _t(spark, sf, "documents")
    out = dsir_weights(docs, docs.where(F.col("lang") == "en"), n=3)
    return out.select(
        "doc_id",
        "n_ngrams",
        F.round("avg_logp_target", 6).alias("avg_logp_target"),
        F.round("avg_logp_raw", 6).alias("avg_logp_raw"),
        F.round("log_ratio", 6).alias("log_ratio"),
        F.round("weight", 6).alias("weight"),
    )


def q_strip_markup(spark, sf):
    # web-extraction fallback: deterministic HTML chrome (script/style
    # payloads, comments, block tags, entities) wrapped around every
    # document, then stripped by the single codegen'd regexp chain — the
    # oracle rebuilds the same page and strips it with RE2, so every rule
    # (element drop, comment drop, block->newline, tag strip, entity
    # unescape, whitespace collapse) is byte-for-byte checked.
    from featurescreening_jl_spark.operators.text_analysis import (
        strip_markup,
    )

    docs = _t(spark, sf, "documents")
    page = F.concat(
        F.lit(
            '<html><head><style>p {color: red}</style></head>'
            '<body onload="init()"><!-- nav chrome --><p>'
        ),
        F.replace(F.col("text"), F.lit(" the "), F.lit(" &amp; ")),
        F.lit(
            '</p><script type="text/javascript">var x = 1 < 2;</script>'
            "<br/>tail &lt;ok&gt; &#39;q&#39;&nbsp;end</body></html>"
        ),
    )
    clean = strip_markup(page)
    return docs.select(
        "doc_id",
        clean.alias("text_clean"),
        F.length(clean).cast("long").alias("n_chars_clean"),
    )


def q_expanding_zscore(spark, sf):
    """Leakage-free standardization of per-turn text length against the
    conversation's own history (operators/window_features.py
    expanding_zscore) — integer-window-sum form, bit-portable to the
    oracle."""
    from featurescreening_jl_spark.operators.window_features import (
        expanding_zscore,
    )

    t = _transcripts(spark, sf).withColumn(
        "text_len", F.length("text").cast("long")
    )
    out = expanding_zscore(t, "text_len", out="z_text_len")
    return out.select(
        "conv_id",
        "turn_idx",
        "text_len",
        F.round("z_text_len", 6).alias("z_text_len"),
    )


def q_trailing_slope(spark, sf):
    """Trailing-10-turn least-squares trend of text length vs turn_idx
    (operators/window_features.py trailing_slope) — slope from exact
    integer window sums, no regr_* streaming aggregate."""
    from featurescreening_jl_spark.operators.window_features import (
        trailing_slope,
    )

    t = _transcripts(spark, sf).withColumn(
        "text_len", F.length("text").cast("long")
    )
    out = trailing_slope(t, "text_len", x_col="turn_idx", k=10)
    return out.select(
        "conv_id", "turn_idx", "text_len", F.round("slope", 6).alias("slope")
    )


def q_expanding_rank(spark, sf):
    """Point-in-time percentile rank of the current turn's text length
    among the conversation's strictly-prior turns
    (operators/window_features.py expanding_rank — chunk-vectorized
    Fenwick-free numpy kernel under applyInPandas)."""
    from featurescreening_jl_spark.operators.window_features import (
        expanding_rank,
    )

    t = _transcripts(spark, sf).select(
        "conv_id", "turn_idx", "ts", F.length("text").cast("long").alias("text_len")
    )
    out = expanding_rank(t, "text_len", keep_all=False)
    return out.select(
        "conv_id",
        "turn_idx",
        F.col("text_len").cast("long").alias("text_len"),
        F.round("pct_rank_past", 6).alias("pct_rank_past"),
    )


def q_pmi_bigrams(spark, sf):
    """Corpus collocations: top-50 bigrams by pointwise mutual information
    with min_count=5 (operators/text_analysis.py pmi_bigrams)."""
    from featurescreening_jl_spark.operators.text_analysis import pmi_bigrams

    docs = _t(spark, sf, "documents")
    return pmi_bigrams(docs, "text", min_count=5, top_k=50)


def q_pq_topk(spark, sf):
    """Product-quantized ADC top-k (operators/pq.py) with SEEDED random
    codebooks so the oracle can rebuild the exact literals from
    (m, ksub, dsub, seed) and replay encode + lookup-table scoring +
    ranking end-to-end (the project_embeddings pattern). Production
    recall uses train_pq; the machinery under test is identical."""
    from featurescreening_jl_spark.operators.pq import (
        pq_encode,
        pq_topk,
        random_codebooks,
    )

    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    books = random_codebooks(8, 16, 8, seed=17)
    coded = pq_encode(emb, books)
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq_topk(coded, q, books, k=5)
    return out.select(
        "query_id",
        "vec_id",
        F.round("adc_score", 6).alias("adc_score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ivfpq_topk(spark, sf):
    """Trained IVF coarse probing + PQ ADC scoring composed
    (operators/pq.py ivfpq_topk — the FAISS IndexIVFPQ shape). Rows-only
    oracle class: the index build is iterative k-means (same documented
    non-SQL-expressible class as bpe_*); exact agreement with the flat
    ADC scan at full probe and with a numpy replica is pinned in
    tests/test_pq.py."""
    from featurescreening_jl_spark.operators.ivf import train_centroids
    from featurescreening_jl_spark.operators.pq import ivfpq_topk, train_pq

    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    books = train_pq(emb, m=8, ksub=16, dim=64, seed=42)
    cents = train_centroids(emb, 8, seed=42)
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivfpq_topk(emb, q, cents, books, k=5, n_probe=3)
    return out.select(
        "query_id",
        "vec_id",
        F.round("adc_score", 6).alias("adc_score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_normalize_embeddings(spark, sf):
    """L2 normalization as a pure codegen expression
    (functions/vector.py unit — norm struct-bound once per row), with
    order-stable scalar digests so the oracle can demand exact doubles."""
    from featurescreening_jl_spark.functions.vector import norm, unit

    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    u = unit(F.col("e"))

    def digests(uv):
        return F.struct(
            F.aggregate(uv, F.lit(0.0), lambda a, v: a + v).alias("s"),
            F.array_max(F.transform(uv, lambda v: F.abs(v))).alias("mx"),
        )

    d = F.element_at(F.transform(F.array(u), digests), 1)
    return emb.select(
        "vec_id",
        F.round(norm(F.col("e")), 6).alias("l2_norm"),
        F.round(d["s"], 6).alias("unit_sum"),
        F.round(d["mx"], 6).alias("max_abs_unit"),
    )


def q_woe_encode(spark, sf):
    """Weight-of-evidence fit table over events: key=event_type,
    label=value >= 50 (operators/feature_encoding.py woe_encode)."""
    from featurescreening_jl_spark.operators.feature_encoding import (
        woe_encode,
    )

    ev = _t(spark, sf, "events").withColumn(
        "label", (F.col("value") >= 50.0).cast("int")
    )
    return woe_encode(ev, "event_type", "label", smoothing=0.5)


def q_robust_outliers(spark, sf):
    """Median/MAD modified z-score over document lengths
    (operators/profiling.py robust_outliers)."""
    from featurescreening_jl_spark.operators.profiling import robust_outliers

    docs = _t(spark, sf, "documents")
    out = robust_outliers(docs, "n_chars", threshold=3.5)
    return out.select(
        "doc_id",
        "n_chars",
        F.round("robust_z", 6).alias("robust_z"),
        "is_outlier",
    )


def q_hashed_cross(spark, sf):
    """Hashing-trick interaction feature: event_type × (user_id mod 10)
    into 64 buckets (operators/feature_encoding.py hashed_cross)."""
    from featurescreening_jl_spark.operators.feature_encoding import (
        hashed_cross,
    )

    ev = _t(spark, sf, "events").withColumn(
        "user_mod", (F.col("user_id") % 10).cast("string")
    )
    out = hashed_cross(ev, ["event_type", "user_mod"], 64)
    return out.select("event_id", "event_type", "user_mod", "cross_bucket")


def q_robust_outliers_by(spark, sf):
    """Group-wise median/MAD outliers: each language judged against its
    own center (operators/profiling.py robust_outliers(by=...))."""
    from featurescreening_jl_spark.operators.profiling import robust_outliers

    docs = _t(spark, sf, "documents")
    out = robust_outliers(docs, "n_chars", by="lang", threshold=3.5)
    return out.select(
        "doc_id",
        "lang",
        "n_chars",
        F.round("robust_z", 6).alias("robust_z"),
        "is_outlier",
    )


def q_forward_label(spark, sf):
    """Time-horizon label: tool call within (ts, ts+600s] of the same
    conversation (operators/window_features.py forward_label) — the
    audited forward boundary paired with the leakage-free features."""
    from featurescreening_jl_spark.operators.window_features import (
        forward_label,
    )

    t = _transcripts(spark, sf)
    out = forward_label(t, F.col("tool").isNotNull(), horizon_s=600)
    return out.select("conv_id", "turn_idx", "label")


def q_session_stats(spark, sf):
    """Per-(conversation, session) rollup (operators/window_features.py
    session_stats): counts, bounds, duration."""
    from featurescreening_jl_spark.operators.window_features import (
        session_stats,
    )

    return session_stats(_transcripts(spark, sf), gap_seconds=1800).select(
        "conv_id",
        "session_id",
        "n_turns",
        "n_tool_calls",
        "start_epoch",
        "end_epoch",
        "duration_sec",
    )


def q_hash_negatives(spark, sf):
    """Deterministic contrastive negative pairs over embeddings
    (operators/sampling.py hash_negatives): k=4 slots, 256 buckets."""
    from featurescreening_jl_spark.operators.sampling import hash_negatives

    emb = _t(spark, sf, "embeddings")
    return hash_negatives(emb, "vec_id", k=4, n_buckets=256).select(
        "vec_id", F.col("slot").cast("int").alias("slot"), "neg_id"
    )


def q_substring_spans(spark, sf):
    """Per-doc duplicated-span stats from corpus-wide repeated character
    20-grams (operators/substring_spans.py — Lee et al. 2022 span-level
    dedup, k-gram-hash formulation)."""
    from featurescreening_jl_spark.operators.substring_spans import (
        duplicated_spans,
    )

    docs = _t(spark, sf, "documents")
    return duplicated_spans(docs, k=20).select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("dup_chars").cast("long").alias("dup_chars"),
        "dup_fraction",
    )


_SCREEN_STAT_FEATS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_chi2_ranking(spark, sf):
    """Filter-method feature screening: chi-square + mutual information of
    each numeric feature vs the categorical label, over 8 equi-width bins
    (operators/screening_stats.py — the one-scan companion to the
    reference's embedded RF criterion, src/importance.jl:42-94)."""
    from featurescreening_jl_spark.operators.screening_stats import (
        chi2_mi_ranking,
    )

    li = _t(spark, sf, "lineitem")
    return chi2_mi_ranking(li, _SCREEN_STAT_FEATS, "l_returnflag", n_bins=8)


def q_feature_corr(spark, sf):
    """Exact Pearson correlation matrix (pair rows) of the screened
    feature list from ONE aggregate pass over exact fixed-point sums
    (operators/screening_stats.py feature_corr_pairs) — the redundancy
    half of mRMR-style screening; redundancy_prune consumes this."""
    from featurescreening_jl_spark.operators.screening_stats import (
        feature_corr_pairs,
    )

    li = _t(spark, sf, "lineitem")
    return feature_corr_pairs(li, _SCREEN_STAT_FEATS, scale=3)


def q_perplexity_buckets(spark, sf):
    """CCNet head/middle/tail partitioning: per-language ntile(3) over the
    char-trigram LM score (operators/lm.py perplexity_buckets — Wenzek et
    al. 2020). The approx=True variant is the 100 TB path (sketch
    boundaries, no per-language total sort); the exact form here is the
    oracle-checkable verifier."""
    from featurescreening_jl_spark.operators.lm import perplexity_buckets

    docs = _t(spark, sf, "documents")
    out = perplexity_buckets(docs, n=3, n_buckets=3)
    return out.select(
        "doc_id", "lang", "avg_logp", F.col("bucket").cast("long").alias("bucket")
    )


def q_conv_neardup(spark, sf):
    """Conversation-level near-dedup: render each conversation to one text
    (turns in event-time order), then MinHash-LSH near-dup pairs over the
    rendered corpus — the transcript-axis twin of document near-dedup
    (re-ingested/re-crawled conversations that lost their tail turns).
    Truncated clones of every 15th conversation (last two turns dropped)
    are constructed from the data itself so the query is non-vacuous:
    clone↔original true Jaccard ≈0.95, far above the 0.8 threshold, while
    the max natural conversation pair sits at ≈0.24. The oracle replays
    the rendering, cloning, and EXACT all-pairs Jaccard ≥ 0.8."""
    from featurescreening_jl_spark.operators.dedup import minhash_lsh_pairs

    # Rendering does NOT need _transcripts' row_number window: turn_idx is
    # by definition the rank of (ts, event_id) within the conversation, so
    # sorting collected turns by (ts, event_id) yields the identical text
    # order while skipping an entire text-width window shuffle (verified
    # byte-identical; render phase 7.3 s -> 3.2 s at sf0.1). ONE groupBy
    # collects each conversation's ordered turn texts; both the full
    # rendering and the truncated clone derive from it MAP-SIDE. The
    # explicit repartition matters twice over: the per-row shingling+
    # signature compute downstream is invisible to AQE's size-based
    # coalescing (the ngram_jaccard_pairs trap), and the eager
    # localCheckpoint materializes the ~1-row-per-conversation table once
    # so neither branch re-renders.
    ev = _t(spark, sf, "events")
    docs = _t(spark, sf, "documents").select(
        "doc_id", F.col("text").alias("__doc_text")
    )
    grouped = (
        ev.join(F.broadcast(docs), F.col("event_id") % 500 == F.col("doc_id"))
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", F.col("__doc_text").alias("text"))
                )
            ).alias("__turns")
        )
        .select(
            F.concat(F.lit("conv_"), F.col("user_id").cast("string")).alias(
                "conv_id"
            ),
            "__turns",
        )
        .repartition(spark.sparkContext.defaultParallelism, "conv_id")
        .localCheckpoint()
    )
    texts = F.transform(F.col("__turns"), lambda s: s["text"])
    base = grouped.select(
        "conv_id", F.concat_ws(" ", texts).alias("text")
    )
    clones = grouped.where(
        F.substring("conv_id", 6, 100).cast("long") % 15 == 0
    ).select(
        F.concat("conv_id", F.lit("_dup")).alias("conv_id"),
        F.concat_ws(
            " ",
            F.slice(texts, 1, F.greatest(F.size("__turns") - 2, F.lit(0))),
        ).alias("text"),
    )
    corpus = base.unionByName(clones)
    return minhash_lsh_pairs(
        corpus,
        id_col="conv_id",
        jaccard_threshold=0.8,
        # r = num_hashes/bands = 4 rows per band is load-bearing: at r=2
        # the corpus's natural-pair Jaccard (~0.24) collides in ~0.92
        # bands per pair in expectation, promoting nearly all 1.28M
        # natural pairs to screening candidates (measured 15 s -> 45 s).
        # r=4 drops that to 0.027 expected while true pairs (J≈0.95)
        # still band with prob ~1 per the S-curve. 32 hashes (8 bands),
        # not the 64-hash default: signature compute dominates this
        # query's long rendered texts, and at J≈0.95 the 8-band miss
        # probability is (1-0.95^4)^8 ≈ 1.4e-6 — measured: pair sets
        # IDENTICAL to the 64-hash run at sf0.001/0.01/0.1, warm time
        # 11.8 s → 5.5 s. A corpus hunting pairs near the 0.8 threshold
        # (not 0.95 clones) should keep 64.
        num_hashes=32,
        bands=8,
        # rendered conversations are ~100× longer than documents and sit
        # atop a join+groupBy plan: shingle once, not per branch
        checkpoint_shingles=True,
        # long-document scale path: band + screen in 64-bit hash space,
        # exact string Jaccard only on screened survivors (output values
        # identical to the exact path — the oracle stays all-pairs exact)
        hashed_verify=True,
    ).select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def _snapshot_new(docs):
    """The 'new snapshot' for snapshot_diff, derived from the data itself:
    docs ≥ 450 dropped, every 7th doc's text edited, 20 docs appended."""
    kept = docs.where(F.col("doc_id") < 450)
    edited = kept.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    added = docs.where(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    return edited.unionByName(added)


def q_snapshot_diff(spark, sf):
    """Snapshot audit: classify every key as added/removed/changed/
    unchanged between two versions of the documents table
    (operators/profiling.py snapshot_diff). Sides collapse to
    (key, 64-bit fingerprint) map-side, so the single full-outer join
    shuffles key-width rows regardless of payload width; the oracle
    replays the diff with DIRECT column comparison, so a fingerprint
    error would surface as a hash mismatch."""
    from featurescreening_jl_spark.operators.profiling import snapshot_diff

    docs = _t(spark, sf, "documents")
    return snapshot_diff(docs, _snapshot_new(docs), ["doc_id"], rows=True)


def q_quality_classifier(spark, sf):
    """Model-based quality filter (operators/quality_filter.py): MLlib
    logistic regression trained to separate reference sources (src0-src4
    here) from the rest over map-side quality features, scoring every
    document. The iterative LBFGS FIT is the documented
    non-SQL-expressible half, so this entry is rows-only (no oracle_sql)
    — the deterministic SCORING half is value-oracled separately as
    ``quality_classifier_score``. max_iter=25 is a ceiling, not a cost
    floor: tol=1e-6 stops LBFGS at convergence (the sf0.1 fit converges
    well under 25; the cap only bounds pathological inputs)."""
    from featurescreening_jl_spark.operators.quality_filter import (
        quality_classifier_scores,
    )

    docs = _t(spark, sf, "documents")
    return quality_classifier_scores(
        docs, [f"src{i}" for i in range(5)], max_iter=25
    )


# The frozen quality model for the value-oracled scoring query: fitted
# ONCE by operators/quality_filter.fit_quality_classifier at sf0.01
# (reg_param=0.01, max_iter=50, tol=1e-6, positives src0-src4), rounded
# to 6dp via QualityModel.rounded(). Frozen literals — not a per-run
# fit — because the scoring contract is what production ships (a model
# trained offline, applied to every new shard) and what a SQL oracle
# can replay value-for-value. Coefficient order is
# QUALITY_FEATURE_ORDER: n_chars, n_tokens, mean_word_len,
# stopword_ratio, punct_ratio, upper_ratio.
_QUALITY_FROZEN_COEFS = (0.000815, -6.7e-05, 0.411035, -0.071476, 0.0, 0.0)
_QUALITY_FROZEN_INTERCEPT = -3.593395


def q_quality_classifier_score(spark, sf):
    """The deterministic scoring half of the quality classifier
    (operators/quality_filter.score_quality): closed-form
    ``sigmoid(intercept + coef·features)`` over the map-side quality
    features, against the FROZEN model above. Map-only, zero shuffles,
    engine-replayable — the oracle recomputes the same features and the
    same fixed-order dot product in SQL (round-4 verdict task 2: this
    moves the classifier's scoring half out of the rows-only list; only
    the fit remains iterative)."""
    from featurescreening_jl_spark.operators.quality_filter import (
        QualityModel,
        score_quality,
    )

    model = QualityModel(
        coefficients=_QUALITY_FROZEN_COEFS,
        intercept=_QUALITY_FROZEN_INTERCEPT,
    )
    return score_quality(_t(spark, sf, "documents"), model)


def q_conv_packing(spark, sf):
    """Conversation-atomic sequence packing: sum each conversation's turn
    tokens map-side, then first-fit-pack WHOLE conversations into
    training sequences (operators/packing.py over conv_id grain) —
    multi-turn SFT prep where a conversation must never straddle a pack
    boundary. The oracle replays the token rollup and the exact
    sequential first-fit scan per hash group."""
    from featurescreening_jl_spark.operators.packing import pack_sequences
    from featurescreening_jl_spark.operators.text_analysis import (
        token_count,
    )

    t = _transcripts(spark, sf)
    conv = t.groupBy("conv_id").agg(
        F.sum(token_count(F.col("text")).cast("long")).alias("n_tokens")
    )
    out = pack_sequences(
        conv, 8000, id_col="conv_id", strategy="greedy", num_groups=4
    )
    return out.select("conv_id", "pack_id", "pack_pos", "pack_tokens")


def _with_injected_loops(t: DataFrame) -> DataFrame:
    """Append a verbatim stuck-run (3 identical assistant turns) to every
    md5-elected 1-in-20 conversation — deterministic, partitioning-
    invariant, and exactly replayable in the DuckDB oracle."""
    from featurescreening_jl_spark.operators.dedup import hash60_portable

    tails = (
        t.groupBy("conv_id")
        .agg(F.max("turn_idx").alias("__mx"), F.max("ts").alias("__mts"))
        .where(
            hash60_portable(F.concat(F.lit("loop:"), F.col("conv_id"))) % 20
            == 0
        )
    )
    injected = tails.select(
        "conv_id",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("__k"),
        "__mx",
        "__mts",
    ).select(
        "conv_id",
        (F.col("__mx") + F.col("__k")).cast("int").alias("turn_idx"),
        F.lit("assistant").alias("role"),
        F.lit("I will retry the same command.").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.expr("timestampadd(SECOND, __k, __mts)").alias("ts"),
    )
    return t.unionByName(injected)


def q_loop_detection(spark, sf):
    # Degenerate-loop audit (operators/conversations.py): per-conversation
    # stats over maximal runs of consecutive verbatim (role, text) repeats
    # — the stuck-agent signature document-level dedup can't see. Stuck
    # runs are injected into an md5-elected 1/20 of conversations so the
    # operator has real positives to find; the oracle replays injection
    # and the gaps-and-islands run decomposition exactly.
    from featurescreening_jl_spark.operators.conversations import (
        detect_degenerate_loops,
    )

    t = _with_injected_loops(_transcripts(spark, sf))
    return detect_degenerate_loops(t, min_run=3)


def q_merge_turns(spark, sf):
    # Fragment normalization: merge runs of consecutive same-role turns
    # into one turn (texts joined in turn order, run-first ts), densely
    # re-indexed — the precondition for alternation-based validity gates
    # on streamed/stitched transcripts. One conv-keyed exchange serves
    # the run window, the run aggregate, and the re-index window.
    from featurescreening_jl_spark.operators.conversations import (
        merge_consecutive_turns,
    )

    t = _transcripts(spark, sf)
    out = merge_consecutive_turns(t, sep="\n")
    return out.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "n_merged",
        # epoch seconds: the engines' pandas timestamp units differ
        # (ns vs us), epoch longs compare exactly
        epoch_seconds(F.col("ts")).alias("ts_epoch"),
    )


def q_turn_edit_dist(spark, sf):
    # Per-turn self-repetition features: Levenshtein distance + normalized
    # similarity against the PREVIOUS turn of the same role — the graded
    # companion to loop_detection (paraphrase loops, copy-edit churn).
    # Texts are capped at 120 chars (documented O(len²) guard; the cap is
    # the production knob, set low here so the DuckDB oracle replays the
    # exact same capped distances cheaply).
    from featurescreening_jl_spark.operators.conversations import (
        turn_edit_features,
    )

    t = _transcripts(spark, sf)
    return turn_edit_features(t, max_chars=120)


def q_entropy_features(spark, sf):
    # Char- and token-level Shannon entropy per document — the classic
    # low-information / degenerate-text signal, computed as ONE run-length
    # fold over a sorted array (map-only, no explode, no shuffle). The
    # oracle explodes chars/tokens and uses DuckDB's native entropy()
    # aggregate (log base 2, same definition).
    from featurescreening_jl_spark.operators.text_analysis import (
        entropy_features,
    )

    docs = _t(spark, sf, "documents").where(F.length("text") > 0)
    out = entropy_features(docs, id_cols=("doc_id",), text_col="text")
    return out.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.round("char_entropy", 6).alias("char_entropy"),
        F.round("token_entropy", 6).alias("token_entropy"),
    )


def q_preference_pairs(spark, sf):
    # Best-of-n preference-pair mining (DPO-style): assistant turns
    # grouped by the exact text of their preceding user turn; chosen /
    # rejected picked by an exact-integer score (distinct-token ppm) so
    # Spark's max(struct) and the oracle's row_number pick the identical
    # winner. Shuffle key is md5(prompt), never the raw prompt text.
    from featurescreening_jl_spark.operators.conversations import (
        preference_pairs,
    )

    t = _transcripts(spark, sf)
    return preference_pairs(t, min_candidates=2, min_gap_ppm=0)


def q_leakage_split(spark, sf):
    # Near-dup-closure-atomic train/val/test split: the exact n-gram
    # Jaccard pair graph (same graph as dedup_cc) -> connected components
    # -> portable md5 hash split keyed on the CLUSTER label, so no doc can
    # straddle splits with its near-duplicates. The oracle replays the
    # recursive-CTE components + the identical md5 range assignment.
    from featurescreening_jl_spark.operators.dedup import (
        leakage_safe_split,
        ngram_jaccard_pairs_indexed,
    )

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 4000)
    pairs = ngram_jaccard_pairs_indexed(docs, shingle_n=3, threshold=0.3)
    out = leakage_safe_split(
        docs,
        pairs,
        {"train": 0.75, "val": 0.125, "test": 0.125},
        id_col="doc_id",
    )
    return out.select(
        "doc_id", F.col("cluster_label").cast("long").alias("cluster_label"), "split"
    )


def q_response_latency(spark, sf):
    # Per-conversation response-latency profile: event-time gap between
    # each user turn and the immediately-following assistant turn, in
    # exact integer microseconds (unix_micros both engines), aggregated
    # to one row per conversation.
    from featurescreening_jl_spark.operators.conversations import (
        response_latency_features,
    )

    t = _transcripts(spark, sf)
    return response_latency_features(t)


def q_tool_usage(spark, sf):
    # Per-conversation agent tool-usage profile: counts, ratio, distinct
    # tools, and the modal tool under a deterministic (count desc, name
    # asc) tie-break that both engines replay identically.
    from featurescreening_jl_spark.operators.conversations import (
        tool_usage_features,
    )

    t = _transcripts(spark, sf)
    return tool_usage_features(t)


def q_context_budget(spark, sf):
    # Per-turn context-window occupancy: how many trailing turns fit in a
    # 2000-token window ending at each turn, via the tie-free RANGE frame
    # over the strictly-increasing running token sum (no self-join).
    from featurescreening_jl_spark.operators.conversations import (
        context_budget_features,
    )

    t = _transcripts(spark, sf)
    return context_budget_features(t, 2000)


def q_context_budget_chunked(spark, sf):
    # The mega-conversation escape hatch under the driver's value oracle:
    # same computation at budget 25 with chunk_turns=25, so the ~67-turn
    # transcripts conversations split into 3-4 chunks each — two-phase
    # running sums, ghost rows crossing REAL chunk boundaries, and the
    # in-plan density validation all execute. Oracle = the single-task
    # formulation at budget 25 (the dedup_cc_star pattern: identical
    # output, different physical plan).
    from featurescreening_jl_spark.operators.conversations import (
        context_budget_features,
    )

    t = _transcripts(spark, sf)
    return context_budget_features(t, 25, chunk_turns=25)


def q_sft_pairs_chunked(spark, sf):
    # sft_pairs' chunked hatch at chunk_turns = max_context_turns = 8:
    # every conversation splits into ~8 chunks, each ghosting its full
    # tail into the next — the heaviest ghost geometry the operator
    # allows. Identical output to q_sft_pairs, so it shares that oracle.
    from featurescreening_jl_spark.operators.conversations import sft_pairs

    t = _transcripts(spark, sf)
    out = sft_pairs(
        t, max_context_turns=8, max_context_chars=2000, chunk_turns=8
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "context",
        "target",
        F.col("n_context_turns").cast("long").alias("n_context_turns"),
    )


def q_turn_edit_chunked(spark, sf):
    # turn_edit_features' carry-based hatch at chunk_turns=10 (~7 chunks
    # per conversation): the per-(conv, chunk, role) last-text carry and
    # its role-skipping lag execute against real multi-chunk geometry.
    # Identical output to q_turn_edit_dist, so it shares that oracle.
    from featurescreening_jl_spark.operators.conversations import (
        turn_edit_features,
    )

    t = _transcripts(spark, sf)
    return turn_edit_features(t, max_chars=120, chunk_turns=10)


def q_soft_dedup(spark, sf):
    # Soft dedup: 1/cluster_size sampling weight over the same exact
    # n-gram Jaccard closure leakage_split uses; the oracle replays the
    # recursive-CTE components plus the window count.
    from featurescreening_jl_spark.operators.dedup import (
        ngram_jaccard_pairs_indexed,
        soft_dedup_weights,
    )

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 4000)
    pairs = ngram_jaccard_pairs_indexed(docs, shingle_n=3, threshold=0.3)
    return soft_dedup_weights(docs, pairs)


def q_embedding_drift(spark, sf):
    """Embedding-modality drift gate (operators/profiling.py
    embedding_drift): centroid L2 shift + cosine between two snapshots.
    Drift synthesized in-query from the data itself (odd vec_ids scaled
    1.02 and shifted +0.03) so the statistic is non-vacuous. Each side
    collapses map-side to exact int64 fixed-point sums — the oracle
    replays the snap, both centroid means, and the drift arithmetic."""
    from featurescreening_jl_spark.operators.profiling import (
        embedding_drift,
    )

    emb = _t(spark, sf, "embeddings")
    ref = emb.where(F.col("vec_id") % 2 == 0)
    cur = emb.where(F.col("vec_id") % 2 == 1).select(
        F.transform(
            F.col("embedding"),
            lambda v: v.cast("double") * 1.02 + 0.03,
        ).alias("embedding")
    )
    return embedding_drift(ref, cur, dim=64)


def q_kmeans_cells(spark, sf):
    """Distributed exact-integer Lloyd's k-means
    (operators/clustering.py): corpus bucketing over the FULL embeddings
    table — k=8, 3 iterations, 10^-3 fixed-point grid — the
    whole-corpus complement to ivf's bounded-sample centroid training.
    Every step is int64 (snap, argmin, sums, round-half-away-from-zero
    centroid update), so the oracle replays init (portable-md5 order),
    all three assignment/update rounds, and the final assignment as
    stacked CTEs — value-exact across engines, no tolerance, despite
    the operator being iterative."""
    from featurescreening_jl_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
    )

    emb = _t(spark, sf, "embeddings")
    cents = kmeans_fit(emb, k=8, dim=64, iters=3)
    return kmeans_assign(emb, cents).select(
        "vec_id", F.col("cell").cast("long").alias("cell")
    )


def _kmeans_oracle_sql(k: int, iters: int, dim: int) -> str:
    """CTE-chain replay of kmeans_fit + kmeans_assign (pure integer
    arithmetic end-to-end — see operators/clustering.py for why the
    centroid update divides |s| only)."""

    def assign(t: int, cents: str) -> str:
        return f"""a{t}_r AS (
              SELECT vec_id, x, cell, row_number() OVER (
                  PARTITION BY vec_id
                  ORDER BY list_sum(list_transform(range(1, {dim + 1}),
                             i -> (x[i]-c[i])*(x[i]-c[i]))), cell) AS rn
              FROM xs CROSS JOIN {cents}
            ),
            a{t} AS (SELECT vec_id, x, cell FROM a{t}_r WHERE rn = 1)"""

    parts = [
        """xs AS (
              SELECT vec_id,
                     list_transform(embedding,
                       v -> CAST(floor(CAST(v AS DOUBLE)*1000 + 0.5)
                                 AS BIGINT)) AS x
              FROM embeddings
            )""",
        f"""c0 AS (
              SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cell,
                     x AS c
              FROM (SELECT vec_id, x,
                           ('0x' || substr(md5('km:' ||
                               CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
                    FROM xs ORDER BY h, vec_id LIMIT {k})
            )""",
    ]
    for t in range(1, iters + 1):
        parts.append(assign(t, f"c{t - 1}"))
        parts.append(
            f"""u{t} AS (
              SELECT cell, i, sum(x[i+1]) AS s, count(*) AS cnt
              FROM a{t} CROSS JOIN range({dim}) r{t}(i)
              GROUP BY cell, i
            )"""
        )
        parts.append(
            f"""c{t} AS (
              SELECT p.cell, COALESCE(nu.c, p.c) AS c
              FROM c{t - 1} p LEFT JOIN (
                SELECT cell,
                       list(CASE WHEN s >= 0
                                 THEN (2*s + cnt) // (2*cnt)
                                 ELSE -((2*(-s) + cnt) // (2*cnt)) END
                            ORDER BY i) AS c
                FROM u{t} GROUP BY cell
              ) nu USING (cell)
            )"""
        )
    parts.append(assign(iters + 1, f"c{iters}"))
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT vec_id, CAST(cell AS BIGINT) AS cell FROM a{iters + 1}"
    )


def q_pool_embeddings(spark, sf):
    # Group-level embedding pooling (turn/doc -> conversation/source):
    # element-wise mean + L2 normalize, folded INSIDE one hash aggregate
    # via zip_with (the posexplode route multiplies the shuffle by the
    # embedding dimension). Exploded to scalar rows for the compare, the
    # established array-result pattern (see q_project_embeddings).
    from featurescreening_jl_spark.operators.similarity import (
        pool_embeddings,
    )

    emb = _t(spark, sf, "embeddings").select(
        (F.col("vec_id") % 50).alias("grp"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    out = pool_embeddings(emb, by="grp", vec_col="embedding")
    return out.select(
        "grp",
        "n_vectors",
        F.posexplode("pooled").alias("dim_idx", "val"),
    ).select(
        "grp", "n_vectors", "dim_idx", F.round("val", 6).alias("val")
    )


def q_curriculum(spark, sf):
    # Exact distributed global ranking + equal-frequency curriculum
    # phases: rank all documents by length (doc_id tiebreak -> total
    # order), cut into 8 easy->hard phases via exact integer DIV. The
    # naive row_number()-no-partition spelling funnels the corpus into
    # ONE task; global_rank range-partitions instead (see ranking.py).
    from featurescreening_jl_spark.operators.ranking import (
        curriculum_buckets,
    )

    docs = _t(spark, sf, "documents").select(
        "doc_id", F.length("text").alias("score")
    )
    out = curriculum_buckets(docs, "score", "doc_id", 8)
    return out.select("doc_id", "score", "rank", "bucket")


def q_semantic_segments(spark, sf):
    # Topic segmentation of conversations by embedding drift: a turn
    # opens a new segment when cosine to the previous turn drops below
    # the threshold (TextTiling's rule on embeddings). Per-turn
    # embeddings come from the events->embeddings join (the transcripts
    # recipe with the embedding table swapped in for documents).
    from featurescreening_jl_spark.operators.conversations import (
        semantic_segments,
    )

    ev = _t(spark, sf, "events")
    emb = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.join(F.broadcast(emb), F.col("event_id") % 500 == F.col("vec_id"))
        .withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))
        .select(
            F.concat(F.lit("conv_"), F.col("user_id").cast("string")).alias(
                "conv_id"
            ),
            "turn_idx",
            "embedding",
        )
    )
    return semantic_segments(t, threshold=0.1)


def q_label_propagation(spark, sf):
    """Clamped majority-vote label propagation (operators/graph.py
    propagate_labels) over the same click-chain document graph PageRank
    uses: trusted language tags on every 7th doc spread 2 rounds to the
    untagged rest — the semi-supervised trick for pushing scarce
    quality/license/language verdicts through a similarity or
    navigation graph. All-integer/string arithmetic with a
    deterministic modal tie-break, so the oracle unrolls both rounds
    as stacked CTEs and value-checks every (node, label, is_seed)."""
    from featurescreening_jl_spark.operators.graph import propagate_labels

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        (F.col("event_id") % 500).alias("src"),
        F.lead(F.col("event_id") % 500).over(w).alias("dst"),
    )
    edges = (
        seq.where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("__w"))
        .select("src", "dst")
    )
    docs = _t(spark, sf, "documents")
    seeds = docs.where(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("id"), F.col("lang").alias("label")
    )
    out = propagate_labels(edges, seeds, rounds=2)
    return out.select(F.col("id").cast("long").alias("id"), "label", "is_seed")


def q_doc_pagerank(spark, sf):
    """Web-graph quality rank over the document navigation graph: each
    user's event stream (ordered by ts, event_id) yields a directed
    transition edge doc(event_i) -> doc(event_i+1) (the click-chain
    construction behind domain-centrality corpus curation signals);
    3 iterations of weighted PageRank (operators/graph.py pagerank,
    simplified recurrence — exactly replayable in SQL, so the oracle
    unrolls the three steps as stacked CTEs and value-checks every
    rank). Self-loop transitions are dropped (standard for centrality);
    parallel transitions pre-aggregate to one weighted edge so the 100 TB
    edge side is |distinct pairs|, not |events|."""
    from featurescreening_jl_spark.operators.graph import pagerank

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    doc = (F.col("event_id") % 500).alias("src")
    seq = ev.select(doc, F.lead(F.col("event_id") % 500).over(w).alias("dst"))
    edges = (
        seq.where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("w"))
    )
    out = pagerank(edges, "src", "dst", "w", damping=0.85, iterations=3)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.round("rank", 6).alias("rank"),
    )


def q_quantile_bin(spark, sf):
    """Equal-frequency discretization with the fit/transform split: fit
    per-event-type 8-bin boundaries (exact percentile — the verifier;
    approx=True is the sketch-aggregate 100 TB path), then assign
    buckets map-side against the broadcast boundary table
    (operators/feature_encoding.py fit_quantile_bins / quantile_bin).
    Boundaries round to 6dp in BOTH engines so interpolation ulps can't
    flip a >= comparison."""
    from featurescreening_jl_spark.operators.feature_encoding import (
        fit_quantile_bins,
        quantile_bin,
    )

    ev = _t(spark, sf, "events")
    bins = fit_quantile_bins(ev, "value", 8, by="event_type")
    return quantile_bin(ev, bins, "value", by="event_type").select(
        "event_id", "event_type", "bucket"
    )


def q_dq_profile(spark, sf):
    """Single-pass per-column data profiling (operators/dataquality.py
    profile_columns): row/null counts, exact distinct count, min/max —
    the ingest-observability gate a 100 TB pipeline fronts every load
    with. ONE aggregate job for all columns; approx=True (not used here
    so the oracle stays exact) swaps count_distinct for the HLL sketch
    to avoid the k-fold Expand on wide profiles."""
    from featurescreening_jl_spark.operators.dataquality import (
        profile_columns,
    )

    docs = _t(spark, sf, "documents")
    return profile_columns(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    )


def q_dq_checks(spark, sf):
    """Declarative constraint gate (operators/dataquality.py
    check_constraints): five checks — key not-null + unique, n_chars
    range, lang whitelist, source shape regex — compiled into ONE
    aggregate pass; output is the per-constraint verdict table."""
    from featurescreening_jl_spark.operators.dataquality import (
        check_constraints,
    )

    docs = _t(spark, sf, "documents")
    return check_constraints(
        docs,
        [
            ("not_null", "doc_id"),
            ("unique", "doc_id"),
            ("in_range", "n_chars", 1, 100000),
            ("allowed", "lang", ["en", "de", "fr", "es", "zh"]),
            ("matches", "source", "^src[0-9]+$"),
        ],
    )


def q_cohort_retention(spark, sf):
    """Weekly cohort retention over events (operators/window_features.py
    cohort_retention): cohort = week of each user's first event; cells
    count distinct active users per (cohort, week offset) with the
    retention fraction against the cohort's offset-0 size. One window
    min + one distinct-count aggregate; the denominator joins from the
    tiny matrix itself, broadcast."""
    from featurescreening_jl_spark.operators.window_features import (
        cohort_retention,
    )

    ev = _t(spark, sf, "events")
    out = cohort_retention(ev, by="user_id", ts_col="ts", period="week")
    # repo convention: emit epoch SECONDS as a long, never a raw
    # timestamp — pandas surfaces Spark timestamps as datetime64[ns] but
    # DuckDB's as datetime64[us], and the epoch canonicalization is
    # unit-sensitive
    return out.withColumn(
        "cohort", F.unix_timestamp(F.col("cohort").cast("timestamp"))
    )


def q_fuzzy_join(spark, sf):
    """Sound edit-distance join (operators/fuzzy_join.py
    edit_distance_join): match the documents table against its edited
    snapshot (every 7th doc gets ' v2' appended — the snapshot_diff
    derivation) at levenshtein ≤ 3 via the Gravano q-gram count bound +
    length window + banded exact verify. Output provably equals the
    brute-force cross filter, which is exactly what the oracle runs
    (with the same sound length prefilter for DuckDB runtime)."""
    from featurescreening_jl_spark.operators.fuzzy_join import (
        edit_distance_join,
    )

    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 1000)
    edited = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return edit_distance_join(
        docs, edited, "doc_id", "text", max_dist=3
    )


def q_calibration(spark, sf):
    """Reliability (calibration) rollup — composition showcase: the
    heuristic quality score binned into exact deciles via the
    fit/transform discretizer, each bin rolled up to (count, mean
    score, empirical positive rate) against a deterministic label
    (lang == 'en'). Scores round to 6dp BEFORE the fit so both engines
    bin identical value multisets."""
    from featurescreening_jl_spark.operators.feature_encoding import (
        fit_quantile_bins,
        quantile_bin,
    )
    from featurescreening_jl_spark.operators.text_analysis import (
        quality_score,
    )

    docs = _t(spark, sf, "documents")
    scored = docs.select(
        "doc_id",
        F.round(quality_score(F.col("text")), 6).alias("q"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    bins = fit_quantile_bins(scored, "q", 10)
    return (
        quantile_bin(scored, bins, "q")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("q"), 6).alias("mean_score"),
            F.round(F.avg("label"), 6).alias("pos_rate"),
        )
    )


def q_corpus_cube(spark, sf):
    """Multi-dimensional corpus composition in ONE pass: CUBE(lang,
    source) expands each row into its 4 grouping combinations map-side
    (Expand node) and aggregates them all in a single shuffle — the
    alternative (4 separate groupBys + union) scans the corpus 4 times.
    Rolled-up dimensions render as '(all)' (the data has no NULL dims,
    so coalesce is unambiguous and engine-portable)."""
    docs = _t(spark, sf, "documents")
    return (
        docs.cube("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .select(
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            F.coalesce("source", F.lit("(all)")).alias("source"),
            "n_docs",
            "total_chars",
            "avg_chars",
        )
    )


def q_ks_drift(spark, sf):
    """Exact two-sample Kolmogorov–Smirnov drift gate
    (operators/profiling.py ks_statistic): purchase-event value
    distribution vs everything else — the binning-free complement to
    psi_drift. Values pre-aggregate to per-rounded-value counts
    map-side, so the cumulative window runs over the bounded distinct
    table only; the oracle replays the full-outer ECDF merge and the
    (max d, min v) tie-break."""
    from featurescreening_jl_spark.operators.profiling import ks_statistic

    ev = _t(spark, sf, "events")
    a = ev.where(F.col("event_type") == "purchase")
    b = ev.where(F.col("event_type") != "purchase")
    return ks_statistic(a, b, "value")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "projection": q_projection,
        "column_merge_join": q_column_merge_join,
        "hash_count_agg": q_hash_count_agg,
        "topk": q_topk,
        "select_top_fraction": q_select_top_fraction,
        "lag_lead_window": q_lag_lead_window,
        "sessionize": q_sessionize,
        "running_agg": q_running_agg,
        "asof_join_window": q_asof_join_window,
        "asof_join_bucketed": q_asof_join_bucketed,
        "multi_agg_rollup": q_multi_agg_rollup,
        "dedup_exact": q_dedup_exact,
        "dedup_exact_incremental": q_dedup_exact_incremental,
        "text_stats": q_text_stats,
        "lang_distribution": q_lang_distribution,
        "cosine_topk": q_cosine_topk,
        "minhash_pairs": q_minhash_pairs,
        "screen_pipeline": q_screen_pipeline,
        "asof_join_merge": q_asof_join_merge,
        "asof_leakage_audit": q_asof_leakage_audit,
        "label_propagation": q_label_propagation,
        "transcripts_shape": q_transcripts_shape,
        "transcripts_turn_features": q_transcripts_turn_features,
        "transcripts_conversation_agg": q_transcripts_conversation_agg,
        "transcripts_asof_backfill": q_transcripts_asof_backfill,
        "doc_quality": q_doc_quality,
        "language_id": q_language_id,
        "fingerprint_distinct": q_fingerprint_distinct,
        "ngram_jaccard": q_ngram_jaccard,
        "ngram_jaccard_indexed": q_ngram_jaccard_indexed,
        "simhash_dedup": q_simhash_dedup,
        "dedup_cc": q_dedup_cc,
        "dedup_cluster_sizes": q_dedup_cluster_sizes,
        "dedup_cc_star": q_dedup_cc_star,
        "keep_best": q_keep_best,
        "corpus_prep": q_corpus_prep,
        "chat_render": q_chat_render,
        "doc_chunks": q_doc_chunks,
        "token_histogram": q_token_histogram,
        "length_quantiles": q_length_quantiles,
        "lm_score": q_lm_score,
        "minhash_incremental": q_minhash_incremental,
        "simhash_neardup": q_simhash_neardup,
        "lsh_topk": q_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "trailing_time": q_trailing_time,
        "winnow_fingerprints": q_winnow_fingerprints,
        "winnow_pairs": q_winnow_pairs,
        "tfidf_top_terms": q_tfidf_top_terms,
        "hash_split": q_hash_split,
        "stratified_sample": q_stratified_sample,
        "per_key_cap": q_per_key_cap,
        "weighted_mix": q_weighted_mix,
        "weighted_reservoir": q_weighted_reservoir,
        "pack_greedy": q_pack_greedy,
        "pack_offset": q_pack_offset,
        "token_budget_mix": q_token_budget_mix,
        "repetition_stats": q_repetition_stats,
        "contamination": q_contamination,
        "contamination_bitmap": q_contamination_bitmap,
        "exact_stratified": q_exact_stratified,
        "encoding_quality": q_encoding_quality,
        "pii_redaction": q_pii_redaction,
        "conv_truncate": q_conv_truncate,
        "conv_validity": q_conv_validity,
        "quality_score": q_quality_score,
        "json_facets": q_json_facets,
        "range_join": q_range_join,
        "kmv_distinct": q_kmv_distinct,
        "kmv_overlap": q_kmv_overlap,
        "pivot_counts": q_pivot_counts,
        "cosine_neardup": q_cosine_neardup,
        "media_features": q_media_features,
        "media_frame_sample": q_media_frame_sample,
        "mask_boilerplate": q_mask_boilerplate,
        "semantic_dedup": q_semantic_dedup,
        "target_encode": q_target_encode,
        "decayed_features": q_decayed_features,
        "decayed_features_arrow": q_decayed_features_arrow,
        "rolling_folds": q_rolling_folds,
        "skew_profile": q_skew_profile,
        "psi_drift": q_psi_drift,
        "heavy_hitters": q_heavy_hitters,
        "sft_pairs": q_sft_pairs,
        "oof_target_encode": q_oof_target_encode,
        "project_embeddings": q_project_embeddings,
        "bm25": q_bm25,
        "bpe_vocab": q_bpe_vocab,
        "bpe_encode": q_bpe_encode,
        "role_transitions": q_role_transitions,
        "temperature_mix": q_temperature_mix,
        "session_funnel": q_session_funnel,
        "dsir_weights": q_dsir_weights,
        "strip_markup": q_strip_markup,
        "expanding_zscore": q_expanding_zscore,
        "trailing_slope": q_trailing_slope,
        "expanding_rank": q_expanding_rank,
        "pmi_bigrams": q_pmi_bigrams,
        "pq_topk": q_pq_topk,
        "ivfpq_topk": q_ivfpq_topk,
        "normalize_embeddings": q_normalize_embeddings,
        "woe_encode": q_woe_encode,
        "robust_outliers": q_robust_outliers,
        "robust_outliers_by": q_robust_outliers_by,
        "hashed_cross": q_hashed_cross,
        "forward_label": q_forward_label,
        "session_stats": q_session_stats,
        "hash_negatives": q_hash_negatives,
        "substring_spans": q_substring_spans,
        "chi2_ranking": q_chi2_ranking,
        "feature_corr": q_feature_corr,
        "perplexity_buckets": q_perplexity_buckets,
        "conv_neardup": q_conv_neardup,
        "snapshot_diff": q_snapshot_diff,
        "quality_classifier": q_quality_classifier,
        "quality_classifier_score": q_quality_classifier_score,
        "conv_packing": q_conv_packing,
        "loop_detection": q_loop_detection,
        "merge_turns": q_merge_turns,
        "turn_edit_dist": q_turn_edit_dist,
        "entropy_features": q_entropy_features,
        "preference_pairs": q_preference_pairs,
        "leakage_split": q_leakage_split,
        "response_latency": q_response_latency,
        "tool_usage": q_tool_usage,
        "context_budget": q_context_budget,
        "context_budget_chunked": q_context_budget_chunked,
        "sft_pairs_chunked": q_sft_pairs_chunked,
        "turn_edit_chunked": q_turn_edit_chunked,
        "soft_dedup": q_soft_dedup,
        "pool_embeddings": q_pool_embeddings,
        "kmeans_cells": q_kmeans_cells,
        "embedding_drift": q_embedding_drift,
        "curriculum": q_curriculum,
        "semantic_segments": q_semantic_segments,
        "doc_pagerank": q_doc_pagerank,
        "quantile_bin": q_quantile_bin,
        "dq_profile": q_dq_profile,
        "dq_checks": q_dq_checks,
        "cohort_retention": q_cohort_retention,
        "fuzzy_join": q_fuzzy_join,
        "calibration": q_calibration,
        "corpus_cube": q_corpus_cube,
        "ks_drift": q_ks_drift,
    }


# shared recursive-CTE prefix for the connected-component oracles: the exact
# ngram-Jaccard pair graph over doc_id < 4000 (same graph dedup_cc /
# dedup_cc_star / keep_best compute in Spark), expanded to per-node minimum
# reachable id (UNION dedups, so the fixpoint terminates)
_CC_ORACLE_PREFIX = r"""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(0, greatest(len(toks) - 3, 0) + 1),
               i -> array_to_string(toks[i+1:i+3], ' '))) AS s
      FROM (
        SELECT doc_id,
               string_split_regex(
                 lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                 ' ') AS toks
        FROM documents WHERE doc_id < 4000
      )
      WHERE len(list_distinct(list_transform(
               range(0, greatest(len(toks) - 3, 0) + 1),
               i -> array_to_string(toks[i+1:i+3], ' ')))) > 0
    ),
    pairs AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.s, b.s))::DOUBLE
               / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      ) WHERE jaccard >= 0.3
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    )
"""


def _oracle_sql_base() -> dict[str, str]:
    return {
        "projection": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
            FROM lineitem
        """,
        "column_merge_join": """
            SELECT o.o_orderkey, o.o_totalprice, c.c_acctbal
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        """,
        "hash_count_agg": """
            SELECT l_returnflag AS flag, count(*) AS cnt
            FROM lineitem GROUP BY l_returnflag
        """,
        "topk": """
            SELECT l_partkey, round(sum(l_quantity), 4) AS total_qty
            FROM lineitem GROUP BY l_partkey
            ORDER BY total_qty DESC, l_partkey ASC LIMIT 10
        """,
        "select_top_fraction": """
            SELECT s_suppkey, s_acctbal FROM (
              SELECT s_suppkey, s_acctbal,
                     row_number() OVER (ORDER BY s_acctbal DESC, s_suppkey ASC) AS rn,
                     count(*) OVER () AS n
              FROM supplier
            ) WHERE rn <= floor(n * 0.25)
        """,
        "lag_lead_window": """
            SELECT event_id, user_id,
                   lag(value) OVER w AS prev_value,
                   lead(value) OVER w AS next_value
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "sessionize": """
            SELECT event_id, user_id,
                   (sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - 1)::BIGINT AS session_id
            FROM (
              SELECT event_id, user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT > 1800
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
        """,
        "running_agg": """
            SELECT event_id,
                   count(*) OVER w AS cum_events,
                   round(sum(value) OVER w, 4) AS cum_value
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "asof_join_window": """
            SELECT q.event_id, q.user_id, s.value AS last_purchase_value
            FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') q
            ASOF LEFT JOIN
                 (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') s
            ON q.user_id = s.user_id AND q.ts >= s.ts
        """,
        "asof_join_bucketed": """
            SELECT q.event_id, q.user_id, s.value AS last_purchase_value
            FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') q
            ASOF LEFT JOIN
                 (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') s
            ON q.user_id = s.user_id AND q.ts >= s.ts
        """,
        "multi_agg_rollup": """
            SELECT user_id,
                   count(*) AS n_events,
                   count(DISTINCT event_type) AS n_types,
                   floor(epoch(max(ts)))::BIGINT - floor(epoch(min(ts)))::BIGINT
                       AS duration_sec,
                   round(avg(value), 4) AS avg_value
            FROM events GROUP BY user_id
        """,
        "dedup_exact": """
            SELECT d.doc_id, d.n_chars
            FROM documents d
            JOIN (
              SELECT min(doc_id) AS doc_id
              FROM documents
              GROUP BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
            ) k USING (doc_id)
        """,
        # fingerprinting replayed as normalized-text grouping; the NOT-IN
        # screen and min-id pick mirror the anti-join + min_by exactly
        "dedup_exact_incremental": """
            WITH nt AS (
              SELECT doc_id, n_chars,
                     lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
              FROM documents
            ),
            idx AS (SELECT * FROM nt WHERE doc_id < 250),
            shard AS (
              SELECT doc_id, n_chars, t FROM nt WHERE doc_id >= 250
              UNION ALL
              SELECT doc_id + 10000, n_chars, t FROM idx
              WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 20000, n_chars, t FROM nt
              WHERE doc_id >= 250 AND doc_id % 25 = 0
            ),
            keep AS (
              SELECT min(doc_id) AS doc_id FROM shard
              WHERE t NOT IN (SELECT t FROM idx)
              GROUP BY t
            )
            SELECT s.doc_id, s.n_chars FROM shard s JOIN keep USING (doc_id)
        """,
        "text_stats": """
            SELECT doc_id,
                   length(text)::BIGINT AS text_chars,
                   (CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                    END)::BIGINT AS n_tokens,
                   round(length(text)::DOUBLE /
                         (CASE WHEN length(trim(text)) = 0 THEN 0
                               ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                          END), 4) AS mean_word_len
            FROM documents
        """,
        "lang_distribution": """
            SELECT lang, count(*) AS cnt FROM documents GROUP BY lang
        """,
        "cosine_topk": """
            SELECT vec_id, similarity, rank FROM (
              SELECT e.vec_id,
                     round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                  q.embedding::DOUBLE[]), 4)
                         AS similarity,
                     row_number() OVER (
                       ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                             q.embedding::DOUBLE[]), 4)
                                DESC, e.vec_id ASC) AS rank
              FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            ) WHERE rank <= 5
        """,
        "asof_join_merge": """
            SELECT q.event_id, q.user_id, s.value AS last_purchase_value
            FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') q
            ASOF LEFT JOIN
                 (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') s
            ON q.user_id = s.user_id AND q.ts >= s.ts
        """,
        "transcripts_shape": f"""
            WITH t AS ({_TRANSCRIPTS_SQL})
            SELECT conv_id, turn_idx, role, text, tool,
                   floor(epoch(ts))::BIGINT AS ts_epoch
            FROM t
        """,
        "transcripts_turn_features": f"""
            WITH t AS ({_TRANSCRIPTS_SQL}),
            s AS (
              SELECT conv_id, turn_idx, text, ts,
                     floor(epoch(ts))::BIGINT AS es,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR floor(epoch(ts))::BIGINT
                               - floor(epoch(lag(ts) OVER w))::BIGINT > 1800
                          THEN 1 ELSE 0 END AS new_s,
                     coalesce((floor(epoch(ts))::BIGINT
                               - floor(epoch(lag(ts) OVER w))::BIGINT)::DOUBLE,
                              0) AS time_since_prev,
                     coalesce(lag(length(text)) OVER w, 0)::DOUBLE
                         AS lag1_text_len,
                     CASE WHEN tool IS NOT NULL THEN 1.0 ELSE 0.0 END AS is_tool
              FROM t
              WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
            ),
            s2 AS (
              SELECT *,
                     (sum(new_s) OVER wr - 1)::BIGINT AS session_id,
                     sum(is_tool) OVER wr AS cum_tool_calls,
                     sum(is_tool) OVER wk AS tool_calls_last_k,
                     round(avg(length(text)) OVER wk, 4) AS avg_text_len_last_k,
                     coalesce(lead(is_tool) OVER
                              (PARTITION BY conv_id ORDER BY ts, turn_idx),
                              0.0) AS label_next_is_tool
              FROM s
              WINDOW wr AS (PARTITION BY conv_id ORDER BY ts, turn_idx
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     wk AS (PARTITION BY conv_id ORDER BY ts, turn_idx
                            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
            )
            SELECT conv_id, turn_idx, text, session_id, time_since_prev,
                   lag1_text_len,
                   (row_number() OVER ws - 1)::DOUBLE AS session_turn_idx,
                   (es - min(es) OVER wsr)::DOUBLE AS session_elapsed,
                   cum_tool_calls, tool_calls_last_k, avg_text_len_last_k,
                   label_next_is_tool
            FROM s2
            WINDOW ws AS (PARTITION BY conv_id, session_id
                          ORDER BY ts, turn_idx),
                   wsr AS (PARTITION BY conv_id, session_id
                           ORDER BY ts, turn_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "transcripts_conversation_agg": f"""
            WITH t AS ({_TRANSCRIPTS_SQL}),
            g AS (
              SELECT *,
                     floor(epoch(ts))::BIGINT AS es,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR floor(epoch(ts))::BIGINT
                               - floor(epoch(lag(ts) OVER w))::BIGINT > 1800
                          THEN 1 ELSE 0 END AS new_s
              FROM t
              WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
            ),
            s AS (
              SELECT *,
                     (sum(new_s) OVER (PARTITION BY conv_id
                                       ORDER BY ts, turn_idx
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)
                      - 1)::BIGINT AS session_id
              FROM g
            )
            SELECT conv_id,
                   count(*)::BIGINT AS n_turns,
                   sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                       AS n_tool_calls,
                   count(DISTINCT tool)::BIGINT AS n_distinct_tools,
                   (max(session_id) + 1)::BIGINT AS n_sessions,
                   (max(es) - min(es))::BIGINT AS duration_sec,
                   round(avg(length(text)), 4) AS avg_text_len
            FROM s GROUP BY conv_id
        """,
        "transcripts_asof_backfill": f"""
            WITH t AS ({_TRANSCRIPTS_SQL})
            SELECT q.conv_id, q.turn_idx, s.tool AS last_tool
            FROM (SELECT conv_id, ts, turn_idx FROM t) q
            ASOF LEFT JOIN
                 (SELECT conv_id, ts, tool FROM t WHERE tool IS NOT NULL) s
            ON q.conv_id = s.conv_id AND q.ts >= s.ts
        """,
        "doc_quality": r"""
            WITH q AS (
              SELECT doc_id, text,
                     length(text)::DOUBLE AS n_chars,
                     (CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\s+'))
                      END)::DOUBLE AS n_tokens,
                     (length(text)
                      - length(regexp_replace(text, '[^\w\s]', '', 'g')))::DOUBLE
                         AS n_punct,
                     (length(text)
                      - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE
                         AS n_upper,
                     len(list_filter(
                           regexp_split_to_array(lower(trim(text)), '\s+'),
                           w -> list_contains(
                                  ['the','a','an','and','or','of','to','in',
                                   'is','it','for','on','with','as','at','by',
                                   'that','this'], w)))::DOUBLE AS n_stop
              FROM documents
            )
            SELECT doc_id,
                   n_chars::BIGINT AS n_chars,
                   n_tokens::BIGINT AS n_tokens,
                   round(n_chars / (CASE WHEN n_tokens > 0 THEN n_tokens
                                         ELSE 1.0 END), 4) AS mean_word_len,
                   round(n_punct / (CASE WHEN n_chars > 0 THEN n_chars
                                         ELSE 1.0 END), 4) AS punct_ratio,
                   round(n_upper / (CASE WHEN n_chars > 0 THEN n_chars
                                         ELSE 1.0 END), 4) AS upper_ratio,
                   round(n_stop / (CASE WHEN n_tokens > 0 THEN n_tokens
                                        ELSE 1.0 END), 4) AS stopword_ratio,
                   len(regexp_extract_all(
                         text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]'))::BIGINT
                       AS bpe_tokens
            FROM q
        """,
        "language_id": r"""
            WITH w AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(text), '\s+') AS words
              FROM documents
            ),
            sc AS (
              SELECT doc_id,
                     len(list_filter(words, x -> list_contains(
                           ['the','and','of','to','is'], x))) AS s_en,
                     len(list_filter(words, x -> list_contains(
                           ['el','la','de','que','los'], x))) AS s_es,
                     len(list_filter(words, x -> list_contains(
                           ['der','die','und','das','ist'], x))) AS s_de,
                     len(list_filter(words, x -> list_contains(
                           ['le','la','les','des','est'], x))) AS s_fr
              FROM w
            )
            SELECT doc_id,
                   CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
                        WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                        WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                        WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                        ELSE 'fr' END AS lang_pred
            FROM sc
        """,
        "fingerprint_distinct": r"""
            SELECT count(DISTINCT lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                       AS n_fp,
                   count(DISTINCT lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                       AS n_text
            FROM documents
        """,
        "ngram_jaccard": r"""
            WITH sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(0, greatest(len(toks) - 3, 0) + 1),
                       i -> array_to_string(toks[i+1:i+3], ' '))) AS s
              FROM (
                SELECT doc_id,
                       string_split_regex(
                         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                         ' ') AS toks
                FROM documents WHERE doc_id < 400
              )
              WHERE len(list_distinct(list_transform(
                       range(0, greatest(len(toks) - 3, 0) + 1),
                       i -> array_to_string(toks[i+1:i+3], ' ')))) > 0
            )
            SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_intersect(a.s, b.s))::DOUBLE
                     / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            ) WHERE jaccard >= 0.3
        """,
        # identical semantics to ngram_jaccard (different Spark physical
        # strategy), over the wider doc_id < 4000 slice: the indexed form
        # scales, so it benches on a slice that actually contains near-dup
        # clusters at sf0.1; the O(n²) cross-join verifier stays at 400
        "ngram_jaccard_indexed": r"""
            WITH sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(0, greatest(len(toks) - 3, 0) + 1),
                       i -> array_to_string(toks[i+1:i+3], ' '))) AS s
              FROM (
                SELECT doc_id,
                       string_split_regex(
                         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                         ' ') AS toks
                FROM documents WHERE doc_id < 4000
              )
              WHERE len(list_distinct(list_transform(
                       range(0, greatest(len(toks) - 3, 0) + 1),
                       i -> array_to_string(toks[i+1:i+3], ' ')))) > 0
            )
            SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_intersect(a.s, b.s))::DOUBLE
                     / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            ) WHERE jaccard >= 0.3
        """,
        # The flagship screen is deterministic end to end (seeded RNG,
        # fixed partition-ensemble layout, verified identical at local[8]
        # and local[32]), so the oracle recomputes the featurization in SQL
        # and projects the EXACT feature set the tournament selects at
        # sf0.01 / seed 42: {lag2_text_len, text_len, time_since_prev,
        # lag1_text_len}. A regression in featurization values fails the
        # value-hash; a regression in the selection outcome fails the
        # schema compare.
        "screen_pipeline": f"""
            WITH t AS ({_TRANSCRIPTS_SQL}),
            f AS (
              SELECT conv_id, turn_idx,
                     ('0x' || substr(md5(conv_id || ':' || turn_idx::VARCHAR),
                                     1, 15))::BIGINT AS sample_id,
                     length(text)::DOUBLE AS text_len,
                     coalesce((floor(epoch(ts))::BIGINT
                               - floor(epoch(lag(ts) OVER w))::BIGINT)::DOUBLE,
                              0) AS time_since_prev,
                     coalesce(lag(length(text), 1) OVER w, 0)::DOUBLE
                         AS lag1_text_len,
                     coalesce(lag(length(text), 2) OVER w, 0)::DOUBLE
                         AS lag2_text_len,
                     coalesce(lead(CASE WHEN tool IS NOT NULL
                                        THEN 1.0 ELSE 0.0 END) OVER w,
                              0.0) AS lab
              FROM t
              WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
            )
            SELECT sample_id,
                   CASE WHEN lab > 0 THEN 'tool' ELSE 'no_tool' END AS label,
                   round(lag2_text_len, 4) AS lag2_text_len,
                   round(text_len, 4) AS text_len,
                   round(time_since_prev, 4) AS time_since_prev,
                   round(lag1_text_len, 4) AS lag1_text_len
            FROM f
        """,
        # Exact all-pairs word-3-gram Jaccard over the same slice: verifies
        # that LSH banding drops NO true >= 0.8 pair and the exact-verify
        # step admits no sub-threshold pair.
        "minhash_pairs": r"""
            WITH sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(0, greatest(len(toks) - 3, 0) + 1),
                       i -> array_to_string(toks[i+1:i+3], ' '))) AS s
              FROM (
                SELECT doc_id,
                       string_split_regex(
                         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                         ' ') AS toks
                FROM documents WHERE doc_id < 300
              )
              WHERE len(list_distinct(list_transform(
                       range(0, greatest(len(toks) - 3, 0) + 1),
                       i -> array_to_string(toks[i+1:i+3], ' ')))) > 0
            )
            SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     len(list_intersect(a.s, b.s))::DOUBLE
                     / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            ) WHERE jaccard >= 0.8
        """,
        "simhash_dedup": _simhash_oracle(num_bits=32, pred="doc_id < 4000"),
        # transitive clustering of the exact-Jaccard pair graph: min
        # reachable id per node via a recursive CTE (UNION dedups, so the
        # fixpoint terminates)
        "dedup_cc": _CC_ORACLE_PREFIX + """
            SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
        """,
        # same components + singleton fill, rolled to the size histogram
        "dedup_cluster_sizes": _CC_ORACLE_PREFIX + """
            , comp AS (
              SELECT id, min(r) AS component FROM reach GROUP BY id
            ),
            lab AS (
              SELECT d.doc_id,
                     coalesce(c.component, d.doc_id) AS component
              FROM (SELECT doc_id FROM documents WHERE doc_id < 4000) d
              LEFT JOIN comp c ON d.doc_id = c.id
            ),
            sizes AS (
              SELECT component, count(*) AS size FROM lab GROUP BY component
            )
            SELECT size::BIGINT AS size,
                   count(*)::BIGINT AS n_clusters,
                   sum(size)::BIGINT AS n_docs
            FROM sizes GROUP BY size
        """,
        # cluster-representative selection: same component labels as
        # dedup_cc, then keep the longest doc per cluster (min-id
        # tiebreak); docs outside the pair graph are their own cluster
        "keep_best": _CC_ORACLE_PREFIX + """
            , comp AS (
              SELECT id, min(r) AS component FROM reach GROUP BY id
            ),
            lab AS (
              SELECT d.doc_id,
                     coalesce(c.component, d.doc_id) AS component,
                     d.n_chars
              FROM (SELECT doc_id, n_chars FROM documents
                    WHERE doc_id < 4000) d
              LEFT JOIN comp c ON c.id = d.doc_id
            )
            SELECT doc_id, component, n_docs, n_chars FROM (
              SELECT doc_id, component, n_chars,
                     row_number() OVER (PARTITION BY component
                                        ORDER BY n_chars DESC, doc_id)
                         AS rk,
                     count(*) OVER (PARTITION BY component) AS n_docs
              FROM lab
            ) WHERE rk = 1
        """,
        # the composed corpus-prep pipeline: exact dedup → near-dup CC
        # keep-best → quality filter → decontamination, each stage the
        # same closed form its standalone oracle uses, chained over the
        # exact-dedup survivors
        "corpus_prep": r"""
            WITH RECURSIVE surv AS (
              SELECT d.doc_id, d.text, d.n_chars FROM documents d
              JOIN (
                SELECT min(doc_id) AS doc_id FROM documents
                WHERE doc_id < 4000
                GROUP BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
              ) k USING (doc_id)
            ),
            sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(0, greatest(len(toks) - 3, 0) + 1),
                       i -> array_to_string(toks[i+1:i+3], ' '))) AS s
              FROM (
                SELECT doc_id,
                       string_split_regex(
                         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                         ' ') AS toks
                FROM surv
              )
              WHERE len(list_distinct(list_transform(
                       range(0, greatest(len(toks) - 3, 0) + 1),
                       i -> array_to_string(toks[i+1:i+3], ' ')))) > 0
            ),
            prs AS (
              SELECT id_a, id_b FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       len(list_intersect(a.s, b.s))::DOUBLE
                       / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              ) WHERE jaccard >= 0.3
            ),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM prs
              UNION SELECT id_b, id_a FROM prs
            ),
            nodes AS (SELECT DISTINCT src AS id FROM edges),
            reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
            ),
            comp AS (
              SELECT id, min(r) AS component FROM reach GROUP BY id
            ),
            lab AS (
              SELECT s.doc_id, coalesce(c.component, s.doc_id) AS component,
                     s.n_chars
              FROM surv s LEFT JOIN comp c ON c.id = s.doc_id
            ),
            best AS (
              SELECT doc_id, component, n_docs, n_chars FROM (
                SELECT doc_id, component, n_chars,
                       row_number() OVER (PARTITION BY component
                                          ORDER BY n_chars DESC, doc_id)
                           AS rk,
                       count(*) OVER (PARTITION BY component) AS n_docs
                FROM lab
              ) WHERE rk = 1
            ),
            csh AS (
              SELECT doc_id,
                     list_filter(list_distinct(list_transform(
                       range(0, greatest(len(toks) - 5, 0) + 1),
                       i -> array_to_string(toks[i+1:i+5], ' '))),
                       g -> len(g) > 0) AS s
              FROM (
                SELECT doc_id,
                       string_split_regex(
                         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                         ' ') AS toks
                FROM surv
              )
            ),
            bs AS (
              SELECT list_filter(list_distinct(list_transform(
                       range(0, greatest(len(toks) - 5, 0) + 1),
                       i -> array_to_string(toks[i+1:i+5], ' '))),
                       g -> len(g) > 0) AS s
              FROM (
                SELECT string_split_regex(
                         lower(trim(regexp_replace(
                           substr(text, 11, 200), '\s+', ' ', 'g'))),
                         ' ') AS toks
                FROM documents WHERE doc_id % 50 = 7
              )
            ),
            contam AS (
              SELECT DISTINCT c.doc_id FROM csh c
              JOIN bs b ON len(list_intersect(c.s, b.s)) >= 2
            ),
            q AS (
              SELECT doc_id,
                     length(text)::DOUBLE AS n_chars,
                     (CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\s+'))
                      END)::DOUBLE AS n_tokens,
                     (length(text)
                      - length(regexp_replace(text, '[^\w\s]', '', 'g')))::DOUBLE
                         AS n_punct,
                     (length(text)
                      - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE
                         AS n_upper,
                     len(list_filter(
                           regexp_split_to_array(lower(trim(text)), '\s+'),
                           w -> list_contains(
                                  ['the','a','an','and','or','of','to','in',
                                   'is','it','for','on','with','as','at','by',
                                   'that','this'], w)))::DOUBLE AS n_stop
              FROM surv
            ),
            qual AS (
              SELECT doc_id,
                     round(1.0 / (1.0 + exp(-(-1.0
                       + 6.0 * (n_stop / (CASE WHEN n_tokens > 0
                                               THEN n_tokens ELSE 1.0 END))
                       - 8.0 * (n_punct / (CASE WHEN n_chars > 0
                                                THEN n_chars ELSE 1.0 END))
                       - 4.0 * (n_upper / (CASE WHEN n_chars > 0
                                                THEN n_chars ELSE 1.0 END))
                       - 0.15 * (n_chars / (CASE WHEN n_tokens > 0
                                                 THEN n_tokens ELSE 1.0 END))
                       + 0.25 * ln(1.0 + n_tokens)))), 4) AS q_score
              FROM q
            )
            SELECT b.doc_id, b.component, b.n_docs, b.n_chars, u.q_score
            FROM best b JOIN qual u USING (doc_id)
            WHERE u.q_score >= 0.35
              AND b.doc_id NOT IN (SELECT doc_id FROM contam)
        """,
        "chat_render": f"""
            WITH t AS ({_TRANSCRIPTS_SQL}),
            r AS (
              SELECT conv_id,
                     string_agg('<|' || role || '|>' || coalesce(text, ''),
                                chr(10) ORDER BY turn_idx) AS rendered,
                     count(*)::INT AS n_turns
              FROM t GROUP BY conv_id
            )
            SELECT conv_id, rendered, n_turns,
                   (CASE WHEN length(trim(rendered)) = 0 THEN 0
                         ELSE len(regexp_split_to_array(trim(rendered),
                                                        '\\s+'))
                    END)::INT AS n_tokens
            FROM r
        """,
        "doc_chunks": """
            WITH d AS (SELECT doc_id, text, length(text) AS n
                       FROM documents),
            k AS (
              SELECT doc_id, text,
                     CASE WHEN n <= 256 THEN 0
                          ELSE CAST(ceil((n - 256)::DOUBLE / 224) AS INT)
                     END AS kmax
              FROM d
            ),
            e AS (SELECT doc_id, text,
                         unnest(range(0, kmax + 1)) AS ci FROM k),
            c AS (
              SELECT doc_id, ci::INT AS chunk_idx,
                     substr(text, ci::INT * 224 + 1, 256) AS chunk_text
              FROM e
            )
            SELECT doc_id, count(*)::BIGINT AS n_chunks,
                   sum(length(chunk_text))::BIGINT AS sum_chunk_chars,
                   md5(string_agg(chunk_text, '' ORDER BY chunk_idx))
                       AS chunks_md5
            FROM c GROUP BY doc_id
        """,
        "token_histogram": """
            WITH q AS (
              SELECT (CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(text),
                                                          '\\s+'))
                      END)::BIGINT AS t
              FROM documents
            ),
            b AS (SELECT least(t // 64, 31)::INT AS bucket, t FROM q)
            SELECT bucket, bucket::BIGINT * 64 AS lo_tokens,
                   count(*)::BIGINT AS n_docs, sum(t)::BIGINT AS sum_tokens
            FROM b GROUP BY bucket
        """,
        "length_quantiles": r"""
            WITH q AS (
              SELECT lang,
                     (CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(text),
                                                          '\s+'))
                      END)::DOUBLE AS t
              FROM documents
            )
            SELECT lang,
                   round(quantile_cont(t, 0.5), 6) AS p50,
                   round(quantile_cont(t, 0.9), 6) AS p90,
                   round(quantile_cont(t, 0.99), 6) AS p99,
                   count(*)::BIGINT AS n_docs
            FROM q GROUP BY lang
        """,
        # char-trigram LM: global occurrence counts (train) + per-doc
        # add-one-smoothed average log prob (score) — both passes
        # recomputed exactly
        "lm_score": r"""
            WITH norm AS (
              SELECT doc_id,
                     lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS s
              FROM documents
            ),
            tri AS (
              SELECT doc_id, substr(s, i, 3) AS g
              FROM norm, unnest(range(1, length(s) - 1)) AS u(i)
              WHERE length(s) >= 3
            ),
            model AS (SELECT g, count(*)::DOUBLE AS c FROM tri GROUP BY g),
            tot AS (SELECT sum(c) AS n, count(*) AS v FROM model)
            SELECT t.doc_id,
                   count(*)::BIGINT AS n_ngrams,
                   round(avg(ln((m.c + 1.0) / (tot.n + tot.v))), 6)
                       AS avg_logp
            FROM tri t JOIN model m USING (g), tot
            GROUP BY t.doc_id
        """,
        # incremental dedup: exact cross-Jaccard between the new shard
        # (docs >= 300 plus id+10000 copies of docs < 20) and the index
        # (docs < 300) — same shingle definition as minhash_pairs
        "minhash_incremental": r"""
            WITH raw_new AS (
              SELECT doc_id, text FROM documents WHERE doc_id >= 300
              UNION ALL
              SELECT doc_id + 10000 AS doc_id, text FROM documents
              WHERE doc_id < 20
            ),
            sh_ix AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(0, greatest(len(toks) - 3, 0) + 1),
                       i -> array_to_string(toks[i+1:i+3], ' '))) AS s
              FROM (
                SELECT doc_id,
                       string_split_regex(
                         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                         ' ') AS toks
                FROM documents WHERE doc_id < 300
              )
              WHERE len(list_distinct(list_transform(
                       range(0, greatest(len(toks) - 3, 0) + 1),
                       i -> array_to_string(toks[i+1:i+3], ' ')))) > 0
            ),
            sh_new AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(0, greatest(len(toks) - 3, 0) + 1),
                       i -> array_to_string(toks[i+1:i+3], ' '))) AS s
              FROM (
                SELECT doc_id,
                       string_split_regex(
                         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                         ' ') AS toks
                FROM raw_new
              )
              WHERE len(list_distinct(list_transform(
                       range(0, greatest(len(toks) - 3, 0) + 1),
                       i -> array_to_string(toks[i+1:i+3], ' ')))) > 0
            )
            SELECT new_id, index_id, round(jaccard, 4) AS jaccard FROM (
              SELECT n.doc_id AS new_id, x.doc_id AS index_id,
                     len(list_intersect(n.s, x.s))::DOUBLE
                     / len(list_distinct(list_concat(n.s, x.s))) AS jaccard
              FROM sh_new n JOIN sh_ix x ON true
            ) WHERE jaccard >= 0.8
        """,
        "simhash_neardup": _simhash_with(
            32,
            """SELECT doc_id, text FROM documents WHERE doc_id < 100
               UNION ALL
               SELECT doc_id + 10000, text || ' zzqx plugh'
               FROM documents WHERE doc_id < 100""",
        )
        + """
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.sim, b.sim))::BIGINT AS hamming
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sim, b.sim)) <= 8
        """,
        "lsh_topk": """
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e
                         FROM embeddings),
            b4 AS (SELECT vec_id, e FROM emb WHERE vec_id < 4),
            u AS (
              SELECT vec_id, e FROM emb
              UNION ALL SELECT vec_id + 1000,
                               list_transform(e, x -> x + 0.003) FROM b4
              UNION ALL SELECT vec_id + 2000,
                               list_transform(e, x -> x + 0.006) FROM b4
              UNION ALL SELECT vec_id + 3000,
                               list_transform(e, x -> x + 0.009) FROM b4
              UNION ALL SELECT vec_id + 4000,
                               list_transform(e, x -> x + 0.012) FROM b4
            )
            SELECT query_id, vec_id, similarity, rank FROM (
              SELECT q.vec_id AS query_id, c.vec_id,
                     round(list_cosine_similarity(c.e, q.e), 4) AS similarity,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(c.e, q.e) DESC,
                                c.vec_id ASC) AS rank
              FROM u c, b4 q
            ) WHERE rank <= 5
        """,
        "ivf_topk": """
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e
                         FROM embeddings),
            b4 AS (SELECT vec_id, e FROM emb WHERE vec_id < 4),
            u AS (
              SELECT vec_id, e FROM emb
              UNION ALL SELECT vec_id + 1000,
                               list_transform(e, x -> x + 0.003) FROM b4
              UNION ALL SELECT vec_id + 2000,
                               list_transform(e, x -> x + 0.006) FROM b4
              UNION ALL SELECT vec_id + 3000,
                               list_transform(e, x -> x + 0.009) FROM b4
              UNION ALL SELECT vec_id + 4000,
                               list_transform(e, x -> x + 0.012) FROM b4
            )
            SELECT query_id, vec_id, similarity, rank FROM (
              SELECT q.vec_id AS query_id, c.vec_id,
                     round(list_cosine_similarity(c.e, q.e), 4) AS similarity,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(c.e, q.e) DESC,
                                c.vec_id ASC) AS rank
              FROM u c, b4 q
            ) WHERE rank <= 5
        """,
        "trailing_time": f"""
            WITH t AS ({_TRANSCRIPTS_SQL})
            SELECT conv_id, turn_idx,
                   (count(*) OVER win10)::BIGINT AS turns_last_10m,
                   (sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END)
                        OVER win10)::BIGINT AS tool_calls_last_10m,
                   coalesce(sum(length(text)) OVER win10, 0)::BIGINT
                       AS chars_last_10m,
                   (count(*) OVER win10s)::BIGINT AS turns_before_10m
            FROM t
            WINDOW win10 AS (PARTITION BY conv_id ORDER BY epoch_us(ts)
                             RANGE BETWEEN 600000000 PRECEDING
                                       AND CURRENT ROW),
                   win10s AS (PARTITION BY conv_id ORDER BY epoch_us(ts)
                              RANGE BETWEEN 600000000 PRECEDING
                                        AND 1 PRECEDING)
        """,
        "tfidf_top_terms": """
            WITH terms AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+')) AS term
              FROM documents
            ),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM terms
              WHERE length(term) >= 1 GROUP BY doc_id, term
            ),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
            SELECT doc_id, term, tf::BIGINT AS tf, df::BIGINT AS df,
                   tfidf, rank FROM (
              SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                     round(tf.tf * ln(n.n::DOUBLE / dfreq.df::DOUBLE), 4)
                         AS tfidf,
                     row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf.tf * ln(n.n::DOUBLE / dfreq.df::DOUBLE)
                                DESC, tf.term ASC) AS rank
              FROM tf JOIN dfreq USING (term), n
            ) WHERE rank <= 3
        """,
        "winnow_fingerprints": """
            WITH d AS (
              SELECT doc_id,
                     lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
              FROM documents WHERE doc_id < 200
            ),
            g AS (
              SELECT doc_id,
                     CASE WHEN length(t) >= 5 THEN
                       list_transform(generate_series(1, length(t) - 4),
                         i -> substr(md5(substr(t, i, 5)), 1, 15))
                     ELSE []::VARCHAR[] END AS grams
              FROM d
            ),
            f AS (
              SELECT doc_id,
                     CASE WHEN len(grams) >= 1 THEN
                       list_distinct(list_transform(
                         generate_series(1, greatest(len(grams) - 3, 1)),
                         j -> list_min(list_slice(grams, j, j + 3))))
                     ELSE []::VARCHAR[] END AS fps
              FROM g
            )
            SELECT doc_id, unnest(fps) AS fp FROM f
        """,
        "winnow_pairs": """
            WITH d AS (
              SELECT doc_id,
                     lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
              FROM documents WHERE doc_id < 120
            ),
            g AS (
              SELECT doc_id,
                     CASE WHEN length(t) >= 5 THEN
                       list_transform(generate_series(1, length(t) - 4),
                         i -> substr(md5(substr(t, i, 5)), 1, 15))
                     ELSE []::VARCHAR[] END AS grams
              FROM d
            ),
            f AS (
              SELECT doc_id,
                     CASE WHEN len(grams) >= 1 THEN
                       list_distinct(list_transform(
                         generate_series(1, greatest(len(grams) - 3, 1)),
                         j -> list_min(list_slice(grams, j, j + 3))))
                     ELSE []::VARCHAR[] END AS fps
              FROM g
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.fps, b.fps))::BIGINT AS n_shared
            FROM f a JOIN f b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.fps, b.fps)) >= 5
        """,
        "hash_split": """
            SELECT doc_id,
                   CASE WHEN u < 0.75::DOUBLE THEN 'train'
                        WHEN u < 0.875::DOUBLE THEN 'val'
                        ELSE 'test' END AS split
            FROM (
              SELECT doc_id,
                     ('0x' || substr(md5('42:' || doc_id::VARCHAR), 1, 15))
                         ::BIGINT / 1152921504606846976.0 AS u
              FROM documents
            )
        """,
        # Spark computes these map-side with sorted-array higher-order
        # functions; the oracle recomputes with unnest + GROUP BY — a
        # structurally different algorithm reaching the same numbers.
        "repetition_stats": r"""
            WITH aug AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0 THEN base || chr(10) || base
                          ELSE base END AS text
              FROM (
                SELECT doc_id,
                       regexp_replace(text, '\. ', chr(10), 'g') AS base
                FROM documents
              )
            ),
            lines AS (
              SELECT doc_id, trim(l) AS line
              FROM aug, unnest(string_split(text, chr(10))) AS t(l)
              WHERE length(trim(l)) > 0
            ),
            lc AS (
              SELECT doc_id, line, count(*) AS cnt, length(line) AS len
              FROM lines GROUP BY doc_id, line
            ),
            lstats AS (
              SELECT doc_id,
                     sum(cnt) AS n_lines,
                     sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::DOUBLE
                       / sum(cnt) AS dlf,
                     sum(CASE WHEN cnt > 1 THEN cnt * len ELSE 0 END)::DOUBLE
                       / sum(cnt * len) AS dlcf
              FROM lc GROUP BY doc_id
            ),
            toks AS (
              SELECT doc_id,
                     string_split(
                       lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                       ' ') AS tk
              FROM aug
            ),
            bc AS (
              SELECT doc_id, b, count(*) AS cnt FROM (
                SELECT doc_id, tk[i] || ' ' || tk[i+1] AS b
                FROM toks, unnest(range(1, len(tk))) AS r(i)
              ) GROUP BY doc_id, b
            ),
            bstats AS (
              SELECT doc_id, sum(cnt) AS n_bigrams,
                     max(cnt)::DOUBLE / sum(cnt) AS tbf
              FROM bc GROUP BY doc_id
            )
            SELECT a.doc_id,
                   coalesce(n_lines, 0)::BIGINT AS n_lines,
                   round(coalesce(dlf, 0), 6) AS dup_line_frac,
                   round(coalesce(dlcf, 0), 6) AS dup_line_char_frac,
                   coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
                   round(coalesce(tbf, 0), 6) AS top_bigram_frac
            FROM aug a
            LEFT JOIN lstats USING (doc_id)
            LEFT JOIN bstats USING (doc_id)
        """,
        # brute-force pairwise 5-gram-set intersection vs Spark's
        # broadcast inverted-index join
        "contamination": r"""
            WITH sh AS (
              SELECT doc_id,
                     list_filter(list_distinct(list_transform(
                       range(0, greatest(len(toks) - 5, 0) + 1),
                       i -> array_to_string(toks[i+1:i+5], ' '))),
                       g -> len(g) > 0) AS s
              FROM (
                SELECT doc_id,
                       string_split_regex(
                         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                         ' ') AS toks
                FROM documents
              )
            ),
            bs AS (
              SELECT bench_id,
                     list_filter(list_distinct(list_transform(
                       range(0, greatest(len(toks) - 5, 0) + 1),
                       i -> array_to_string(toks[i+1:i+5], ' '))),
                       g -> len(g) > 0) AS s
              FROM (
                SELECT doc_id AS bench_id,
                       string_split_regex(
                         lower(trim(regexp_replace(
                           substr(text, 11, 200), '\s+', ' ', 'g'))),
                         ' ') AS toks
                FROM documents WHERE doc_id % 50 = 7
              )
            )
            SELECT c.doc_id, b.bench_id,
                   len(list_intersect(c.s, b.s))::BIGINT AS n_shared
            FROM sh c JOIN bs b ON len(list_intersect(c.s, b.s)) >= 2
        """,
        # identical Java∩RE2 regexes re-run in DuckDB; redacted text
        # compared byte-for-byte
        "pii_redaction": r"""
            WITH injected AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0
                          THEN text || ' contact user' || doc_id::VARCHAR
                               || '@example.com or 555-867-5309 at 10.0.0.'
                               || (doc_id % 256)::VARCHAR
                          ELSE text END AS text
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'
                   ))::BIGINT AS n_email,
                   len(regexp_extract_all(text,
                     '\b(?:\d{1,3}\.){3}\d{1,3}\b'))::BIGINT AS n_ipv4,
                   len(regexp_extract_all(text,
                     '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b'))::BIGINT AS n_phone,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(text,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                         '<EMAIL>', 'g'),
                       '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
                     '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'
                   ) AS redacted
            FROM injected
        """,
        # running-sum prefix cut; cumsum is monotone so cum <= budget IS
        # the longest in-budget prefix of each conversation
        "conv_truncate": rf"""
            WITH t AS ({_TRANSCRIPTS_SQL}),
            c AS (
              SELECT conv_id, turn_idx,
                     SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                              ELSE len(regexp_split_to_array(trim(text),
                                                             '\s+'))
                         END) OVER (PARTITION BY conv_id
                                    ORDER BY ts, turn_idx
                                    ROWS UNBOUNDED PRECEDING) AS cum_tokens
              FROM t
            )
            SELECT conv_id, turn_idx, cum_tokens
            FROM c WHERE cum_tokens <= 200
        """,
        "conv_validity": f"""
            WITH t AS ({_TRANSCRIPTS_SQL}),
            l AS (
              SELECT conv_id, role,
                     (length(trim(text)) = 0)::INT AS e,
                     (lag(role) OVER (PARTITION BY conv_id
                                      ORDER BY ts, turn_idx) = role)::INT AS r,
                     (row_number() OVER (PARTITION BY conv_id
                                         ORDER BY ts, turn_idx) = 1)::INT AS f
              FROM t
            )
            SELECT conv_id,
                   COUNT(*)::BIGINT AS n_turns,
                   (MAX(CASE WHEN f = 1 THEN role END) = 'user')
                       AS starts_with_opener,
                   SUM(e)::BIGINT AS n_empty_turns,
                   COALESCE(SUM(r), 0)::BIGINT AS n_role_repeats,
                   round(CASE WHEN COUNT(*) > 1
                              THEN 1.0 - COALESCE(SUM(r), 0)::DOUBLE
                                         / (COUNT(*) - 1) END, 4)
                       AS alternation_rate,
                   ((MAX(CASE WHEN f = 1 THEN role END) = 'user')
                    AND SUM(e) = 0
                    AND (COUNT(*) = 1
                         OR 1.0 - COALESCE(SUM(r), 0)::DOUBLE
                                  / (COUNT(*) - 1) >= 0.7)) AS is_valid
            FROM l GROUP BY conv_id
        """,
        # identical closed-form logistic over the UNROUNDED quality
        # features (rounding only the final score, like the Spark side)
        "quality_score": r"""
            WITH q AS (
              SELECT doc_id,
                     length(text)::DOUBLE AS n_chars,
                     (CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\s+'))
                      END)::DOUBLE AS n_tokens,
                     (length(text)
                      - length(regexp_replace(text, '[^\w\s]', '', 'g')))::DOUBLE
                         AS n_punct,
                     (length(text)
                      - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE
                         AS n_upper,
                     len(list_filter(
                           regexp_split_to_array(lower(trim(text)), '\s+'),
                           w -> list_contains(
                                  ['the','a','an','and','or','of','to','in',
                                   'is','it','for','on','with','as','at','by',
                                   'that','this'], w)))::DOUBLE AS n_stop
              FROM documents
            ),
            f AS (
              SELECT doc_id,
                     n_chars / (CASE WHEN n_tokens > 0 THEN n_tokens
                                     ELSE 1.0 END) AS mwl,
                     n_punct / (CASE WHEN n_chars > 0 THEN n_chars
                                     ELSE 1.0 END) AS pr,
                     n_upper / (CASE WHEN n_chars > 0 THEN n_chars
                                     ELSE 1.0 END) AS ur,
                     n_stop / (CASE WHEN n_tokens > 0 THEN n_tokens
                                    ELSE 1.0 END) AS sr,
                     ln(1.0 + n_tokens) AS lt
              FROM q
            )
            SELECT doc_id,
                   round(1.0 / (1.0 + exp(-(-1.0 + 6.0 * sr - 8.0 * pr
                                            - 4.0 * ur - 0.15 * mwl
                                            + 0.25 * lt))), 4) AS q_score
            FROM f
        """,
        # scoring half of the quality classifier against the FROZEN
        # 6dp model (fit stays rows-only — iterative LBFGS). The margin
        # replays Spark's left-to-right literal dot product exactly:
        # intercept + c0*n_chars + c1*n_tokens + c2*mwl + c3*sr + c4*pr
        # + c5*ur, order = QUALITY_FEATURE_ORDER.
        "quality_classifier_score": r"""
            WITH q AS (
              SELECT doc_id,
                     length(text)::DOUBLE AS n_chars,
                     (CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\s+'))
                      END)::DOUBLE AS n_tokens,
                     (length(text)
                      - length(regexp_replace(text, '[^\w\s]', '', 'g')))::DOUBLE
                         AS n_punct,
                     (length(text)
                      - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE
                         AS n_upper,
                     len(list_filter(
                           regexp_split_to_array(lower(trim(text)), '\s+'),
                           w -> list_contains(
                                  ['the','a','an','and','or','of','to','in',
                                   'is','it','for','on','with','as','at','by',
                                   'that','this'], w)))::DOUBLE AS n_stop
              FROM documents
            ),
            f AS (
              SELECT doc_id, n_chars, n_tokens,
                     n_chars / (CASE WHEN n_tokens > 0 THEN n_tokens
                                     ELSE 1.0 END) AS mwl,
                     n_punct / (CASE WHEN n_chars > 0 THEN n_chars
                                     ELSE 1.0 END) AS pr,
                     n_upper / (CASE WHEN n_chars > 0 THEN n_chars
                                     ELSE 1.0 END) AS ur,
                     n_stop / (CASE WHEN n_tokens > 0 THEN n_tokens
                                    ELSE 1.0 END) AS sr
              FROM q
            )
            SELECT doc_id,
                   round(1.0 / (1.0 + exp(-(
                       -3.593395 + 0.000815 * n_chars
                       + -0.000067 * n_tokens + 0.411035 * mwl
                       + -0.071476 * sr + 0.0 * pr + 0.0 * ur))), 4)
                       AS quality_score
            FROM f
        """,
        "json_facets": """
            WITH p AS (
              SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events
            )
            SELECT event_type,
                   COUNT(*)::BIGINT AS n,
                   round(avg(k), 4) AS avg_k,
                   min(k) AS min_k,
                   max(k) AS max_k,
                   SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END)::BIGINT
                       AS n_null_k
            FROM p GROUP BY event_type
        """,
        # plain non-equi BETWEEN join — DuckDB can afford the naive plan
        # at sf0.01; Spark runs the bucketed equi-join formulation
        "range_join": """
            WITH iv AS (
              SELECT user_id, event_id AS interval_id, ts AS start_ts,
                     ts + INTERVAL 10 MINUTE AS end_ts
              FROM events WHERE event_type = 'error'
            )
            SELECT iv.interval_id, COUNT(*)::BIGINT AS n_in_window,
                   round(SUM(e.value), 4) AS sum_value
            FROM iv JOIN events e
              ON e.user_id = iv.user_id
             AND e.ts >= iv.start_ts AND e.ts <= iv.end_ts
            GROUP BY iv.interval_id
        """,
        # identical portable md5 hashes → identical k smallest → identical
        # (k-1)/u_k estimate; n_rows from a plain group count
        "kmv_distinct": """
            WITH h AS (
              SELECT DISTINCT event_type,
                     ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
                         / 1152921504606846976.0 AS u
              FROM events
            ),
            rk AS (
              SELECT event_type, u,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY u) AS rn
              FROM h
            ),
            est AS (
              SELECT event_type, COUNT(*)::BIGINT AS kmv_k,
                     MAX(u) AS kmv_max_hash
              FROM rk WHERE rn <= 64 GROUP BY event_type
            ),
            sz AS (
              SELECT event_type, COUNT(*)::BIGINT AS n_rows
              FROM events GROUP BY event_type
            )
            SELECT s.event_type, s.n_rows, e.kmv_k,
                   round(CASE WHEN e.kmv_k < 64 THEN e.kmv_k::DOUBLE
                              ELSE 63.0 / e.kmv_max_hash END, 4)
                       AS kmv_estimate,
                   round(e.kmv_max_hash, 8) AS kmv_max_hash
            FROM sz s JOIN est e USING (event_type)
        """,
        # replays q_kmv_overlap exactly: same normalization + word
        # 3-shingles as the ngram_jaccard oracles, same portable 60-bit
        # md5 unit hash as kmv_distinct, same bottom-k estimator
        "kmv_overlap": r"""
            WITH toks AS (
              SELECT source AS g,
                     string_split_regex(
                       lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                       ' ') AS toks
              FROM documents
            ),
            sh AS (
              SELECT DISTINCT g,
                     unnest(list_transform(
                       range(0, greatest(len(toks) - 3, 0) + 1),
                       i -> array_to_string(toks[i+1:i+3], ' '))) AS s
              FROM toks
            ),
            h AS (
              SELECT DISTINCT g,
                     ('0x' || substr(md5(s), 1, 15))::BIGINT
                         / 1152921504606846976.0 AS u
              FROM sh
            ),
            mk AS (
              SELECT g, u FROM (
                SELECT g, u,
                       row_number() OVER (PARTITION BY g ORDER BY u) AS rn
                FROM h
              ) WHERE rn <= 128
            ),
            pr AS (
              SELECT a.g AS ga, b.g AS gb
              FROM (SELECT DISTINCT g FROM mk) a
              JOIN (SELECT DISTINCT g FROM mk) b ON a.g < b.g
            ),
            un AS (
              SELECT DISTINCT p.ga, p.gb, m.u
              FROM pr p JOIN mk m ON m.g IN (p.ga, p.gb)
            ),
            uk AS (
              SELECT ga, gb, u FROM (
                SELECT ga, gb, u,
                       row_number() OVER (PARTITION BY ga, gb
                                          ORDER BY u) AS rn
                FROM un
              ) WHERE rn <= 128
            )
            SELECT uk.ga AS source_a, uk.gb AS source_b,
                   COUNT(*)::BIGINT AS k_union,
                   SUM(CASE WHEN ma.u IS NOT NULL AND mb.u IS NOT NULL
                       THEN 1 ELSE 0 END)::BIGINT AS k_inter,
                   round(SUM(CASE WHEN ma.u IS NOT NULL AND mb.u IS NOT
                       NULL THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
                       AS jaccard_est
            FROM uk
            LEFT JOIN mk ma ON ma.g = uk.ga AND ma.u = uk.u
            LEFT JOIN mk mb ON mb.g = uk.gb AND mb.u = uk.u
            GROUP BY 1, 2
        """,
        "pivot_counts": """
            SELECT hour(ts)::INT AS hour,
                   SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                       END)::BIGINT AS n_click,
                   SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                       END)::BIGINT AS n_error,
                   SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                       END)::BIGINT AS n_purchase,
                   SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0
                       END)::BIGINT AS n_signup,
                   SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                       END)::BIGINT AS n_view
            FROM events GROUP BY 1
        """,
        "weighted_reservoir": """
            SELECT doc_id, round(pow(u, 1.0 / w), 8) AS score
            FROM (
              SELECT doc_id,
                     ('0x' || substr(md5('42:' || doc_id::VARCHAR), 1, 15))
                         ::BIGINT / 1152921504606846976.0 AS u,
                     length(text)::DOUBLE AS w
              FROM documents
            )
            WHERE w > 0
            ORDER BY pow(u, 1.0 / w) DESC, doc_id ASC
            LIMIT 50
        """,
        "stratified_sample": """
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                     ('0x' || substr(md5('42:' || doc_id::VARCHAR), 1, 15))
                         ::BIGINT / 1152921504606846976.0 AS u
              FROM documents
            )
            WHERE u < CASE lang WHEN 'en' THEN 0.5::DOUBLE
                                WHEN 'de' THEN 1.0::DOUBLE
                                ELSE 0.0::DOUBLE END
        """,
        "per_key_cap": """
            SELECT event_id, user_id, rk FROM (
              SELECT event_id, user_id,
                     row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id ASC) AS rk
              FROM events
            ) WHERE rk <= 3
        """,
        "weighted_mix": """
            SELECT doc_id, 'even' AS source_name
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id, 'odd' AS source_name
            FROM documents
            WHERE doc_id % 2 = 1
              AND ('0x' || substr(md5('42:odd|' || doc_id::VARCHAR), 1, 15))
                      ::BIGINT / 1152921504606846976.0 < 0.5::DOUBLE
        """,
        # greedy packing: the sequential first-fit scan replayed as a
        # recursive CTE — state (acc, pack, pos) advances one row per
        # group per iteration in the same portable hash order as Spark
        "pack_greedy": """
            WITH RECURSIVE toks AS (
              SELECT doc_id,
                     (CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                      END)::BIGINT AS t,
                     ('0x' || substr(md5('42:' || doc_id::VARCHAR), 1, 15))
                         ::BIGINT AS hk
              FROM documents
            ), ordered AS (
              SELECT doc_id, t, hk, hk % 4 AS grp,
                     row_number() OVER (PARTITION BY hk % 4
                                        ORDER BY hk, doc_id) AS rn
              FROM toks
            ), state AS (
              SELECT grp, rn, doc_id, t AS acc, 0::BIGINT AS pack, 0 AS pos
              FROM ordered WHERE rn = 1
              UNION ALL
              SELECT o.grp, o.rn, o.doc_id,
                     CASE WHEN s.acc + o.t <= 500 THEN s.acc + o.t
                          ELSE o.t END,
                     CASE WHEN s.acc + o.t <= 500 THEN s.pack
                          ELSE s.pack + 1 END,
                     CASE WHEN s.acc + o.t <= 500 THEN s.pos + 1 ELSE 0 END
              FROM state s
              JOIN ordered o ON o.grp = s.grp AND o.rn = s.rn + 1
            )
            SELECT doc_id,
                   grp * 4294967296 + pack AS pack_id,
                   pos::INTEGER AS pack_pos,
                   acc AS pack_tokens
            FROM state
        """,
        # offset packing: window cumsum; pack = floor(start offset/budget)
        "pack_offset": """
            WITH toks AS (
              SELECT doc_id,
                     (CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                      END)::BIGINT AS t,
                     ('0x' || substr(md5('42:' || doc_id::VARCHAR), 1, 15))
                         ::BIGINT AS hk
              FROM documents
            ), staged AS (
              SELECT doc_id, t, hk, hk % 4 AS grp,
                     COALESCE(SUM(t) OVER (
                       PARTITION BY hk % 4 ORDER BY hk, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS prev
              FROM toks
            )
            SELECT doc_id,
                   grp * 4294967296 + prev // 500 AS pack_id,
                   (row_number() OVER (PARTITION BY grp, prev // 500
                                       ORDER BY hk, doc_id) - 1)::INTEGER
                       AS pack_pos,
                   SUM(t) OVER (PARTITION BY grp, prev // 500
                                ORDER BY hk, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS pack_tokens
            FROM staged
        """,
        "token_budget_mix": """
            WITH toks AS (
              SELECT doc_id, source,
                     (CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                      END)::BIGINT AS t
              FROM documents
            ), tot AS (
              SELECT source, sum(t) AS tot FROM toks GROUP BY source
            ), fr AS (
              SELECT doc_id, toks.source,
                     CASE toks.source
                       WHEN 'src1' THEN least(1.0, 800.0 / tot::DOUBLE)
                       WHEN 'src2' THEN least(1.0, 5000.0 / tot::DOUBLE)
                       WHEN 'src3' THEN least(1.0, 700.0 / tot::DOUBLE)
                       ELSE 0.0 END AS frac,
                     ('0x' || substr(md5('42:' || toks.source || '|' ||
                                         doc_id::VARCHAR), 1, 15))
                         ::BIGINT / 1152921504606846976.0 AS u
              FROM toks JOIN tot USING (source)
            )
            SELECT doc_id, source, round(frac, 6) AS keep_frac
            FROM fr WHERE u < frac
        """,
        "cosine_neardup": """
            WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e
                          FROM embeddings WHERE vec_id < 20),
            u AS (
              SELECT vec_id, e FROM base
              UNION ALL SELECT vec_id + 10000,
                               list_transform(e, x -> x * 1.5) FROM base
              UNION ALL SELECT vec_id + 20000,
                               list_transform(e, x -> x + 0.01) FROM base
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.e, b.e), 4) AS similarity
            FROM u a JOIN u b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.e, b.e) >= 0.9
        """,
        "media_features": """
            SELECT media_id,
                   round(('0x' || substr(h,  3, 2) || substr(h,  1, 2))::INT
                         / 65535.0, 6) AS f0,
                   round(('0x' || substr(h,  7, 2) || substr(h,  5, 2))::INT
                         / 65535.0, 6) AS f1,
                   round(('0x' || substr(h, 11, 2) || substr(h,  9, 2))::INT
                         / 65535.0, 6) AS f2,
                   round(('0x' || substr(h, 15, 2) || substr(h, 13, 2))::INT
                         / 65535.0, 6) AS f3
            FROM (
              SELECT range AS media_id,
                     sha256('media-' || range::VARCHAR) AS h
              FROM range(0, 64)
            )
        """,
        "media_frame_sample": """
            SELECT media_id, (f * 700)::BIGINT AS frame_ts_ms
            FROM (
              SELECT range AS media_id,
                     greatest(floor(((range % 7 + 1) * 1000) / 700.0)::INT, 1)
                         AS n_frames
              FROM range(0, 20)
            ), unnest(generate_series(0, n_frames - 1)) AS u(f)
        """,
        "mask_boilerplate": """
            WITH aug AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN
                            text || ' subscribe to our newsletter for updates'
                          WHEN doc_id % 7 = 0 THEN
                            'subscribe to our newsletter for updates ' || text
                          ELSE text END AS text
              FROM documents
            ),
            w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM aug),
            g AS (
              SELECT doc_id, ws,
                     unnest(CASE WHEN len(ws) >= 4 THEN range(0, len(ws) - 3)
                                 ELSE []::BIGINT[] END) AS pos
              FROM w
            ),
            g2 AS (SELECT doc_id, pos,
                          array_to_string(ws[pos+1:pos+4], ' ') AS gram
                   FROM g),
            b AS (SELECT gram FROM g2 GROUP BY gram
                  HAVING count(DISTINCT doc_id) >= 20),
            cov AS (SELECT doc_id, list(pos) AS starts
                    FROM g2 JOIN b USING (gram) GROUP BY doc_id),
            res AS (
              SELECT w.doc_id, ws, coalesce(cov.starts, []::BIGINT[]) AS st
              FROM w LEFT JOIN cov USING (doc_id)
            )
            SELECT doc_id,
                   array_to_string(
                     list_filter(
                       list_transform(range(1, len(ws) + 1),
                         i -> CASE WHEN len(list_filter(st,
                                       s -> i - 1 >= s AND i - 1 < s + 4)) > 0
                                   THEN NULL ELSE ws[i] END),
                       x -> x IS NOT NULL),
                     ' ') AS text_clean,
                   len(ws)::BIGINT AS n_words,
                   (len(ws) - len(list_filter(
                       list_transform(range(1, len(ws) + 1),
                         i -> CASE WHEN len(list_filter(st,
                                       s -> i - 1 >= s AND i - 1 < s + 4)) > 0
                                   THEN NULL ELSE ws[i] END),
                       x -> x IS NOT NULL)))::BIGINT AS n_words_removed
            FROM res
        """,
        "semantic_dedup": """
            WITH RECURSIVE base AS (
              SELECT vec_id, embedding::DOUBLE[] AS e
              FROM embeddings WHERE vec_id < 20
            ),
            u AS (
              SELECT vec_id, e FROM base
              UNION ALL SELECT vec_id + 10000,
                               list_transform(e, x -> x * 1.5) FROM base
              UNION ALL SELECT vec_id + 20000,
                               list_transform(e, x -> x + 0.01) FROM base
            ),
            prs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM u a JOIN u b ON a.vec_id < b.vec_id
              WHERE list_cosine_similarity(a.e, b.e) >= 0.9
            ),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM prs
              UNION SELECT id_b, id_a FROM prs
            ),
            nodes AS (SELECT DISTINCT src AS id FROM edges),
            reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
            ),
            comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
            sc AS (SELECT vec_id,
                          round(list_sum(list_transform(e, x -> x * x)), 2)
                              AS norm2
                   FROM u),
            lab AS (
              SELECT s.vec_id, coalesce(c.component, s.vec_id) AS component,
                     s.norm2
              FROM sc s LEFT JOIN comp c ON c.id = s.vec_id
            )
            SELECT vec_id, component, n_docs, norm2 FROM (
              SELECT vec_id, component, norm2,
                     row_number() OVER (PARTITION BY component
                                        ORDER BY norm2 DESC, vec_id) AS rk,
                     count(*) OVER (PARTITION BY component) AS n_docs
              FROM lab
            ) WHERE rk = 1
        """,
        # leakage-safe target encoding: strictly-earlier RANGE frame over
        # exact epoch micros (same-ts peers excluded), prior frozen from
        # the pre-cutoff period. The scalar subquery replays
        # pit_global_prior; the window replays pit_target_encode.
        "target_encode": """
            WITH p AS (
              SELECT avg(value) AS prior FROM events
              WHERE ts < TIMESTAMP '2024-01-08'
            )
            SELECT event_id, user_id,
                   round((coalesce(sum(value) OVER w, 0) + 20.0 * p.prior)
                         / ((count(value) OVER w) + 20.0), 4) AS te,
                   (count(value) OVER w)::BIGINT AS te_n
            FROM events, p
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING)
        """,
        # exponential time-decayed features, closed form: the identical
        # factorization 2^(-x_i) * cumsum(v_j * 2^(x_j)) with x in
        # half-life units relative to the conversation's first event
        "decayed_features": f"""
            WITH t AS ({_TRANSCRIPTS_SQL}),
            b AS (
              SELECT conv_id, turn_idx,
                     (epoch_us(ts) - min(epoch_us(ts))
                         OVER (PARTITION BY conv_id))
                       / 1000000.0 / 86400.0 AS x,
                     length(text)::DOUBLE AS chars,
                     ts
              FROM t
            )
            SELECT conv_id, turn_idx,
                   round(pow(2.0, -x)
                         * coalesce(sum(1.0 * pow(2.0, x)) OVER w, 0), 4)
                       AS dec_turns,
                   round(pow(2.0, -x)
                         * coalesce(sum(chars * pow(2.0, x)) OVER w, 0), 4)
                       AS dec_chars
            FROM b
            WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        """,
        # rolling-origin CV: fold k trains strictly before boundary k,
        # tests in [boundary_k, boundary_{k+1})
        "rolling_folds": f"""
            WITH t AS ({_TRANSCRIPTS_SQL}),
            f(fold, lo, hi) AS (VALUES
              (1, TIMESTAMP '2024-01-05', TIMESTAMP '2024-01-12'),
              (2, TIMESTAMP '2024-01-12', TIMESTAMP '2024-01-19'),
              (3, TIMESTAMP '2024-01-19', TIMESTAMP '2024-01-26'))
            SELECT f.fold,
                   CASE WHEN t.ts < f.lo THEN 'train'
                        WHEN t.ts < f.hi THEN 'test' END AS split,
                   t.conv_id, t.turn_idx
            FROM t CROSS JOIN f
            WHERE t.ts < f.hi
        """,
        # key-skew diagnostics: exact heavy hitters + skew factor; NULL
        # is a countable value, ties broken (cnt desc, value asc)
        "skew_profile": f"""
            WITH t AS ({_TRANSCRIPTS_SQL}),
            c AS (
              SELECT coalesce(tool, '<NULL>') AS value, count(*) AS cnt
              FROM t GROUP BY 1
            ),
            r AS (
              SELECT value, cnt,
                     row_number() OVER (ORDER BY cnt DESC, value) AS rank,
                     sum(cnt) OVER () AS total,
                     count(*) OVER () AS n_distinct
              FROM c
            ),
            r2 AS (
              SELECT *, max(CASE WHEN rank = 1 THEN cnt END) OVER () AS top1
              FROM r
            )
            SELECT 'tool' AS "column", value, cnt,
                   round(cnt / total, 6) AS share, rank, n_distinct,
                   round(top1 / (total / n_distinct), 4) AS skew
            FROM r2 WHERE rank <= 5
        """,
        # PSI drift: explicit-edge binning (sum of >= comparisons),
        # Laplace-smoothed shares, (cur-ref)*ln(cur/ref) per bin
        "psi_drift": """
            WITH b AS (
              SELECT (CASE WHEN value >= 10.0 THEN 1 ELSE 0 END
                    + CASE WHEN value >= 50.0 THEN 1 ELSE 0 END
                    + CASE WHEN value >= 100.0 THEN 1 ELSE 0 END
                    + CASE WHEN value >= 500.0 THEN 1 ELSE 0 END) AS bin,
                     (ts < TIMESTAMP '2024-01-16') AS r
              FROM events
            ),
            g AS (
              SELECT bin,
                     sum(CASE WHEN r THEN 1 ELSE 0 END) AS ref_cnt,
                     sum(CASE WHEN NOT r THEN 1 ELSE 0 END) AS cur_cnt
              FROM b GROUP BY bin
            ),
            s AS (
              SELECT bin, ref_cnt, cur_cnt,
                     (ref_cnt + 0.5) / (sum(ref_cnt) OVER () + 0.5 * 5.0)
                         AS rs,
                     (cur_cnt + 0.5) / (sum(cur_cnt) OVER () + 0.5 * 5.0)
                         AS cs
              FROM g
            )
            SELECT bin, ref_cnt, cur_cnt,
                   round(rs, 6) AS ref_share, round(cs, 6) AS cur_share,
                   round((cs - rs) * ln(cs / rs), 6) AS psi
            FROM s ORDER BY bin
        """,
        # exact top-k heavy hitters (m > corpus cardinality makes the
        # two-phase MG path unconditionally exact -> plain SQL oracle)
        "heavy_hitters": """
            SELECT value, cnt, rank FROM (
              SELECT coalesce(user_id::VARCHAR, '<NULL>') AS value,
                     count(*) AS cnt,
                     row_number() OVER (ORDER BY count(*) DESC,
                                        coalesce(user_id::VARCHAR, '<NULL>'))
                         AS rank
              FROM events GROUP BY 1
            ) WHERE rank <= 10
        """,
        # Okapi BM25: same tokenization, window df, RSJ idf, and
        # length-normalized tf saturation; ties (score desc, doc_id asc)
        "bm25": """
            WITH q(query_id, query) AS (VALUES
              (1, 'data processing systems'),
              (2, 'machine learning model training'),
              (3, 'the quick brown fox')),
            toks AS (
              SELECT doc_id, t.term
              FROM documents,
                   unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
                     AS t(term)
              WHERE length(t.term) >= 1
            ),
            tf AS (
              SELECT doc_id, term, count(*) AS tf
              FROM toks GROUP BY 1, 2
            ),
            dlen AS (SELECT doc_id, sum(tf) AS dlen FROM tf GROUP BY 1),
            stats AS (SELECT count(*) AS n, avg(dlen::DOUBLE) AS avgl
                      FROM dlen),
            tfd AS (
              SELECT *, count(*) OVER (PARTITION BY term) AS df FROM tf
            ),
            qt AS (
              SELECT query_id, t.term, count(*) AS qtf
              FROM q,
                   unnest(string_split_regex(lower(query), '[^a-z0-9]+'))
                     AS t(term)
              WHERE length(t.term) >= 1
              GROUP BY 1, 2
            ),
            scored AS (
              SELECT qt.query_id, tfd.doc_id,
                     sum(qt.qtf
                         * ln(1.0 + (stats.n - tfd.df + 0.5)
                                    / (tfd.df + 0.5))
                         * (tfd.tf * 2.2)
                         / (tfd.tf + 1.2 * (0.25 + 0.75
                              * (dlen.dlen / stats.avgl)))) AS score
              FROM tfd
              JOIN qt USING (term)
              JOIN dlen USING (doc_id)
              CROSS JOIN stats
              GROUP BY 1, 2
            )
            SELECT query_id, doc_id, round(score, 4) AS score,
                   rank::BIGINT AS rank
            FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, doc_id)
                            AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        # out-of-fold target encoding: identical md5 hash folds, leave-
        # one-fold-out stats and priors replayed relationally
        "oof_target_encode": """
            WITH r AS (
              SELECT event_id, user_id, value,
                     floor((('0x' || substr(md5('42:' || event_id::VARCHAR),
                                            1, 15))::BIGINT
                            / 1152921504606846976.0) * 5)::INT AS fold
              FROM events
            ),
            kf AS (SELECT user_id, fold, sum(value) AS s, count(value) AS c
                   FROM r GROUP BY 1, 2),
            pk AS (SELECT user_id, sum(s) AS s_k, sum(c) AS c_k
                   FROM kf GROUP BY 1),
            gf AS (SELECT fold, sum(s) AS s_f, sum(c) AS c_f
                   FROM kf GROUP BY 1),
            tot AS (SELECT sum(s_f) AS s_all, sum(c_f) AS c_all FROM gf),
            pr AS (SELECT fold, (s_all - s_f) / (c_all - c_f) AS prior
                   FROM gf, tot)
            SELECT r.event_id, r.user_id,
                   round((pk.s_k - kf.s + 20.0 * pr.prior)
                         / (pk.c_k - kf.c + 20.0), 4) AS te,
                   (pk.c_k - kf.c)::BIGINT AS te_n
            FROM r
            JOIN kf USING (user_id, fold)
            JOIN pk USING (user_id)
            JOIN pr USING (fold)
        """,
        # SFT pair mining: prefix sums decide the char-capped context
        # suffix; dense turn_idx makes the ROWS window a turn_idx range
        "sft_pairs": f"""
            WITH t AS ({_TRANSCRIPTS_SQL}),
            c AS (
              SELECT conv_id, turn_idx, role,
                     coalesce(text, '') AS text,
                     sum(length(role) + length(coalesce(text, '')) + 5)
                       OVER (PARTITION BY conv_id ORDER BY turn_idx
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)
                     - (length(role) + length(coalesce(text, '')) + 5)
                         AS s_prev
              FROM t
            ),
            prs AS (
              SELECT a.conv_id, a.turn_idx, a.text AS target,
                     p.turn_idx AS p_idx, p.role AS p_role,
                     p.text AS p_text
              FROM c a JOIN c p ON p.conv_id = a.conv_id
               AND p.turn_idx BETWEEN a.turn_idx - 8 AND a.turn_idx - 1
               AND p.s_prev >= a.s_prev - 2000
              WHERE a.role = 'assistant'
            )
            SELECT conv_id, turn_idx,
                   string_agg('<|' || p_role || '|>' || p_text, chr(10)
                              ORDER BY p_idx) AS context,
                   any_value(target) AS target,
                   count(*)::BIGINT AS n_context_turns
            FROM prs GROUP BY conv_id, turn_idx
        """,
        # markup strip round-trip: rebuild the same deterministic page and
        # strip it with RE2 (same shared regex subset) byte-for-byte
        "strip_markup": r"""
            WITH m AS (
              SELECT doc_id,
                     '<html><head><style>p {color: red}</style></head>'
                     || '<body onload="init()"><!-- nav chrome --><p>'
                     || replace(text, ' the ', ' &amp; ')
                     || '</p><script type="text/javascript">var x = 1 < 2;</script>'
                     || '<br/>tail &lt;ok&gt; &#39;q&#39;&nbsp;end</body></html>'
                         AS h
              FROM documents
            ),
            s AS (
              SELECT doc_id,
                     trim(regexp_replace(
                       replace(replace(replace(replace(replace(replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(
                               regexp_replace(
                                 regexp_replace(h,
                                   '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                                 '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                               '(?s)<!--.*?-->', ' ', 'g'),
                             '(?i)<(br|/p|/div|/li)\s*/?>', chr(10), 'g'),
                           '(?s)<[^>]*>', ' ', 'g'),
                         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                         '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
                       '\s+', ' ', 'g')) AS text_clean
              FROM m
            )
            SELECT doc_id, text_clean,
                   length(text_clean)::BIGINT AS n_chars_clean
            FROM s
        """,
        # DSIR: per-doc avg-log-likelihood ratio between the lang='en'
        # trigram LM and the whole-corpus trigram LM, both add-one smoothed
        "dsir_weights": r"""
            WITH norm AS (
              SELECT doc_id, lang,
                     lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS s
              FROM documents
            ),
            tri AS (
              SELECT doc_id, lang, substr(s, i, 3) AS g
              FROM norm, unnest(range(1, length(s) - 1)) AS u(i)
              WHERE length(s) >= 3
            ),
            mt AS (SELECT g, count(*)::DOUBLE AS c FROM tri
                   WHERE lang = 'en' GROUP BY g),
            mr AS (SELECT g, count(*)::DOUBLE AS c FROM tri GROUP BY g),
            tt AS (SELECT sum(c) AS n, count(*) AS v FROM mt),
            tr AS (SELECT sum(c) AS n, count(*) AS v FROM mr)
            SELECT t.doc_id,
                   count(*)::BIGINT AS n_ngrams,
                   round(avg(ln((coalesce(mt.c, 0) + 1.0) / (tt.n + tt.v))),
                         6) AS avg_logp_target,
                   round(avg(ln((mr.c + 1.0) / (tr.n + tr.v))), 6)
                       AS avg_logp_raw,
                   round(avg(ln((coalesce(mt.c, 0) + 1.0) / (tt.n + tt.v)))
                         - avg(ln((mr.c + 1.0) / (tr.n + tr.v))), 6)
                       AS log_ratio,
                   round(exp(avg(ln((coalesce(mt.c, 0) + 1.0)
                                    / (tt.n + tt.v)))
                             - avg(ln((mr.c + 1.0) / (tr.n + tr.v)))), 6)
                       AS weight
            FROM tri t LEFT JOIN mt ON t.g = mt.g
                 JOIN mr ON t.g = mr.g, tt, tr
            GROUP BY t.doc_id
        """,
        # ordered-stage funnel over gap-sessionized events: cumulative
        # seen-flags encode the view->click->purchase subsequence match
        "session_funnel": """
            WITH g AS (
              SELECT user_id, event_id, ts, event_type,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR floor(epoch(ts))::BIGINT
                               - floor(epoch(lag(ts) OVER w))::BIGINT > 1800
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            s AS (
              SELECT *, (sum(new_s) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                                   AND CURRENT ROW) - 1)
                            AS session_id
              FROM g
            ),
            f0 AS (
              SELECT *, max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                            OVER wc AS seen0
              FROM s
              WINDOW wc AS (PARTITION BY user_id, session_id
                            ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ),
            f1 AS (
              SELECT *, max(CASE WHEN event_type = 'click' AND seen0 = 1
                                 THEN 1 ELSE 0 END) OVER wc AS seen1
              FROM f0
              WINDOW wc AS (PARTITION BY user_id, session_id
                            ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ),
            f2 AS (
              SELECT *, max(CASE WHEN event_type = 'purchase' AND seen1 = 1
                                 THEN 1 ELSE 0 END) OVER wc AS seen2
              FROM f1
              WINDOW wc AS (PARTITION BY user_id, session_id
                            ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ),
            ps AS (
              SELECT user_id, session_id,
                     max(seen0) AS s0, max(seen1) AS s1, max(seen2) AS s2
              FROM f2 GROUP BY user_id, session_id
            ),
            tot AS (
              SELECT count(*) AS n, sum(s0) AS s0, sum(s1) AS s1,
                     sum(s2) AS s2
              FROM ps
            )
            SELECT 1 AS stage_idx, 'view' AS stage, s0::BIGINT AS n_sessions,
                   round(s0::DOUBLE / nullif(n, 0), 6) AS conversion FROM tot
            UNION ALL
            SELECT 2, 'click', s1::BIGINT,
                   round(s1::DOUBLE / nullif(s0, 0), 6) FROM tot
            UNION ALL
            SELECT 3, 'purchase', s2::BIGINT,
                   round(s2::DOUBLE / nullif(s1, 0), 6) FROM tot
        """,
        # role-bigram transition counts + P(role_to | role_from) over the
        # shared conversation order
        "role_transitions": f"""
            WITH t AS ({_TRANSCRIPTS_SQL}),
            p AS (
              SELECT role AS role_from,
                     lead(role) OVER (PARTITION BY conv_id
                                      ORDER BY ts, turn_idx) AS role_to
              FROM t
            )
            SELECT role_from, role_to,
                   count(*)::BIGINT AS n_transitions,
                   round(count(*)::DOUBLE /
                         sum(count(*)) OVER (PARTITION BY role_from), 6)
                       AS p_transition
            FROM p WHERE role_to IS NOT NULL
            GROUP BY role_from, role_to
        """,
        # temperature-scaled mixture weights: share^tau renormalized,
        # char-budget allocation, oversample factor (tau=0.5, B=1e6)
        "temperature_mix": """
            WITH s AS (
              SELECT lang, sum(n_chars)::DOUBLE AS group_size
              FROM documents GROUP BY lang
            ),
            sc AS (
              SELECT lang, group_size,
                     group_size / sum(group_size) OVER () AS share,
                     pow(group_size / sum(group_size) OVER (), 0.5) AS p
              FROM s
            )
            SELECT lang,
                   round(group_size, 6) AS group_size,
                   round(share, 6) AS share,
                   round(p / sum(p) OVER (), 6) AS weight,
                   round(p / sum(p) OVER () * 1000000, 6) AS target_size,
                   round(p / sum(p) OVER () * 1000000 / group_size, 6)
                       AS sample_factor
            FROM sc
        """,
        # L2 normalization digests: same sequential folds as the Spark
        # HOF expressions (0.0-seeded fold == first-element-seeded fold)
        "normalize_embeddings": """
            WITH n AS (
              SELECT vec_id, embedding::DOUBLE[] AS e,
                     sqrt(list_reduce(
                       list_transform(embedding::DOUBLE[], x -> x*x),
                       (a, b) -> a + b)) AS nrm
              FROM embeddings
            ),
            u AS (
              SELECT vec_id, nrm,
                     list_transform(
                       e, x -> x / (CASE WHEN nrm > 0 THEN nrm
                                         ELSE 1.0 END)) AS uv
              FROM n
            )
            SELECT vec_id,
                   round(nrm, 6) AS l2_norm,
                   round(list_reduce(uv, (a, b) -> a + b), 6) AS unit_sum,
                   round(list_max(list_transform(uv, x -> abs(x))), 6)
                       AS max_abs_unit
            FROM u
        """,
        # hash-derived negative pairs: bucket election (min r-hash, id
        # tie-break) + anchor×slot target buckets, all portable md5
        "hash_negatives": """
            WITH rh AS (
              SELECT vec_id,
                     ('0x' || substr(md5('b:' || vec_id::VARCHAR), 1, 15))
                         ::BIGINT % 256 AS b,
                     ('0x' || substr(md5('r:' || vec_id::VARCHAR), 1, 15))
                         ::BIGINT AS rhash
              FROM embeddings
            ),
            reps AS (
              SELECT b, vec_id AS neg_id
              FROM (SELECT b, vec_id,
                           row_number() OVER (PARTITION BY b
                                              ORDER BY rhash, vec_id) AS rn
                    FROM rh)
              WHERE rn = 1
            ),
            ex AS (
              SELECT vec_id, r.j,
                     ('0x' || substr(md5('n:' || vec_id::VARCHAR || ':'
                                         || r.j::VARCHAR), 1, 15))
                         ::BIGINT % 256 AS tb
              FROM embeddings, unnest(range(0, 4)) AS r(j)
            )
            SELECT e.vec_id, e.j::INT AS slot, reps.neg_id
            FROM ex e JOIN reps ON reps.b = e.tb
            WHERE reps.neg_id <> e.vec_id
        """,
        # forward event-time label: strictly-after-now lower bound
        # (1 µs FOLLOWING), inclusive horizon upper bound
        "forward_label": f"""
            WITH t AS ({_TRANSCRIPTS_SQL}),
            e AS (
              SELECT conv_id, turn_idx,
                     CASE WHEN tool IS NOT NULL THEN 1.0 ELSE 0.0 END AS ev,
                     epoch_us(ts) AS em
              FROM t
            )
            SELECT conv_id, turn_idx,
                   coalesce(max(ev) OVER (
                       PARTITION BY conv_id ORDER BY em
                       RANGE BETWEEN 1 FOLLOWING
                                 AND 600000000 FOLLOWING), 0.0) AS label
            FROM e
        """,
        # per-(conv, session) rollup over the replayed gap sessionization
        "session_stats": f"""
            WITH t AS ({_TRANSCRIPTS_SQL}),
            s AS (
              SELECT conv_id, turn_idx, tool, ts,
                     floor(epoch(ts))::BIGINT AS es,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR floor(epoch(ts))::BIGINT
                               - floor(epoch(lag(ts) OVER w))::BIGINT > 1800
                          THEN 1 ELSE 0 END AS new_s
              FROM t
              WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
            ),
            s2 AS (
              SELECT *,
                     (sum(new_s) OVER (PARTITION BY conv_id
                                       ORDER BY ts, turn_idx
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND CURRENT ROW)
                      - 1)::BIGINT AS session_id
              FROM s
            )
            SELECT conv_id, session_id,
                   count(*)::BIGINT AS n_turns,
                   sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                       AS n_tool_calls,
                   min(es) AS start_epoch,
                   max(es) AS end_epoch,
                   max(es) - min(es) AS duration_sec
            FROM s2
            GROUP BY conv_id, session_id
        """,
        # hashing-trick cross: portable md5 60-bit hash of the \\x01-joined
        # key (NULL token \\x00NULL), mod 64 — replayed exactly
        "hashed_cross": """
            SELECT event_id, event_type,
                   (user_id % 10)::VARCHAR AS user_mod,
                   (('0x' || substr(md5(
                      concat_ws(chr(1),
                        coalesce(event_type, chr(0) || 'NULL'),
                        coalesce((user_id % 10)::VARCHAR,
                                 chr(0) || 'NULL'))), 1, 15))::BIGINT
                    % 64)::INT AS cross_bucket
            FROM events
        """,
        # median/MAD modified z-score (Iglewicz–Hoaglin); quantile_cont
        # interpolation matches Spark's exact percentile (see
        # length_quantiles)
        "robust_outliers": """
            WITH med AS (
              SELECT quantile_cont(n_chars::DOUBLE, 0.5) AS med
              FROM documents
            ),
            mad AS (
              SELECT quantile_cont(abs(n_chars::DOUBLE - med), 0.5) AS mad
              FROM documents CROSS JOIN med
            )
            SELECT doc_id, n_chars,
                   CASE WHEN mad > 0
                        THEN round(0.6745*(n_chars::DOUBLE - med)/mad, 6)
                        END AS robust_z,
                   CASE WHEN mad > 0
                        THEN abs(0.6745*(n_chars::DOUBLE - med)/mad) > 3.5
                        ELSE false END AS is_outlier
            FROM documents CROSS JOIN med CROSS JOIN mad
        """,
        # group-wise median/MAD via window percentiles (same
        # interpolation parity as the global form)
        "robust_outliers_by": """
            WITH m AS (
              SELECT doc_id, lang, n_chars,
                     quantile_cont(n_chars::DOUBLE, 0.5)
                         OVER (PARTITION BY lang) AS med
              FROM documents
            ),
            m2 AS (
              SELECT *,
                     quantile_cont(abs(n_chars::DOUBLE - med), 0.5)
                         OVER (PARTITION BY lang) AS mad
              FROM m
            )
            SELECT doc_id, lang, n_chars,
                   CASE WHEN mad > 0
                        THEN round(0.6745*(n_chars::DOUBLE - med)/mad, 6)
                        END AS robust_z,
                   CASE WHEN mad > 0
                        THEN abs(0.6745*(n_chars::DOUBLE - med)/mad) > 3.5
                        ELSE false END AS is_outlier
            FROM m2
        """,
        # weight-of-evidence fit: smoothed per-class shares, WOE as a
        # sum of logs of exactly-representable (count + 0.5) doubles
        "woe_encode": """
            WITH lab AS (
              SELECT event_type,
                     CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS y
              FROM events
            ),
            k AS (
              SELECT event_type,
                     sum(y)::BIGINT AS pos_k,
                     sum(1 - y)::BIGINT AS neg_k
              FROM lab GROUP BY event_type
            ),
            t AS (
              SELECT sum(y)::BIGINT AS pos_t, sum(1 - y)::BIGINT AS neg_t
              FROM lab
            )
            SELECT event_type, pos_k, neg_k,
                   round(ln(pos_k + 0.5) - ln(pos_t + 1.0)
                         - (ln(neg_k + 0.5) - ln(neg_t + 1.0)), 6) AS woe,
                   round(((pos_k + 0.5)/(pos_t + 1.0)
                          - (neg_k + 0.5)/(neg_t + 1.0))
                         * (ln(pos_k + 0.5) - ln(pos_t + 1.0)
                            - (ln(neg_k + 0.5) - ln(neg_t + 1.0))), 6)
                       AS iv
            FROM k CROSS JOIN t
        """,
        # expanding z-score: mean/variance of STRICTLY PRIOR text lengths
        # from exact integer window sums (bit-identical to the Spark form)
        "expanding_zscore": f"""
            WITH t AS ({_TRANSCRIPTS_SQL}),
            s AS (
              SELECT conv_id, turn_idx,
                     length(text)::BIGINT AS text_len,
                     count(length(text)) OVER wp AS n,
                     sum(length(text)::BIGINT) OVER wp AS s1,
                     sum((length(text)::BIGINT)
                         * (length(text)::BIGINT)) OVER wp AS s2
              FROM t
              WINDOW wp AS (PARTITION BY conv_id ORDER BY ts, turn_idx
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)
            )
            SELECT conv_id, turn_idx, text_len,
                   CASE WHEN n >= 2 AND (n*s2 - s1*s1) > 0
                        THEN round((text_len::DOUBLE - s1::DOUBLE/n::DOUBLE)
                                   / sqrt((n*s2 - s1*s1)::DOUBLE
                                          / (n*(n-1))::DOUBLE), 6)
                        ELSE NULL END AS z_text_len
            FROM s
        """,
        # trailing-10-row least-squares slope of text length vs turn_idx,
        # from exact integer window sums (no regr_slope — portability)
        "trailing_slope": f"""
            WITH t AS ({_TRANSCRIPTS_SQL}),
            s AS (
              SELECT conv_id, turn_idx,
                     length(text)::BIGINT AS text_len,
                     count(*) OVER wk AS n,
                     sum(turn_idx::BIGINT) OVER wk AS sx,
                     sum(length(text)::BIGINT) OVER wk AS sy,
                     sum(turn_idx::BIGINT * length(text)::BIGINT)
                         OVER wk AS sxy,
                     sum(turn_idx::BIGINT * turn_idx::BIGINT) OVER wk AS sxx
              FROM t
              WINDOW wk AS (PARTITION BY conv_id ORDER BY ts, turn_idx
                            ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
            )
            SELECT conv_id, turn_idx, text_len,
                   CASE WHEN n >= 2 AND (n*sxx - sx*sx) <> 0
                        THEN round((n*sxy - sx*sy)::DOUBLE
                                   / (n*sxx - sx*sx)::DOUBLE, 6)
                        ELSE NULL END AS slope
            FROM s
        """,
        # point-in-time percentile rank: fraction of strictly-prior turns
        # with strictly smaller text length (turn_idx IS the per-conv
        # total order, so 'prior' = smaller turn_idx)
        "expanding_rank": f"""
            WITH t AS ({_TRANSCRIPTS_SQL}),
            v AS (SELECT conv_id, turn_idx,
                         length(text)::DOUBLE AS text_len FROM t)
            SELECT a.conv_id, a.turn_idx, a.text_len::BIGINT AS text_len,
                   CASE WHEN a.turn_idx > 0
                        THEN round(
                          coalesce(sum(CASE WHEN b.text_len < a.text_len
                                            THEN 1 END), 0)::DOUBLE
                          / a.turn_idx::DOUBLE, 6)
                        ELSE NULL END AS pct_rank_past
            FROM v a LEFT JOIN v b
              ON a.conv_id = b.conv_id AND b.turn_idx < a.turn_idx
            GROUP BY a.conv_id, a.turn_idx, a.text_len
        """,
        # top-50 bigram collocations by PMI (min_count=5); ln over exact
        # integer counts, rounded 6 dp; ties broken by bigram asc
        "pmi_bigrams": r"""
            WITH base AS (
              SELECT string_split(
                       regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                       ' ') AS tk
              FROM documents
            ),
            base2 AS (SELECT tk FROM base WHERE len(tk) > 0),
            uni AS (
              SELECT w, count(*)::BIGINT AS c_w
              FROM (SELECT unnest(tk) AS w FROM base2)
              GROUP BY w
            ),
            bi AS (
              SELECT tk[i] || ' ' || tk[i+1] AS bigram,
                     count(*)::BIGINT AS c_xy
              FROM base2, unnest(range(1, len(tk))) AS r(i)
              GROUP BY 1
              HAVING count(*) >= 5
            ),
            n1 AS (SELECT sum(c_w)::BIGINT AS n1 FROM uni),
            n2 AS (SELECT sum(c_xy)::BIGINT AS n2 FROM bi)
            SELECT bigram, c_xy,
                   round(ln(c_xy) + 2*ln(n1) - ln(n2)
                         - ln(ux.c_w) - ln(uy.c_w), 6) AS pmi
            FROM bi
            JOIN uni ux ON ux.w = split_part(bigram, ' ', 1)
            JOIN uni uy ON uy.w = split_part(bigram, ' ', 2)
            CROSS JOIN n1 CROSS JOIN n2
            ORDER BY pmi DESC, bigram
            LIMIT 50
        """,
    }


def _jl_oracle() -> str:
    from featurescreening_jl_spark.operators.similarity import (
        projection_matrix,
    )

    w = projection_matrix(64, 8, 17)
    rows = ",\n              ".join(
        "({}, [{}]::DOUBLE[])".format(
            d, ",".join(repr(x) for x in w[d])
        )
        for d in range(8)
    )
    return f"""
        WITH w(dim_idx, wv) AS (VALUES
              {rows})
        SELECT vec_id, dim_idx::INT AS dim_idx,
               round(list_dot_product(embedding::DOUBLE[], wv), 4) AS val
        FROM embeddings, w
    """


def _pq_oracle() -> str:
    """Rebuild the seeded PQ codebooks and replay unit-normalization,
    per-subspace argmin encoding (first-max tie-break), ADC lookup
    scoring (j-ordered fold, matching Spark's aggregate order), and
    per-query ranking — entirely in SQL over the codebook VALUES."""
    from featurescreening_jl_spark.operators.pq import random_codebooks

    books = random_codebooks(8, 16, 8, seed=17)
    m, ksub, dsub = books.shape
    rows = ",\n              ".join(
        "({}, {}, [{}]::DOUBLE[])".format(
            j, c, ",".join(repr(x) for x in books[j][c])
        )
        for j in range(m)
        for c in range(ksub)
    )
    return f"""
        WITH cb(j, c, v) AS (VALUES
              {rows}),
        cbh AS (
          SELECT j, c, v,
                 list_reduce(list_transform(v, x -> x*x),
                             (a, b) -> a + b) / 2.0 AS h
          FROM cb
        ),
        u AS (
          SELECT vec_id,
                 list_transform(
                   embedding::DOUBLE[],
                   x -> x / (CASE WHEN sqrt(list_reduce(
                                    list_transform(embedding::DOUBLE[],
                                                   y -> y*y),
                                    (a, b) -> a + b)) > 0
                                  THEN sqrt(list_reduce(
                                    list_transform(embedding::DOUBLE[],
                                                   y -> y*y),
                                    (a, b) -> a + b))
                                  ELSE 1.0 END)) AS uv
          FROM embeddings
        ),
        subs AS (
          SELECT vec_id, r.j,
                 u.uv[r.j*{dsub}+1 : (r.j+1)*{dsub}] AS sub
          FROM u, unnest(range(0, {m})) AS r(j)
        ),
        dist AS (
          SELECT s.vec_id, s.j, cbh.c,
                 list_dot_product(s.sub, cbh.v) - cbh.h AS adj
          FROM subs s JOIN cbh ON cbh.j = s.j
        ),
        code AS (
          SELECT vec_id, j, c AS code
          FROM (SELECT vec_id, j, c,
                       row_number() OVER (PARTITION BY vec_id, j
                                          ORDER BY adj DESC, c) AS rn
                FROM dist)
          WHERE rn = 1
        ),
        qsubs AS (SELECT * FROM subs WHERE vec_id < 3),
        part AS (
          SELECT q.vec_id AS query_id, x.vec_id, x.j,
                 list_dot_product(q.sub, cb.v) AS p
          FROM code x
          JOIN cb ON cb.j = x.j AND cb.c = x.code
          JOIN qsubs q ON q.j = x.j
        ),
        score AS (
          SELECT query_id, vec_id,
                 list_reduce(list(p ORDER BY j), (a, b) -> a + b)
                     AS adc_score
          FROM part
          GROUP BY query_id, vec_id
        )
        SELECT query_id, vec_id, round(adc_score, 6) AS adc_score,
               rank::BIGINT AS rank
        FROM (SELECT query_id, vec_id, adc_score,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY adc_score DESC,
                                                 vec_id) AS rank
              FROM score)
        WHERE rank <= 5
    """


def _bpe_encode_oracle(merges) -> str:
    """Recursive-CTE replay of merge-rank greedy BPE encoding against a
    frozen merge list. Per distinct word: start from characters +
    '</w>', and each recursion step applies exactly ONE merge — the
    lowest-RANK applicable pair, leftmost on rank ties — mirroring
    bpe_encode_word's loop. Terminal rows (no applicable pair left) are
    the word's encoding; documents reassemble by word position.
    '|' is a safe pair-key delimiter: symbols only contain [a-z0-9']
    and the '</w>' sentinel. NOTE: DuckDB's list_position returns 0
    (not NULL) for absent elements — the > 0 filters are load-bearing.
    Symbols may contain ', so each pair literal doubles its quotes."""
    pair_list = "[" + ",".join(
        "'" + f"{l}|{r}".replace("'", "''") + "'" for l, r in merges
    ) + "]"
    return f"""
        WITH RECURSIVE
        wd AS (
          SELECT doc_id, r.i AS pos, ws[r.i] AS word
          FROM (SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text),
                                   '[^a-z0-9'']+'), w -> w <> '') AS ws
                FROM documents),
               unnest(range(1, len(ws)+1)) AS r(i)
        ),
        uw AS (SELECT DISTINCT word FROM wd),
        enc AS (
          SELECT word,
                 list_append(list_transform(range(1, length(word)+1),
                             i -> word[i]), '</w>') AS syms
          FROM uw
          UNION ALL
          SELECT word,
                 list_slice(syms, 1, best[2]-1)
                 || [syms[best[2]] || syms[best[2]+1]]
                 || list_slice(syms, best[2]+2, len(syms)) AS syms
          FROM (
            SELECT word, syms,
                   list_sort(list_filter(
                     list_transform(range(1, len(syms)),
                       i -> [list_position({pair_list},
                                 syms[i] || '|' || syms[i+1]), i]),
                     x -> x[1] > 0))[1] AS best
            FROM enc
          ) WHERE best IS NOT NULL
        ),
        final AS (
          SELECT word, syms FROM enc
          WHERE len(list_filter(
                  list_transform(range(1, len(syms)),
                    i -> list_position({pair_list},
                             syms[i] || '|' || syms[i+1])),
                  x -> x > 0)) = 0
        ),
        agg AS (
          SELECT w.doc_id, flatten(list(f.syms ORDER BY w.pos)) AS toks
          FROM wd w JOIN final f USING (word)
          GROUP BY w.doc_id
        )
        SELECT d.doc_id,
               coalesce(len(toks), 0)::BIGINT AS n_bpe_tokens,
               coalesce(array_to_string(list_slice(toks, 1, 8), ' '), '')
                   AS head_tokens
        FROM documents d LEFT JOIN agg USING (doc_id)
    """


def oracle_sql() -> dict[str, str]:
    d = _oracle_sql_base()
    # frozen-vocab BPE encoding is deterministic — value-oracled via the
    # recursive-CTE segmentation replay (the merge list literal is built
    # from the same _BPE_FROZEN_MERGES the query encodes with, so the
    # two can never drift)
    d["bpe_encode"] = _bpe_encode_oracle(_BPE_FROZEN_MERGES)
    # the star-algorithm CC query computes the identical clustering —
    # same recursive-CTE oracle, different distributed algorithm
    d["dedup_cc_star"] = d["dedup_cc"]
    # the Arrow (segmented-renormalization) decay variant computes the
    # identical quantity as the closed-form window — same oracle; the two
    # independent implementations agreeing is itself part of the check
    d["decayed_features_arrow"] = d["decayed_features"]
    d["project_embeddings"] = _jl_oracle()
    d["pq_topk"] = _pq_oracle()
    # span-level exact substring dedup: the oracle replays the k-gram
    # formulation with the gram STRING as the key (Spark uses xxhash64 —
    # a collision could only ADD rows, and the check would catch it)
    d["substring_spans"] = """
        WITH grams AS (
          SELECT d.doc_id, p.pos, substr(d.text, p.pos::INT, 20) AS g
          FROM documents d,
               LATERAL (SELECT unnest(range(1, length(d.text) - 18)) AS pos) p
          WHERE length(d.text) >= 20
        ),
        counted AS (
          SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS c FROM grams
        ),
        cand AS (SELECT doc_id, pos FROM counted WHERE c >= 2),
        spans AS (
          SELECT doc_id,
                 least(20, pos - coalesce(
                     lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                     pos - 20)) AS contrib
          FROM cand
        ),
        dups AS (
          SELECT doc_id, sum(contrib)::BIGINT AS dup_chars
          FROM spans GROUP BY doc_id
        )
        SELECT d.doc_id,
               length(d.text)::BIGINT AS n_chars,
               coalesce(u.dup_chars, 0)::BIGINT AS dup_chars,
               round(coalesce(u.dup_chars, 0)
                     / greatest(length(d.text), 1), 6) AS dup_fraction
        FROM documents d LEFT JOIN dups u USING (doc_id)
    """
    # chi2/MI replay: identical equi-width binning (floor over the same
    # double expression), then the same (O−E)²/E fold with the absent-cell
    # mass folded in via Σ_all E = N; MI over observed cells only. All
    # inputs to the double math are exact integer counts, so both engines
    # compute identical doubles up to the 6dp rounding.
    _melt = "\n          UNION ALL\n".join(
        f"""
          SELECT label, '{c}' AS feature,
                 CASE WHEN {c} IS NULL THEN -1
                      WHEN mn_{c} = mx_{c} THEN 0
                      ELSE CAST(least(7, floor(({c} - mn_{c})
                                 / (mx_{c} - mn_{c}) * 8)) AS INT)
                 END AS bin
          FROM src, b"""
        for c in _SCREEN_STAT_FEATS
    )
    _bounds = ", ".join(
        f"min({c}) AS mn_{c}, max({c}) AS mx_{c}" for c in _SCREEN_STAT_FEATS
    )
    d["chi2_ranking"] = f"""
        WITH src AS (
          SELECT l_returnflag AS label, {', '.join(_SCREEN_STAT_FEATS)}
          FROM lineitem
        ),
        b AS (SELECT {_bounds} FROM src),
        m AS ({_melt}),
        cont AS (
          SELECT feature, bin, label, count(*)::BIGINT AS o
          FROM m GROUP BY feature, bin, label
        ),
        cells AS (
          SELECT *,
                 sum(o) OVER (PARTITION BY feature, bin)   AS rt,
                 sum(o) OVER (PARTITION BY feature, label) AS ct,
                 sum(o) OVER (PARTITION BY feature)        AS n
          FROM cont
        )
        SELECT feature,
               round(any_value(n)
                     + sum((o - rt*ct/n) * (o - rt*ct/n) / (rt*ct/n)
                           - rt*ct/n), 6) AS chi2,
               round(sum(o / n * ln(o * n / (rt * ct))), 6) AS mi
        FROM cells GROUP BY feature
    """
    # correlation replay: the same floor(x·1000 + 0.5) fixed-point snap,
    # exact HUGEINT sums (Spark side: exact DECIMAL(38,0) sums), and the
    # IDENTICAL double expression tree for the final ratio
    _notnull = " AND ".join(f"{c} IS NOT NULL" for c in _SCREEN_STAT_FEATS)
    _fx = ", ".join(
        f"CAST(floor({c} * 1000 + 0.5) AS HUGEINT) AS {c}"
        for c in _SCREEN_STAT_FEATS
    )
    _sp_pairs = [
        (a, b)
        for i, a in enumerate(_SCREEN_STAT_FEATS)
        for b in _SCREEN_STAT_FEATS[i + 1 :]
    ]
    _sums = ", ".join(
        [f"count(*)::HUGEINT AS n"]
        + [f"sum({c}) AS s_{c} , sum({c}*{c}) AS q_{c}" for c in _SCREEN_STAT_FEATS]
        + [f"sum({a}*{b}) AS p_{a}_{b}" for a, b in _sp_pairs]
    )
    _rows = "\n        UNION ALL\n".join(
        f"""
        SELECT '{a}' AS feature_a, '{b}' AS feature_b,
               CASE WHEN (n::DOUBLE * q_{a}::DOUBLE
                          - s_{a}::DOUBLE * s_{a}::DOUBLE) > 0
                     AND (n::DOUBLE * q_{b}::DOUBLE
                          - s_{b}::DOUBLE * s_{b}::DOUBLE) > 0
                    THEN round((n::DOUBLE * p_{a}_{b}::DOUBLE
                                - s_{a}::DOUBLE * s_{b}::DOUBLE)
                               / sqrt((n::DOUBLE * q_{a}::DOUBLE
                                       - s_{a}::DOUBLE * s_{a}::DOUBLE)
                                      * (n::DOUBLE * q_{b}::DOUBLE
                                         - s_{b}::DOUBLE * s_{b}::DOUBLE)), 6)
               END AS corr
        FROM a"""
        for a, b in _sp_pairs
    )
    d["feature_corr"] = f"""
        WITH f AS (
          SELECT {_fx} FROM lineitem WHERE {_notnull}
        ),
        a AS (SELECT {_sums} FROM f)
        {_rows}
    """
    # CCNet buckets: the lm_score oracle's model + scoring CTEs, then the
    # same (rounded-score DESC, doc_id) ntile per language — the rounding
    # makes the ordering identical across engines, so the tile assignment
    # is exact, not tolerance-based
    d["perplexity_buckets"] = r"""
        WITH norm AS (
          SELECT doc_id,
                 lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS s
          FROM documents
        ),
        tri AS (
          SELECT doc_id, substr(s, i, 3) AS g
          FROM norm, unnest(range(1, length(s) - 1)) AS u(i)
          WHERE length(s) >= 3
        ),
        model AS (SELECT g, count(*)::DOUBLE AS c FROM tri GROUP BY g),
        tot AS (SELECT sum(c) AS n, count(*) AS v FROM model),
        sc AS (
          SELECT t.doc_id,
                 round(avg(ln((m.c + 1.0) / (tot.n + tot.v))), 6) AS avg_logp
          FROM tri t JOIN model m USING (g), tot
          GROUP BY t.doc_id
        )
        SELECT d.doc_id, d.lang, sc.avg_logp,
               ntile(3) OVER (PARTITION BY d.lang
                              ORDER BY sc.avg_logp DESC, d.doc_id)::BIGINT
                   AS bucket
        FROM documents d JOIN sc USING (doc_id)
    """
    # conversation near-dedup: replay rendering (event-time ordered
    # concat), the every-15th truncated clone, and EXACT all-pairs word-
    # 3-gram Jaccard ≥ 0.8 — same shingle normalization as minhash_pairs
    d["conv_neardup"] = f"""
        WITH t AS ({_TRANSCRIPTS_SQL}),
        base AS (
          SELECT conv_id,
                 string_agg(text, ' ' ORDER BY ts, turn_idx) AS text
          FROM t GROUP BY conv_id
        ),
        trunc AS (
          SELECT conv_id || '_dup' AS conv_id,
                 string_agg(text, ' ' ORDER BY ts, turn_idx) AS text
          FROM (SELECT *, max(turn_idx) OVER (PARTITION BY conv_id) AS mt
                FROM t
                WHERE CAST(substr(conv_id, 6) AS BIGINT) % 15 = 0)
          WHERE turn_idx <= mt - 2
          GROUP BY conv_id
        ),
        corpus AS (SELECT * FROM base UNION ALL SELECT * FROM trunc),
        sh AS (
          SELECT conv_id,
                 list_distinct(list_transform(
                   range(0, greatest(len(toks) - 3, 0) + 1),
                   i -> array_to_string(toks[i+1:i+3], ' '))) AS s
          FROM (
            SELECT conv_id,
                   string_split_regex(
                     lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                     ' ') AS toks
            FROM corpus
          )
          WHERE len(toks) > 0
        )
        SELECT a.conv_id AS id_a, b.conv_id AS id_b,
               round(len(list_intersect(a.s, b.s))::DOUBLE
                     / len(list_distinct(a.s || b.s)), 4) AS jaccard
        FROM sh a JOIN sh b ON a.conv_id < b.conv_id
        WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(a.s || b.s)) >= 0.8
    """
    # snapshot diff: replay the synthetic new snapshot, then classify by
    # DIRECT column comparison (the Spark side compares via xxhash64
    # fingerprints — a collision-induced misclassification would fail this
    # oracle, same add-only-error argument as substring_spans)
    d["snapshot_diff"] = """
        WITH old AS (SELECT * FROM documents),
        new AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END
                     AS text,
                 lang, source, n_chars
          FROM documents WHERE doc_id < 450
          UNION ALL
          SELECT doc_id + 10000 AS doc_id, text, lang, source, n_chars
          FROM documents WHERE doc_id < 20
        )
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN NOT (o.text IS NOT DISTINCT FROM n.text
                              AND o.lang IS NOT DISTINCT FROM n.lang
                              AND o.source IS NOT DISTINCT FROM n.source
                              AND o.n_chars IS NOT DISTINCT FROM n.n_chars)
                         THEN 'changed'
                    ELSE 'unchanged'
               END AS status
        FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    """
    # conversation-atomic packing: the pack_greedy recursive-CTE replay
    # over the per-conversation token rollup (same portable md5 order key,
    # binary string collation matches Spark's)
    d["conv_packing"] = f"""
        WITH RECURSIVE t AS ({_TRANSCRIPTS_SQL}),
        toks AS (
          SELECT conv_id,
                 sum(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text),
                                                         '\\s+'))
                     END)::BIGINT AS t,
                 ('0x' || substr(md5('42:' || conv_id), 1, 15))::BIGINT
                     AS hk
          FROM t GROUP BY conv_id
        ), ordered AS (
          SELECT conv_id, t, hk, hk % 4 AS grp,
                 row_number() OVER (PARTITION BY hk % 4
                                    ORDER BY hk, conv_id) AS rn
          FROM toks
        ), state AS (
          SELECT grp, rn, conv_id, t AS acc, 0::BIGINT AS pack, 0 AS pos
          FROM ordered WHERE rn = 1
          UNION ALL
          SELECT o.grp, o.rn, o.conv_id,
                 CASE WHEN s.acc + o.t <= 8000 THEN s.acc + o.t
                      ELSE o.t END,
                 CASE WHEN s.acc + o.t <= 8000 THEN s.pack
                      ELSE s.pack + 1 END,
                 CASE WHEN s.acc + o.t <= 8000 THEN s.pos + 1 ELSE 0 END
          FROM state s
          JOIN ordered o ON o.grp = s.grp AND o.rn = s.rn + 1
        )
        SELECT conv_id,
               grp * 4294967296 + pack AS pack_id,
               pos::INTEGER AS pack_pos,
               acc AS pack_tokens
        FROM state
    """
    # degenerate-loop audit: replay the stuck-run injection (same portable
    # md5 election) and the gaps-and-islands run decomposition
    d["loop_detection"] = f"""
        WITH t AS ({_TRANSCRIPTS_SQL}),
        tails AS (
          SELECT conv_id, max(turn_idx) AS mx, max(ts) AS mts
          FROM t GROUP BY conv_id
          HAVING ('0x' || substr(md5('loop:' || conv_id), 1, 15))::BIGINT
                 % 20 = 0
        ),
        inj AS (
          SELECT conv_id, (mx + k)::INT AS turn_idx,
                 'assistant' AS role,
                 'I will retry the same command.' AS text,
                 NULL::VARCHAR AS tool,
                 mts + k * INTERVAL 1 SECOND AS ts
          FROM tails, UNNEST([1, 2, 3]) AS u(k)
        ),
        uni AS (
          SELECT conv_id, turn_idx, role, text, ts FROM t
          UNION ALL
          SELECT conv_id, turn_idx, role, text, ts FROM inj
        ),
        marked AS (
          SELECT conv_id, ts, turn_idx,
                 CASE WHEN lag(role) OVER w = role
                       AND lag(lower(trim(coalesce(text, '')))) OVER w
                           = lower(trim(coalesce(text, '')))
                      THEN 0 ELSE 1 END AS new_run
          FROM uni
          WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
        ),
        runs AS (
          SELECT conv_id,
                 SUM(new_run) OVER (PARTITION BY conv_id
                                    ORDER BY ts, turn_idx
                                    ROWS UNBOUNDED PRECEDING) AS run_id
          FROM marked
        ),
        run_len AS (
          SELECT conv_id, run_id, COUNT(*) AS len
          FROM runs GROUP BY conv_id, run_id
        )
        SELECT conv_id,
               SUM(len)::BIGINT AS n_turns,
               MAX(len)::BIGINT AS max_run_len,
               SUM(CASE WHEN len >= 3 THEN len ELSE 0 END)::BIGINT
                   AS n_looped_turns,
               round(SUM(CASE WHEN len >= 3 THEN len ELSE 0 END)::DOUBLE
                     / SUM(len), 4) AS loop_share,
               MAX(len) >= 3 AS is_looping
        FROM run_len GROUP BY conv_id
    """
    # same-role fragment merge: runs keyed by role change only; merged
    # text is the run's fragments in turn order; dense re-index over runs
    d["merge_turns"] = f"""
        WITH t AS ({_TRANSCRIPTS_SQL}),
        marked AS (
          SELECT conv_id, turn_idx, role, coalesce(text, '') AS text, ts,
                 CASE WHEN lag(role) OVER (PARTITION BY conv_id
                                           ORDER BY turn_idx) = role
                      THEN 0 ELSE 1 END AS new_run
          FROM t
        ),
        runs AS (
          SELECT *,
                 SUM(new_run) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                    ROWS UNBOUNDED PRECEDING) AS run_id
          FROM marked
        ),
        merged AS (
          SELECT conv_id, run_id,
                 MIN(turn_idx) AS first_o,
                 MAX(role) AS role,
                 string_agg(text, chr(10) ORDER BY turn_idx) AS text,
                 COUNT(*)::INT AS n_merged,
                 MIN(ts) AS ts
          FROM runs GROUP BY conv_id, run_id
        )
        SELECT conv_id,
               (row_number() OVER (PARTITION BY conv_id
                                   ORDER BY first_o) - 1)::INT AS turn_idx,
               role, text, n_merged,
               floor(epoch(ts))::BIGINT AS ts_epoch
        FROM merged
    """
    # per-turn same-role edit distance: previous same-role turn found by
    # ordering the conv window by (role, ts, turn_idx) with a role guard,
    # texts capped at 120 chars — the identical capped DP both engines run
    d["turn_edit_dist"] = f"""
        WITH t AS ({_TRANSCRIPTS_SQL}),
        lagged AS (
          SELECT conv_id, turn_idx, role,
                 substr(coalesce(text, ''), 1, 120) AS cur,
                 CASE WHEN lag(role) OVER w = role
                      THEN lag(substr(coalesce(text, ''), 1, 120)) OVER w
                 END AS prev
          FROM t
          WINDOW w AS (PARTITION BY conv_id ORDER BY role, ts, turn_idx)
        )
        SELECT conv_id, turn_idx, role,
               levenshtein(cur, prev)::INT AS edit_dist,
               round(1.0 - levenshtein(cur, prev)::DOUBLE
                     / greatest(length(cur), length(prev), 1), 6)
                   AS edit_sim
        FROM lagged
    """
    d["entropy_features"] = r"""
        WITH ch AS (
          SELECT doc_id, unnest(string_split(text, '')) AS c
          FROM documents WHERE length(text) > 0
        ),
        tk AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                    x -> x <> '')) AS w
          FROM documents WHERE length(text) > 0
        ),
        ce AS (
          SELECT doc_id, count(*)::BIGINT AS n_chars,
                 entropy(c) AS char_entropy
          FROM ch GROUP BY doc_id
        ),
        te AS (
          SELECT doc_id, count(*)::BIGINT AS n_tokens,
                 entropy(w) AS token_entropy
          FROM tk GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(ce.n_chars, 0)::BIGINT AS n_chars,
               coalesce(te.n_tokens, 0)::BIGINT AS n_tokens,
               round(coalesce(ce.char_entropy, 0.0), 6) AS char_entropy,
               round(coalesce(te.token_entropy, 0.0), 6) AS token_entropy
        FROM documents d
        LEFT JOIN ce USING (doc_id)
        LEFT JOIN te USING (doc_id)
        WHERE length(d.text) > 0
    """
    d["preference_pairs"] = f"""
        WITH t AS ({_TRANSCRIPTS_SQL}),
        lagged AS (
          SELECT conv_id, turn_idx,
                 coalesce(text, '') AS resp,
                 lag(role) OVER w AS prole, role,
                 coalesce(lag(text) OVER w, '') AS prompt
          FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
        ),
        resp AS (
          SELECT *,
                 list_filter(string_split_regex(trim(resp), '\\s+'),
                             x -> x <> '') AS toks
          FROM lagged
          WHERE role = 'assistant' AND prole = 'user' AND length(prompt) > 0
        ),
        scored AS (
          SELECT md5(prompt) AS ph, prompt, resp, conv_id, turn_idx,
                 len(list_distinct(toks))::BIGINT AS nd,
                 len(toks)::BIGINT AS nt
          FROM resp WHERE len(toks) > 0
        ),
        sc2 AS (SELECT *, (nd * 1000000) // nt AS ppm FROM scored),
        ranked AS (
          SELECT *,
                 count(*) OVER (PARTITION BY ph) AS n,
                 row_number() OVER (PARTITION BY ph
                     ORDER BY ppm DESC, nt DESC, resp DESC,
                              conv_id DESC, turn_idx DESC) AS rb,
                 row_number() OVER (PARTITION BY ph
                     ORDER BY ppm, nt, resp, conv_id, turn_idx) AS rw
          FROM sc2
        )
        SELECT b.prompt,
               b.n::BIGINT AS n_candidates,
               b.resp AS chosen,
               w.resp AS rejected,
               b.ppm::BIGINT AS chosen_ppm,
               w.ppm::BIGINT AS rejected_ppm
        FROM (SELECT * FROM ranked WHERE rb = 1) b
        JOIN (SELECT * FROM ranked WHERE rw = 1) w USING (ph)
        WHERE b.n >= 2 AND b.resp <> w.resp AND b.ppm >= w.ppm
    """
    d["leakage_split"] = _CC_ORACLE_PREFIX + """
        , comp AS (
          SELECT id, min(r) AS component FROM reach GROUP BY id
        ),
        lab AS (
          SELECT d.doc_id,
                 coalesce(c.component, d.doc_id)::BIGINT AS cluster_label
          FROM (SELECT doc_id FROM documents WHERE doc_id < 4000) d
          LEFT JOIN comp c ON c.id = d.doc_id
        )
        SELECT doc_id, cluster_label,
               CASE WHEN u < 0.75::DOUBLE THEN 'train'
                    WHEN u < 0.875::DOUBLE THEN 'val'
                    ELSE 'test' END AS split
        FROM (
          SELECT doc_id, cluster_label,
                 ('0x' || substr(md5('42:' || cluster_label::VARCHAR), 1, 15))
                     ::BIGINT / 1152921504606846976.0 AS u
          FROM lab
        )
    """
    d["response_latency"] = f"""
        WITH t AS ({_TRANSCRIPTS_SQL}),
        led AS (
          SELECT conv_id, role,
                 lead(role) OVER w AS nrole,
                 epoch_us(lead(ts) OVER w) - epoch_us(ts) AS lat
          FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
        )
        SELECT conv_id,
               count(*)::BIGINT AS n_exchanges,
               min(lat)::BIGINT AS min_latency_us,
               round(avg(lat), 6) AS mean_latency_us,
               max(lat)::BIGINT AS max_latency_us
        FROM led
        WHERE role = 'user' AND nrole = 'assistant'
        GROUP BY conv_id
    """
    d["semantic_segments"] = """
        WITH t AS (
          SELECT 'conv_' || e.user_id::VARCHAR AS conv_id,
                 (row_number() OVER (PARTITION BY e.user_id
                                     ORDER BY e.ts, e.event_id) - 1)::INT
                     AS turn_idx,
                 m.embedding::DOUBLE[] AS v
          FROM events e JOIN embeddings m ON m.vec_id = e.event_id % 500
        ),
        lagged AS (
          SELECT conv_id, turn_idx, v,
                 lag(v) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS pv
          FROM t
        ),
        sims AS (
          SELECT conv_id, turn_idx,
                 round(list_dot_product(v, pv)
                       / (sqrt(list_dot_product(v, v))
                          * sqrt(list_dot_product(pv, pv))), 6) AS sim_prev
          FROM lagged
        )
        SELECT conv_id, turn_idx, sim_prev,
               (sim_prev IS NOT NULL AND sim_prev < 0.1) AS is_boundary,
               sum(CASE WHEN sim_prev IS NOT NULL AND sim_prev < 0.1
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY conv_id ORDER BY turn_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 ::INT AS segment_idx
        FROM sims
    """
    d["curriculum"] = """
        WITH ranked AS (
          SELECT doc_id, length(text)::INT AS score,
                 row_number() OVER (ORDER BY length(text), doc_id)
                     ::BIGINT AS rank
          FROM documents
        )
        SELECT doc_id, score, rank,
               (((rank - 1) * 8) // (SELECT count(*) FROM documents))
                   ::INT AS bucket
        FROM ranked
    """
    d["pool_embeddings"] = """
        WITH e AS (
          SELECT vec_id % 50 AS grp, embedding::DOUBLE[] AS v
          FROM embeddings WHERE len(embedding) > 0
        ),
        ex AS (
          SELECT grp, (generate_subscripts(v, 1) - 1)::INT AS dim_idx,
                 unnest(v) AS x
          FROM e
        ),
        m AS (
          SELECT grp, dim_idx, avg(x) AS mx FROM ex GROUP BY grp, dim_idx
        ),
        nrm AS (
          SELECT grp, sqrt(sum(mx * mx)) AS n2 FROM m GROUP BY grp
        ),
        cnt AS (
          SELECT grp, count(*)::BIGINT AS n_vectors FROM e GROUP BY grp
        )
        SELECT m.grp, cnt.n_vectors, m.dim_idx,
               round(round(m.mx / nrm.n2, 9), 6) AS val
        FROM m JOIN nrm USING (grp) JOIN cnt USING (grp)
    """
    d["tool_usage"] = f"""
        WITH t AS ({_TRANSCRIPTS_SQL}),
        base AS (
          SELECT conv_id, count(*)::BIGINT AS n_turns,
                 count(tool)::BIGINT AS n_tool_calls,
                 count(DISTINCT tool)::BIGINT AS n_distinct_tools,
                 round(count(tool)::DOUBLE / count(*), 6) AS tool_call_ratio
          FROM t GROUP BY conv_id
        ),
        pt AS (
          SELECT conv_id, tool, count(*)::BIGINT AS n FROM t
          WHERE tool IS NOT NULL GROUP BY conv_id, tool
        ),
        top AS (
          SELECT conv_id, tool AS top_tool, n AS top_tool_calls FROM (
            SELECT *, row_number() OVER (PARTITION BY conv_id
                                         ORDER BY n DESC, tool ASC) AS r
            FROM pt
          ) WHERE r = 1
        )
        SELECT base.*, top.top_tool, top.top_tool_calls
        FROM base LEFT JOIN top USING (conv_id)
    """
    def _context_budget_oracle(budget: int) -> str:
        # budget-parameterized so the chunked-hatch twin (budget 25,
        # multi-chunk geometry) replays the same single-task formulation
        return f"""
        WITH t AS ({_TRANSCRIPTS_SQL}),
        tok AS (
          SELECT conv_id, turn_idx,
                 greatest(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE length(regexp_split_to_array(trim(text),
                                                            '\\s+')) END,
                          1)::BIGINT AS turn_tokens
          FROM t
        ),
        cum AS (
          SELECT conv_id, turn_idx, turn_tokens,
                 sum(turn_tokens) OVER (
                   PARTITION BY conv_id ORDER BY turn_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 )::BIGINT AS cum_tokens
          FROM tok
        )
        SELECT conv_id, turn_idx, turn_tokens, cum_tokens,
               (count(*) OVER w - 1
                + CASE WHEN cum_tokens <= {budget} THEN 1 ELSE 0 END)::INT
                   AS ctx_turns,
               (cum_tokens
                - CASE WHEN cum_tokens <= {budget} THEN 0
                       ELSE min(cum_tokens) OVER w END)::BIGINT
                   AS ctx_tokens
        FROM cum
        WINDOW w AS (PARTITION BY conv_id ORDER BY cum_tokens
                     RANGE BETWEEN {budget} PRECEDING AND CURRENT ROW)
    """

    d["context_budget"] = _context_budget_oracle(2000)
    d["context_budget_chunked"] = _context_budget_oracle(25)
    d["soft_dedup"] = _CC_ORACLE_PREFIX + """
        , comp AS (
          SELECT id, min(r) AS component FROM reach GROUP BY id
        ),
        lab AS (
          SELECT d.doc_id,
                 coalesce(c.component, d.doc_id)::BIGINT AS cluster_label
          FROM (SELECT doc_id FROM documents WHERE doc_id < 4000) d
          LEFT JOIN comp c ON c.id = d.doc_id
        )
        SELECT doc_id, cluster_label,
               count(*) OVER (PARTITION BY cluster_label)::BIGINT
                   AS cluster_size,
               round(1.0 / count(*) OVER (PARTITION BY cluster_label), 6)
                   AS weight
        FROM lab
    """
    d["doc_pagerank"] = """
        WITH seq AS (
          SELECT event_id % 500 AS src,
                 lead(event_id % 500) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS dst
          FROM events
        ),
        edges AS (
          SELECT src, dst, count(*)::DOUBLE AS w
          FROM seq WHERE dst IS NOT NULL AND dst <> src
          GROUP BY src, dst
        ),
        outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
        ne AS (
          SELECT e.src, e.dst, e.w / o.ow AS frac
          FROM edges e JOIN outw o ON o.src = e.src
        ),
        nodes AS (
          SELECT src AS node FROM edges
          UNION
          SELECT dst FROM edges
        ),
        nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
        r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
        r1 AS (
          SELECT nd.node,
                 0.15 / (SELECT n FROM nn)
                   + 0.85 * coalesce(s.inr, 0) AS rank
          FROM nodes nd LEFT JOIN (
            SELECT ne.dst AS node, sum(r0.rank * ne.frac) AS inr
            FROM ne JOIN r0 ON r0.node = ne.src GROUP BY ne.dst
          ) s ON s.node = nd.node
        ),
        r2 AS (
          SELECT nd.node,
                 0.15 / (SELECT n FROM nn)
                   + 0.85 * coalesce(s.inr, 0) AS rank
          FROM nodes nd LEFT JOIN (
            SELECT ne.dst AS node, sum(r1.rank * ne.frac) AS inr
            FROM ne JOIN r1 ON r1.node = ne.src GROUP BY ne.dst
          ) s ON s.node = nd.node
        ),
        r3 AS (
          SELECT nd.node,
                 0.15 / (SELECT n FROM nn)
                   + 0.85 * coalesce(s.inr, 0) AS rank
          FROM nodes nd LEFT JOIN (
            SELECT ne.dst AS node, sum(r2.rank * ne.frac) AS inr
            FROM ne JOIN r2 ON r2.node = ne.src GROUP BY ne.dst
          ) s ON s.node = nd.node
        )
        SELECT node::BIGINT AS node, round(rank, 6) AS rank FROM r3
    """
    d["quantile_bin"] = """
        WITH b AS (
          SELECT event_type,
                 list_transform(
                   quantile_cont(value, [0.125, 0.25, 0.375, 0.5,
                                         0.625, 0.75, 0.875]),
                   x -> round(x, 6)) AS boundaries
          FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type,
               CASE WHEN e.value IS NULL THEN NULL
                    ELSE len(list_filter(b.boundaries,
                                         x -> e.value >= x))
               END::INT AS bucket
        FROM events e JOIN b ON b.event_type = e.event_type
    """
    d["dq_profile"] = """
        WITH base AS (SELECT * FROM documents)
        SELECT 'doc_id' AS column, count(*)::BIGINT AS n_rows,
               (count(*) - count(doc_id))::BIGINT AS n_null,
               round(1.0 - count(doc_id) * 1.0 / count(*), 6) AS null_rate,
               count(DISTINCT doc_id)::BIGINT AS n_distinct,
               min(doc_id)::VARCHAR AS min_value,
               max(doc_id)::VARCHAR AS max_value FROM base
        UNION ALL
        SELECT 'text', count(*), count(*) - count(text),
               round(1.0 - count(text) * 1.0 / count(*), 6),
               count(DISTINCT text), min(text), max(text) FROM base
        UNION ALL
        SELECT 'lang', count(*), count(*) - count(lang),
               round(1.0 - count(lang) * 1.0 / count(*), 6),
               count(DISTINCT lang), min(lang), max(lang) FROM base
        UNION ALL
        SELECT 'source', count(*), count(*) - count(source),
               round(1.0 - count(source) * 1.0 / count(*), 6),
               count(DISTINCT source), min(source), max(source) FROM base
        UNION ALL
        SELECT 'n_chars', count(*), count(*) - count(n_chars),
               round(1.0 - count(n_chars) * 1.0 / count(*), 6),
               count(DISTINCT n_chars),
               min(n_chars)::VARCHAR, max(n_chars)::VARCHAR FROM base
    """
    d["dq_checks"] = """
        WITH base AS (SELECT * FROM documents)
        SELECT 'not_null' AS check, 'doc_id' AS column,
               (count(*) - count(doc_id))::BIGINT AS violations,
               (count(*) - count(doc_id)) = 0 AS passed FROM base
        UNION ALL
        SELECT 'unique', 'doc_id',
               (count(doc_id) - count(DISTINCT doc_id))::BIGINT,
               (count(doc_id) - count(DISTINCT doc_id)) = 0 FROM base
        UNION ALL
        SELECT 'in_range', 'n_chars',
               coalesce(sum(CASE WHEN n_chars IS NOT NULL
                          AND (n_chars < 1 OR n_chars > 100000)
                     THEN 1 ELSE 0 END), 0)::BIGINT,
               coalesce(sum(CASE WHEN n_chars IS NOT NULL
                          AND (n_chars < 1 OR n_chars > 100000)
                     THEN 1 ELSE 0 END), 0) = 0 FROM base
        UNION ALL
        SELECT 'allowed', 'lang',
               coalesce(sum(CASE WHEN lang IS NOT NULL
                          AND lang NOT IN ('en','de','fr','es','zh')
                     THEN 1 ELSE 0 END), 0)::BIGINT,
               coalesce(sum(CASE WHEN lang IS NOT NULL
                          AND lang NOT IN ('en','de','fr','es','zh')
                     THEN 1 ELSE 0 END), 0) = 0 FROM base
        UNION ALL
        SELECT 'matches', 'source',
               coalesce(sum(CASE WHEN source IS NOT NULL
                          AND NOT regexp_matches(source, '^src[0-9]+$')
                     THEN 1 ELSE 0 END), 0)::BIGINT,
               coalesce(sum(CASE WHEN source IS NOT NULL
                          AND NOT regexp_matches(source, '^src[0-9]+$')
                     THEN 1 ELSE 0 END), 0) = 0 FROM base
    """
    d["cohort_retention"] = """
        WITH f AS (
          SELECT user_id,
                 date_trunc('week', ts) AS p,
                 date_trunc('week', min(ts) OVER (PARTITION BY user_id))
                     AS cohort_ts
          FROM events
        ),
        m AS (
          SELECT cohort_ts::DATE AS cohort,
                 (date_diff('day', cohort_ts::DATE, p::DATE) / 7)::BIGINT
                     AS "offset",
                 count(DISTINCT user_id)::BIGINT AS n_active
          FROM f GROUP BY 1, 2
        )
        SELECT epoch(m.cohort::TIMESTAMP)::BIGINT AS cohort,
               m."offset", m.n_active,
               round(m.n_active * 1.0 / b.n_active, 6) AS retention
        FROM m JOIN (SELECT cohort, n_active FROM m WHERE "offset" = 0) b
          ON b.cohort = m.cohort
    """
    d["fuzzy_join"] = """
        WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 1000),
        snap AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END
                     AS text
          FROM base
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               levenshtein(a.text, b.text)::INT AS dist
        FROM base a JOIN snap b
          ON abs(length(a.text) - length(b.text)) <= 3
        WHERE levenshtein(a.text, b.text) <= 3
    """
    d["calibration"] = """
        WITH q AS (
          SELECT doc_id, lang,
                 length(text)::DOUBLE AS n_chars,
                 (CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                  END)::DOUBLE AS n_tokens,
                 (length(text)
                  - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                     AS n_punct,
                 (length(text)
                  - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE
                     AS n_upper,
                 len(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       w -> list_contains(
                              ['the','a','an','and','or','of','to','in',
                               'is','it','for','on','with','as','at','by',
                               'that','this'], w)))::DOUBLE AS n_stop
          FROM documents
        ),
        f AS (
          SELECT doc_id, lang,
                 n_chars / (CASE WHEN n_tokens > 0 THEN n_tokens
                                 ELSE 1.0 END) AS mwl,
                 n_punct / (CASE WHEN n_chars > 0 THEN n_chars
                                 ELSE 1.0 END) AS pr,
                 n_upper / (CASE WHEN n_chars > 0 THEN n_chars
                                 ELSE 1.0 END) AS ur,
                 n_stop / (CASE WHEN n_tokens > 0 THEN n_tokens
                                ELSE 1.0 END) AS sr,
                 ln(1.0 + n_tokens) AS lt
          FROM q
        ),
        scored AS (
          SELECT doc_id,
                 round(1.0 / (1.0 + exp(-(-1.0 + 6.0 * sr - 8.0 * pr
                                          - 4.0 * ur - 0.15 * mwl
                                          + 0.25 * lt))), 6) AS qs,
                 (lang = 'en')::INT AS label
          FROM f
        ),
        b AS (
          SELECT list_transform(
                   quantile_cont(qs, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                   x -> round(x, 6)) AS bs
          FROM scored
        )
        SELECT len(list_filter(b.bs, x -> s.qs >= x))::INT AS bucket,
               count(*)::BIGINT AS n,
               round(avg(s.qs), 6) AS mean_score,
               round(avg(s.label), 6) AS pos_rate
        FROM scored s CROSS JOIN b
        GROUP BY 1
    """
    d["corpus_cube"] = """
        SELECT coalesce(lang, '(all)') AS lang,
               coalesce(source, '(all)') AS source,
               count(*)::BIGINT AS n_docs,
               sum(n_chars)::BIGINT AS total_chars,
               round(avg(n_chars), 4) AS avg_chars
        FROM documents
        GROUP BY CUBE(lang, source)
    """
    d["ks_drift"] = """
        WITH va AS (
          SELECT round(value, 6) AS v, count(*)::DOUBLE AS n1
          FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
          GROUP BY 1
        ),
        vb AS (
          SELECT round(value, 6) AS v, count(*)::DOUBLE AS n2
          FROM events WHERE event_type <> 'purchase' AND value IS NOT NULL
          GROUP BY 1
        ),
        m AS (
          SELECT coalesce(va.v, vb.v) AS v,
                 coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2
          FROM va FULL OUTER JOIN vb ON va.v = vb.v
        ),
        c AS (
          SELECT v,
                 round(abs(sum(n1) OVER (ORDER BY v) / sum(n1) OVER ()
                         - sum(n2) OVER (ORDER BY v) / sum(n2) OVER ()), 6)
                     AS d,
                 sum(n1) OVER () AS na, sum(n2) OVER () AS nb
          FROM m
        )
        SELECT d AS ks_stat, v AS at_value,
               na::BIGINT AS n_a, nb::BIGINT AS n_b
        FROM c ORDER BY d DESC, v ASC LIMIT 1
    """
    # the bitmap prefilter is a superset screen re-verified by the exact
    # join — its oracle IS contamination's oracle (identical output)
    d["contamination_bitmap"] = d["contamination"]
    # both propagation rounds unrolled as CTEs; modal tie-break replayed
    # as row_number (count desc, label asc) — all integer/string exact
    d["label_propagation"] = r"""
        WITH seq AS (
          SELECT event_id % 500 AS src,
                 lead(event_id % 500) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS dst
          FROM events
        ),
        sym AS (
          SELECT DISTINCT s, d FROM (
            SELECT src AS s, dst AS d FROM seq
            WHERE dst IS NOT NULL AND src <> dst
            UNION ALL
            SELECT dst AS s, src AS d FROM seq
            WHERE dst IS NOT NULL AND src <> dst
          )
        ),
        seeds AS (
          SELECT doc_id AS id, lang AS label
          FROM documents WHERE doc_id % 7 = 0
        ),
        v1 AS (
          SELECT sym.s, c.label, count(*) AS cnt
          FROM sym JOIN seeds c ON sym.d = c.id
          GROUP BY sym.s, c.label
        ),
        m1 AS (
          SELECT s AS id, label FROM (
            SELECT s, label, row_number() OVER (
              PARTITION BY s ORDER BY cnt DESC, label ASC) AS rn
            FROM v1
          ) WHERE rn = 1
        ),
        cur1 AS (
          SELECT id, label FROM seeds
          UNION ALL
          SELECT id, label FROM m1
          WHERE id NOT IN (SELECT id FROM seeds)
        ),
        v2 AS (
          SELECT sym.s, c.label, count(*) AS cnt
          FROM sym JOIN cur1 c ON sym.d = c.id
          GROUP BY sym.s, c.label
        ),
        m2 AS (
          SELECT s AS id, label FROM (
            SELECT s, label, row_number() OVER (
              PARTITION BY s ORDER BY cnt DESC, label ASC) AS rn
            FROM v2
          ) WHERE rn = 1
        ),
        cur2 AS (
          SELECT id, label FROM seeds
          UNION ALL
          SELECT id, label FROM m2
          WHERE id NOT IN (SELECT id FROM seeds)
        )
        SELECT c.id::BIGINT AS id, c.label,
               (s.id IS NOT NULL) AS is_seed
        FROM cur2 c LEFT JOIN seeds s ON c.id = s.id
    """
    # an independent as-of formulation (correlated max-ts subquery) must
    # agree with the window join on the leakage audit's exact integers
    d["asof_leakage_audit"] = f"""
        WITH t AS ({_TRANSCRIPTS_SQL}),
        m AS (
          SELECT q.conv_id, q.ts,
                 (SELECT max(s.ts) FROM t s
                  WHERE s.conv_id = q.conv_id
                    AND s.tool IS NOT NULL
                    AND s.ts <= q.ts) AS matched_ts
          FROM t q
        )
        SELECT count(*)::BIGINT AS n_rows,
               count(matched_ts)::BIGINT AS n_matched,
               coalesce(sum(CASE WHEN matched_ts > ts
                                 THEN 1 ELSE 0 END), 0)::BIGINT
                   AS n_violations,
               max(epoch_us(matched_ts) - epoch_us(ts))::BIGINT
                   AS max_lead_us
        FROM m
    """
    # identical Java∩RE2 regex arithmetic re-run in DuckDB; the injected
    # damage makes both verdict branches non-vacuous
    d["encoding_quality"] = r"""
        WITH injected AS (
          -- inject BEFORE coalescing, mirroring the Spark query: its
          -- F.concat(NULL, markers) is NULL (as NULL || x is here), and
          -- only then does the operator coalesce NULL text to '' — so a
          -- NULL-text doc passes clean even on an injected doc_id
          SELECT doc_id,
                 CASE WHEN doc_id % 9 = 0
                      THEN text || '���' || chr(1) || chr(2) || chr(11)
                      ELSE text END AS text
          FROM documents
        ),
        coalesced AS (
          SELECT doc_id, coalesce(text, '') AS text FROM injected
        ),
        m AS (
          SELECT doc_id,
                 length(text) AS n_chars,
                 length(text) - length(regexp_replace(text, '�', '', 'g'))
                     AS n_repl,
                 length(text) - length(regexp_replace(text,
                     '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS n_ctrl
          FROM coalesced
        )
        SELECT doc_id,
               n_chars::BIGINT AS n_chars,
               n_repl::BIGINT AS n_replacement,
               n_ctrl::BIGINT AS n_control,
               round(CASE WHEN n_chars > 0
                          THEN n_repl / n_chars ELSE 0 END, 6)
                   AS replacement_ratio,
               round(CASE WHEN n_chars > 0
                          THEN n_ctrl / n_chars ELSE 0 END, 6)
                   AS control_ratio,
               ((CASE WHEN n_chars > 0 THEN n_repl / n_chars ELSE 0 END)
                   <= 0.001
                AND (CASE WHEN n_chars > 0 THEN n_ctrl / n_chars ELSE 0 END)
                   <= 0.001) AS encoding_ok
        FROM m
    """
    # largest-remainder apportionment + per-stratum md5 rank; all-integer
    # quota arithmetic, so membership replays exactly
    d["exact_stratified"] = r"""
        WITH c AS (
          SELECT coalesce(lang, '<NULL>') AS s, count(*) AS cnt
          FROM documents GROUP BY 1
        ),
        t AS (SELECT sum(cnt) AS n FROM c),
        ap AS (
          SELECT s, cnt,
                 (40*cnt) // n AS base,
                 row_number() OVER (
                   ORDER BY (40*cnt) % n DESC, cnt DESC, s ASC) AS rr,
                 40 - sum((40*cnt) // n) OVER () AS extra
          FROM c CROSS JOIN t
        ),
        alloc AS (
          SELECT s, base + CASE WHEN rr <= extra THEN 1 ELSE 0 END AS n_k
          FROM ap
        ),
        ranked AS (
          SELECT doc_id, lang,
                 row_number() OVER (
                   PARTITION BY coalesce(lang, '<NULL>')
                   ORDER BY ('0x' || substr(md5('42:' ||
                       CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                     doc_id) AS rk
          FROM documents
        )
        SELECT r.doc_id, r.lang
        FROM ranked r JOIN alloc a ON coalesce(r.lang, '<NULL>') = a.s
        WHERE r.rk <= a.n_k
    """
    # iterative k-means is oracle-able because it is exact-integer
    # end-to-end: the CTE chain replays every iteration verbatim
    d["kmeans_cells"] = _kmeans_oracle_sql(k=8, iters=3, dim=64)
    # exact-integer centroid sums make the drift statistic replayable;
    # the 6dp rounding absorbs the sole remaining float-sum-order slack
    d["embedding_drift"] = r"""
        WITH ref AS (
          SELECT list_transform(embedding,
                   v -> CAST(floor(CAST(v AS DOUBLE)*1000 + 0.5)
                             AS BIGINT)) AS x
          FROM embeddings WHERE vec_id % 2 = 0
        ),
        cur AS (
          SELECT list_transform(embedding,
                   v -> CAST(floor((CAST(v AS DOUBLE)*1.02 + 0.03)*1000
                                   + 0.5) AS BIGINT)) AS x
          FROM embeddings WHERE vec_id % 2 = 1
        ),
        ra AS (SELECT i, sum(x[i+1]) AS s, count(*) AS n
               FROM ref CROSS JOIN range(64) t(i) GROUP BY i),
        ca AS (SELECT i, sum(x[i+1]) AS s, count(*) AS n
               FROM cur CROSS JOIN range(64) t(i) GROUP BY i),
        j AS (SELECT CAST(ra.s AS DOUBLE)/CAST(ra.n AS DOUBLE) AS a,
                     CAST(ca.s AS DOUBLE)/CAST(ca.n AS DOUBLE) AS b,
                     ra.n AS nr, ca.n AS nc
              FROM ra JOIN ca USING (i)),
        agg AS (SELECT sum((a-b)*(a-b)) AS d2, sum(a*b) AS ab,
                       sum(a*a) AS aa, sum(b*b) AS bb,
                       -- COALESCE so an empty snapshot reports count 0
                       -- (matching Spark's global-agg count), not NULL —
                       -- the per-dimension join CTE has zero rows then
                       coalesce(max(nr), 0) AS n_ref,
                       coalesce(max(nc), 0) AS n_cur
                FROM j)
        SELECT round(sqrt(d2), 6) AS l2_shift,
               round(ab/(sqrt(aa)*sqrt(bb)), 6) AS cosine_sim,
               CAST(n_ref AS BIGINT) AS n_ref,
               CAST(n_cur AS BIGINT) AS n_cur
        FROM agg
    """
    # the chunked mega-conversation hatches compute IDENTICAL output to
    # their single-task twins (pinned in pytest) — same oracles, so the
    # driver hash-checks the chunked physical plans each round too
    d["sft_pairs_chunked"] = d["sft_pairs"]
    d["turn_edit_chunked"] = d["turn_edit_dist"]
    return d

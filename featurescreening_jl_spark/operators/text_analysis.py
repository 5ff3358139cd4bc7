"""Text-analysis operators for large-scale training-data pipelines.

All pure built-in ``pyspark.sql.functions`` column expressions — JVM-side,
whole-stage-codegen'd, no Python in the hot path. Each returns columns, so
they compose into a single projection over the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "token_count",
    "quality_features",
    "language_id",
    "fingerprint",
    "document_features",
    "tfidf_top_terms",
    "bm25_topk",
    "winnow_fingerprints",
    "winnow_candidate_pairs",
    "repetition_stats",
    "pii_stats",
    "redact_pii",
    "quality_score",
    "chunk_documents",
    "token_length_histogram",
    "length_quantiles",
    "mask_repeated_ngrams",
    "strip_markup",
    "pmi_bigrams",
    "shannon_entropy",
    "entropy_features",
    "encoding_quality",
]

# Fixed public weights for the logistic quality scorer — a C4/Gopher-style
# heuristic filter (favor stopword-bearing, prose-length text; penalize
# punctuation/caps noise), NOT a learned model. Frozen so the score is a
# deterministic, engine-portable function of the text.
_QUALITY_LOGISTIC = {
    "bias": -1.0,
    "stopword_ratio": 6.0,
    "punct_ratio": -8.0,
    "upper_ratio": -4.0,
    "mean_word_len": -0.15,
    "log1p_tokens": 0.25,
}

# PII patterns shared by pii_stats / redact_pii. Deliberately restricted
# to the regex subset BOTH Java (Spark codegen) and RE2 (DuckDB, Go
# engines) support — no backreferences, no lookarounds — so redaction is
# engine-portable and oracle-checkable. Order matters: emails first
# (an email must not first lose its digits to the phone pattern).
_PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
]

# tiny per-language stopword marker sets for the n-gram language heuristic
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "des", "est"],
}

_EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for",
    "on", "with", "as", "at", "by", "that", "this",
]


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty strings)."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored token estimate: split on word/number/punctuation
    boundaries (a regex proxy for subword tokenizers — counts runs of
    letters, runs of digits, and individual punctuation marks)."""
    pieces = F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"), 0)
    return F.size(pieces)


def quality_features(text: Column) -> dict[str, Column]:
    """Quality-scoring signals: length, mean word length, punctuation
    ratio, uppercase ratio, stopword ratio, all-caps-ness."""
    n_chars = F.length(text).cast("double")
    n_tokens = token_count(text).cast("double")
    safe_chars = F.when(n_chars > 0, n_chars).otherwise(F.lit(1.0))
    safe_tokens = F.when(n_tokens > 0, n_tokens).otherwise(F.lit(1.0))
    n_punct = (
        n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    ).cast("double")
    n_upper = (
        F.length(text) - F.length(F.regexp_replace(text, r"[A-Z]", ""))
    ).cast("double")
    words = F.split(F.lower(F.trim(text)), r"\s+")
    n_stop = F.size(
        F.filter(words, lambda w: w.isin(*_EN_STOPWORDS))
    ).cast("double")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_word_len": n_chars / safe_tokens,
        "punct_ratio": n_punct / safe_chars,
        "upper_ratio": n_upper / safe_chars,
        "stopword_ratio": n_stop / safe_tokens,
    }


def language_id(text: Column) -> Column:
    """Marker-word language heuristic: the language whose marker words occur
    most often wins; 'und' (undetermined) when nothing matches."""
    words = F.split(F.lower(text), r"\s+")

    def marker_score(markers: list[str]):
        return F.size(F.filter(words, lambda w: w.isin(*markers)))

    scores = [(lang, marker_score(m)) for lang, m in _LANG_MARKERS.items()]
    best = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    # reversed so earlier languages win ties (deterministic)
    for lang, score in reversed(scores):
        expr = F.when((score == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(text: Column, normalize: bool = True) -> Column:
    """64-bit document fingerprint: xxhash64 over whitespace/case-normalized
    text. Stable across partitions and runs (pure function of content)."""
    t = text
    if normalize:
        t = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.xxhash64(t)


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_term_len: int = 1,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf-idf.

    tf = raw term count in the doc; idf = ln(N / df) with N = number of
    documents and df = documents containing the term (plain idf — terms in
    every doc score exactly 0 and self-eliminate from the top-k). Ties
    break by term asc, so the result is a deterministic set.

    Dataflow, sized for corpus scale — the text is TOKENIZED EXACTLY ONCE:
    tokenize+explode is map-side; term frequencies aggregate per
    (doc, term) with map-side partial combine BEFORE anything shuffles
    (raw token occurrences never cross the wire); document frequencies
    are a ``count() over (partition by term)`` window ON the tf table —
    tf rows are unique per (doc, term), so the partition size IS df, and
    expressing it as a window instead of a groupBy+self-join avoids
    re-deriving (and re-tokenizing) the tf lineage a second time. N joins
    in as a broadcast 1-row aggregate over just the id column (a pruned
    scan, no Generate, no driver action). Top-k per doc is a window that
    plans WindowGroupLimit (per-partition top-k pushdown before the final
    shuffle).
    """
    term = F.explode(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+")
    ).alias("term")
    terms = df.select(F.col(id_col), term).where(
        F.length("term") >= min_term_len
    )
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.agg(F.countDistinct(id_col).alias("__n"))
    scored = (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * F.log(F.col("__n").cast("double") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "rank")
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "fingerprints",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every character ``k``-gram of the normalized
    text, slide a window of ``w`` consecutive gram hashes, keep each
    window's MINIMUM — the selected hash set is the fingerprint. The
    guarantee: any shared substring of length ≥ ``w + k − 1`` between two
    documents yields a shared fingerprint, so substring-level overlap is
    detectable from a set ~1/w the size of the gram stream (the whole-text
    ``fingerprint()`` above detects only exact-document duplicates).

    Adds ``out_col``: a sorted, distinct ``array<string>`` of 15-hex-char
    md5 prefixes. Entirely higher-order-function expressions over each
    row — no UDF, no shuffle; per-row cost O(len·w). Fingerprints stay
    STRINGS deliberately: fixed-width hex compares lexicographically ==
    numerically, every engine reproduces ``substr(md5(x), 1, 15)``
    byte-for-byte, and converting to BIGINT per gram (``conv``) measured
    ~10× the cost of the md5 itself inside a higher-order lambda
    (interpreted per element, not codegen).

    Short-text edges (both deliberate, both oracle-pinned): text shorter
    than ``k`` → empty fingerprint; fewer than ``w`` grams → one window
    over all grams (min of what exists).
    """
    t = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")

    def grams_of(tt):
        # tt is a LAMBDA VARIABLE (array(t) binding): referencing the raw
        # regexp_replace expression inside the per-gram lambda would make
        # HOF eval re-run the regexp for EVERY gram position — O(len²)
        # per document (same trap class as the winnow() binding below).
        n_grams = F.length(tt) - F.lit(k) + 1
        return F.when(
            n_grams >= 1,
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: F.substring(F.md5(tt.substr(i, F.lit(k))), 1, 15),
            ),
        ).otherwise(F.array().cast("array<string>"))

    grams = F.element_at(F.transform(F.array(t), grams_of), 1)

    def winnow(g):
        # g is a LAMBDA VARIABLE bound to the computed gram array — NOT a
        # column reference. Load-bearing: putting grams in a column and
        # referencing it here lets CollapseProject (triggered e.g. by a
        # downstream explode) inline the whole md5-gram expression into
        # every per-window lambda element — measured O(len²) md5
        # re-evaluation, ~1 s/row on 300-char docs. Binding through
        # transform(array(grams), g -> …) makes per-element inlining
        # structurally impossible: the array constructor evaluates once
        # per row no matter what the optimizer collapses.
        n_wins = F.greatest(F.size(g) - F.lit(w) + 1, F.lit(1))
        return F.when(
            F.size(g) >= 1,
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), n_wins),
                        lambda j: F.array_min(F.slice(g, j, w)),
                    )
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    fps = F.element_at(F.transform(F.array(grams), winnow), 1)
    return df.withColumn(out_col, fps)


def winnow_candidate_pairs(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared: int = 1,
    max_fp_df: int | None = None,
) -> DataFrame:
    """Substring-overlap candidate pairs: documents sharing ≥
    ``min_shared`` winnow fingerprints, found by exploding fingerprints
    and self-joining on the VALUE — bucketed like every other dedup join
    here, never all-pairs. ``max_fp_df`` drops (and logs) fingerprints
    shared by more than that many docs — boilerplate guards, mirroring
    ``dedup._cap_buckets`` semantics (shared-count becomes a lower
    bound, pairs are never falsely emitted above the cap)."""
    # explode_outer + null-filter, NOT explode: InferFiltersFromGenerate
    # turns a plain explode into a size(child)>0 filter that pushdown then
    # rewrites through the projection — textually duplicating the whole
    # winnow expression into a Filter evaluated for EVERY input row
    # (measured 7× on a 10%-selective input). explode_outer doesn't
    # trigger the rule; the null filter above the Generate is free.
    fp = (
        winnow_fingerprints(df, k, w, id_col=id_col, text_col=text_col)
        .select(id_col, F.explode_outer("fingerprints").alias("fp"))
        .where(F.col("fp").isNotNull())
    )
    if max_fp_df is not None:
        from featurescreening_jl_spark.operators.dedup import _cap_buckets

        fp = _cap_buckets(fp, ["fp"], max_fp_df, "winnow_candidate_pairs")
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.fp") == F.col("b.fp"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def repetition_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Within-document repetition signals (the Gopher/MassiveText quality
    filters: Rae et al. 2021, table A1): fraction of lines that are
    duplicates of another line in the same document, fraction of
    CHARACTERS inside such duplicated lines, and the fraction of all word
    bigrams taken by the single most frequent bigram. High values mark
    boilerplate, scraped navigation chrome, and degenerate repetition —
    standard kill rules for LLM training corpora.

    Returns ``(id_col, n_lines, dup_line_frac, dup_line_char_frac,
    n_bigrams, top_bigram_frac)`` — one row per input row.

    Scale design: this is a PURE PER-ROW function, so it is computed
    entirely map-side with higher-order array expressions — zero
    shuffles, zero UDFs, embarrassingly parallel at any corpus size (the
    naive formulation — explode lines/bigrams and groupBy — would shuffle
    a multiple of the corpus's text; here nothing leaves the scan
    partition). Per-row cost is O(len · log len) for the two array sorts.

    Semantics pinned by the DuckDB oracle: a "line" is a trimmed,
    non-empty segment of a ``\\n`` split; line identity is exact string
    equality of the trimmed line; a line is duplicated iff it occurs ≥2
    times in ITS OWN document (every occurrence counts toward the
    numerator, matching Gopher's "fraction of lines duplicated").
    Bigrams come from the whitespace-normalized lowercased token stream
    and are counted with multiplicity. Documents with no lines (empty
    text) or fewer than two tokens report 0 counts and 0.0 fractions.
    """
    text = F.col(text_col)

    # --- duplicate-line stats over the sorted line array -----------------
    lines = F.filter(
        F.transform(F.split(text, r"\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    sl = F.array_sort(lines)
    n_lines = F.size(sl)

    def line_stats(arr):
        # arr is a lambda variable (array(sl) binding — see the winnow
        # operator for why: CollapseProject would otherwise inline the
        # sort into every per-index lambda element, O(len²)).
        n = F.size(arr)

        def is_dup(i):
            # duplicate iff equal to a sorted neighbor; F.get returns
            # NULL out of range (never errors, unlike ANSI element_at)
            return F.coalesce(F.get(arr, i) == F.get(arr, i - 1), F.lit(False)) | F.coalesce(
                F.get(arr, i) == F.get(arr, i + 1), F.lit(False)
            )

        zero = F.struct(
            F.lit(0).cast("long").alias("dup_cnt"),
            F.lit(0).cast("long").alias("dup_chars"),
            F.lit(0).cast("long").alias("tot_chars"),
        )
        return F.when(
            n > 0,
            F.aggregate(
                F.sequence(F.lit(0), n - 1),
                zero,
                lambda acc, i: F.struct(
                    (acc["dup_cnt"] + F.when(is_dup(i), 1).otherwise(0))
                    .cast("long")
                    .alias("dup_cnt"),
                    (
                        acc["dup_chars"]
                        + F.when(is_dup(i), F.length(F.get(arr, i))).otherwise(0)
                    )
                    .cast("long")
                    .alias("dup_chars"),
                    (acc["tot_chars"] + F.length(F.get(arr, i)))
                    .cast("long")
                    .alias("tot_chars"),
                ),
            ),
        ).otherwise(zero)

    lstats = F.element_at(
        F.transform(F.array(sl), line_stats), 1
    )

    # --- top-bigram fraction over the sorted bigram array ----------------
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "), " "
    )

    def bigram_array(tk):
        # tk is a LAMBDA VARIABLE (array(toks) binding): referencing the
        # raw `toks` expression inside the per-index lambda would embed
        # the full split(regexp_replace(...)) in the lambda body, which
        # HOF eval re-computes for EVERY element — O(len · n_tokens) per
        # document (measured 24 s → 4 s at sf0.1 for this operator).
        return F.when(
            F.size(tk) >= 2,
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(1), F.size(tk) - 1),
                    lambda i: F.concat_ws(" ", F.slice(tk, i, 2)),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    bigrams = F.element_at(F.transform(F.array(toks), bigram_array), 1)

    def run_stats(bg):
        # longest run of equal adjacent elements in the sorted array =
        # the max multiplicity of any bigram; single fold, no second sort
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        )
        return F.aggregate(
            bg,
            init,
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1)
                .otherwise(F.lit(1).cast("long"))
                .alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(
                        F.lit(1).cast("long")
                    ),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )

    top_run = F.element_at(F.transform(F.array(bigrams), run_stats), 1)
    n_bigrams = F.size(bigrams)

    safe = lambda d: F.when(d > 0, d.cast("double")).otherwise(F.lit(1.0))  # noqa: E731
    return df.select(
        F.col(id_col),
        n_lines.cast("long").alias("n_lines"),
        (lstats["dup_cnt"].cast("double") / safe(n_lines)).alias("dup_line_frac"),
        (
            lstats["dup_chars"].cast("double") / safe(lstats["tot_chars"])
        ).alias("dup_line_char_frac"),
        n_bigrams.cast("long").alias("n_bigrams"),
        (top_run.cast("double") / safe(n_bigrams)).alias("top_bigram_frac"),
    )


def quality_score(text: Column) -> Column:
    """Deterministic logistic quality score in (0, 1): sigmoid of a fixed
    linear combination (``_QUALITY_LOGISTIC``) of the
    :func:`quality_features` signals plus ``ln(1 + n_tokens)``. The
    heuristic-filter stage of a C4/Gopher-style pipeline — rank or
    threshold documents before training. Pure codegen expression; the
    identical closed form runs in any SQL engine (oracle-checked)."""
    q = quality_features(text)
    w = _QUALITY_LOGISTIC
    z = (
        F.lit(w["bias"])
        + w["stopword_ratio"] * q["stopword_ratio"]
        + w["punct_ratio"] * q["punct_ratio"]
        + w["upper_ratio"] * q["upper_ratio"]
        + w["mean_word_len"] * q["mean_word_len"]
        + w["log1p_tokens"] * F.log1p(q["n_tokens"])
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def pii_stats(text: Column) -> dict[str, Column]:
    """Per-document PII match counts (emails, IPv4 addresses, US-style
    phone numbers) — the audit side of privacy filtering: route documents
    above a threshold to review/drop before training. Counts are taken on
    the ORIGINAL text, each pattern independently."""
    return {
        f"n_{name}": F.size(F.regexp_extract_all(text, F.lit(pat), 0))
        for name, pat, _ in _PII_PATTERNS
    }


def redact_pii(text: Column) -> Column:
    """Replace every PII match with its placeholder token (``<EMAIL>``,
    ``<IP>``, ``<PHONE>``), patterns applied in a fixed order (emails
    before phones, so an address never loses its digits first). A pure
    chain of ``regexp_replace`` — JVM-side codegen, one pass per pattern,
    no UDF; engine-portable regexes (see ``_PII_PATTERNS``)."""
    out = text
    for _, pat, token in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def document_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full text-analysis feature set to a document table."""
    text = F.col(text_col)
    out = df
    for name, col in quality_features(text).items():
        out = out.withColumn(name, col)
    return (
        out.withColumn("lang_pred", language_id(text))
        .withColumn("fingerprint", fingerprint(text))
        .withColumn("bpe_ish_tokens", bpe_ish_token_count(text).cast("double"))
    )


def chunk_documents(
    df: DataFrame,
    chunk_chars: int = 512,
    overlap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into fixed-size overlapping character chunks —
    the context-window prep step for embedding/retrieval pipelines (and
    the row-explosion dual of sequence packing in packing.py).

    Chunk ``i`` covers characters ``[i*stride, i*stride + chunk_chars)``
    with ``stride = chunk_chars - overlap``; the last chunk is the first
    one whose window reaches the end of the document (so every character
    lands in ≥1 chunk and no chunk starts past the end). A document
    shorter than ``chunk_chars`` (including empty) yields exactly one
    chunk.

    Pure map-side plan — ``sequence`` → ``explode`` → ``substring``,
    no shuffle, no UDF: at 100 TB this runs entirely inside the scan
    stage and parallelizes with the input splits.

    Output: ``id_col``, ``chunk_idx`` (0-based), ``chunk_start``
    (0-based char offset), ``chunk_text``.
    """
    if overlap >= chunk_chars:
        raise ValueError(
            f"overlap ({overlap}) must be < chunk_chars ({chunk_chars})"
        )
    stride = chunk_chars - overlap
    n = F.length(F.col(text_col))
    last = F.when(n <= chunk_chars, F.lit(0)).otherwise(
        F.ceil((n - chunk_chars) / F.lit(stride)).cast("int")
    )
    return (
        df.select(
            id_col,
            F.col(text_col).alias("__t"),
            F.explode(F.sequence(F.lit(0), last)).alias("chunk_idx"),
        )
        .select(
            id_col,
            "chunk_idx",
            (F.col("chunk_idx").cast("bigint") * stride).alias("chunk_start"),
            F.substring(
                F.col("__t"),
                F.col("chunk_idx") * stride + 1,
                F.lit(chunk_chars),
            ).alias("chunk_text"),
        )
    )


def token_length_histogram(
    df: DataFrame,
    bucket_tokens: int = 64,
    max_bucket: int = 31,
    text_col: str = "text",
) -> DataFrame:
    """Token-length distribution of a corpus: fixed-width buckets of
    ``bucket_tokens`` whitespace tokens, clamped to ``max_bucket`` (the
    overflow bucket), with per-bucket document counts and token totals.
    The first thing to look at before choosing packing/truncation
    budgets; one hash aggregate (map-side partials), integer-exact in
    any engine.

    Output: ``bucket`` (0-based), ``lo_tokens`` (inclusive lower edge),
    ``n_docs``, ``sum_tokens``.
    """
    t = token_count(F.col(text_col)).cast("long")
    bucket = F.least(
        F.floor(t / F.lit(bucket_tokens)), F.lit(max_bucket)
    ).cast("int")
    return (
        df.select(bucket.alias("bucket"), t.alias("__t"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__t").alias("sum_tokens"),
        )
        .select(
            "bucket",
            (F.col("bucket").cast("long") * bucket_tokens).alias("lo_tokens"),
            "n_docs",
            "sum_tokens",
        )
    )


def length_quantiles(
    df: DataFrame,
    by: str = "lang",
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
    text_col: str = "text",
    approx: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Token-count quantiles per group — the corpus-sizing companion to
    :func:`token_length_histogram`: histograms show the shape, quantiles
    give the cut points packing/truncation budgets are set from.

    ``approx=False`` (default): EXACT quantiles (linear interpolation,
    the ``quantile_cont`` definition) — engine-portable (DuckDB
    ``quantile_cont`` reproduces it bit-for-bit); costs a per-group sort
    bounded by the group's row count. This is the verifier form.

    ``approx=True``: the 100-TB path — ``F.approx_percentile``
    (Greenwald-Khanna sketch: mergeable, map-side partials, no per-group
    sort; rank error ≤ 1/``accuracy``). Same output shape; returned
    quantiles are actual data values (no interpolation), so they differ
    from the exact form by at most the value spacing at the quantile
    plus rank error — pinned against the exact form in
    ``tests/test_corpus_prep.py`` on skewed data.

    Output: ``by``, ``p<prob>`` per requested quantile (double),
    ``n_docs``.
    """
    t = token_count(F.col(text_col)).cast("double")

    def q(p: float):
        if approx:
            return F.approx_percentile(
                F.col("__t"), F.lit(float(p)), F.lit(int(accuracy))
            ).cast("double")
        return F.percentile(F.col("__t"), F.lit(float(p)))

    aggs = [
        q(p).alias(f"p{str(p)[2:].ljust(2, '0')}") for p in probs
    ]
    return (
        df.select(F.col(by), t.alias("__t"))
        .groupBy(by)
        .agg(*aggs, F.count(F.lit(1)).alias("n_docs"))
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-``k`` documents per query — the lexical-retrieval
    operator a training-data pipeline uses for eval-set decontamination
    sweeps, dedup candidate generation, and corpus search (the ranked
    counterpart of the set-overlap `decontam` operator).

    score(q, d) = Σ_t qtf·idf(t)·tf·(k1+1) / (tf + k1·(1−b+b·len/avglen))
    with idf = ln(1 + (N − df + ½)/(df + ½)) — the standard
    Robertson–Sparck Jones form, always positive.

    Dataflow at corpus scale: documents are tokenized EXACTLY ONCE into
    the per-(doc, term) tf table (map-side combine before the shuffle,
    same shape as ``tfidf_top_terms``); per-term df is a window on the tf
    table; doc length and corpus stats (N, avglen) ride in as broadcast
    1-row aggregates. The QUERY side is small by nature and broadcasts
    into the tf table, so the corpus never shuffles for the join; scores
    aggregate per (query, doc) and the final top-k is a WindowGroupLimit
    window. Ties break (score desc, doc id asc) — deterministic.
    """
    term = F.explode(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+")
    ).alias("term")
    terms = docs.select(F.col(id_col), term).where(F.length("term") >= 1)
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # doc length and corpus stats both DERIVE FROM the tf table — the
    # text is tokenized exactly once, and the per-doc rollup is a
    # map-side-combined aggregate over (doc, term) partials
    dlen = tf.groupBy(id_col).agg(F.sum("tf").alias("dlen"))
    stats = dlen.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg(F.col("dlen").cast("double")).alias("__avg"),
    )

    qterm = F.explode(
        F.split(F.lower(F.col(query_text_col)), r"[^a-z0-9]+")
    ).alias("term")
    qterms = (
        queries.select(F.col(query_id_col), qterm)
        .where(F.length("term") >= 1)
        .groupBy(query_id_col, "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
    )

    tfd = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    joined = (
        tfd.join(F.broadcast(qterms), "term")
        .join(dlen, id_col)
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b) * (F.col("dlen") / F.col("__avg"))
        )
    )
    scored = joined.groupBy(query_id_col, id_col).agg(
        F.sum(F.col("qtf") * idf * tf_part).alias("score")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


def mask_repeated_ngrams(
    docs: DataFrame,
    n: int = 4,
    min_df: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_boiler: bool = True,
) -> DataFrame:
    """Corpus-level repeated-span removal (CCNet-style line/boilerplate
    dedup, ExactSubstr-flavored): delete every word ``n``-gram span that
    occurs in at least ``min_df`` DISTINCT documents, and reassemble each
    document from its surviving words. This is the "strip the boilerplate
    that repeats across the crawl" stage of a training-data pipeline —
    navigation chrome, subscription prompts, license footers — which
    per-document dedup (MinHash/SimHash over whole docs) cannot touch.

    Scale shape (the 100 TB design):

    - grams are shuffled as 64-bit ``xxhash64`` keys, never strings — the
      document-frequency aggregate and the positions⋈boilerplate join move
      ``(hash, id, pos)`` triples only. A hash collision can only ever
      mask one extra span (never corrupt counting correctness classes);
      for 10^12-gram corpora swap in a 128-bit key (two seeded xxhash64
      columns) to push expected collisions below 1.
    - document frequency is ``countDistinct`` per gram hash — map-side
      partial aggregation; the boilerplate set (df ≥ min_df) is tiny
      relative to the gram table, and AQE broadcast-joins it back.
    - per-document coverage is a ``collect_list`` of span starts (bounded
      by words-per-doc) and a word-level higher-order-function filter —
      no Python, no window, one shuffle for the df-agg + one for the
      coverage group.

    The token array is PROJECTED as a real column before any per-index
    lambda touches it (a DataFrame-level operator can afford a
    ``withColumn``, unlike the Column-level ``shingles()`` which needs
    the ``transform(array(x), f)`` binding trick): the lambdas then
    reference a plain attribute, which both evaluates ``split()`` once
    per row AND keeps the generated code small — the nested-binding form
    of this operator compiled ~3× slower cold (16.8 s vs 6.2 s first run
    at sf0.1) for identical steady-state semantics.

    Output: one row per input document — ``id_col``, ``text_clean`` (the
    document with boilerplate spans removed), ``n_words`` (before),
    ``n_words_removed``.
    """
    base = docs.withColumn("__ws", F.split(F.col(text_col), " "))
    ws = F.col("__ws")

    gram_arr = F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - n),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(ws, i + 1, n))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))

    grams = base.select(
        F.col(id_col), F.posexplode(gram_arr).alias("pos", "__gh")
    )

    boiler = (
        grams.groupBy("__gh")
        .agg(F.countDistinct(id_col).alias("__df"))
        .where(F.col("__df") >= min_df)
        .select("__gh")
    )

    # the boilerplate gram set is the structurally small side (distinct
    # grams with df ≥ min_df, 8 bytes each) — broadcasting it explicitly
    # keeps the grams table's only shuffle the df-aggregate AND skips the
    # AQE materialize→observe→re-plan→re-compile round-trip (measured
    # 16.9 s → 3.7 s cold at sf0.1). Pass broadcast_boiler=False if the
    # boilerplate set itself can exceed broadcast size (≳10^7 grams).
    boiler_side = F.broadcast(boiler) if broadcast_boiler else boiler
    starts = (
        grams.join(boiler_side, "__gh")
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("__starts"))
    )

    st = F.coalesce(F.col("__starts"), F.array().cast("array<int>"))
    cleaned = F.filter(
        ws,
        lambda w, i: ~F.exists(st, lambda s: (i >= s) & (i < s + n)),
    )
    return (
        base.join(starts, id_col, "left")
        .select(
            id_col,
            F.concat_ws(" ", cleaned).alias("text_clean"),
            F.size(ws).cast("long").alias("n_words"),
            (F.size(ws) - F.size(cleaned)).cast("long").alias(
                "n_words_removed"
            ),
        )
    )


def strip_markup(col: Column | str) -> Column:
    """HTML/markup removal as ONE codegen'd regexp chain — the
    web-extraction step of corpus preparation (trafilatura/jusText-class
    tools do layout-aware extraction; this is the declarative engine-side
    fallback that runs at full scan speed with no Python):

    1. drop ``<script>``/``<style>`` elements WITH their payload (code and
       CSS must not leak into training text),
    2. drop HTML comments ``<!-- … -->``,
    3. turn ``<br>``/``</p>``/``</div>``/``</li>`` into newlines
       (block-level separators carry whitespace meaning),
    4. strip every remaining tag,
    5. unescape the six ubiquitous entities
       (``&amp; &lt; &gt; &quot; &#39; &nbsp;``),
    6. collapse runs of whitespace and trim.

    Every pattern is shared Java-regex/RE2 syntax (non-greedy ``.*?`` with
    an ``(?is)`` prefix), so a SQL oracle reproduces the output
    byte-for-byte. Pure expression: compose under ``select`` — zero
    shuffles, zero UDFs.
    """
    c = F.col(col) if isinstance(col, str) else col
    # two patterns, not one with a backreference: RE2 (the oracle engine)
    # has no backreferences, and script-inside-style is not valid HTML
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"(?i)<(br|/p|/div|/li)\s*/?>", "\n")
    c = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def pmi_bigrams(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Corpus-level collocation mining: top-``top_k`` adjacent word pairs
    by pointwise mutual information, ``pmi = ln(p(x,y) / (p(x)·p(y)))``
    with ``p(x,y) = c_xy/N₂`` over bigram occurrences and ``p(x) = c_x/N₁``
    over token occurrences. The standard phrase-detection signal
    (word2vec's phrase pass, NLTK collocations) — here as a pure
    DataFrame aggregation pipeline.

    Shape at scale: tokens and bigrams explode map-side with partial
    aggregation, so the two count shuffles carry (term, partial-count)
    pairs — vocabulary-sized, not corpus-sized. The unigram↔bigram joins
    key on single tokens (vocabulary-sized both sides; AQE picks
    broadcast when one side fits). ``min_count`` prunes the long tail
    BEFORE the joins. The two grand totals are single-row aggregates
    cross-broadcast into the expression. Final ordering is a top-k
    (TakeOrdered), never a global sort.

    PMI is computed as a sum/difference of ``ln`` over EXACT integer
    counts and rounded to 6 dp — portable to the SQL oracle without a
    fused streaming aggregate, and immune to the ``c_xy·N₁²`` int64
    overflow a ratio-form would hit at web scale.
    """
    toks_expr = F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " "
    )
    base = df.select(toks_expr.alias("__tk")).where(F.size("__tk") > 0)

    def bigram_array(tk):
        # lambda-variable binding (see bigram_array in repetition_stats):
        # keeps the split(...) out of the per-index lambda body so HOF
        # eval computes it once per row, not once per element
        return F.when(
            F.size(tk) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - 1),
                lambda i: F.concat_ws(" ", F.slice(tk, i, 2)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    uni = (
        base.select(F.explode("__tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    bi = (
        base.select(
            F.explode(
                F.element_at(F.transform(F.array(F.col("__tk")), bigram_array), 1)
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .where(F.col("c_xy") >= min_count)
    )
    n1 = uni.agg(F.sum("c_w").alias("n1"))
    n2 = bi.agg(F.sum("c_xy").alias("n2"))
    parts = F.split(F.col("bigram"), " ", 2)
    scored = (
        bi.withColumn("w1", F.element_at(parts, 1))
        .withColumn("w2", F.element_at(parts, 2))
        .join(uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_y")), "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "bigram",
            "c_xy",
            F.round(
                F.log("c_xy")
                + 2 * F.log("n1")
                - F.log("n2")
                - F.log("c_x")
                - F.log("c_y"),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("bigram")).limit(top_k)


def shannon_entropy(sorted_arr: Column) -> Column:
    """Shannon entropy (bits) of the value distribution of a SORTED array,
    as ONE run-length ``F.aggregate`` pass — no explode, no shuffle.

    Standard algebra: with run lengths ``r_i`` over the sorted array and
    ``n = Σ r_i``, ``H = -Σ (r_i/n)·log2(r_i/n) = log2(n) - (Σ r_i·log2(r_i))/n``,
    so a single left fold that detects run boundaries (``x != prev``) and
    accumulates ``r·log2(r)`` at each boundary computes it exactly.

    The argument MUST be an already-projected column holding a sorted
    array with no empty-string elements (project it once — passing the
    ``array_sort(...)`` expression inline would re-evaluate it per
    consumer, the HOF re-evaluation trap pinned in tests/test_plans.py).

    100 TB: map-only, whole-stage-codegen'd; entropy of a 100k-char doc
    is O(len) per row with zero extra rows materialized (the naive
    explode→groupBy doubles the dataset's row count per char).
    """
    n = F.size(sorted_arr)
    flush = lambda acc: F.when(
        acc["run"] > 0,
        acc["s"] + acc["run"].cast("double") * F.log2(acc["run"].cast("double")),
    ).otherwise(acc["s"])
    s = F.aggregate(
        sorted_arr,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0.0).alias("s"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(x == acc["prev"], acc["s"]).otherwise(flush(acc)).alias("s"),
        ),
        flush,
    )
    return F.when(
        n > 0, F.log2(n.cast("double")) - s / n.cast("double")
    ).otherwise(F.lit(0.0))


def entropy_features(
    df: DataFrame,
    *,
    id_cols: tuple[str, ...] = ("doc_id",),
    text_col: str = "text",
) -> DataFrame:
    """Per-document char- and token-level Shannon entropy (bits) — the
    classic low-information / degenerate-text signal (near-zero char
    entropy = single-char spam; low token entropy at high length =
    boilerplate repetition). Complements `repetition_stats` (n-gram
    level) and `quality_score` (heuristic logistic).

    Both entropies come from :func:`shannon_entropy` over once-projected
    sorted arrays — the whole operator is a two-step narrow projection
    (scan → sort arrays → fold), zero shuffles, zero Python.

    Output: ``id_cols…, n_chars, n_tokens, char_entropy, token_entropy``.
    """
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    chars = F.filter(F.split(F.col(text_col), ""), lambda x: x != "")
    projected = df.select(
        *[F.col(c) for c in id_cols],
        F.array_sort(chars).alias("__cs"),
        F.array_sort(toks).alias("__ts"),
    )
    return projected.select(
        *[F.col(c) for c in id_cols],
        F.size("__cs").cast("long").alias("n_chars"),
        F.size("__ts").cast("long").alias("n_tokens"),
        shannon_entropy(F.col("__cs")).alias("char_entropy"),
        shannon_entropy(F.col("__ts")).alias("token_entropy"),
    )


def encoding_quality(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_replacement_ratio: float = 0.001,
    max_control_ratio: float = 0.001,
) -> DataFrame:
    """Mojibake / binary-junk gate — the encoding-hygiene check that runs
    BEFORE the linguistic quality filters (a page decoded with the wrong
    charset scores fine on length/stopword heuristics while being
    garbage): per document, counts of U+FFFD replacement characters
    (the universal "decode failed here" marker) and C0 control
    characters (excluding tab/newline/carriage-return — their presence
    means binary content leaked into the text column), their ratios to
    character length, and a boolean verdict against the caller's
    thresholds (empty documents pass: no evidence of damage). NULL text
    is coalesced to the empty string first, so it takes the same
    all-zeros / ``encoding_ok = true`` row as an empty document — never
    a half-NULL half-0.0 output (a NULL ``n_chars`` would make the
    ``n_chars > 0`` ratio guards NULL-false while the counts stayed
    NULL, an internally inconsistent verdict).

    Pure ``length(text) - length(regexp_replace(...))`` arithmetic over
    shared Java-regex/RE2 character classes — map-only, zero shuffles,
    zero UDFs, engine-replayable (the ``strip_markup`` contract).

    Output: ``id_col, n_chars, n_replacement, n_control,
    replacement_ratio, control_ratio, encoding_ok``.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(text)
    n_repl = n_chars - F.length(
        F.regexp_replace(text, "�", "")
    )
    n_ctrl = n_chars - F.length(
        F.regexp_replace(
            text, r"[\x00-\x08\x0B\x0C\x0E-\x1F]", ""
        )
    )
    repl_ratio = F.when(n_chars > 0, n_repl / n_chars).otherwise(
        F.lit(0.0)
    )
    ctrl_ratio = F.when(n_chars > 0, n_ctrl / n_chars).otherwise(
        F.lit(0.0)
    )
    return df.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars"),
        n_repl.cast("long").alias("n_replacement"),
        n_ctrl.cast("long").alias("n_control"),
        F.round(repl_ratio, 6).alias("replacement_ratio"),
        F.round(ctrl_ratio, 6).alias("control_ratio"),
        (
            (repl_ratio <= F.lit(float(max_replacement_ratio)))
            & (ctrl_ratio <= F.lit(float(max_control_ratio)))
        ).alias("encoding_ok"),
    )

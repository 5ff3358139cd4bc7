"""Distributed BPE (byte-pair-encoding) vocabulary learning + encoding.

The tokenizer-training stage of an LLM data pipeline, built the way BPE
trainers actually scale: NOT over the corpus, but over the DISTINCT-WORD
table. The corpus collapses to (word, count) once — at 100 TB the corpus
is ~10^12 tokens but the distinct-word table is ~10^7 rows — and every
merge iteration then works on word-symbol arrays weighted by count:

1. pair counts   — explode each word's adjacent symbol pairs, weighted
   by the word's corpus count; one map-side-combined aggregate.
2. argmax        — the single best pair collects to the driver (one tiny
   deterministic row: count desc, then pair lexicographic).
3. apply         — a higher-order fold rewrites each word's symbol array
   left-to-right greedy (the standard BPE application order), map-only.

Per iteration: one aggregate job over the word table + one map-only
rewrite; lineage is truncated with ``localCheckpoint`` every few rounds
so a 50k-merge vocabulary doesn't accumulate a 50k-deep plan. The loop
IS iterative (BPE is inherently sequential in its merges) — this is the
documented non-SQL-expressible operator class; correctness is pinned
against a pure-Python reference implementation instead of a DuckDB
oracle.

``bpe_encode`` applies a learned merge list to text at corpus scale via
Arrow ``mapInPandas`` with a per-batch memo over distinct words (each
distinct word is encoded once per batch, then dictionary-mapped), which
is how production tokenizers ride Spark.

Reference scope: FeatureScreening.jl consumes pre-built numeric features
(no text stage); this belongs to the LLM-training-data graft layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["word_counts", "learn_bpe", "bpe_encode", "bpe_encode_word"]

# end-of-word sentinel, standard in BPE so "low" the word and "low" the
# prefix of "lower" learn different merges
_EOW = "</w>"


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (word, count): the one pass over the raw text, lowercased
    and split on runs of characters outside ``[a-z0-9']``. Map-side
    combined; everything downstream touches only this (vocabulary-sized)
    table."""
    w = F.explode(F.split(F.lower(F.col(text_col)), r"[^a-z0-9']+"))
    return (
        docs.select(w.alias("word"))
        .where(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _initial_symbols() -> F.Column:
    # characters + end-of-word sentinel
    return F.concat(
        F.split(F.col("word"), ""), F.array(F.lit(_EOW))
    ).alias("syms")


def _apply_merge(syms, left: str, right: str):
    """Left-to-right greedy merge of adjacent (left, right) — the fold
    keeps an output array; when its last element is `left` and the next
    symbol is `right`, the pair collapses. O(len²) array copying per
    word, bounded by word length (~tens)."""
    l_, r_, m = F.lit(left), F.lit(right), F.lit(left + right)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == l_)
            & (s == r_),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(m)
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _learn_merges_local(
    words: dict[tuple[str, ...], int], n_merges: int
) -> list[tuple[str, str]]:
    """Driver-side merge loop over a collected (symbols, count) table —
    bit-identical semantics to the distributed loop: count desc then
    pair-lexicographic argmax, fold-left greedy application, stop when
    no pair repeats."""
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, n in words.items():
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                pairs[k] = pairs.get(k, 0) + n
        if not pairs:
            break
        (left, right), n = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if n <= 1:
            break
        merges.append((left, right))
        new_words: dict[tuple[str, ...], int] = {}
        for syms, cnt in words.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            t = tuple(out)
            new_words[t] = new_words.get(t, 0) + cnt
        words = new_words
    return merges


def learn_bpe(
    docs: DataFrame,
    n_merges: int,
    *,
    text_col: str = "text",
    checkpoint_every: int = 8,
    driver_threshold: int = 100_000,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the ordered
    merge list — bounded driver state (the vocabulary being built), the
    same driver/cluster split as IVF's centroid training.

    Deterministic: the argmax pair breaks ties by (count desc, left asc,
    right asc), so the same corpus always yields the same vocabulary.

    ``driver_threshold``: when the DISTINCT-WORD table has at most this
    many rows, the merge loop runs on the driver over the collected
    (symbols, count) table — the split production BPE trainers use (the
    corpus-sized word count is the distributed pass; the vocabulary-sized
    loop is cheapest in one process, and the distributed loop's
    per-merge job latency dominates it by ~100× on small vocabularies:
    20 merges, ~200-word vocab, 3.5 s → 0.04 s measured). Both paths are
    pinned merge-for-merge against the same reference
    (tests/test_bpe.py); set ``driver_threshold=0`` to force the
    distributed loop for vocabularies that don't fit one machine.
    """
    words = (
        word_counts(docs, text_col)
        .select(_initial_symbols(), "cnt")
        .localCheckpoint()
    )
    # right-size ONCE: the word table is vocabulary-sized (often a few
    # 10k rows), and every merge iteration pays per-task launch latency —
    # ~250k words per partition keeps small vocabularies at 1-2 tasks per
    # round while a 10^7-word web vocabulary still fans out. The count is
    # free-ish: the table was just checkpointed.
    n_words = words.count()
    if n_words <= driver_threshold:
        local = {
            tuple(r["syms"]): r["cnt"] for r in words.collect()
        }
        return _learn_merges_local(local, n_merges)
    target = max(1, min(32, n_words // 250_000 + 1))
    if target < words.rdd.getNumPartitions():
        words = words.coalesce(target)
    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        pairs = words.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda j: F.struct(
                        F.element_at(F.col("syms"), j).alias("l"),
                        F.element_at(F.col("syms"), j + 1).alias("r"),
                    ),
                )
            ).alias("p"),
            "cnt",
        ).where(F.size(F.col("syms")) >= 2)
        best = (
            pairs.groupBy("p")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("p.l"), F.asc("p.r"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["n"] <= 1:
            break  # nothing repeats anymore — vocabulary saturated
        left, right = best[0]["p"]["l"], best[0]["p"]["r"]
        merges.append((left, right))
        words = words.select(
            _apply_merge(F.col("syms"), left, right).alias("syms"), "cnt"
        )
        if (i + 1) % checkpoint_every == 0:
            # truncate the per-merge projection chain — without this the
            # plan depth grows linearly in merges
            words = words.localCheckpoint()
    return merges


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list:
    """Pure-Python single-word encoder (merge-rank greedy — apply the
    lowest-rank merge anywhere in the word, repeat). Used by the Arrow
    encoder per DISTINCT word and by tests as the reference semantics."""
    syms = list(word) + [_EOW]
    while len(syms) >= 2:
        best_rank, best_i = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms

def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Encode each document with a learned merge list: Arrow
    ``mapInPandas`` with a per-batch memo keyed on DISTINCT words (each
    unique word is encoded once per batch, then dictionary-mapped onto
    rows) — Zipf makes the memo hit rate ~99% on natural text. The merge
    list broadcasts via closure (bounded: the vocabulary).

    Output: ``id_col``, ``out_col`` (array<string>), ``n_bpe_tokens``.
    """
    import re

    ranks = {pair: i for i, pair in enumerate(merges)}
    splitter = re.compile(r"[^a-z0-9']+")
    in_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in docs.schema.fields
    )
    schema = f"{in_fields}, `{out_col}` array<string>, `n_bpe_tokens` int"

    def encode_batches(batches):
        memo: dict = {}

        def enc_word(w):
            got = memo.get(w)
            if got is None:
                got = memo[w] = bpe_encode_word(w, ranks)
            return got

        for pdf in batches:
            toks, ntok = [], []
            for text in pdf[text_col].fillna(""):
                out = []
                for w in splitter.split(text.lower()):
                    if w:
                        out.extend(enc_word(w))
                toks.append(out)
                ntok.append(len(out))
            pdf[out_col] = toks
            pdf["n_bpe_tokens"] = ntok
            yield pdf

    return docs.mapInPandas(encode_batches, schema)

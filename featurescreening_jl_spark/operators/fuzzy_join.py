"""Edit-distance (fuzzy) join — entity resolution / typo-tolerant dedup.

Finds all cross-table pairs with Levenshtein distance ≤ k WITHOUT the
|L|×|R| cross product, using two PROVABLY-SOUND prefilters (every true
match survives both; the exact verify then decides membership — output
is exactly the brute-force result):

1. **length window** — an edit changes length by ≤ 1, so
   ``| |a| − |b| | ≤ k`` for any true pair;
2. **q-gram count bound** (Gravano et al., "Approximate String Joins in
   a Database (Almost) for Free", VLDB 2001): one edit destroys at most
   ``q`` of a string's overlapping character q-grams, so a true pair
   shares (counting multiplicity)
   ``shared ≥ max(|a|,|b|) − q + 1 − k·q``.

The candidate generator is an inverted q-gram index join — cost tracks
gram-key collisions, never |L|×|R|. Hot grams (the stop-gram skew of
every inverted index) are handled SOUNDLY: grams with document
frequency above ``max_gram_df`` (found, and logged, by the shared
hot-key guard ``dedup._hot_keys``) are dropped from the index, and the
count bound is lowered per pair by ``min(dropped_a, dropped_b)`` — the
maximum shared mass the dropped grams could have carried — so pruning
stays a superset filter (the cap trades candidate precision for index
balance, never recall; pinned by test).

Verify (``dedup._verify_pairs``) joins the surviving id pairs back to the
texts and keeps ``levenshtein(a, b, k) != -1`` — Spark's thresholded
(banded O(k·n)) form, not the full O(n²) DP.

Both candidate generators keep their own index join rather than
``dedup._block_pairs``: the count bound needs the multiset mass
``sum(least(cnt_a, cnt_b))`` grouped with both lengths, and the prefix
path needs the length window on each prefix hit.

Strings shorter than ``q + k`` make the count bound vacuous (≤ 0); they
simply pass filter 2 and are decided by the length window + verify —
correct, just less pruned, and worth a dedicated short-string path if a
corpus is dominated by them.

Two candidate generators, both sound, for two corpus regimes
(measured on local[32]):

- the COUNT-BOUND path (default) screens every colliding pair by
  shared-gram mass before verify — it wins when strings cluster
  tightly and candidate pairs need cheap rejection (200k
  near-identical catalog strings, k=1: 91 s vs 252 s prefix);
- the PREFIX-FILTER path (``prefix_filter=True``) indexes only each
  string's k·q+1 rarest grams — it wins on natural text where the
  full gram index is the cost (5k ~300-char documents, k=3: 14.6 s
  vs 48.0 s count-bound; identical output).

Reference scope: the reference has no string layer; this is the
training-data graft's fuzzy-matching primitive (SURVEY.md §2 LLM ops),
the edit-distance sibling of ``ngram_jaccard_pairs_indexed``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from featurescreening_jl_spark.operators.dedup import _hot_keys, _verify_pairs

__all__ = ["edit_distance_join"]


def _gram_hashes(t, q: int):
    """The 64-bit hashes of ``t``'s overlapping char q-grams, in order."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(t) - q + 1, F.lit(0))),
        lambda i: F.xxhash64(t.substr(i, F.lit(q))),
    )


def _gram_counts(df: DataFrame, id_col: str, text_col: str, q: int):
    """(id, len, gram, cnt) — multiset of overlapping char q-grams,
    keyed by their 64-bit hash: the index join shuffles 8-byte keys
    instead of strings, and a hash collision merely MERGES two grams'
    counts, which can only raise the computed shared mass
    (min(a1+a2, b1+b2) ≥ min(a1,b1) + min(a2,b2)) — the count filter
    stays a sound superset, and verify decides membership regardless."""
    t = F.col(text_col)
    return (
        df.select(
            F.col(id_col).alias("__id"),
            F.length(t).alias("__len"),
            F.explode(_gram_hashes(t, q)).alias("__gram"),
        )
        .groupBy("__id", "__len", "__gram")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_dist: int = 2,
    q: int = 3,
    max_gram_df: int | None = None,
    prefix_filter: bool = False,
) -> DataFrame:
    """All (left, right) pairs with ``levenshtein ≤ max_dist``.

    Returns ``(id_a, id_b, dist)`` — ``id_a`` from ``left``, ``id_b``
    from ``right``; identical-id pairs are not excluded (callers doing
    self-joins filter ``id_a < id_b`` themselves). Output equals the
    brute-force cross-product filter exactly; see module docstring for
    why the pruning is lossless.

    ``max_gram_df`` drops the grams held by more than that many strings
    (both sides counted) from the count-bound index. The per-pair slack
    keeps it lossless; the cap is logged as "capped" like every hot-key
    cap.

    ``prefix_filter=True`` switches candidate generation to the ed-join
    prefix filter (Xiao et al., EDBT 2008): each string indexes only its
    first ``k·q + 1`` DISTINCT grams in a global gram order — k edits
    destroy at most k·q distinct grams, so two strings within distance k
    must share a gram inside both prefixes (disjoint prefixes would cap
    the set overlap at |D|−kq−1 < |D|−kq, the destruction bound; the
    argument survives gram hashing since collisions only merge sets).
    The index shrinks from |grams| to ≤ kq+1 rows per string — the
    high-similarity-corpus scale path, where the full-index count filter
    drowns in candidates. Strings with ≤ k·q distinct grams (short or
    highly repetitive) have a vacuous bound and pair through the length
    window instead. The global order is (df ASC, gram ASC) — see
    ``_prefix_filter_join`` for why frequency-ascending is load-bearing.
    ``max_gram_df`` is ignored in this mode (hot grams are already
    pushed OUT of prefixes by the ordering).
    """
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    if q < 2:
        raise ValueError("q must be >= 2")
    k = int(max_dist)

    if prefix_filter:
        return _prefix_filter_join(
            left, right, id_col, text_col, k=k, q=q
        )

    la = _gram_counts(left, id_col, text_col, q)
    lb = _gram_counts(right, id_col, text_col, q)

    if max_gram_df is not None:
        # global df over BOTH sides (one row per string and distinct
        # gram); dropped mass is tracked per string so the bound can be
        # lowered soundly
        hot = F.broadcast(
            _hot_keys(
                la.select("__gram").unionByName(lb.select("__gram")),
                ["__gram"], max_gram_df, "edit_distance_join",
            )
        )

        def split(g):
            dropped = (
                g.join(hot, "__gram", "left_semi")
                .groupBy("__id", "__len")
                .agg(F.sum("__cnt").alias("__dropped"))
            )
            kept = g.join(hot, "__gram", "left_anti")
            return kept, dropped

        la, da = split(la)
        lb, db = split(lb)
    else:
        da = db = None

    shared = (
        la.alias("a")
        .join(lb.alias("b"), "__gram")
        .groupBy(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__len").alias("len_a"),
            F.col("b.__len").alias("len_b"),
        )
        .agg(F.sum(F.least("a.__cnt", "b.__cnt")).alias("__shared"))
    )
    cand = shared.where(
        F.abs(F.col("len_a") - F.col("len_b")) <= k
    )
    bound = (
        F.greatest("len_a", "len_b") - F.lit(q - 1) - F.lit(k * q)
    )
    if da is not None:
        cand = (
            cand.join(
                da.select(F.col("__id").alias("id_a"),
                          F.col("__dropped").alias("__da")),
                "id_a", "left",
            )
            .join(
                db.select(F.col("__id").alias("id_b"),
                          F.col("__dropped").alias("__db")),
                "id_b", "left",
            )
            .withColumn(
                "__slack",
                F.least(
                    F.coalesce("__da", F.lit(0)),
                    F.coalesce("__db", F.lit(0)),
                ),
            )
        )
        cand = cand.where(F.col("__shared") >= bound - F.col("__slack"))
    else:
        cand = cand.where(F.col("__shared") >= bound)

    # Vacuous-bound fallback. The count bound for a pair is positive only
    # when max(len_a, len_b) > LMIN = k·q + q − 1; a pair of two ≤-LMIN
    # strings may share ZERO grams yet still be a true match, and a
    # zero-shared pair never comes OUT of the index join at all — so
    # small×small pairs route through the length window alone. (Small ×
    # large pairs are safe: if the small side has no grams (len < q) the
    # length window already excludes any >LMIN partner; with grams, both
    # sides index and the positive bound prunes soundly.) Smalls are a
    # vanishing fraction of a document corpus — for a short-string-heavy
    # workload this O(|smalls|²-per-length-window) term is the cost to
    # watch.
    lmin = k * q + q - 1
    small_a = left.select(
        F.col(id_col).alias("id_a"),
        F.length(text_col).alias("len_a"),
    ).where(F.length(text_col) <= lmin)
    small_b = right.select(
        F.col(id_col).alias("id_b"),
        F.length(text_col).alias("len_b"),
    ).where(F.length(text_col) <= lmin)
    small_pairs = (
        small_a.crossJoin(F.broadcast(small_b))
        .where(F.abs(F.col("len_a") - F.col("len_b")) <= k)
        .select("id_a", "id_b")
    )

    ids = cand.select("id_a", "id_b").unionByName(small_pairs)

    if da is not None:
        # Cap soundness, part 2: a true pair whose ONLY shared grams were
        # all dropped produces no row in the index join at all, yet
        # qualifies because slack ≥ bound. Such a pair needs BOTH sides'
        # dropped mass ≥ bound ≥ own_len − (q−1) − k·q, so the candidate
        # pool is the (tiny, length-windowed) cross of "mostly-hot"
        # strings — strings whose grams are dominated by stop-grams; the
        # exact predicate and verify still decide membership.
        def hot(d, ida, la_):
            return d.where(
                F.col("__dropped")
                >= F.col("__len") - F.lit(q - 1) - F.lit(k * q)
            ).select(
                F.col("__id").alias(ida), F.col("__len").alias(la_),
                F.col("__dropped").alias(f"__dm_{ida}"),
            )

        hot_pairs = (
            hot(da, "id_a", "len_a")
            .crossJoin(F.broadcast(hot(db, "id_b", "len_b")))
            .where(F.abs(F.col("len_a") - F.col("len_b")) <= k)
            .where(
                F.least("__dm_id_a", "__dm_id_b")
                >= F.greatest("len_a", "len_b")
                - F.lit(q - 1)
                - F.lit(k * q)
            )
            .select("id_a", "id_b")
        )
        ids = ids.unionByName(hot_pairs)

    return _verify_edits(ids.distinct(), left, right, id_col, text_col, k)


def _verify_edits(ids, left, right, id_col, text_col, k):
    """Exact membership: join candidate ids back to texts, keep banded
    levenshtein ≤ k (``-1`` means over the band)."""
    return _verify_pairs(
        ids, left.select(id_col, text_col), right.select(id_col, text_col),
        "dist", lambda a, b: F.levenshtein(a, b, k), F.col("dist") >= 0,
    ).select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))


def _prefix_filter_join(left, right, id_col, text_col, *, k, q):
    """ed-join prefix-filtered candidate generation (see
    edit_distance_join docstring for the soundness argument).

    The global gram order is (document frequency ASC, gram ASC) — the
    load-bearing half of the technique: ANY total order is sound, but a
    frequency-agnostic order (e.g. raw hash) lets one hot structural
    gram land in every string's prefix and the candidate join goes
    quadratic (measured: the 200k near-identical-string workload never
    finished under hash order; df-ascending puts each string's RAREST
    grams in its prefix, so prefix collisions track genuine rarity)."""
    p = k * q + 1

    def distinct_grams(df, ida, lena):
        t = F.col(text_col)
        grams = F.array_distinct(_gram_hashes(t, q))
        return df.select(
            F.col(id_col).alias(ida),
            F.length(t).alias(lena),
            F.size(grams).alias("__nd"),
            F.explode_outer(grams).alias("__gram"),
        )

    dga = distinct_grams(left, "id_a", "len_a")
    dgb = distinct_grams(right, "id_b", "len_b")
    df_tab = (
        dga.select("__gram")
        .unionByName(dgb.select("__gram"))
        .where(F.col("__gram").isNotNull())
        .groupBy("__gram")
        .agg(F.count(F.lit(1)).alias("__df"))
    )

    def prepare(dg, ida, lena):
        # vacuous-bound strings (|D| <= k·q): length-window fallback
        smalls = (
            dg.where(F.col("__nd") <= k * q)
            .select(ida, lena)
            .distinct()
        )
        prefixes = (
            dg.where(F.col("__nd") > k * q)
            .join(df_tab, "__gram")
            .groupBy(ida, lena)
            .agg(
                F.slice(
                    F.array_sort(
                        F.collect_list(F.struct("__df", "__gram"))
                    ),
                    1,
                    p,
                ).alias("__prefix")
            )
            .select(
                ida,
                lena,
                F.explode("__prefix").alias("__pg"),
            )
            .select(ida, lena, F.col("__pg.__gram").alias("__gram"))
        )
        return prefixes, smalls

    pa, sa = prepare(dga, "id_a", "len_a")
    pb, sb = prepare(dgb, "id_b", "len_b")

    cand = (
        pa.join(pb, "__gram")
        .where(F.abs(F.col("len_a") - F.col("len_b")) <= k)
        .select("id_a", "id_b")
    )
    # smalls pair with EVERYTHING in the length window: small×small may
    # share zero grams, and small×large pairs are only guaranteed a
    # shared gram inside the LARGE side's prefix when the small side
    # indexes all its grams — which the vacuous filter no longer does,
    # so both cross terms route through the window. Smalls are rare in
    # document corpora; for a short-string-heavy workload replace the
    # broadcast theta-join with a length-bucket equi-join (bucket =
    # len // (k+1), join own ± neighbor buckets).
    all_b = right.select(
        F.col(id_col).alias("id_b"), F.length(text_col).alias("len_b")
    )
    all_a = left.select(
        F.col(id_col).alias("id_a"), F.length(text_col).alias("len_a")
    )
    small_x = (
        sa.join(
            F.broadcast(all_b),
            F.abs(F.col("len_a") - F.col("len_b")) <= k,
        ).select("id_a", "id_b")
    )
    x_small = (
        all_a.join(
            F.broadcast(sb),
            F.abs(F.col("len_a") - F.col("len_b")) <= k,
        ).select("id_a", "id_b")
    )
    ids = cand.unionByName(small_x).unionByName(x_small).distinct()
    return _verify_edits(ids, left, right, id_col, text_col, k)

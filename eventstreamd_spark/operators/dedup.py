"""Deduplication suite over the ``documents`` table — the operators a
large-scale training-data pipeline runs before anything else.

The tier cascade, cheapest first (this is also the production order):

1. exact         — hash-groupBy on content (or sha256 for wide rows)
2. ngram-jaccard — exact set similarity on word shingles, candidate
                   pairs via an inverted-index self-join; the
                   df-cutoff variant guards the hot-shingle blowup
3. minhash-LSH   — sketch + banding: candidates without the full
                   inverted-index join; the 100 TB path
                   (minhash_keep_corpus materializes the kept corpus)
4. simhash       — bitwise near-dup fingerprint, banded for candidates
5. embedding     — semantic near-dup via cosine over vectors
                   (all-pairs baseline in similarity.py; SemDeDup is
                   the cluster-bounded scale path)

Below the document grain: span_duplication_coverage measures
substring-level duplication and span_dedup_trim excises it (Lee et
al. 2022); above it, connected components (dedup_clusters) give
cluster-exact retention and contamination_check screens eval sets.

All hashes use the portable polynomial hash (functions/text.py) so every
tier is DuckDB-oracle-checkable — including minhash and simhash, whose
oracles are generated programmatically from the same parameters.

Scale notes: the inverted-index join (tier 2) shuffles O(docs x
shingles) rows — fine to ~10^9 shingles, then tier 3 replaces it: the
signature is fixed-width (K mins), banding turns candidate generation
into a groupBy on (band, band-hash) whose output is only the colliding
pairs.  Both tiers end with an exact-jaccard verify on the candidate
set, so precision is identical; LSH only trades recall (tunable via
bands x rows).
"""

from __future__ import annotations

import hashlib as _hashlib
import re as _re
from typing import Iterator

import numpy as _np

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from eventstreamd_spark.functions.text import (
    HASH_MOD,
    hashed_shingles_from,
    poly_hash,
    rolling_window_hashes,
    sql_hashed_word_shingles,
    sql_poly_hash,
    sql_rolling_window_hashes_body,
    sql_tokens,
    sql_word_shingles,
    tokens,
)
from eventstreamd_spark.plans.memo import shared
from eventstreamd_spark.session import fan_out

# MinHash parameters: K universal-hash permutations h_i(x) = (a*x+b) % P,
# banded B bands x R rows (K = B*R).  Deterministic, engine-portable.
MINHASH_K = 16
MINHASH_B = 4
MINHASH_R = 4
_MH_P = HASH_MOD
_MH_A = [(17 + 13 * i) % _MH_P for i in range(MINHASH_K)]
_MH_B = [(91 + 29 * i) % _MH_P for i in range(MINHASH_K)]

# SimHash: 64-bit signature (two 32-bit halves from per-token md5
# words), banded 4 x 16 bits; hamming <= 3 guarantees at least one
# identical band (pigeonhole over 4 bands).  The previous 32-bit /
# 4 x 8-bit layout put 256 buckets under every band — an n^2/2^8
# random-collision term per band, the same quadratic wall the media
# tier measured at sf10 and removed in round 10 (SCALE.md §21:
# "bucket width must track log2(n)").  16-bit buckets hold to
# ~10^7 docs; beyond that the pair-band wide sibling
# (``simhash_pairs_wide``) buckets on 32-bit band PAIRS.
SIMHASH_BITS = 64
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 16
HAMMING_MAX = 3
# the wide (pair-band) tier's pigeonhole guarantee: 6 pairs over 4
# bands means <= 2 dirty bits always leave one clean PAIR; at 3 dirty
# bits a spread like (1,1,1,0) dirties every pair, so the guaranteed
# verify bound — and therefore the tier's DEFAULT — is 2
HAMMING_MAX_WIDE = 2


PLANT_OFFSET = 100_000


def with_planted_exact_dups(docs: DataFrame, every: int = 5) -> DataFrame:
    """Driver documents carry no duplicates, so dedup operators would be
    vacuously correct; plant deterministic exact copies (same text, new
    doc_id) for every ``every``-th doc.  The oracle replays the same
    construction."""
    copies = docs.filter(F.col("doc_id") % every == 0).select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    return docs.unionByName(copies)


def sql_planted_exact_dups(table: str = "documents", every: int = 5) -> str:
    return (
        f"(SELECT * FROM {table} UNION ALL "
        f"SELECT doc_id + {PLANT_OFFSET} AS doc_id, text, lang, source, n_chars "
        f"FROM {table} WHERE doc_id % {every} = 0)"
    )


def with_planted_near_dups(docs: DataFrame, every: int = 5) -> DataFrame:
    """Near-dup plants: append one token so jaccard is high but < 1."""
    copies = docs.filter(F.col("doc_id") % every == 0).select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
        "lang", "source", "n_chars",
    )
    return docs.unionByName(copies)


def sql_planted_near_dups(table: str = "documents", every: int = 5) -> str:
    return (
        f"(SELECT * FROM {table} UNION ALL "
        f"SELECT doc_id + {PLANT_OFFSET} AS doc_id, text || ' zz' AS text, "
        f"lang, source, n_chars FROM {table} WHERE doc_id % {every} = 0)"
    )


def with_hashed_shingles(
    docs: DataFrame, n: int = 3, keep: tuple[str, ...] = ()
) -> DataFrame:
    """doc_id (+ any ``keep`` passthrough columns) + distinct n-word
    shingle hashes (BIGINT).

    The near-dup tiers run on these: one md5 per TOKEN, windows folded
    with cheap second-level arithmetic — no shingle strings are ever
    built, shuffles move 8-byte keys, and set intersections compare
    longs instead of text (the fixed-width-shuffle-keys rule).
    Collisions merge shingles at ~|shingles|^2/2/HASH_MOD; the oracle
    replays the identical construction so results stay engine-equal.
    """
    return (
        fan_out(docs)
        # Bind the hashed-token array to a real column BEFORE the window
        # fold: rolling_window_hashes references it n+1 times, and
        # CollapseProject will not re-inline a non-cheap HOF, so the
        # per-token md5 runs exactly once.  Inlining it (the previous
        # form) re-tokenized and re-hashed every document ~4x — measured
        # 4x slower on the sf0.1 dedup tier.
        .select(
            *keep,
            "doc_id",
            F.transform(tokens(F.col("text")), poly_hash).alias("__th"),
        )
        .select(
            *keep,
            "doc_id",
            hashed_shingles_from(F.col("__th"), n).alias("shingles"),
        )
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup: one shuffle on the content hash.  Grouping on
    sha256(text) rather than text keeps shuffle keys fixed-width (32
    bytes) no matter how large documents get — at 100 TB you never want
    multi-KB shuffle keys."""
    return (
        docs.groupBy(F.sha2(F.col("text"), 256).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join.

    docs -> distinct shingles -> explode (inverted index) -> self-join
    on shingle -> |A ∩ B| per pair -> join doc sizes -> jaccard filter.
    Outputs (doc_a < doc_b, jaccard).  Integer counts divide in double:
    engine-exact.  The (doc_id, shingles) relation is the session's
    shared one (plans/memo.py): the per-token hash kernel runs once
    per corpus and n, whichever shingle tier asks first.
    """
    sh = shared(with_hashed_shingles, docs, n=n)
    # one pass: the inverted index carries each doc's shingle count, so
    # pair sizes ride the shuffle instead of two extra size-join
    # branches (each of which would recompute the shingling).  The
    # index key is the 8-byte shingle hash (with_hashed_shingles).
    # explode_outer, NOT explode: an inner explode of a bound alias lets
    # InferFiltersFromGenerate add `size(shingles) > 0`, which pushdown
    # inlines at the SCAN — the whole shingling expression then runs
    # twice per row, serialized on the scan's few input partitions
    # (measured 12x on this tier).  Shingle arrays are non-empty by
    # construction (short docs fold to one shingle), so outer explode is
    # semantically identical and infers no filter.
    inv = sh.select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.explode_outer("shingles").alias("shingle"),
    )
    # classic inverted-index SELF-JOIN on shingle with doc_a < doc_b.
    # Both join legs are the identical sub-plan, so the shingle-keyed
    # exchange is computed once and read twice (ReusedExchange — the
    # shingling does NOT run twice), and the whole pair expansion stays
    # inside whole-stage codegen.  The previous collect_list +
    # nested-transform combination expansion produced the same pairs
    # but ran as interpreted HOF expressions with per-element array
    # slices — measured 4-10x slower at sf0.1 and swinging wildly with
    # AQE's byte-based stage sizing.  Hot shingles cap the fan-out; at
    # 100 TB add a document-frequency cutoff here (a shingle in >x% of
    # docs carries no dedup signal anyway).
    right = inv.select(
        F.col("shingle").alias("shingle_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("nb"),
    )
    pairs = inv.select(
        "shingle", F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")
    ).join(
        right,
        (F.col("shingle") == F.col("shingle_b"))
        & (F.col("doc_a") < F.col("doc_b")),
    )
    inter = pairs.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("n_inter"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# Document-frequency cutoff for the inverted-index tier: a shingle that
# appears in more than MAX_SHINGLE_DF documents is corpus boilerplate —
# it carries no dedup signal but contributes O(df^2) candidate pairs to
# the self-join (the quadratic hot-key blowup that kills tier 2 first
# at scale; CCNet and the BigQuery dedup pipelines apply the same
# cutoff).  At sf0.1 this drops ~74% of shingle postings and with them
# the bulk of the pair fan-out; the planted near-dup pairs survive
# because their shared shingles are document-specific (low df).
MAX_SHINGLE_DF = 8


def ngram_jaccard_pairs_df_cutoff(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    max_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs with a document-frequency cutoff
    on the inverted index — the form of tier 2 you actually run at
    100 TB.

    Same inverted-index self-join as ngram_jaccard_pairs, but shingle
    postings with df > max_df are dropped BEFORE pair generation.  The
    df count is a window over the shingle key, i.e. the exact same
    shingle-keyed exchange the pair join needs anyway — the cutoff
    costs no extra shuffle, it only shrinks the quadratic fan-out.
    Intersections are counted in the filtered shingle universe while
    the union keeps the original set sizes, so the reported jaccard is
    a conservative lower bound (a true near-dup loses at most its
    boilerplate shingles from the numerator).
    """
    sh = shared(with_hashed_shingles, docs, n=n)
    # explode_outer, not explode — see ngram_jaccard_pairs: an inner
    # explode lets InferFiltersFromGenerate inline the shingling into
    # the scan filter (measured 12x on this tier).
    inv = sh.select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.explode_outer("shingles").alias("shingle"),
    )
    from pyspark.sql.window import Window

    cold = (
        inv.withColumn("df", F.count("*").over(Window.partitionBy("shingle")))
        .filter(F.col("df") <= max_df)
        .drop("df")
    )
    right = cold.select(
        F.col("shingle").alias("shingle_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("nb"),
    )
    pairs = cold.select(
        "shingle", F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")
    ).join(
        right,
        (F.col("shingle") == F.col("shingle_b"))
        & (F.col("doc_a") < F.col("doc_b")),
    )
    inter = pairs.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("n_inter"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def sql_ngram_jaccard_pairs_df_cutoff(
    base_sql: str,
    n: int = 3,
    threshold: float = 0.6,
    max_df: int = MAX_SHINGLE_DF,
) -> str:
    """DuckDB twin of ngram_jaccard_pairs_df_cutoff."""
    shingles = sql_hashed_word_shingles(sql_tokens("text"), n)
    return f"""
WITH base AS (SELECT * FROM {base_sql}),
sh AS (SELECT doc_id, {shingles} AS shingles FROM base),
inv AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
cold AS (
  SELECT doc_id, n_sh, shingle FROM (
    SELECT doc_id, n_sh, shingle,
           count(*) OVER (PARTITION BY shingle) AS df
    FROM inv) WHERE df <= {max_df}
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter,
         any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
  FROM cold a JOIN cold b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE) / (na + nb - n_inter) AS jaccard
FROM inter
WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= {threshold}
"""


MAX_SHINGLE_DF_FRAC = 0.02


def ngram_jaccard_pairs_df_frac_cutoff(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    max_df_frac: float = MAX_SHINGLE_DF_FRAC,
) -> DataFrame:
    """DF-cutoff dedup tier with the cutoff as a FRACTION of corpus
    size instead of an absolute count.

    An absolute max_df tuned at one scale silently changes meaning at
    another: df=8 is boilerplate in a 500-doc corpus and vanishingly
    rare at 5 B docs.  The fraction form keeps the cutoff's semantics
    ("a shingle present in >2% of documents is boilerplate") invariant
    under corpus growth — the setting you actually deploy, while the
    absolute form stays useful for pinning exact postings budgets.

    Extra cost over the absolute variant: one tiny count aggregate
    broadcast onto the posting rows (a 1-row crossJoin, the repo's
    standard scalar-broadcast shape) — the df window still rides the
    shingle-keyed exchange the pair join needs anyway.
    """
    sh = shared(with_hashed_shingles, docs, n=n)
    n_docs = docs.agg(F.count("*").alias("_n_docs"))
    inv = sh.select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.explode_outer("shingles").alias("shingle"),
    )
    from pyspark.sql.window import Window

    cold = (
        inv.crossJoin(F.broadcast(n_docs))
        .withColumn("df", F.count("*").over(Window.partitionBy("shingle")))
        .filter(
            F.col("df")
            <= F.ceil(F.lit(float(max_df_frac)) * F.col("_n_docs"))
        )
        .drop("df", "_n_docs")
    )
    right = cold.select(
        F.col("shingle").alias("shingle_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("nb"),
    )
    pairs = cold.select(
        "shingle", F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")
    ).join(
        right,
        (F.col("shingle") == F.col("shingle_b"))
        & (F.col("doc_a") < F.col("doc_b")),
    )
    inter = pairs.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("n_inter"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def sql_ngram_jaccard_pairs_df_frac_cutoff(
    base_sql: str,
    n: int = 3,
    threshold: float = 0.6,
    max_df_frac: float = MAX_SHINGLE_DF_FRAC,
) -> str:
    """DuckDB twin of ngram_jaccard_pairs_df_frac_cutoff."""
    shingles = sql_hashed_word_shingles(sql_tokens("text"), n)
    return f"""
WITH base AS (SELECT * FROM {base_sql}),
nd AS (SELECT count(*) AS _n_docs FROM base),
sh AS (SELECT doc_id, {shingles} AS shingles FROM base),
inv AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
cold AS (
  SELECT doc_id, n_sh, shingle FROM (
    SELECT doc_id, n_sh, shingle,
           count(*) OVER (PARTITION BY shingle) AS df
    FROM inv), nd
  WHERE df <= ceil({float(max_df_frac)} * _n_docs)
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter,
         any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
  FROM cold a JOIN cold b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE) / (na + nb - n_inter) AS jaccard
FROM inter
WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= {threshold}
"""


def minhash_keep_corpus(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """The dedup output users actually consume: the kept corpus after
    MinHash-LSH near-dup removal.

    Drop rule is pair-local, not transitive: a document is dropped iff
    some near-duplicate with a smaller doc_id exists (it appears as
    doc_b in a pair).  The minimum of every duplicate chain always
    survives; the rule needs no connected-components iteration, so the
    whole operator is one LSH pass plus an anti-join.  At 100 TB the
    drop set is a small fraction of the corpus, so the anti-join
    broadcasts (AQE) and the kept corpus is produced in a single scan
    of the input.  Use dedup_clusters when cluster-exact retention
    (exactly one doc per transitive cluster) is required.
    """
    # the session's one pair pass serves every pair-tier consumer
    pairs = shared(minhash_lsh_dedup, docs, n=n, threshold=threshold)
    drop = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return docs.join(drop, "doc_id", "left_anti").select(
        "doc_id", "source", "n_chars"
    )


def sql_minhash_keep_corpus(
    base_sql: str, n: int = 3, threshold: float = 0.6
) -> str:
    """DuckDB twin of minhash_keep_corpus (nests the LSH pair query)."""
    pairs = sql_minhash_lsh_dedup(base_sql, n=n, threshold=threshold)
    return f"""
SELECT doc_id, source, n_chars FROM {base_sql} base
WHERE doc_id NOT IN (SELECT doc_b FROM ({pairs}) p)
"""


def span_duplication_coverage(
    docs: DataFrame, n: int = 8, min_docs: int = 2
) -> DataFrame:
    """Substring-level duplication signal, the span-dedup precursor
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): for every document, the fraction of its n-token
    spans that also occur in at least ``min_docs - 1`` other documents.
    Doc-level tiers miss this entirely — two distinct articles sharing
    one boilerplate paragraph are invisible to MinHash at 0.6 Jaccard
    but show up here as partial dup_frac; a pipeline drops or trims
    docs above a coverage threshold.

    Plan: the spans ARE the hashed rolling windows the near-dup tiers
    already use (8-byte keys, one md5 per token).  explode -> per-span
    occurrence count as a WINDOW over the exploded rows (not an
    agg+self-join: that plan scans and re-shingles the corpus twice
    because the two join legs differ past the exchange — measured 2x) ->
    per-doc aggregation.  One scan, two keyed exchanges (span, then
    doc_id), no join; at 100 TB the only care is a universal boilerplate
    span making one window partition hot — the same hot-key exposure the
    join formulation had, minus the join's row re-expansion.
    """
    from pyspark.sql import Window

    sh = with_hashed_shingles(docs, n)
    # per-doc spans are distinct (array_distinct), so count(*) per span
    # IS the number of containing docs — no countDistinct shuffle
    # explode_outer: see ngram_jaccard_pairs — inner explode would infer
    # a size() filter that re-runs the shingling at the scan
    inv = sh.select("doc_id", F.explode_outer("shingles").alias("span"))
    nd = F.count("*").over(Window.partitionBy("span"))
    return (
        inv.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("nd") >= min_docs).cast("bigint")).alias(
                "shared_spans"
            ),
        )
        .withColumn("dup_frac", F.col("shared_spans") / F.col("n_spans"))
    )


def sql_span_duplication_coverage(
    table: str = "documents", n: int = 8, min_docs: int = 2
) -> str:
    shingles = sql_hashed_word_shingles(sql_tokens("text"), n)
    return f"""
WITH sh AS (
  SELECT doc_id, unnest({shingles}) AS span FROM {table}
), span_docs AS (
  SELECT span, count(*) AS nd FROM sh GROUP BY span
)
SELECT doc_id, count(*) AS n_spans,
       CAST(sum(CASE WHEN nd >= {min_docs} THEN 1 ELSE 0 END) AS BIGINT)
         AS shared_spans,
       CAST(sum(CASE WHEN nd >= {min_docs} THEN 1 ELSE 0 END) AS BIGINT)
         / count(*) AS dup_frac
FROM sh JOIN span_docs USING (span)
GROUP BY doc_id
"""


def span_dedup_trim(
    docs: DataFrame, n: int = 8, min_count: int = 2
) -> DataFrame:
    """Span-level dedup TRIMMING (Lee et al. 2022 §4 "ExactSubstr"):
    rewrite each document with every duplicated n-token span removed —
    the operator span_duplication_coverage is the measurement for.

    A span is duplicated when its rolling hash occurs >= min_count
    times corpus-wide (across documents OR repeated inside one — the
    suffix-array formulation removes both).  A token is dropped iff
    some duplicated span covers it; remaining tokens are re-joined.

    Plan (linear in corpus tokens, two scans):
      1. spans branch — positional rolling hashes (posexplode), span
         occurrence count as a window over the span key, duplicated
         positions collapse per doc into one covered-index array
         (flatten of [p, p+n) sequences; spans overlap, array_distinct
         dedupes).
      2. rebuild branch — the token array joins the (small) covered
         sets on doc_id; an indexed filter drops covered tokens.  Only
         docs containing duplicated spans carry a covered array, so at
         100 TB the join's right side is boilerplate-bearing docs only
         and AQE broadcasts it when it fits.
    No token strings cross a shuffle: the spans branch moves 8-byte
    hashes; the rebuild branch's exchange is doc_id + int arrays.
    """
    from pyspark.sql import Window

    t = fan_out(docs).select("doc_id", tokens(F.col("text")).alias("__t"))
    th = t.select(
        "doc_id", "__t", F.transform("__t", poly_hash).alias("__th")
    )
    # posexplode_outer, not posexplode: the inner generator would infer
    # size()>0 and pushdown would inline the rolling fold into the scan
    # filter (the 12x shingle-tier trap — SCALE.md §5)
    sp = th.select(
        "doc_id",
        F.posexplode_outer(
            rolling_window_hashes(F.col("__th"), n)
        ).alias("pos", "span"),
    )
    nd = F.count("*").over(Window.partitionBy("span"))
    covered = (
        sp.withColumn("nd", nd)
        .filter(F.col("nd") >= min_count)
        .groupBy("doc_id")
        .agg(
            F.array_distinct(
                F.flatten(
                    F.collect_list(
                        F.sequence(F.col("pos"), F.col("pos") + (n - 1))
                    )
                )
            ).alias("covered")
        )
    )
    cov = F.coalesce(F.col("covered"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("__t"), lambda tok, i: ~F.array_contains(cov, i)
    )
    return (
        th.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.concat_ws(" ", kept).alias("trimmed_text"),
            F.size("__t").alias("n_tokens"),
            (F.size("__t") - F.size(kept)).alias("n_tokens_removed"),
        )
    )


def sql_span_dedup_trim(
    table: str = "documents", n: int = 8, min_count: int = 2
) -> str:
    """DuckDB twin of span_dedup_trim (1-based indexed list_filter)."""
    toks = sql_tokens("text")
    th = f"list_transform(__t, tk -> {sql_poly_hash('tk')})"
    windows = sql_rolling_window_hashes_body(n)
    return f"""
WITH t AS (SELECT doc_id, {toks} AS __t FROM {table}),
th AS (SELECT doc_id, __t, {th} AS __th FROM t),
w AS (SELECT doc_id, __t, ({windows}) AS ws FROM th),
sp AS (
  SELECT doc_id, i - 1 AS pos, ws[i] AS span
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM w) u
),
cnt AS (SELECT span, count(*) AS nd FROM sp GROUP BY span),
cov AS (
  SELECT doc_id,
         list_distinct(flatten(list(range(pos, pos + {n})))) AS covered
  FROM sp JOIN cnt USING (span)
  WHERE nd >= {min_count}
  GROUP BY doc_id
)
SELECT w.doc_id,
       coalesce(array_to_string(
         list_filter(__t, (tk, i) ->
           NOT list_contains(coalesce(covered, []), i - 1)), ' '), '')
         AS trimmed_text,
       len(__t) AS n_tokens,
       len(__t) - len(list_filter(__t, (tk, i) ->
           NOT list_contains(coalesce(covered, []), i - 1))) AS n_tokens_removed
FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id
"""


def minhash_signature(hashed_shingles: F.Column) -> list[F.Column]:
    """K min-hash values over hashed shingles (portable arithmetic).

    Shingles arrive as BIGINT hashes (with_hashed_shingles), so each of
    the K=16 permutations applies only the cheap (h*a+b)%P map — no
    string hashing anywhere in the signature.
    """
    def perm(a: int, b: int):
        # unary lambda factory — HOF lambdas must not take extra params
        return lambda h: (h * a + b) % _MH_P

    sig = []
    for i in range(MINHASH_K):
        sig.append(
            F.array_min(
                F.transform(hashed_shingles, perm(_MH_A[i], _MH_B[i]))
            ).alias(f"mh{i}")
        )
    return sig


def minhash_lsh_candidates(docs: DataFrame, n: int = 3) -> DataFrame:
    """LSH banding: candidate pairs = docs colliding on >= 1 band.

    The signature is computed in one narrow pass; banding explodes to B
    rows per doc (B=4), then a groupBy on (band, hash) emits only
    colliding buckets.  No inverted index over raw shingles — this is
    what replaces the quadratic-ish tier-2 join at scale.

    The hashed-shingle array stays a separate projection: CollapseProject
    won't inline a non-cheap expression referenced 16 times, so each
    shingle is poly-hashed exactly once.
    """
    hashed = shared(with_hashed_shingles, docs, n=n).withColumnRenamed(
        "shingles", "hs"
    )
    sig = hashed.select("doc_id", *minhash_signature(F.col("hs")))
    bands = sig.select(
        "doc_id",
        *[
            F.concat_ws(
                "_",
                *[F.col(f"mh{b * MINHASH_R + r}") for r in range(MINHASH_R)],
            ).alias(f"band{b}")
            for b in range(MINHASH_B)
        ],
    )
    stacked = bands.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"band{b}").alias("bhash")
                    )
                    for b in range(MINHASH_B)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bhash").alias("bhash"))
    l, r = stacked.alias("l"), stacked.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bhash") == F.col("r.bhash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Full MinHash-LSH near-dup: banded candidates -> exact-jaccard
    verify (precision = exact; recall bounded by the banding curve).
    Verification intersects hashed-shingle sets — long compares, and
    the same arrays the candidate tier derives its signatures from."""
    cands = minhash_lsh_candidates(docs, n)
    sh = shared(with_hashed_shingles, docs, n=n)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    joined = cands.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        joined.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): every node connects its LARGER neighbors to
    the minimum of its neighborhood.  Input must be symmetric; output
    edges point larger -> smaller.

    SINGLE-SCAN form (round 13): the per-src neighborhood minimum is a
    window aggregate over the same key instead of a groupBy + join-back
    — one pass over the input where the join form read it twice (the
    reason every caller had to eagerly checkpoint the edge pipeline
    before the first round), and one exchange of the edges instead of
    an exchange for the aggregate plus one for the join.

    NO trailing distinct (round 13): every consumer is ``_small_star``,
    whose window min is duplicate-insensitive and whose own distinct
    re-canonicalizes the round's output; large-star maps each input
    edge to at most one output row, so duplicates cannot grow beyond
    the (already-distinct) input — the dedup exchange here was one
    driver-visible AQE stage per CC round of pure overhead."""
    w = Window.partitionBy("src")
    return (
        edges.withColumn("mn", F.min("dst").over(w))
        .filter(F.col("dst") > F.col("src"))
        .select(
            F.col("dst").alias("src"),
            F.least(F.col("src"), F.col("mn")).alias("dst"),
        )
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: every node connects its SMALLER neighbors
    (and itself) to the minimum of that set.  Input edges must point
    larger -> smaller (large-star output); output likewise.

    SINGLE-SCAN form (round 13): window minimum per src, then BOTH
    output legs ("moved" smaller-neighbor edges and the per-group
    "kept" src->min edge) emitted from one projection via explode —
    the kept leg per ROW instead of per GROUP, which the trailing
    ``distinct`` (already required by the algorithm) collapses to the
    identical set.  One scan and one window exchange where the join
    form paid a groupBy exchange, a join and two scans."""
    w = Window.partitionBy("src")
    withmn = edges.withColumn("mn", F.min("dst").over(w))
    both = F.array_compact(
        F.array(
            F.when(
                F.col("dst") != F.col("mn"),
                F.struct(
                    F.col("dst").alias("src"), F.col("mn").alias("dst")
                ),
            ),
            F.when(
                F.col("src") != F.col("mn"),
                F.struct(
                    F.col("src").alias("src"), F.col("mn").alias("dst")
                ),
            ),
        )
    )
    return (
        withmn.select(F.explode(both).alias("e"))
        .select("e.src", "e.dst")
        .distinct()
    )


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Both directions of an undirected pair list in ONE projection
    (explode of a 2-struct array) — a single scan of the input where
    the union-of-two-selects form read it twice."""
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
    )


def connected_components(edges: DataFrame, max_iters: int = 16) -> DataFrame:
    """(node, component) for every node appearing in ``edges``, the
    component id being the minimum node id — via alternating
    large-star/small-star rewrites, which converge in O(log n) rounds
    REGARDLESS of component diameter (min-label propagation needs
    O(diameter) rounds — the difference between 5 and 50 shuffles on an
    adversarial chain at 100 TB).

    ``edges`` is an undirected pair list (src, dst); symmetrization
    happens here.  Each round is two single-scan window passes over the
    current edge set (see ``_large_star``/``_small_star``); rounds are
    ``localCheckpoint``'ed LAZILY (round 13) so the materialization
    happens inside the convergence probe's aggregation job — one
    driver-synchronized job per round where the eager form paid two
    (checkpoint job + probe job).  Combined with the single-scan star
    passes and the one-projection ``_symmetrize``, the initial round
    reads ``edges`` exactly ONCE, so callers no longer need to eagerly
    checkpoint their pair pipeline before calling (the old join-form
    stars read it up to 4x through lineage).
    """
    cur = _small_star(_large_star(_symmetrize(edges))).localCheckpoint(
        eager=False
    )
    for _ in range(max_iters):
        # fixed-point probe BEFORE computing another round: the
        # converged state is exactly a star forest, which needs BOTH
        # (a) no node is both a dst and a src (no chains) AND
        # (b) every src points at exactly one distinct dst (no node
        # hanging off two would-be roots).  (a) alone is NOT
        # sufficient: edges (10,1),(10,5),(20,2),(20,5) satisfy it
        # while the component {1,2,5,10,20} is still split across
        # roots 1 and 2 with node 5 holding two conflicting rows.
        # Together (a)+(b) <=> star forest: any bridge between two
        # stars would make a root a src (violating a) or give a src
        # two dsts (violating b); the rewrites preserve connectivity,
        # so each star is then exactly one original component rooted
        # at its min.  Both conditions are checked by ONE aggregation
        # job on the round's edge set: melt each edge into a src-role
        # row (node=src, dst kept) and a dst-role row (node=dst, dst
        # NULL) — via ONE explode projection, so the lazily-
        # checkpointed round is scanned (and thereby materialized)
        # exactly once inside this probe job — then per node count
        # distinct non-NULL dsts (condition b) and whether both roles
        # appear (condition a).  One shuffle on the small star set —
        # one driver-synchronized job per round where the eager-
        # checkpoint + two-probe form paid three.
        dst_type = dict(cur.dtypes)["dst"]
        roles = (
            cur.select(
                F.explode(
                    F.array(
                        F.struct(F.col("src").alias("node"), F.col("dst")),
                        F.struct(
                            F.col("dst").alias("node"),
                            F.lit(None).cast(dst_type).alias("dst"),
                        ),
                    )
                ).alias("r")
            )
            .select("r.node", "r.dst")
        )
        violations = (
            roles.groupBy("node")
            .agg(
                F.count_distinct("dst").alias("n_dst"),
                F.max(F.col("dst").isNull().cast("int")).alias("as_dst"),
            )
            .where(
                (F.col("n_dst") > 1)
                | ((F.col("n_dst") >= 1) & (F.col("as_dst") == 1))
            )
        )
        if violations.limit(1).count() == 0:
            break
        cur = _small_star(
            _large_star(_symmetrize(cur))
        ).localCheckpoint(eager=False)
    # at convergence the edge set is a star forest: src -> component min;
    # roots only appear as dst, so add their self-rows for a total map
    stars = cur.select(
        F.col("src").alias("node"), F.col("dst").alias("component")
    )
    roots = stars.select("component").distinct().select(
        F.col("component").alias("node"), "component"
    )
    return stars.union(roots)


def dedup_clusters(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    max_iters: int = 16,
) -> DataFrame:
    """Canonical cluster assignment: (doc_id, cluster_id) for every doc,
    cluster_id = min doc_id of its near-dup connected component
    (singletons map to themselves).  This is the step that turns
    pairwise near-dup output into an actionable keep/drop decision —
    "keep one doc per cluster" — which is what a training-data pipeline
    actually executes.

    Components come from ``connected_components`` (alternating
    large-star/small-star, O(log n) rounds independent of chain
    length); singletons are restored with one left join against the
    full doc list.
    """
    pairs = shared(minhash_lsh_dedup, docs, n=n, threshold=threshold)
    # no edge checkpoint: ``pairs`` is already a materialized leaf and
    # the single-scan window-form star passes read the symmetrized
    # edges exactly ONCE in the initial round
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(edges, max_iters)
    return docs.select("doc_id").join(
        comp, F.col("doc_id") == F.col("node"), "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
    )


def sql_dedup_clusters(base_sql: str, n: int = 3, threshold: float = 0.6) -> str:
    """DuckDB twin: transitive closure by recursive CTE, min label."""
    pairs = sql_minhash_lsh_dedup(base_sql, n, threshold)
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(doc_id, label) AS (
  SELECT doc_id, doc_id FROM (SELECT doc_id FROM {base_sql})
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.doc_id
)
SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id
"""


# _simhash64_py constants, hoisted: the kernel runs once per DOCUMENT
# inside the Arrow batch loop, so per-call arange/shift allocations
# would be per-row overhead in the tier's dominant kernel
_SIMHASH_WS = _re.compile(r"\s+", _re.ASCII)
_SIMHASH_BITS32 = _np.arange(32, dtype=_np.uint32)
_SIMHASH_POW32 = _np.uint64(1) << _np.arange(32, dtype=_np.uint64)


def _simhash64_py(text: str | None) -> tuple[int, int]:
    """The 64-bit shingle-SimHash spec, executable: lowercased
    whitespace tokens -> distinct 3-word shingles (whole-text
    fallback under 3 tokens) -> one md5 per shingle (hex chars 1-8 =
    hi word, 9-16 = lo word) -> per-bit majority vote, ties set.
    Identical by construction to the pure-Python reference in
    tests/test_simhash.py and to the DuckDB oracle chain
    (sql_tokens/sql_word_shingles/_sql_simhash_sig_chain).

    Tokenization is ``re.ASCII`` ``\\s+`` — the set
    [space, \\t, \\n, \\r, \\f, \\v], which is exactly what BOTH
    twin engines split on (Java regex ``\\s`` and RE2's ``\\s`` are
    ASCII-only); Python's default Unicode ``\\s`` would additionally
    split on U+00A0/U+2028/… and fork the signature from the oracle
    on any corpus containing Unicode whitespace (round-12 review
    catch)."""
    if text is None:
        return 0, 0
    toks = [t for t in _SIMHASH_WS.split(text.lower()) if t]
    if len(toks) >= 3:
        sh = set(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2))
    else:
        sh = {" ".join(toks)}
    n = len(sh)
    # md5 digest bytes 0-3 big-endian == hex chars 1-8 (the hi word);
    # bytes 4-7 == chars 9-16 (lo) — one C-speed hash per shingle
    words = _np.frombuffer(
        b"".join(_hashlib.md5(s.encode("utf-8")).digest()[:8] for s in sh),
        dtype=">u4",
    ).reshape(n, 2)
    counts = ((words[:, :, None] >> _SIMHASH_BITS32) & 1).sum(axis=0)
    maj = (counts * 2 >= n).astype(_np.uint64)
    return (
        int((maj[0] * _SIMHASH_POW32).sum()),
        int((maj[1] * _SIMHASH_POW32).sum()),
    )


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig_hi, sig_lo) via an Arrow-batched kernel — narrow,
    no shuffle; signatures stay embarrassingly parallel with zero
    exchange at 100 TB.

    Features are DISTINCT 3-word shingles, not unigrams (Manku,
    Jain & Das Sarma, "Detecting Near-Duplicates for Web Crawling",
    WWW'07 — shingle features).  The round-11 bit-balance audit
    (tools/bit_balance.py, the check the audio zbits skew mandated)
    measured the unigram formulation at per-bit frequencies 0.01-0.99:
    corpus-common tokens dominate every majority vote, inflating
    16-bit band collisions 45-359x over the nominal 2^-16 — a
    quadratic cost hiding in a constant.  Shingles are doc-specific,
    so votes decorrelate across the corpus (audit after: ~1x).

    Evaluation strategy (round-12 true-cost shave, the adjudicated
    r10->r11 regression): the 64-votes-per-shingle majority is the
    bill, and three strategies were measured head-to-head at sf0.1
    with IDENTICAL output — declarative HOF vote accumulator 0.75s,
    carry-save bit-sliced planes 1.61s (struct rebuild dominates),
    hashlib+numpy Arrow kernel 0.42s.  The Arrow kernel wins: md5 at
    C speed, the 64 vote counters one vectorized numpy reduction per
    doc, rows crossing Python exactly once per signature.  Signature
    VALUES are unchanged (the pure-Python reference in
    tests/test_simhash.py pins them), so the DuckDB oracle chain and
    every recall/digest test are untouched.

    Callers that reference the signature relation more than once (the
    banded self-join tiers) must localCheckpoint it — Spark re-runs a
    mapInPandas subplan per reference (SCALE.md §19).
    """
    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = [_simhash64_py(t) for t in pdf["text"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "sig_hi": pd.Series(
                        [s[0] for s in sigs], dtype="int64"
                    ),
                    "sig_lo": pd.Series(
                        [s[1] for s in sigs], dtype="int64"
                    ),
                }
            )

    return fan_out(docs.select("doc_id", "text")).mapInPandas(
        kernel, schema="doc_id bigint, sig_hi bigint, sig_lo bigint"
    )


def _simhash_band_chunks() -> list:
    """The 4 x 16-bit band expressions over (sig_hi, sig_lo): bands
    0-1 slice sig_lo (bits 0-15, 16-31), bands 2-3 slice sig_hi."""
    mask = (1 << SIMHASH_BAND_BITS) - 1
    chunks = []
    for b in range(SIMHASH_BANDS):
        src = F.col("sig_lo") if b < 2 else F.col("sig_hi")
        shift = (b % 2) * SIMHASH_BAND_BITS
        chunks.append(F.shiftright(src, shift).bitwiseAND(F.lit(mask)))
    return chunks


def _simhash_stacked_pairs(stacked: DataFrame, hamming_max: int) -> DataFrame:
    """Shared bucket self-join + Hamming verify + distinct over a
    (doc_id, sig_hi, sig_lo, band, bhash) stacked relation — the tail
    the 4-band and the 6-pair-band tiers share.  Verify BEFORE
    distinct (SCALE.md §19, found by the sf10 probe on the media
    tier): random band collisions are the volume, and an early
    distinct shuffles every one of them carrying both signatures; the
    Hamming verify is four JVM bit ops — evaluating it per COLLISION
    and deduplicating only survivors shuffles O(true pairs) rows."""
    l, r = stacked.alias("l"), stacked.alias("r")
    joined = l.join(
        r,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bhash") == F.col("r.bhash"))
        & (F.col("l.doc_id") < F.col("r.doc_id")),
    )
    hamming = F.bit_count(
        F.col("l.sig_hi").bitwiseXOR(F.col("r.sig_hi"))
    ) + F.bit_count(F.col("l.sig_lo").bitwiseXOR(F.col("r.sig_lo")))
    return (
        joined.select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_max)
        .distinct()
    )


def simhash_band_stack(sig: DataFrame) -> DataFrame:
    """Explode a (doc_id, sig_hi, sig_lo) relation into its 4
    (band, bhash) rows — 16-bit buckets, the tier for <= ~10^7 docs."""
    chunks = _simhash_band_chunks()
    return sig.select(
        "doc_id",
        "sig_hi",
        "sig_lo",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), c.alias("bhash"))
                    for b, c in enumerate(chunks)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id",
        "sig_hi",
        "sig_lo",
        F.col("bb.band").alias("band"),
        F.col("bb.bhash").alias("bhash"),
    )


def simhash_pair_band_stack(sig: DataFrame) -> DataFrame:
    """Explode a signature relation into its 6 PAIR-band rows: one row
    per unordered pair of the 4 bands, bucketed on the CONCATENATED
    32-bit key (pair-band idiom from perceptual.pair_band_stack /
    SCALE.md §21).  16-bit buckets collide at ~n^2/2^16 per band —
    quadratic in every decade past ~10^7 docs — while 32-bit pair
    buckets push that term out by 65,536x at the cost of 6 rows/doc
    instead of 4.  Recall: combined Hamming <= 2 leaves at least TWO
    clean bands (3 dirty bands would need 3 errors), so some clean
    pair collides — guaranteed, one notch tighter than the single-band
    tier's <= 3."""
    chunks = _simhash_band_chunks()
    pairs = []
    k = 0
    for i in range(SIMHASH_BANDS):
        for j in range(i + 1, SIMHASH_BANDS):
            pairs.append(
                F.struct(
                    F.lit(k).alias("band"),
                    (F.shiftleft(chunks[i], SIMHASH_BAND_BITS) + chunks[j]).alias(
                        "bhash"
                    ),
                )
            )
            k += 1
    return sig.select(
        "doc_id",
        "sig_hi",
        "sig_lo",
        F.explode(F.array(*pairs)).alias("bb"),
    ).select(
        "doc_id",
        "sig_hi",
        "sig_lo",
        F.col("bb.band").alias("band"),
        F.col("bb.bhash").alias("bhash"),
    )


def simhash_pairs(
    docs: DataFrame,
    hamming_max: int = HAMMING_MAX,
) -> DataFrame:
    """SimHash near-dup pairs: banded candidate generation + hamming
    verify.  4 bands x 16 bits; hamming <= 3 guarantees a band
    collision, so recall is exact for the distance bound.
    Signatures are the session's shared relation (plans/memo.py), a
    materialized leaf before the self-join — Spark re-runs a
    mapInPandas subplan once per reference (SCALE.md §19), and the
    kernel is the tier's dominant cost; every SimHash tier and the
    admission faces read the one tokenize+hash pass."""
    sig = shared(simhash_signatures, docs)
    return _simhash_stacked_pairs(simhash_band_stack(sig), hamming_max)


SIMHASH_MAX_BUCKET = 64


def simhash_pairs_prod(
    docs: DataFrame,
    hamming_max: int = HAMMING_MAX,
    max_bucket: int = SIMHASH_MAX_BUCKET,
) -> DataFrame:
    """The GUARDED production twin of simhash_pairs (the
    media_near_dup_prod idiom brought to text): band rows in buckets
    with more than ``max_bucket`` members are excluded from candidate
    generation, so a degenerate corpus — millions of boilerplate
    near-identical documents landing in one 16-bit bucket — stays
    subquadratic on a production ingest.  Recall loss is confined to
    the flooded buckets (a doc's OTHER bands still generate its
    candidates); byte-identical flood members belong to the upstream
    exact-digest dedup anyway.  The gate table is <= 4 x 2^16 keys, so
    the guard join broadcasts."""
    from eventstreamd_spark.operators.perceptual import _drop_hot_buckets

    # materialized BEFORE stacking: the guard references the stacked
    # relation twice (gate sizes + join side) and the self-join twice
    # more — un-materialized, the signature kernel would run 4x
    sig = shared(simhash_signatures, docs)
    stacked = simhash_band_stack(sig)
    return _simhash_stacked_pairs(
        _drop_hot_buckets(stacked, max_bucket), hamming_max
    )


def simhash_pairs_wide(
    docs: DataFrame,
    hamming_max: int = HAMMING_MAX_WIDE,
) -> DataFrame:
    """Near-dup pair tier over 32-bit PAIR-band buckets — the
    candidate tier for corpora where 16-bit buckets' ~n^2/2^16 random
    collisions become the bill (the media tier counted 45M random
    candidates for 500k docs at that width; SCALE.md §21).  Same
    verify, same output schema; the default verify bound is the one
    this tier GUARANTEES — Hamming <= 2 (pigeonhole over pairs, see
    ``simhash_pair_band_stack``) — so the default never silently
    under-recalls.  A caller passing a looser bound opts into
    best-effort recall above 2 (candidates at distance 3 surface only
    when the dirty bits happen to cluster), and callers wanting the
    guaranteed <= 3 at moderate n keep ``simhash_pairs`` — the
    standard LSH r-vs-recall dial, stated in the open."""
    sig = shared(simhash_signatures, docs)
    return _simhash_stacked_pairs(
        simhash_pair_band_stack(sig), hamming_max
    )


# ---------------------------------------------------------------------------
# DuckDB oracle generators (same parameters, same arithmetic)
# ---------------------------------------------------------------------------


def sql_ngram_jaccard_pairs(
    base_sql: str, n: int = 3, threshold: float = 0.6
) -> str:
    """DuckDB twin of ngram_jaccard_pairs over a base relation."""
    shingles = sql_hashed_word_shingles(sql_tokens("text"), n)
    return f"""
WITH base AS (SELECT * FROM {base_sql}),
sh AS (SELECT doc_id, {shingles} AS shingles FROM base),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {threshold}
"""


def sql_minhash_lsh_dedup(base_sql: str, n: int = 3, threshold: float = 0.6) -> str:
    """DuckDB twin of minhash_lsh_dedup (same signature params, banding,
    and exact-jaccard verify over hashed shingles)."""
    shingles = sql_hashed_word_shingles(sql_tokens("text"), n)
    sig_select = sql_minhash_signature_select("shingles")
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || '_' || ".join(
            f"CAST(mh{b * MINHASH_R + r} AS VARCHAR)" for r in range(MINHASH_R)
        )
        + " AS bhash FROM sig"
        for b in range(MINHASH_B)
    )
    return f"""
WITH base AS (SELECT * FROM {base_sql}),
sh AS (SELECT doc_id, {shingles} AS shingles FROM base),
sig AS (SELECT doc_id, {sig_select} FROM sh),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bhash = r.bhash AND l.doc_id < r.doc_id
),
verify AS (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
         (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)))
           AS jaccard
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_a
  JOIN sh sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, jaccard FROM verify WHERE jaccard >= {threshold}
"""


def sql_simhash_pairs(base_sql: str, hamming_max: int = HAMMING_MAX) -> str:
    """DuckDB twin of simhash_pairs (4 x 16-bit single bands)."""
    return _sql_simhash_banded(base_sql, _sql_simhash_band_rows(), hamming_max)


def sql_simhash_pairs_wide(
    base_sql: str, hamming_max: int = HAMMING_MAX_WIDE
) -> str:
    """DuckDB twin of simhash_pairs_wide (6 x 32-bit pair bands)."""
    return _sql_simhash_banded(
        base_sql, _sql_simhash_pair_band_rows(), hamming_max
    )


def sql_simhash_pairs_prod(
    base_sql: str,
    hamming_max: int = HAMMING_MAX,
    max_bucket: int = SIMHASH_MAX_BUCKET,
) -> str:
    """DuckDB twin of simhash_pairs_prod (hot-bucket guard mirrored
    as a bucket-size HAVING gate before candidate generation)."""
    return _sql_simhash_banded(
        base_sql, _sql_simhash_band_rows(), hamming_max, max_bucket
    )


def _sql_simhash_sig_chain(base_sql: str) -> str:
    """base/words/sig CTEs (no WITH): the 64-bit shingle-SimHash
    signature chain both the pair oracles and the admission oracle
    share.  sig is MATERIALIZED — the band arms reference it 4-6x and
    DuckDB 1.0 re-inlines CTEs."""
    feats = sql_word_shingles(sql_tokens("text"))
    return f"""base AS (SELECT * FROM {base_sql}),
words AS (
  SELECT doc_id,
         list_transform({feats}, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS __wh,
         list_transform({feats}, t -> ('0x' || substr(md5(t), 9, 8))::BIGINT) AS __wl
  FROM base),
sig AS MATERIALIZED (
  SELECT doc_id,
         {sql_simhash_half('__wh')} AS sig_hi,
         {sql_simhash_half('__wl')} AS sig_lo
  FROM words)"""


def _sql_simhash_chunk(b: int) -> str:
    """Band b's 16-bit slice over (sig_hi, sig_lo) — same layout as
    _simhash_band_chunks: bands 0-1 from sig_lo, 2-3 from sig_hi."""
    mask = (1 << SIMHASH_BAND_BITS) - 1
    src = "sig_lo" if b < 2 else "sig_hi"
    return f"(({src} >> {(b % 2) * SIMHASH_BAND_BITS}) & {mask})"


def _sql_simhash_band_rows(src: str = "sig") -> str:
    return " UNION ALL ".join(
        f"SELECT doc_id, sig_hi, sig_lo, {b} AS band, "
        f"{_sql_simhash_chunk(b)} AS bhash FROM {src}"
        for b in range(SIMHASH_BANDS)
    )


def _sql_simhash_pair_band_rows(src: str = "sig") -> str:
    rows = []
    k = 0
    for i in range(SIMHASH_BANDS):
        for j in range(i + 1, SIMHASH_BANDS):
            rows.append(
                f"SELECT doc_id, sig_hi, sig_lo, {k} AS band, "
                f"(({_sql_simhash_chunk(i)} << {SIMHASH_BAND_BITS}) "
                f"+ {_sql_simhash_chunk(j)}) AS bhash FROM {src}"
            )
            k += 1
    return " UNION ALL ".join(rows)


def _sql_simhash_banded(
    base_sql: str,
    band_rows: str,
    hamming_max: int,
    max_bucket: int | None = None,
) -> str:
    """Shared CTE chain: 64-bit signature halves (MATERIALIZED — the
    band arms reference sig 4-6x and DuckDB 1.0 re-inlines CTEs),
    banded self-join, combined-Hamming verify, distinct.
    ``max_bucket`` mirrors the hot-bucket guard on the oracle side."""
    src = "bands"
    guard = ""
    if max_bucket is not None:
        guard = f""",
keepb AS (
  SELECT band, bhash FROM bands
  GROUP BY band, bhash HAVING count(*) <= {max_bucket}
),
bands_g AS (
  SELECT b.* FROM bands b JOIN keepb k
    ON b.band = k.band AND b.bhash = k.bhash
)"""
        src = "bands_g"
    return f"""
WITH {_sql_simhash_sig_chain(base_sql)},
bands AS ({band_rows}){guard},
cand AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
         bit_count(xor(l.sig_hi, r.sig_hi))
           + bit_count(xor(l.sig_lo, r.sig_lo)) AS hamming
  FROM {src} l JOIN {src} r
    ON l.band = r.band AND l.bhash = r.bhash AND l.doc_id < r.doc_id
)
SELECT DISTINCT doc_a, doc_b, hamming FROM cand WHERE hamming <= {hamming_max}
"""


def sql_minhash_signature_select(shingles_expr: str) -> str:
    """Permutation minima over an already-hashed shingle list."""
    cols = []
    for i in range(MINHASH_K):
        a, b = _MH_A[i], _MH_B[i]
        cols.append(
            f"list_min(list_transform({shingles_expr}, "
            f"h -> (h * {a} + {b}) % {_MH_P})) AS mh{i}"
        )
    return ", ".join(cols)


def sql_simhash_half(words_col: str) -> str:
    """Majority-vote fold of one 32-bit half over a word-list column —
    bit j set iff >= half the tokens set it (2*votes >= len, so zero
    tokens votes every bit set, matching the Spark finish lambda)."""
    bit_terms = []
    for j in range(32):
        votes = (
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform({words_col}, "
            f"x -> CAST(x & {1 << j} > 0 AS BIGINT))), (a, b) -> a + b)"
        )
        bit_terms.append(
            f"(CASE WHEN {votes} * 2 >= len({words_col}) "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return "(" + " + ".join(bit_terms) + ")"


# ---------------------------------------------------------------------------
# Benchmark decontamination — eval-set n-gram overlap
# ---------------------------------------------------------------------------

EVAL_MOD = 100


def contamination_check(
    docs: DataFrame, n: int = 3, eval_mod: int = EVAL_MOD
) -> DataFrame:
    """Benchmark decontamination: flag training documents whose n-gram
    shingles overlap a held-out eval set (here the deterministic
    doc_id % eval_mod == 0 slice stands in for the benchmark suite).

    The scale shape is the asymmetry: the eval side is filtered BEFORE
    shingling (predicate reaches the scan, ~1% of the corpus pays the
    hash cost twice), its distinct shingle set is tiny and broadcast,
    and the corpus side is one explode -> broadcast LEFT join -> one
    doc_id-keyed aggregation.  No shuffle ever carries text — only
    8-byte shingle hashes.  LEFT join (not semi) so zero-hit documents
    survive with n_hits = 0 and the output is a total verdict over the
    corpus.  At 100 TB the eval set is a real benchmark table and the
    broadcast is a few MB of hashes.
    """
    is_eval = F.col("doc_id") % eval_mod == 0
    # explode_outer on both legs: see ngram_jaccard_pairs — inner
    # explode would infer a size() filter that re-runs the shingling
    # at the scan
    eval_shingles = (
        with_hashed_shingles(docs.filter(is_eval), n)
        .select(F.explode_outer("shingles").alias("shingle"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = with_hashed_shingles(docs.filter(~is_eval), n).select(
        "doc_id",
        F.size("shingles").alias("n_shingles"),
        F.explode_outer("shingles").alias("shingle"),
    )
    return (
        corpus.join(F.broadcast(eval_shingles), "shingle", "left")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count("hit").alias("n_hits"))
        .select(
            "doc_id",
            "n_shingles",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_shingles")).alias(
                "contam_frac"
            ),
            (F.col("n_hits") > 0).alias("contaminated"),
        )
    )


def sql_contamination_check(
    table: str = "documents", n: int = 3, eval_mod: int = EVAL_MOD
) -> str:
    shingles = sql_hashed_word_shingles(sql_tokens("text"), n)
    return f"""
WITH sh AS (SELECT doc_id, {shingles} AS shingles FROM {table}),
ev AS (SELECT DISTINCT unnest(shingles) AS shingle FROM sh
       WHERE doc_id % {eval_mod} = 0),
corpus AS (SELECT doc_id, len(shingles) AS n_shingles,
                  unnest(shingles) AS shingle
           FROM sh WHERE doc_id % {eval_mod} <> 0),
hits AS (SELECT c.doc_id, c.n_shingles, count(e.shingle) AS n_hits
         FROM corpus c LEFT JOIN ev e ON c.shingle = e.shingle
         GROUP BY c.doc_id, c.n_shingles)
SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_hits AS BIGINT) AS n_hits,
       CAST(n_hits AS DOUBLE) / n_shingles AS contam_frac,
       n_hits > 0 AS contaminated
FROM hits
"""


def ngram_containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Asymmetric near-dup pairs by CONTAINMENT: |A ∩ B| / min(|A|,|B|).

    Jaccard misses doc-in-doc duplication — a short article embedded in
    a long page scores |A|/|B| « threshold on Jaccard but 1.0 on
    containment of the smaller side.  Same inverted-index self-join and
    single shingle-keyed exchange as ngram_jaccard_pairs; only the
    scoring expression differs, so every scale property (fixed-width
    keys, ReusedExchange legs, DF-cutoff composability) carries over.
    """
    sh = shared(with_hashed_shingles, docs, n=n)
    inv = sh.select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.explode_outer("shingles").alias("shingle"),
    )
    right = inv.select(
        F.col("shingle").alias("shingle_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("nb"),
    )
    pairs = inv.select(
        "shingle", F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")
    ).join(
        right,
        (F.col("shingle") == F.col("shingle_b"))
        & (F.col("doc_a") < F.col("doc_b")),
    )
    inter = pairs.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("n_inter"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
    )
    return (
        inter.withColumn(
            "containment", F.col("n_inter") / F.least("na", "nb")
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )


def sql_ngram_containment_pairs(
    base_sql: str, n: int = 3, threshold: float = 0.9
) -> str:
    """DuckDB twin of ngram_containment_pairs."""
    shingles = sql_hashed_word_shingles(sql_tokens("text"), n)
    return f"""
WITH base AS (SELECT * FROM {base_sql}),
sh AS (SELECT doc_id, {shingles} AS shingles FROM base),
sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= {threshold}
"""


def with_incremental_batch(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic ingest batch for the incremental-dedup
    tier: exact copies (doc_id%10=0), near copies (+' zz', %10=5), and
    genuinely fresh docs (word-reversed text, %10=1)."""
    exact = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    near = docs.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
        "lang", "source", "n_chars",
    )
    fresh = docs.filter(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.reverse(F.split(F.col("text"), " "))).alias("text"),
        "lang", "source", "n_chars",
    )
    return exact.unionByName(near).unionByName(fresh)


def sql_incremental_batch(table: str = "documents") -> str:
    return f"""(
SELECT doc_id + {PLANT_OFFSET} AS doc_id, text, lang, source, n_chars
FROM {table} WHERE doc_id % 10 = 0
UNION ALL
SELECT doc_id + {PLANT_OFFSET} AS doc_id, text || ' zz' AS text,
       lang, source, n_chars
FROM {table} WHERE doc_id % 10 = 5
UNION ALL
SELECT doc_id + {PLANT_OFFSET} AS doc_id,
       array_to_string(list_reverse(str_split(text, ' ')), ' ') AS text,
       lang, source, n_chars
FROM {table} WHERE doc_id % 10 = 1
)"""


def incremental_dedup_decisions(
    corpus: DataFrame, batch: DataFrame, n: int = 3, threshold: float = 0.6
) -> DataFrame:
    """Incremental-ingest dedup: admit a NEW batch against an EXISTING
    kept corpus — the operator an append-only 100 TB pipeline actually
    runs daily (re-deduping the full corpus per ingest is O(corpus);
    this is O(batch x corpus-index)).

    Two tiers, both restricted to cross-corpus candidates only:
      exact — batch content-hash anti-joined against the corpus hash
        index (fixed-width sha256 keys; at scale the corpus side is a
        pre-built bucketed hash table, so the join co-locates without
        reshuffling the corpus);
      near — the inverted-index join keyed on shingles, but corpus legs
        join only BATCH legs (no corpus x corpus, no batch x batch):
        candidate volume scales with |batch|, not |corpus|^2.
    Emits one decision row per batch doc: exact_dup, near_dup, keep.
    """
    c_sh = with_hashed_shingles(corpus, n)
    b_sh = with_hashed_shingles(batch, n)
    c_hash = corpus.select(F.sha2(F.col("text"), 256).alias("ch")).distinct()
    b_hash = batch.select("doc_id", F.sha2(F.col("text"), 256).alias("h"))
    # NULL-SAFE equality, deliberately: a plain equi-join lets
    # InferFiltersFromConstraints add isnotnull(h), which pushdown
    # rewrites through the projection into isnotnull(sha2(<whole text
    # expression>)) at the SCAN — re-evaluating the hash chain per row
    # (the same inference trap as the generate tier, join-key flavored;
    # caught by plans/audit.py's predicate markers).  <=> infers no
    # null filter, and text is non-null by the envelope contract, so
    # the join result is identical to the equi-join on both engines.
    exact = (
        b_hash.join(c_hash, F.col("h").eqNullSafe(F.col("ch")))
        .select("doc_id")
        .distinct()
        .withColumn("exact_dup", F.lit(True))
    )
    # pair identity is (batch doc, corpus doc): grouping must key on the
    # corpus doc_id, not its shingle count (two corpus docs with equal
    # counts would merge and inflate the intersection).  Sizes travel
    # as first() aggregates, NOT grouping keys — a grouping key feeding
    # the jaccard comparison lets constraint propagation push an
    # isnotnull(size(<entire shingling HOF>)) filter down to the scan,
    # re-evaluating the shingling per row (the audit's 12x trap).
    c_inv = c_sh.select(
        F.col("doc_id").alias("c_doc"),
        F.size("shingles").alias("nc"),
        F.explode_outer("shingles").alias("shingle"),
    )
    b_inv = b_sh.select(
        "doc_id",
        F.size("shingles").alias("nb"),
        F.explode_outer("shingles").alias("shingle"),
    )
    inter = (
        b_inv.join(c_inv, "shingle")
        .groupBy("doc_id", "c_doc")
        .agg(
            F.count("*").alias("n_inter"),
            F.first("nb").alias("nb"),
            F.first("nc").alias("nc"),
        )
    )
    near = (
        inter.withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("nb") + F.col("nc") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id")
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
            (~F.coalesce("exact_dup", F.lit(False))
             & ~F.coalesce("near_dup", F.lit(False))).alias("keep"),
        )
    )


def sql_incremental_dedup_decisions(
    corpus_sql: str, batch_sql: str, n: int = 3, threshold: float = 0.6
) -> str:
    """DuckDB twin of incremental_dedup_decisions."""
    shingles = sql_hashed_word_shingles(sql_tokens("text"), n)
    return f"""
WITH corpus AS (SELECT * FROM {corpus_sql}),
batch AS (SELECT * FROM {batch_sql}),
c_sh AS (SELECT doc_id, {shingles} AS shingles FROM corpus),
b_sh AS (SELECT doc_id, {shingles} AS shingles FROM batch),
c_hash AS (SELECT DISTINCT sha256(text) AS h FROM corpus),
b_hash AS (SELECT doc_id, sha256(text) AS h FROM batch),
exact AS (SELECT DISTINCT b.doc_id FROM b_hash b JOIN c_hash c USING (h)),
c_inv AS (SELECT doc_id AS c_doc, len(shingles) AS nc,
                 unnest(shingles) AS shingle FROM c_sh),
b_inv AS (SELECT doc_id, len(shingles) AS nb, unnest(shingles) AS shingle
          FROM b_sh),
inter AS (
  SELECT b.doc_id, c.c_doc, count(*) AS n_inter,
         any_value(b.nb) AS nb, any_value(c.nc) AS nc
  FROM b_inv b JOIN c_inv c USING (shingle)
  GROUP BY 1, 2
),
near AS (
  SELECT DISTINCT doc_id FROM inter
  WHERE CAST(n_inter AS DOUBLE) / (nb + nc - n_inter) >= {threshold}
)
SELECT batch.doc_id,
       batch.doc_id IN (SELECT doc_id FROM exact) AS exact_dup,
       batch.doc_id IN (SELECT doc_id FROM near) AS near_dup,
       NOT (batch.doc_id IN (SELECT doc_id FROM exact))
         AND NOT (batch.doc_id IN (SELECT doc_id FROM near)) AS keep
FROM batch
"""


# ---------------------------------------------------------------------------
# Edit-distance fuzzy matching — deletion-neighborhood blocking (SymSpell)
# ---------------------------------------------------------------------------

FUZZY_MAX_DIST = 4


def fuzzy_name_pairs(
    parts: DataFrame,
    name_col: str = "p_name",
    max_dist: int = FUZZY_MAX_DIST,
) -> DataFrame:
    """Entity-resolution fuzzy match over a name column: pairs of
    DISTINCT names within ``max_dist`` Levenshtein edits, found via
    token-deletion-neighborhood blocking (the SymSpell / spelling-
    correction indexing idea, Garbe 2012: two strings that differ in
    one token share the key made by deleting that token).

    The cascade is the standard ER shape — canonicalize, block,
    verify:
    1. **canonicalize**: collapse to distinct names first, so a name
       with a million duplicate rows contributes ONE blocking row, not
       a million (the catalog-entity cardinality, not the fact-row
       cardinality, drives the candidate volume);
    2. **block**: each k-token name emits k deletion keys; candidates
       are pairs sharing a key.  The self-join shuffles an 8-byte hash
       of the key (never the name) and each deletion bucket is tiny —
       no quadratic fan-out on the full corpus;
    3. **verify**: exact ``levenshtein`` on the (few) candidates —
       classic-DP integer distance, identical in both engines, so the
       oracle check is exact.

    Output: (name_a, name_b, dist) for distinct-name pairs with
    name_a < name_b and dist <= max_dist.
    """
    from eventstreamd_spark.functions.text import poly_hash

    toks = F.split(F.col("name"), " ")
    keys = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 1),
        lambda i: F.concat_ws(
            " ",
            F.concat(
                F.slice(toks, 1, i),
                F.slice(toks, i + 2, F.size(toks)),
            ),
        ),
    )
    names = parts.select(F.col(name_col).alias("name")).distinct()
    blocked = names.select(
        "name", F.explode_outer(keys).alias("__k")
    ).select("name", poly_hash(F.col("__k")).alias("kh"))
    right = blocked.select(
        F.col("kh").alias("kh_b"), F.col("name").alias("name_b")
    )
    cand = (
        blocked.join(
            right,
            (F.col("kh") == F.col("kh_b"))
            & (F.col("name") < F.col("name_b")),
        )
        .select(F.col("name").alias("name_a"), "name_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "dist", F.levenshtein(F.col("name_a"), F.col("name_b"))
        )
        .filter(F.col("dist") <= max_dist)
        .select("name_a", "name_b", F.col("dist").cast("bigint").alias("dist"))
    )


def sql_fuzzy_name_pairs(
    table: str = "part",
    name_col: str = "p_name",
    max_dist: int = FUZZY_MAX_DIST,
) -> str:
    """DuckDB twin — same deletion keys, hash blocking, and verify."""
    from eventstreamd_spark.functions.text import sql_poly_hash

    kh = sql_poly_hash("k.key")
    return f"""
WITH names AS (SELECT DISTINCT {name_col} AS name FROM {table}),
keys AS (
  SELECT name,
         unnest(list_transform(range(0, len(string_split(name, ' '))),
           i -> array_to_string(
                  list_concat(
                    list_slice(string_split(name, ' '), 1, i),
                    list_slice(string_split(name, ' '), i + 2,
                               len(string_split(name, ' ')))),
                  ' '))) AS key
  FROM names
),
blocked AS (SELECT name, {kh} AS kh FROM keys k),
cand AS (
  SELECT DISTINCT a.name AS name_a, b.name AS name_b
  FROM blocked a JOIN blocked b
    ON a.kh = b.kh AND a.name < b.name
)
SELECT name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
FROM cand
WHERE levenshtein(name_a, name_b) <= {max_dist}
"""


def source_overlap(docs: DataFrame, n: int = 3) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources,
    the number of shared distinct n-gram shingle hashes and the
    source-level Jaccard — the "is source A scraping source B"
    audit run before mixing corpora (shared boilerplate inflates
    dedup pressure and double-counts tokens in the mix plan).

    Scale shape: the inverted index is (source, shingle) DISTINCT —
    already collapsed from doc granularity, so the self-join's
    fan-out per shingle is bounded by n_sources^2 (a few hundred
    pairs), NOT doc-frequency^2; the matrix output is
    n_sources*(n_sources-1)/2 rows.  Integer counts divide in double:
    engine-exact.
    """
    # null/empty-text docs contribute no shingles; dropping them up
    # front keeps the two engines' shingle-fold edge cases (NULL token
    # lists) out of the size denominators entirely
    sh = with_hashed_shingles(
        docs.filter(F.col("text").isNotNull() & (F.col("text") != "")),
        n,
        keep=("source",),
    ).select("source", "shingles")
    # drop NULL shingles (null/empty text explodes to a NULL row that
    # DuckDB's unnest would not produce) so sizes agree on any corpus
    # the inverted index feeds THREE consumers (self-join left, right,
    # and the size table) and Catalyst has no cross-subtree reuse — an
    # un-materialized plan pays the explode+distinct three times.
    # localCheckpoint materializes it once (the in-session analog of
    # writing the inverted index to parquet, which is what a standing
    # 100 TB contamination audit would do; same idiom as kmv_join_size's
    # presence table and the dedup edge list).
    inv = (
        sh.select("source", F.explode_outer("shingles").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
        .distinct()
        # lazy (round 13): the three consumers read blocks computed
        # once per partition inside the first executing job; eager
        # materialization only added a driver-synchronized job
        .localCheckpoint(eager=False)
    )
    sizes = inv.groupBy("source").agg(F.count("*").alias("n_sh"))
    right = inv.select(
        F.col("shingle").alias("shingle_b"), F.col("source").alias("source_b")
    )
    inter = (
        inv.join(
            right,
            (F.col("shingle") == F.col("shingle_b"))
            & (F.col("source") < F.col("source_b")),
        )
        .groupBy("source", "source_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select("source", F.col("n_sh").alias("n_a"))),
            "source",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"),
                    F.col("n_sh").alias("n_b"),
                )
            ),
            "source_b",
        )
        .select(
            F.col("source").alias("source_a"),
            "source_b",
            "n_inter",
            "n_a",
            "n_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


def sql_source_overlap(table: str = "documents", n: int = 3) -> str:
    """DuckDB twin — identical shingle construction and pair algebra."""
    shingles = sql_hashed_word_shingles(sql_tokens("text"), n)
    return f"""
WITH sh AS (SELECT source, {shingles} AS shingles FROM {table}
            WHERE text IS NOT NULL AND text <> ''),
inv AS (
  SELECT DISTINCT source, shingle FROM (
    SELECT source, unnest(shingles) AS shingle FROM sh
  )
),
sizes AS (SELECT source, count(*) AS n_sh FROM inv GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_inter
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a AS source_a, i.source_b AS source_b, i.n_inter AS n_inter,
       sa.n_sh AS n_a, sb.n_sh AS n_b,
       CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter)
         AS jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b
"""


def resolve_entities(
    parts: DataFrame,
    name_col: str = "p_name",
    max_dist: int = FUZZY_MAX_DIST,
) -> DataFrame:
    """Full entity resolution: fuzzy pairs -> connected components ->
    one canonical ``entity_id`` (the min name of the component) for
    EVERY distinct name, singletons mapping to themselves, plus the
    resolved entity's member count.

    This is the last step of the classic ER cascade that
    ``fuzzy_name_pairs`` starts (canonicalize -> block -> verify):
    transitive closure merges A~B and B~C into one entity even when
    A and C are more than ``max_dist`` edits apart.  Components run on
    the NAME strings directly — large-star/small-star only needs a
    total order, and binary string comparison is identical in Spark
    and DuckDB, so the canonical label is oracle-exact.

    Scale: candidate volume is bounded by the blocking tier; the
    closure is O(log n) rounds over an edge set of matched pairs
    (orders of magnitude smaller than the catalog); the final member
    count is one window over entity_id.
    """
    from pyspark.sql import Window

    pairs = fuzzy_name_pairs(parts, name_col, max_dist)
    # no edge checkpoint (round 13): the single-scan star passes read
    # the edges exactly once, so the blocking + levenshtein verify
    # runs once through lineage (see dedup_clusters)
    edges = pairs.select(
        F.col("name_a").alias("src"), F.col("name_b").alias("dst")
    )
    comp = connected_components(edges)
    names = parts.select(F.col(name_col).alias("name")).distinct()
    resolved = names.join(
        comp, names["name"] == comp["node"], "left"
    ).select(
        "name",
        F.coalesce(F.col("component"), F.col("name")).alias("entity_id"),
    )
    return resolved.withColumn(
        "n_names", F.count("*").over(Window.partitionBy("entity_id"))
    )


def sql_resolve_entities(
    table: str = "part",
    name_col: str = "p_name",
    max_dist: int = FUZZY_MAX_DIST,
) -> str:
    """DuckDB twin: recursive transitive closure over the same fuzzy
    pairs, min-name label, singletons restored by left join."""
    pairs = sql_fuzzy_name_pairs(table, name_col, max_dist)
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS MATERIALIZED (
  SELECT name_a AS src, name_b AS dst FROM pairs
  UNION ALL SELECT name_b AS src, name_a AS dst FROM pairs
),
all_names AS (SELECT DISTINCT {name_col} AS name FROM {table}),
reach(name, label) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.name
),
comp AS (SELECT name, min(label) AS entity_id FROM reach GROUP BY name),
resolved AS (
  SELECT n.name AS name, coalesce(c.entity_id, n.name) AS entity_id
  FROM all_names n LEFT JOIN comp c ON c.name = n.name
)
SELECT name, entity_id,
       count(*) OVER (PARTITION BY entity_id) AS n_names
FROM resolved
"""


# ---------------------------------------------------------------------------
# Threshold-sensitivity report (dedup tuning)
# ---------------------------------------------------------------------------

SWEEP_EDGES = (0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)


def jaccard_threshold_sweep(
    docs: DataFrame,
    n: int = 3,
    edges: tuple = SWEEP_EDGES,
) -> DataFrame:
    """Dedup tuning report: how many candidate pairs survive at each
    Jaccard threshold — the sweep you run BEFORE fixing the production
    cutoff (a threshold picked blind either misses boilerplate or
    deletes legitimate documents; this shows the knee).

    One pass: the exact pair scores are computed once (the inverted-
    index plan of ngram_jaccard_pairs at the LOWEST edge) and the
    report is a histogram over them — NOT one pipeline run per
    threshold.  Cumulative counts (pairs with jaccard >= edge) come
    from a reverse running sum over the |edges|-row histogram.
    """
    pairs = ngram_jaccard_pairs(docs, n, threshold=min(edges))
    # built ascending so the HIGHEST matching edge sits outermost in
    # the when-chain (last wrap wins) — first-match-wins like the SQL
    # CASE written descending
    bucket = F.lit(None).cast("double")
    for e in sorted(edges):
        bucket = F.when(F.col("jaccard") >= e, F.lit(float(e))).otherwise(
            bucket
        )
    hist = (
        pairs.withColumn("edge", bucket)
        .groupBy("edge")
        .agg(F.count("*").alias("n_in_band"))
    )
    from pyspark.sql import Window as W

    w = W.orderBy(F.desc("edge")).rowsBetween(W.unboundedPreceding, 0)
    return hist.select(
        "edge",
        F.col("n_in_band").cast("bigint").alias("n_in_band"),
        F.sum("n_in_band").over(w).cast("bigint").alias("n_pairs_at_least"),
    )


def sql_jaccard_threshold_sweep(
    base_sql: str, n: int = 3, edges: tuple = SWEEP_EDGES
) -> str:
    """DuckDB twin — same single scoring pass and reverse cumulative."""
    pairs = sql_ngram_jaccard_pairs(base_sql, n, threshold=min(edges))
    cases = " ".join(
        f"WHEN jaccard >= {float(e)} THEN {float(e)}"
        for e in sorted(edges, reverse=True)
    )
    return f"""
WITH pairs AS ({pairs}),
hist AS (
  SELECT CASE {cases} END AS edge, count(*) AS n_in_band
  FROM pairs GROUP BY 1
)
SELECT edge, CAST(n_in_band AS BIGINT) AS n_in_band,
       CAST(sum(n_in_band) OVER (ORDER BY edge DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_pairs_at_least
FROM hist
"""


# ---------------------------------------------------------------------------
# Train/test split leakage audit
# ---------------------------------------------------------------------------


def split_leakage_check(
    docs: DataFrame,
    weights: dict[str, float],
    n: int = 3,
    threshold: float = 0.6,
    salt: str = "s2",
) -> DataFrame:
    """Cross-split leakage audit: near-dup pairs that STRADDLE a
    train/val/test boundary — the failure decontamination screens for
    external benchmarks but misses inside your own corpus (a test doc
    whose near-copy sits in train is a leaked answer; hash-disjoint
    splits guarantee no doc is in two splits, NOT that no *content*
    is).

    Composition: the MinHash-LSH pair tier (banded candidates, exact
    verify) + the hash-gated split assignment joined onto both pair
    legs; the report groups by the (split_a, split_b) boundary.  The
    split join keys are 8-byte doc ids against a 2-column broadcastable
    projection — the expensive part (pair generation) is the existing
    bounded LSH plan, reused as-is.

    Two-leg audit note: the ``splits`` frame feeds BOTH join legs, but
    deliberately stays un-checkpointed — it is a hash of doc_id over a
    pruned single-column scan (no text read), so recomputing it costs
    two narrow column scans while materializing it would add an
    exchange plus corpus-sized checkpoint storage.  The expensive
    subtree (LSH pair generation) feeds exactly one leg.
    """
    from eventstreamd_spark.operators.sampling import dataset_split

    pairs = shared(minhash_lsh_dedup, docs, n=n, threshold=threshold)
    splits = dataset_split(docs, "doc_id", weights, salt=salt).select(
        "doc_id", "split"
    )
    tagged = (
        pairs.join(
            splits.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
            ),
            "doc_a",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
            ),
            "doc_b",
        )
    )
    # canonicalize the boundary label so (train,test) == (test,train)
    lo = F.least("split_a", "split_b")
    hi = F.greatest("split_a", "split_b")
    return (
        tagged.groupBy(lo.alias("split_lo"), hi.alias("split_hi"))
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .select(
            "split_lo",
            "split_hi",
            "n_pairs",
            (F.col("split_lo") != F.col("split_hi")).alias("is_boundary"),
        )
    )


def sql_split_leakage_check(
    base_sql: str,
    weights: dict[str, float],
    n: int = 3,
    threshold: float = 0.6,
    salt: str = "s2",
) -> str:
    """DuckDB twin — same pair tier, split gate, and boundary
    canonicalization."""
    from eventstreamd_spark.operators.sampling import sql_dataset_split

    pairs = sql_minhash_lsh_dedup(base_sql, n, threshold)
    split_case = sql_dataset_split("doc_id", weights, salt=salt)
    return f"""
WITH pairs AS ({pairs}),
splits AS (SELECT doc_id, {split_case} FROM {base_sql}),
tagged AS (
  SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
  FROM pairs p
  JOIN splits sa ON sa.doc_id = p.doc_a
  JOIN splits sb ON sb.doc_id = p.doc_b
)
SELECT least(split_a, split_b) AS split_lo,
       greatest(split_a, split_b) AS split_hi,
       CAST(count(*) AS BIGINT) AS n_pairs,
       least(split_a, split_b) <> greatest(split_a, split_b) AS is_boundary
FROM tagged
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# LSH recall report (dedup-quality observability — the dedup analog of
# similarity.ann_recall_report)
# ---------------------------------------------------------------------------


def lsh_recall_report(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Per-similarity-bucket recall of the MinHash-LSH tier against the
    exact inverted-index ground truth — the eval a dedup pipeline runs
    when tuning bands/rows: LSH recall is a FUNCTION of the true
    Jaccard (the banding S-curve), so a single recall number hides
    exactly the marginal pairs the banding drops.  Buckets are
    floor(jaccard*10); per bucket: ground-truth pair count, pairs the
    LSH tier caught, recall.

    Precision needs no row here: the LSH tier's verify stage recomputes
    EXACT Jaccard over the same shingle sets, so false positives are
    impossible by construction (pinned by test, not report).

    Plan: the two existing pair tiers joined on (doc_a, doc_b) — both
    candidate-bounded — then a tiny bucket aggregate.  Bucketing
    arithmetic (one IEEE multiply + floor of an integer-ratio double)
    is bit-identical across engines.
    """
    exact = ngram_jaccard_pairs(docs, n, threshold)
    pairs = shared(minhash_lsh_dedup, docs, n=n, threshold=threshold)
    caught = pairs.select("doc_a", "doc_b", F.lit(1).alias("hit"))
    labeled = exact.join(caught, ["doc_a", "doc_b"], "left")
    bucket = F.floor(F.col("jaccard") * 10).cast("bigint")
    return (
        labeled.groupBy(bucket.alias("j_bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_caught"),
        )
        .select(
            "j_bucket",
            "n_pairs",
            "n_caught",
            (F.col("n_caught") / F.col("n_pairs")).alias("recall"),
        )
    )


def sql_lsh_recall_report(
    base_sql: str, n: int = 3, threshold: float = 0.6
) -> str:
    """DuckDB twin of lsh_recall_report (nests both pair oracles)."""
    exact = sql_ngram_jaccard_pairs(base_sql, n, threshold)
    caught = sql_minhash_lsh_dedup(base_sql, n, threshold)
    return f"""
WITH exact_pairs AS ({exact}),
caught AS ({caught})
SELECT CAST(floor(e.jaccard * 10) AS BIGINT) AS j_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_caught,
       CAST(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / count(*) AS recall
FROM exact_pairs e
LEFT JOIN caught c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Survivorship merge (golden-record construction after entity resolution)
# ---------------------------------------------------------------------------


def survivorship_merge(parts: DataFrame, name_col: str = "p_name") -> DataFrame:
    """Golden records: one surviving row per resolved entity, with the
    classic survivorship rules applied attribute-by-attribute — the
    step after ``resolve_entities`` that MDM/catalog pipelines actually
    ship (the closure says WHICH rows co-refer; this says what the
    merged record contains):

    - surviving key   = MIN member p_partkey (stable, join-preserving);
    - price           = MAX member p_retailprice (latest-list heuristic);
    - brand           = modal member p_brand, ties to the smaller brand
                        string (frequency consensus);
    - n_members       = component size.

    Determinism: min/max over ints and doubles are order-free; the mode
    is a row_number window ordered (count DESC, brand ASC) — integer
    counts + binary string order, identical in both engines.

    Plan: the ER closure (bounded edge set) + one member join + two
    entity-keyed aggregates; everything after the closure shuffles on
    entity_id only.
    """
    from pyspark.sql import Window

    resolved = resolve_entities(parts, name_col).select("name", "entity_id")
    members = parts.join(
        resolved, parts[name_col] == resolved["name"]
    ).select(
        "entity_id",
        F.col("p_partkey").alias("member_key"),
        F.col("p_retailprice").alias("price"),
        F.col("p_brand").alias("brand"),
    )
    base = members.groupBy("entity_id").agg(
        F.min("member_key").cast("bigint").alias("surviving_key"),
        F.max("price").alias("max_price"),
        F.count("*").cast("bigint").alias("n_members"),
    )
    brand_counts = members.groupBy("entity_id", "brand").agg(
        F.count("*").alias("bn")
    )
    w = Window.partitionBy("entity_id").orderBy(
        F.desc("bn"), F.asc("brand")
    )
    modal = (
        brand_counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("entity_id", F.col("brand").alias("modal_brand"))
    )
    return base.join(modal, "entity_id").select(
        "entity_id", "surviving_key", "modal_brand", "max_price", "n_members"
    )


def sql_survivorship_merge(
    table: str = "part", name_col: str = "p_name"
) -> str:
    """DuckDB twin of survivorship_merge (same ER closure + rules)."""
    resolved = sql_resolve_entities(table, name_col)
    return f"""
WITH resolved AS ({resolved}),
members AS (
  SELECT r.entity_id, t.p_partkey AS member_key,
         t.p_retailprice AS price, t.p_brand AS brand
  FROM {table} t JOIN resolved r ON r.name = t.{name_col}
),
base AS (
  SELECT entity_id,
         CAST(min(member_key) AS BIGINT) AS surviving_key,
         max(price) AS max_price,
         CAST(count(*) AS BIGINT) AS n_members
  FROM members GROUP BY entity_id
),
brand_counts AS (
  SELECT entity_id, brand, count(*) AS bn
  FROM members GROUP BY entity_id, brand
),
modal AS (
  SELECT entity_id, brand AS modal_brand FROM (
    SELECT entity_id, brand,
           row_number() OVER (PARTITION BY entity_id
                              ORDER BY bn DESC, brand ASC) AS rk
    FROM brand_counts
  ) WHERE rk = 1
)
SELECT b.entity_id, b.surviving_key, m.modal_brand, b.max_price,
       b.n_members
FROM base b JOIN modal m ON m.entity_id = b.entity_id
"""


# ---------------------------------------------------------------------------
# Incremental TEXT admission (round 11): the media admission machinery
# generalized to the 64-bit shingle SimHash — near-dup dedup AT INGEST
# for text, batch- and stream-faced, sharing one decision kernel.
# ---------------------------------------------------------------------------

# the signature family descriptor the banding/stacking helpers take
# (perceptual band_stack kinds): one 64-bit word, string band labels
# s0..s3 so the band-partitioned index layout matches the media one
TEXT_SIG_KINDS = (("s", "s_hi", "s_lo"),)



def simhash_admission_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, s_hi, s_lo): the shingle-SimHash signature in the
    admission pipeline's pluggable shape — pass as ``sig_fn`` with
    ``kinds=TEXT_SIG_KINDS`` to streaming/pipeline.py's admission
    writer (or use the ``start_text_admission`` convenience)."""
    return simhash_signatures(docs).select(
        "doc_id",
        F.col("sig_hi").alias("s_hi"),
        F.col("sig_lo").alias("s_lo"),
    )


def text_admission_decisions(
    docs: DataFrame,
    in_corpus: Column,
    hamming_max: int = HAMMING_MAX,
    max_iters: int = 16,
    wide: bool = False,
) -> DataFrame:
    """Batch-verifiable incremental text admission: dedup the CORPUS
    (the rows of ``docs`` where the doc_id predicate ``in_corpus``
    holds) first — its kept canonicals' SimHash signatures form the
    banded index — then admit the BATCH (every other row) against that
    index: the text twin of ``perceptual.media_admission_decisions``,
    running the SAME decision kernel (``admission_decisions_from_sig``)
    the streaming writer runs, so batch and stream verdicts agree by
    construction.
    At 100 TB this is the nightly text-ingest shape: the corpus index
    is a prebuilt 2-BIGINT/doc signature table and only the new batch
    is tokenized.  ``wide`` opts both the corpus dedup and the
    admission join into the 32-bit pair-band layout (the 10^9-doc
    tier).  The VERIFY bound stays ``hamming_max`` under both layouts
    — wide changes candidate generation only, so guaranteed recall
    drops to the pair-band pigeonhole bound (combined Hamming <= 2)
    and distance-3 twins surface best-effort; the media wide
    admission face states the same dial (guarantee 6, verify
    ``hamming_max``).  Both engines band identically, so the
    registered wide face stays hash-exact regardless."""
    from eventstreamd_spark.operators.perceptual import (
        _sig_clusters,
        admission_decisions_from_sig,
    )

    # both splits filter the session's ONE signature relation over
    # ``docs`` (shared with the SimHash pair tiers): signatures are
    # per-doc and deterministic, so filtering equals running the
    # kernel per split, and the banded self-joins read a materialized
    # leaf instead of re-running the kernel per reference
    sig = shared(simhash_signatures, docs).select(
        "doc_id", F.col("sig_hi").alias("s_hi"), F.col("sig_lo").alias("s_lo")
    )
    corpus_sig = sig.filter(in_corpus)
    index_sig = corpus_sig.join(
        _sig_clusters(
            docs.filter(in_corpus).select("doc_id"),
            corpus_sig,
            hamming_max,
            max_iters,
            TEXT_SIG_KINDS,
            wide=wide,
        )
        .filter(F.col("keep"))
        .select("doc_id"),
        "doc_id",
    )
    return admission_decisions_from_sig(
        sig.filter(~in_corpus),
        index_sig,
        hamming_max,
        max_iters,
        kinds=TEXT_SIG_KINDS,
        wide=wide,
    )


def sql_text_admission_decisions(
    base_sql: str, hamming_max: int = HAMMING_MAX
) -> str:
    """DuckDB twin of the registered text-admission split (the shared
    ``perceptual.sql_admission_tail`` over the SimHash sig chain):
    corpus = even original docs, batch = odd originals + every plant —
    so plants of even sources reject against the INDEX, plants of odd
    sources reject IN-batch against their kept source, and unpaired
    odd docs admit."""
    from eventstreamd_spark.operators.perceptual import sql_admission_tail

    ham = (
        "bit_count(xor(l.sig_hi, r.sig_hi)) "
        "+ bit_count(xor(l.sig_lo, r.sig_lo))"
    )
    tail = sql_admission_tail(
        f"doc_id < {PLANT_OFFSET} AND doc_id % 2 = 0",
        f"doc_id >= {PLANT_OFFSET} OR doc_id % 2 = 1",
        _sql_simhash_band_rows,
        ham,
        hamming_max,
    )
    return f"""
WITH RECURSIVE {_sql_simhash_sig_chain(base_sql)},
{tail}"""


def sql_text_admission_decisions_wide(
    base_sql: str, hamming_max: int = HAMMING_MAX
) -> str:
    """DuckDB twin of the WIDE text-admission face (round 12): the
    identical split and decision arithmetic, with candidates from the
    6 x 32-bit PAIR bands instead of the 4 x 16-bit bands — the exact
    banding the Spark side runs with ``wide=True``, so the engines see
    identical candidate sets by construction."""
    from eventstreamd_spark.operators.perceptual import sql_admission_tail

    ham = (
        "bit_count(xor(l.sig_hi, r.sig_hi)) "
        "+ bit_count(xor(l.sig_lo, r.sig_lo))"
    )
    tail = sql_admission_tail(
        f"doc_id < {PLANT_OFFSET} AND doc_id % 2 = 0",
        f"doc_id >= {PLANT_OFFSET} OR doc_id % 2 = 1",
        _sql_simhash_pair_band_rows,
        ham,
        hamming_max,
    )
    return f"""
WITH RECURSIVE {_sql_simhash_sig_chain(base_sql)},
{tail}"""

"""End-to-end curation decisions — the composition a training-data
pipeline actually ships: quality gate + language ID + dedup clustering
joined into one (doc_id, keep) verdict.

Each ingredient is an existing operator (textops.quality_ok_col,
textops/lang_id, dedup.dedup_clusters); this module only composes them,
which is itself the point: every stage is a DataFrame -> DataFrame
function, so the full pipeline is a plain expression Catalyst optimizes
as one plan (feature extraction is a single narrow pass over the text —
NOT one scan per feature — and only the cluster join shuffles).

Keep rule (deliberately simple, the structure is what matters):
keep = quality gate passes AND detected language is identifiable AND
the doc is its near-dup cluster's canonical representative (min id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from eventstreamd_spark.functions.text import lang_id, sql_lang_id, sql_tokens, tokens
from eventstreamd_spark.operators.dedup import dedup_clusters, sql_dedup_clusters
from eventstreamd_spark.operators.textops import quality_ok_col, sql_quality_ok
from eventstreamd_spark.plans.memo import shared
from eventstreamd_spark.session import fan_out


def curation_decisions(docs: DataFrame) -> DataFrame:
    """(doc_id, quality_ok, detected_lang, is_canonical, keep).

    One narrow projection computes both text features (quality flag and
    language) — tokenization is shared by codegen CSE; the only wide
    operation is the join against the cluster assignment, on an 8-byte
    key.  At 100 TB: features scale linearly with no shuffle; the join
    shuffles (doc_id, 3 small columns), never the text.  The cluster
    assignment is the session's shared one (plans/memo.py): every
    closure consumer reads one connected-components pass.
    """
    feats = fan_out(docs).select(
        "doc_id",
        quality_ok_col(F.col("text")).cast("int").alias("quality_ok"),
        lang_id(tokens(F.col("text"))).alias("detected_lang"),
    )
    joined = feats.join(shared(dedup_clusters, docs), "doc_id")
    canonical = F.col("cluster_id") == F.col("doc_id")
    keep = (
        (F.col("quality_ok") == 1)
        & canonical
        & (F.col("detected_lang") != "und")
    )
    return joined.select(
        "doc_id",
        "quality_ok",
        "detected_lang",
        canonical.cast("int").alias("is_canonical"),
        keep.cast("int").alias("keep"),
    )


def sql_curation_decisions(base_sql: str) -> str:
    """DuckDB twin: same features, same cluster closure, same rule."""
    quality = sql_quality_ok("text")
    detected = sql_lang_id(sql_tokens("text"))
    clusters = sql_dedup_clusters(base_sql)
    return f"""
SELECT f.doc_id, f.quality_ok, f.detected_lang,
       CAST(c.cluster_id = f.doc_id AS INT) AS is_canonical,
       CAST((f.quality_ok = 1 AND c.cluster_id = f.doc_id
             AND f.detected_lang <> 'und') AS INT) AS keep
FROM (SELECT doc_id, CAST({quality} AS INT) AS quality_ok,
             {detected} AS detected_lang FROM {base_sql}) f
JOIN ({clusters}) c ON c.doc_id = f.doc_id
"""


def corpus_build_manifest(docs: DataFrame) -> DataFrame:
    """The whole corpus-construction pipeline as ONE composed plan:
    curation verdicts (quality + language + canonical-dedup) gate the
    corpus, survivors get token counts and deterministic token-budget
    shard assignments — i.e. the (doc_id, n_tokens, shard_id,
    shard_start_token) manifest a training job actually consumes.

    Composition is the point (module docstring): every stage is
    DataFrame -> DataFrame, so Catalyst sees one plan — the feature
    pass stays narrow, the dedup closure and the packing prefix-sum
    are the only wide stages, and nothing is materialized between
    "pipeline steps" because there are no steps, just one expression.

    Single-tokenize composition: the feature projection computes
    n_tokens ALONGSIDE the quality/language gates and carries it
    through the cluster join, so the packer consumes the bound count
    instead of re-scanning and re-tokenizing the survivors (the
    original two-leg form paid the corpus text scan and the token fold
    twice; this one pays once — same two wide stages, one corpus read).
    """
    from eventstreamd_spark.operators.layout import (
        SHARD_TOKENS,
        weighted_shard_assignments,
    )

    feats = fan_out(docs).select(
        "doc_id",
        quality_ok_col(F.col("text")).alias("quality_ok"),
        lang_id(tokens(F.col("text"))).alias("detected_lang"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    keep = (
        F.col("quality_ok")
        & (F.col("cluster_id") == F.col("doc_id"))
        & (F.col("detected_lang") != "und")
    )
    kept = (
        feats.join(shared(dedup_clusters, docs), "doc_id")
        .filter(keep)
        .select("doc_id", "n_tokens")
    )
    return weighted_shard_assignments(
        kept, "doc_id", "n_tokens", SHARD_TOKENS
    ).withColumnRenamed("shard_start", "shard_start_token")


def sql_corpus_build_manifest(table: str = "documents") -> str:
    """DuckDB twin: the same composition, curation verdict subquery
    gating the packing CTE."""
    from eventstreamd_spark.operators.layout import (
        sql_token_shard_assignments,
    )

    decisions = sql_curation_decisions(table)
    kept = (
        f"(SELECT d.* FROM {table} d "
        f"JOIN ({decisions}) c ON c.doc_id = d.doc_id WHERE c.keep = 1)"
    )
    return sql_token_shard_assignments(table=kept)

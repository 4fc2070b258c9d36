"""Plan-shaping barriers for expensive predicates.

``filter_once`` exists because of two Spark execution facts that
compound badly on parse-heavy predicates (JSON/variant probing):

1. ``FilterExec`` performs NO common-subexpression elimination — each
   conjunct (and each repeated subexpression inside one) is generated
   independently, because predicate short-circuiting makes eager shared
   evaluation potentially wasted work.  ``ProjectExec`` DOES eliminate
   common subexpressions.
2. ``PushPredicateThroughNonJoin`` pushes a ``Filter`` below a
   ``Project`` by substituting aliases into the condition whenever all
   PROJECT fields are deterministic — the condition's own determinism
   is irrelevant (per-row evaluation count is preserved either way).
   So "project the predicate to a boolean column, filter the column"
   is silently rewritten back into the pathological shape.

``filter_once`` computes the predicate in a projection (one evaluation
per row, CSE with sibling expressions) and blocks the re-substitution
with a nondeterministic project field (``rand()``) that the filter
condition references in an always-false disjunct.  Condition-side
tricks do not survive the optimizer: AND-ed nondeterministic terms are
split off and the deterministic rest pushed alone; ``rand() IS NULL`` /
``rand() < -1`` comparisons are constant-folded away.

Trade-off: the nondeterministic field also stops UNRELATED caller
predicates from pushing below this point.  Use it only where the
predicate itself must read every row anyway (post-parse validation,
fan-out match masks) — there, nothing useful could push below.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def filter_once(df: DataFrame, cond: Column) -> DataFrame:
    """Filter by ``cond``, guaranteeing it is evaluated once per row in
    a projection (CSE'd) rather than re-expanded inside FilterExec."""
    # a fixed seed: rand's seed is inlined into the generated Java, so an
    # unseeded barrier makes every rebuilt plan (one per micro-batch in
    # the daemon's sink) miss the codegen cache and compile afresh
    sel = df.select("*", cond.alias("__ok"), F.rand(0).alias("__nd"))
    return sel.filter(F.col("__ok") | (F.col("__nd") < F.lit(-1.0))).drop(
        "__ok", "__nd"
    )

"""Graph analytics over the near-duplicate graph — integer PageRank
for canonical-document selection.

``dedup_clusters`` answers "which docs are the same"; this module
answers "which copy do we KEEP".  Min-doc-id (what dedup_clusters
emits) is arbitrary; the better canonical pick is the most *central*
member of each near-dup cluster — the copy most similar to the most
other copies — which is PageRank on the similarity graph.  This is the
standard trick for picking cluster representatives in web-scale dedup
(the canonical URL problem) re-expressed for a training corpus.

Determinism discipline: PageRank is normally float-divided and
order-sensitive; here every step is integer arithmetic.  Ranks carry a
1e9 fixed-point scale, neighbor shares use integral division
(``div`` in Spark, ``//`` in DuckDB — both truncate, and every operand
is non-negative so truncation == floor), the damping 0.85 is the exact
rational 17/20 applied as ``(17 * s) div 20``, and sums are
order-independent integer adds — so five iterations produce identical
BIGINTs on both engines, no tolerance needed.

Scale notes (100 TB): each iteration is one join of the rank table
against the symmetrized edge list plus one hash aggregate — the
standard Pregel-as-joins shape; ranks are ``localCheckpoint``ed per
round so iteration i+1 does not replay i's lineage (same idiom as
connected_components).  Integer bounds: total mass is ~n_nodes * 1e9
and the damping step multiplies a neighbor sum by 17, so BIGINT
accumulators are safe below ~5e8 graph nodes (2^63 / (17 * 1e9));
past that, lower the rank scale or lift the aggregate to
DECIMAL(38,0) — documented here rather than silently approximated,
and Spark's ANSI mode turns any overflow into a loud error, never a
wrap.

Reference parity: srittau/eventstreamd has no graph surface (SURVEY.md
§0); layer-B scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from eventstreamd_spark.operators import dedup as dedup_op
from eventstreamd_spark.plans.memo import shared

PR_SCALE = 10**9  # fixed-point rank scale
_BASE = 3 * PR_SCALE // 20  # (1 - 0.85) * scale, exact


def _symmetrize(edges: DataFrame) -> DataFrame:
    """(src, dst) pairs -> both directions; callers pass deduped
    a < b pairs so no self-loops or double edges arise."""
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def pagerank(edges: DataFrame, iters: int = 5) -> DataFrame:
    """Integer PageRank over an undirected edge list -> (node, pr).

    pr'(v) = 0.15 * SCALE + 0.85 * sum_{u~v} (pr(u) div deg(u)),
    all in fixed-point integers (see module docstring).  Every node in
    the edge list has degree >= 1, so there are no dangling nodes.
    """
    # EAGER checkpoints deliberately (round-13 measured wrong turn):
    # the lazy form (eager=False throughout) cuts 7 driver-synchronized
    # jobs per call and measured FLAT in isolation, but in the shared-
    # relation family context it regressed pagerank_canonical 1.5x —
    # an eagerly materialized rank relation hands the planner its exact
    # size, which keeps the per-iteration share join a broadcast; a
    # lazily checkpointed LogicalRDD carries no stats and the joins
    # degrade.  Same mechanism as the admission kernel's `rejected`
    # (perceptual.py) — the driver-job saving does not pay for the
    # lost join planning.
    sym = _symmetrize(edges).localCheckpoint()
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    pr = deg.select(
        F.col("src").alias("node"), F.lit(PR_SCALE).cast("long").alias("pr")
    ).localCheckpoint()
    for _ in range(iters):
        share = pr.join(deg, pr["node"] == deg["src"]).select(
            F.col("node"), F.expr("pr div deg").alias("share")
        )
        pr = (
            sym.join(share, sym["src"] == share["node"])
            .groupBy(sym["dst"])
            .agg(F.sum("share").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(_BASE) + F.expr("(17 * s) div 20"))
                .cast("long")
                .alias("pr"),
            )
            .localCheckpoint()
        )
    return pr


def pagerank_canonical(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    iters: int = 5,
) -> DataFrame:
    """Canonical-copy selection for every doc in the near-dup graph:
    (doc_id, cluster_id, pr, is_canonical), is_canonical marking the
    highest-PageRank member of each connected component (doc_id breaks
    exact rank ties).

    The session's shared MinHash pair relation and cluster assignment
    (plans/memo.py) feed the PageRank and the components, so this
    costs one extra Pregel loop over dedup_clusters, not a second
    shingling or fixed point.  For every graph node its cluster_id IS
    its component min (singletons never appear in ``pr``, and the join
    below is inner on node).
    """
    # no edge checkpoint: the pairs are a materialized leaf, and
    # pagerank's eager symmetrized-edge checkpoint is their only reader
    edges = shared(
        dedup_op.minhash_lsh_dedup, docs, n=n, threshold=threshold
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    comp = shared(dedup_op.dedup_clusters, docs, n=n, threshold=threshold).select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("component")
    )
    pr = pagerank(edges, iters)
    joined = comp.join(pr, "node").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        "pr",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.col("pr").desc(), F.col("doc_id")
    )
    return joined.withColumn(
        "is_canonical", F.row_number().over(w) == 1
    ).select("doc_id", "cluster_id", "pr", "is_canonical")


def sql_pagerank_canonical(
    base_sql: str, n: int = 3, threshold: float = 0.6, iters: int = 5
) -> str:
    """DuckDB twin: same pairs CTE as sql_dedup_clusters, components by
    recursive closure over graph nodes only, PageRank unrolled as one
    CTE per iteration over HUGEINT (mirrors the long arithmetic
    exactly below the overflow bound)."""
    pairs = dedup_op.sql_minhash_lsh_dedup(base_sql, n, threshold)
    parts = [
        f"pairs AS ({pairs})",
        "edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs "
        "UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs)",
        "deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        "reach(doc_id, label) AS ("
        "SELECT src, src FROM deg "
        "UNION "
        "SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.doc_id)",
        "comp AS (SELECT doc_id, min(label) AS cluster_id "
        "FROM reach GROUP BY doc_id)",
        f"pr0 AS (SELECT src AS node, CAST({PR_SCALE} AS HUGEINT) AS pr "
        f"FROM deg)",
    ]
    for t in range(iters):
        parts.append(
            f"sh{t} AS MATERIALIZED (SELECT p.node AS node, p.pr // d.deg AS share "
            f"FROM pr{t} p JOIN deg d ON d.src = p.node)"
        )
        parts.append(
            f"pr{t + 1} AS MATERIALIZED (SELECT e.dst AS node, "
            f"CAST({_BASE} AS HUGEINT) + (17 * sum(s.share)) // 20 AS pr "
            f"FROM edges e JOIN sh{t} s ON s.node = e.src GROUP BY e.dst)"
        )
    body = ",\n".join(parts)
    return f"""
WITH RECURSIVE {body}
SELECT c.doc_id AS doc_id, c.cluster_id AS cluster_id,
       CAST(p.pr AS BIGINT) AS pr,
       row_number() OVER (PARTITION BY c.cluster_id
                          ORDER BY p.pr DESC, c.doc_id) = 1 AS is_canonical
FROM comp c JOIN pr{iters} p ON p.node = c.doc_id
"""


# ---------------------------------------------------------------------------
# Triangle census (dedup-graph quality diagnostics)
# ---------------------------------------------------------------------------


def triangle_stats(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Triangle census of the near-dup graph: node/edge counts, exact
    triangle count, wedge (open 2-path) count, and the global
    clustering coefficient 3T/W — the one-number health check of a
    dedup graph (near-1 means the LSH pairs form clean cliques, the
    transitive closure is safe to union; near-0 means chains of
    borderline pairs are daisy-chaining unrelated docs into one
    cluster and the threshold is too loose).

    Algorithm: degree-ordered edge orientation (Chiba-Nishizeki) — the
    (degree, id) total order is packed into ONE sortable BIGINT key
    kappa(v) = deg(v) * 2^32 + v, each undirected edge points
    kappa-small -> kappa-large, and a wedge's two out-neighbors are
    canonicalized by the SAME key, so the closing edge (if present) is
    oriented exactly (v, w) and the closure probe is a single
    EQUI-join (hash-joinable; an OR-of-directions probe would force a
    nested-loop scan).  Each triangle is counted once, from its
    kappa-minimal corner.  At scale the orientation caps out-degree at
    O(sqrt E), bounding candidate wedges at O(E^1.5) worst-case and
    far less on the clique-ish graphs dedup produces.  Wedges use
    symmetric degrees: W = sum_v C(deg_v, 2), one tiny aggregate.

    Everything is BIGINT counting (kappa < 2^63 below ~2^31 max
    degree); the single coefficient divide runs once in double (3T
    and W exact) — bit-identical across engines.
    """
    pairs = shared(dedup_op.minhash_lsh_dedup, docs, n=n, threshold=threshold)
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    sym = edges.select(F.col("a").alias("v")).union(
        edges.select(F.col("b").alias("v"))
    )
    kappa = (F.col("deg") * F.lit(1 << 32) + F.col("v")).cast("bigint")
    deg = sym.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    keyed = deg.select("v", "deg", kappa.alias("kap"))
    ka = keyed.select(F.col("v").alias("a"), F.col("kap").alias("kap_a"))
    kb = keyed.select(F.col("v").alias("b"), F.col("kap").alias("kap_b"))
    oriented = (
        edges.join(ka, "a")
        .join(kb, "b")
        .select(
            F.when(F.col("kap_a") < F.col("kap_b"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("src"),
            F.when(F.col("kap_a") < F.col("kap_b"), F.col("b"))
            .otherwise(F.col("a"))
            .alias("dst"),
            F.greatest("kap_a", "kap_b").alias("dst_kap"),
        )
        # EAGER deliberately (round-13 measured wrong turn): the lazy
        # form saved two driver-synchronized jobs and read 0.89x in an
        # isolated fresh A/B, but in multi-query sessions its deferred
        # materialization fired thousands of garbage-collected-
        # accumulator warnings (DAGScheduler formats one exception per
        # task per dead metric) — the session-tax cost exceeds the
        # job saving.
        .localCheckpoint()
    )
    e1 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col("dst_kap").alias("kv")
    )
    e2 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w"), F.col("dst_kap").alias("kw")
    )
    wedge = e1.join(e2, "u").filter(F.col("kv") < F.col("kw")).select("v", "w")
    closer = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedge.join(closer, ["v", "w"], "inner")
    n_nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    n_tri = tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    n_wedge = deg.agg(
        F.sum(F.expr("(deg * (deg - 1)) div 2")).cast("bigint").alias("n_wedges")
    )
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_tri))
        .crossJoin(F.broadcast(n_wedge))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            (
                F.lit(3.0)
                * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double")
            ).alias("global_clustering"),
        )
    )


def sql_triangle_stats(base_sql: str, n: int = 3, threshold: float = 0.6) -> str:
    """DuckDB twin — same kappa orientation, wedge join, equi-probe."""
    pairs = dedup_op.sql_minhash_lsh_dedup(base_sql, n, threshold)
    return f"""
WITH pairs AS ({pairs}),
edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs),
deg AS MATERIALIZED (
  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
  ) GROUP BY v
),
keyed AS MATERIALIZED (
  SELECT v, deg, CAST(deg * 4294967296 + v AS BIGINT) AS kap FROM deg
),
oriented AS MATERIALIZED (
  SELECT CASE WHEN ka.kap < kb.kap THEN e.a ELSE e.b END AS src,
         CASE WHEN ka.kap < kb.kap THEN e.b ELSE e.a END AS dst,
         greatest(ka.kap, kb.kap) AS dst_kap
  FROM edges e
  JOIN keyed ka ON ka.v = e.a
  JOIN keyed kb ON kb.v = e.b
),
wedge AS (
  SELECT e1.v, e2.w FROM
    (SELECT src AS u, dst AS v, dst_kap AS kv FROM oriented) e1
    JOIN (SELECT src AS u, dst AS w, dst_kap AS kw FROM oriented) e2 USING (u)
  WHERE e1.kv < e2.kw
),
tri AS (
  SELECT count(*) AS t FROM wedge wd
  JOIN oriented o ON o.src = wd.v AND o.dst = wd.w
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
       (SELECT CAST(t AS BIGINT) FROM tri) AS n_triangles,
       (SELECT CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) FROM deg)
         AS n_wedges,
       3.0 * (SELECT CAST(t AS DOUBLE) FROM tri)
         / (SELECT CAST(sum((deg * (deg - 1)) // 2) AS DOUBLE) FROM deg)
         AS global_clustering
"""

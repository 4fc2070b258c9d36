"""Lloyd k-means refinement over embedding vectors (IVF centroid
sharpening).

``ivf_cells`` (operators/similarity.py) seeds cells with the first
``n_cells`` corpus vectors — deterministic but unsharpened.  This module
adds the standard Lloyd iteration on top, the same control-plane shape
as Spark MLlib's KMeans: per round, (1) assign every vector to its
nearest centroid (broadcast the k centroids, one narrow pass), then
(2) recompute each centroid as the member mean (one map-side-combinable
aggregation producing k x d rows), collect the k x d doubles to the
driver, and broadcast them into the next round.

Scale notes (100 TB):
- Per-round driver traffic is O(k * d) (here 16 x 64 doubles) — a
  control plane like bpe.py's best-pair pick, NOT a data collect.  The
  corpus is touched once per assignment pass with the centroids
  broadcast, and once per recompute pass as a posexplode ->
  groupBy(cell, dim) aggregation that partial-aggregates map-side
  (k * d groups, tiny reduce).
- Re-creating the centroid frame per round truncates lineage: each
  round's plan is independent of the previous round's DAG (the numbers
  travel through the driver), so n_iters rounds cost n_iters + 1 flat
  scans, not an exponentially deepening plan.
- Determinism for the oracle: member means are computed as an exact
  DECIMAL(28,12) sum (associative — partial-sum order can't shift the
  value) divided once as a double, then rounded to 6 dp before
  re-broadcast, so both engines assign against bit-identical centroid
  values regardless of partition order; cosine itself is
  the sequential fold from functions/vectors.py (same association
  order as DuckDB's list_reduce — ULP-exact).  Ties in the argmax
  break on the lower cell_id in both engines.

Reference parity: the reference engine has no clustering surface; this
is part of the layer-B training-data pipeline (curation / SemDeDup
cell sharpening per Abbas et al. 2023, arXiv:2303.09540 §2, which
k-means-clusters embeddings before intra-cluster dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from eventstreamd_spark.functions.vectors import (
    cosine_guarded,
    dot,
    norm,
    sql_cosine_guarded,
    to_double,
)
from eventstreamd_spark.plans.memo import shared
from eventstreamd_spark.session import fan_out

N_CELLS = 16
N_ITERS = 2
DIM = 64  # driver testdata embedding width (oracle twin hardcodes it;
# the Spark side reads the true width per row via posexplode)


def _assign(embeddings: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast k centroids, argmax cosine
    per vector (ties -> lowest cell_id).

    Norms are precomputed per side BEFORE the k-way fan-out, so each
    (vector, centroid) pair evaluates one 64-term fold (the dot), not
    three — same arithmetic as functions.vectors.cosine in the same
    association order (sqrt(dot(a,a)) * sqrt(dot(b,b)) as the divisor
    product), so the value stays bit-identical to the DuckDB twin.

    Zero-norm guard: cosine against a zero vector is NaN, and Spark's
    min(struct(-ccos, ...)) ranks NaN LAST while the twin's ORDER BY
    ccos DESC ranks NaN FIRST — so the undefined cosine is replaced by
    the -2.0 sentinel (strictly below every real cosine) in both
    engines (functions.vectors.cosine_guarded idiom, inlined here to
    reuse the hoisted norms)."""
    cents_n = cents.withColumn("__nc", norm(F.col("cvec")))
    emb_n = fan_out(embeddings).withColumn("__nv", norm(F.col("embedding")))
    nprod = F.col("__nv") * F.col("__nc")
    scored = emb_n.join(F.broadcast(cents_n)).withColumn(
        "ccos",
        F.when(nprod == 0.0, F.lit(-2.0)).otherwise(
            dot(F.col("embedding"), F.col("cvec")) / nprod
        ),
    )
    # argmax as min(struct(-ccos, cell_id, ...)): a HASH aggregate with
    # map-side partials instead of a sort+window — same selection and
    # tie rule (double negation is exact; cell_id breaks ties before
    # the payload fields can ever be compared).
    best = scored.groupBy("vec_id").agg(
        F.min(
            F.struct(
                (-F.col("ccos")).alias("nc"),
                F.col("cell_id").alias("cell_id"),
                F.col("embedding").alias("embedding"),
            )
        ).alias("b")
    )
    return best.select(
        "vec_id",
        F.col("b.embedding").alias("embedding"),
        F.col("b.cell_id").alias("cell_id"),
    )


def _recompute(assigned: DataFrame) -> list[tuple[int, list[float]]]:
    """Member-mean centroids, rounded to 6 dp; k x d doubles via the
    driver (control plane — see module docstring)."""
    dims = assigned.select(
        "cell_id",
        F.posexplode(to_double(F.col("embedding"))).alias("d", "v"),
    )
    means = (
        dims.groupBy("cell_id", "d")
        .agg(
            # order-free exact mean: double avg() partial sums land in
            # partition order, so values near a 6-dp boundary can round
            # differently vs DuckDB's sequential scan.  Summing as
            # DECIMAL(28,12) is exact and associative, then ONE double
            # division — same idiom as statistics.py's exact totals.
            # Two cross-engine hazards are neutralised explicitly:
            # (1) the 12-dp quantization — a bare double->DECIMAL cast
            # rounds HALF_UP in Spark but half-even in DuckDB, and
            # doubles of the form odd/2^13 are EXACT 12-dp ties, so
            # both engines first round(…, 12) (half-away-from-zero in
            # both) before the cast; (2) the DECIMAL->DOUBLE cast —
            # Spark's BigDecimal.doubleValue() is correctly rounded
            # while DuckDB's direct cast can be 1 ULP off, so the SQL
            # twin goes through the VARCHAR round-trip (d2d idiom,
            # statistics.py:74).  Divisor is the non-null element
            # count on both sides (F.count('v') / count(emb[d+1])).
            F.round(
                F.sum(
                    F.round(F.col("v"), 12).cast("decimal(28,12)")
                ).cast("double")
                / F.count("v"),
                6,
            ).alias("m")
        )
        .groupBy("cell_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "m"))),
                lambda s: s["m"],
            ).alias("cvec")
        )
    )
    return [(row["cell_id"], row["cvec"]) for row in means.collect()]


def fit_centroids(
    embeddings: DataFrame, n_cells: int = N_CELLS, n_iters: int = N_ITERS
) -> DataFrame:
    """The Lloyd rounds; returns the final centroid frame (cell_id,
    cvec) as driver-literal rows (lineage-free).  Both kmeans
    operators share it per session (plans/memo.py), so one
    driver-coordinated fit serves both."""
    spark = embeddings.sparkSession
    cents = embeddings.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"),
        to_double(F.col("embedding")).alias("cvec"),
    )
    for _ in range(n_iters):
        rows = _recompute(_assign(embeddings, cents))
        cents = spark.createDataFrame(
            rows, "cell_id long, cvec array<double>"
        )
    return cents


def kmeans_assignments(
    embeddings: DataFrame,
    n_cells: int = N_CELLS,
    n_iters: int = N_ITERS,
) -> DataFrame:
    """Final (vec_id, cell_id) assignment after ``n_iters`` Lloyd
    rounds from the deterministic ivf seeding (first ``n_cells``
    vectors by vec_id).

    Cells that lose every member simply drop out of the next round's
    centroid set (standard Lloyd; both engines mirror the behavior
    because the groupBy produces no row for them).
    """
    cents = shared(fit_centroids, embeddings, n_cells=n_cells, n_iters=n_iters)
    return _assign(embeddings, cents).select("vec_id", "cell_id")


def kmeans_prototypes(
    embeddings: DataFrame,
    n_cells: int = N_CELLS,
    n_iters: int = N_ITERS,
    k_per_cell: int = 5,
) -> DataFrame:
    """Prototype selection: the ``k_per_cell`` vectors closest to their
    refined centroid, per cell — prototype-based data pruning
    (Sorscher et al. 2022, arXiv:2206.14486: keeping cluster-typical
    examples beats random pruning at scale; SemDeDup's sibling
    curation move).

    One extra narrow pass over the final assignment: the member's
    cosine to its OWN centroid is already the assignment score, so
    selection is a per-cell top-k window (bounded partitions — cell
    sized, never corpus sized).
    """
    cents = shared(fit_centroids, embeddings, n_cells=n_cells, n_iters=n_iters)
    assigned = _assign(embeddings, cents)
    scored = assigned.join(F.broadcast(cents), "cell_id").withColumn(
        "ccos",
        cosine_guarded(F.col("embedding"), F.col("cvec")),
    )
    w = W.partitionBy("cell_id").orderBy(F.desc("ccos"), F.asc("vec_id"))
    return (
        scored.withColumn("proto_rank", F.row_number().over(w))
        .filter(F.col("proto_rank") <= k_per_cell)
        .select(
            "cell_id",
            "vec_id",
            F.col("proto_rank").cast("bigint").alias("proto_rank"),
        )
    )


def _sql_assign_cte(cents: str) -> str:
    cos = sql_cosine_guarded("e.emb", "c.cvec")
    return (
        "SELECT vec_id, emb, cell_id FROM ("
        "SELECT e.vec_id, e.emb, c.cell_id, "
        "row_number() OVER (PARTITION BY e.vec_id "
        f"ORDER BY {cos} DESC, c.cell_id) AS r "
        f"FROM e CROSS JOIN {cents} c) WHERE r = 1"
    )


def _sql_parts(
    table: str, n_cells: int, n_iters: int, dim: int
) -> list[str]:
    """The Lloyd rounds as CTE parts (shared by assignments and
    prototypes); ``c{n_iters}`` is the final centroid CTE."""
    parts = [
        f"e AS (SELECT vec_id, "
        f"list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb "
        f"FROM {table})",
        f"c0 AS (SELECT vec_id AS cell_id, emb AS cvec FROM e "
        f"WHERE vec_id < {n_cells})",
    ]
    for i in range(n_iters):
        parts.append(f"a{i} AS ({_sql_assign_cte(f'c{i}')})")
        parts.append(
            # round(x, 12) before the DECIMAL cast (exact-tie rounding
            # parity) and VARCHAR round-trip for DECIMAL->DOUBLE
            # (1-ULP parity) — see the Spark-side comment in
            # _recompute; divisor mirrors F.count('v') (non-null).
            f"d{i + 1} AS (SELECT cell_id, g.d AS d, "
            f"round(CAST(CAST(sum(CAST(round(emb[g.d + 1], 12) "
            f"AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE) "
            f"/ count(emb[g.d + 1]), 6) AS m "
            f"FROM a{i}, LATERAL (SELECT unnest(range({dim})) AS d) g "
            f"GROUP BY cell_id, g.d)"
        )
        parts.append(
            f"c{i + 1} AS (SELECT cell_id, list(m ORDER BY d) AS cvec "
            f"FROM d{i + 1} GROUP BY cell_id)"
        )
    return parts


def sql_kmeans_assignments(
    table: str = "embeddings",
    n_cells: int = N_CELLS,
    n_iters: int = N_ITERS,
    dim: int = DIM,
) -> str:
    """DuckDB twin: the Lloyd rounds unrolled as CTE pairs (assign_i,
    cents_{i+1}); same seeding, 6-dp centroid rounding, cosine fold
    and tie order as the Spark side."""
    parts = _sql_parts(table, n_cells, n_iters, dim)
    final = _sql_assign_cte(f"c{n_iters}")
    return (
        "WITH " + ",\n".join(parts) + f",\nfinal AS ({final})\n"
        "SELECT vec_id, cell_id FROM final"
    )


def sql_kmeans_prototypes(
    table: str = "embeddings",
    n_cells: int = N_CELLS,
    n_iters: int = N_ITERS,
    k_per_cell: int = 5,
    dim: int = DIM,
) -> str:
    """DuckDB twin of kmeans_prototypes — same rounds, same member-to-
    own-centroid cosine, same per-cell tie order."""
    parts = _sql_parts(table, n_cells, n_iters, dim)
    final = _sql_assign_cte(f"c{n_iters}")
    cos = sql_cosine_guarded("a.emb", "c.cvec")
    return (
        "WITH " + ",\n".join(parts) + f",\nfinal AS ({final}),\n"
        "scored AS (SELECT a.cell_id, a.vec_id, "
        f"{cos} AS ccos "
        f"FROM final a JOIN c{n_iters} c USING (cell_id))\n"
        "SELECT cell_id, vec_id, CAST(row_number() OVER "
        "(PARTITION BY cell_id ORDER BY ccos DESC, vec_id) AS BIGINT) "
        "AS proto_rank FROM scored "
        f"QUALIFY proto_rank <= {k_per_cell}"
    )

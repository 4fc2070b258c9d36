"""Similarity search over the ``embeddings`` table.

The ANN ladder (exact baseline -> pruned candidates): brute-force
top-k, hyperplane-LSH buckets, IVF-Flat cells (ivf_topk), plus the
semantic-dedup pair (embedding_near_dup_pairs = tiled all-pairs exact
baseline, semantic_dedup_pairs = SemDeDup cluster-bounded scale path).

The two core retrieval paths in detail:

- ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
  set against all vectors, window top-k per query.  The correctness
  baseline, and the right plan whenever |queries| is small: the big side
  streams through once, no shuffle of the corpus, top-k via per-query
  heaps (TakeOrdered per partition after the window... in practice a
  row_number window partitioned by query_id over |Q| x |corpus| scored
  rows — with broadcast queries that scoring is a narrow map).

- ``lsh_topk`` — random-hyperplane LSH bucketing: 16 deterministic ±1
  hyperplanes -> 16-bit bucket; candidates = bucket collisions on >= 1
  of the multi-probe bands; exact cosine re-rank of candidates.  At
  100 TB the corpus is bucketed ONCE (a narrow map + one shuffle to
  co-locate buckets) and each query touches only its buckets — the
  classic sub-linear ANN trade (recall vs probes).

The hyperplane signs are derived from deterministic integer arithmetic
(engine-portable), so even the LSH path has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from eventstreamd_spark.functions.vectors import (
    cosine,
    cosine_guarded,
    sql_cosine,
    sql_cosine_guarded,
    to_double,
)
from eventstreamd_spark.plans.memo import shared
from eventstreamd_spark.session import fan_out

N_PLANES = 16
PLANE_BANDS = 4  # 4 bands x 4 bits for multi-probe candidate generation

# The eval faces rank against top-k bases at k in {5, 10}; each topk
# tier memoizes its ranked top-KMAX relation once per (query set,
# session) and serves every k <= KMAX from a rank filter over it.
TOPK_MEMO_KMAX = 10


def _plane_sign(i: int, j: int) -> int:
    """Deterministic ±1 for hyperplane i, dimension j (portable)."""
    v = (i * 2654435761 + j * 40503 + 12345) % 2147483647
    return 1 if (v % 2) == 0 else -1


def lsh_bucket(vec: F.Column, dim: int = 64) -> F.Column:
    """16-bit random-hyperplane bucket id, all planes in ONE pass.

    The sign matrix is transposed into per-dimension arrays: a single
    left-fold over vector positions carries 16 running dot products,
    each accumulated in the same sequential j-order as an independent
    term-by-term sum — so the SQL oracle (16 separate list_reduce
    folds) matches bit-for-bit, verified by exceptAll.  One pass over
    the vector instead of 16.  MEASURED ALTERNATIVE REJECTED: a flat
    16x64-term unrolled expression (see the pq_codes trick) parses
    cheaply but blows past the JVM codegen method limit and falls back
    to per-node interpretation — 3x SLOWER than this fold at sf0.1
    (8.5s vs 2.5s for lsh_topk); the HOF fold's single interpreted
    lambda beats 4k interpreted expression nodes."""
    planes_by_dim = F.array(
        *[
            F.array(
                *[F.lit(float(_plane_sign(i, j))) for i in range(N_PLANES)]
            )
            for j in range(dim)
        ]
    )
    terms = F.zip_with(
        vec, planes_by_dim, lambda x, ps: F.transform(ps, lambda s: x.cast("double") * s)
    )
    dots = F.aggregate(
        terms,
        F.array_repeat(F.lit(0.0), N_PLANES),
        lambda acc, tr: F.zip_with(acc, tr, lambda a, b: a + b),
    )
    out = F.lit(0).cast("bigint")
    for i in range(N_PLANES):
        out = out + (F.element_at(dots, i + 1) >= 0).cast("bigint") * (1 << i)
    return out


def brute_force_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Queries are broadcast (tiny), corpus streams once; deterministic
    ordering via (cosine desc, vec_id).

    The ranked top-``TOPK_MEMO_KMAX`` base relation (|Q| x kmax rows) is
    ``shared`` (plans/memo.py) and every ``k <= kmax`` call is a rank filter
    over it: the eval suite (similarity_topk k=10, the recall reports
    k=5, ndcg k=10) audits against ONE exact corpus scan per session
    instead of one per face — the in-session analog of persisting the
    eval ranking an index rebuild reuses across its dashboards.
    row_number ranks are computed over the full corpus regardless of
    the k filter, so filtering the kmax base to rank <= k is
    row-for-row identical to ranking with k directly.
    """
    kmax = max(k, TOPK_MEMO_KMAX)
    base = shared(
        _brute_force_ranked, embeddings, query_ids=_ids(query_ids), kmax=kmax
    )
    return base.filter(F.col("rank") <= k) if k < kmax else base


def _ids(query_ids) -> tuple:
    """Query ids in one canonical form, so equal id sets share a memo
    key whatever sequence type the caller passed."""
    return tuple(int(i) for i in query_ids)


def _ranked(scored: DataFrame, order: Column, kmax: int) -> DataFrame:
    """(query_id, neighbor_id, rank) for the top ``kmax`` rows per query
    of a scored candidate frame, ties broken by vec_id."""
    w = W.partitionBy("query_id").orderBy(order, F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kmax)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank")
    )


def _brute_force_ranked(
    embeddings: DataFrame, query_ids: tuple, kmax: int
) -> DataFrame:
    q = embeddings.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    scored = (
        fan_out(embeddings).join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", cosine(F.col("qvec"), F.col("embedding")))
    )
    return _ranked(scored, F.desc("cos"), kmax)


def bucketed_corpus(embeddings: DataFrame, dim: int = 64) -> DataFrame:
    # The bucketed relation IS the LSH index: at 100 TB it is bucketed
    # once per rebuild (one narrow map + one shuffle) and every query
    # probes it — the shared relation is the in-session rehearsal, so the
    # 16-plane fold runs once per session instead of once per join leg
    # per invocation (the fold, not the banded join, is this tier's
    # measured bill — see lsh_bucket's docstring).
    # Deliberately corpus-proportional and EAGER (plans/memo.py contract
    # note): the embedding column stays because the probe re-ranks by
    # exact cosine.  7.5 MB at the sf1 blow-up (20k vectors,
    # tools/MEMO_FOOTPRINT_SF1.json), MEMORY_AND_DISK, non-reliable
    # under executor loss; first call materializes at construction time.
    return shared(_bucketed, embeddings, dim=dim)


def _bucketed(embeddings: DataFrame, dim: int) -> DataFrame:
    # fan_out before the 16-hyperplane projection (CPU-heavy narrow map)
    return fan_out(embeddings).withColumn(
        "bucket", lsh_bucket(F.col("embedding"), dim)
    )


def lsh_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 5, dim: int = 64
) -> DataFrame:
    """ANN: candidates share >= 1 of the 4 4-bit bucket bands with the
    query, re-ranked by exact cosine.  Banded multi-probe keeps recall
    reasonable without widening the search to the full corpus."""
    band_width = N_PLANES // PLANE_BANDS
    mask = (1 << band_width) - 1
    corpus = bucketed_corpus(embeddings, dim)

    def banded(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        return df.select(
            F.col("vec_id").alias(id_alias),
            F.col("embedding").alias(vec_alias),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.shiftright("bucket", b * band_width)
                            .bitwiseAND(F.lit(mask))
                            .alias("bhash"),
                        )
                        for b in range(PLANE_BANDS)
                    ]
                )
            ).alias("bb"),
        ).select(
            id_alias, vec_alias, F.col("bb.band").alias("band"), F.col("bb.bhash").alias("bhash")
        )

    qb = banded(corpus.filter(F.col("vec_id").isin(query_ids)), "query_id", "qvec")
    qb = qb.withColumnRenamed("band", "qband").withColumnRenamed("bhash", "qbhash")
    cb = banded(corpus, "neighbor_id", "nvec")
    pairs = (
        cb.join(
            F.broadcast(qb),
            (F.col("band") == F.col("qband")) & (F.col("bhash") == F.col("qbhash")),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "qvec", "neighbor_id", "nvec")
    )
    # score BEFORE deduping multi-band collisions, then dedupe on the
    # scalar triple — a .distinct() on the pair rows would shuffle both
    # 64-float vectors per candidate; this shuffles 3 scalars.  The
    # duplicate cosines (<= bands per pair, all identical) are narrow
    # recomputation, strictly cheaper than moving vectors.
    scored = pairs.withColumn("cos", cosine(F.col("qvec"), F.col("nvec")))
    dedup = scored.groupBy("query_id", "neighbor_id").agg(
        F.first("cos").alias("cos")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        dedup.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


_SPILL_DIRS: list[str] = []
_ATEXIT_REGISTERED = False


def _resolve_spill_dir(spark, work_dir: str | None) -> str:
    """Resolve the block-spill directory for the tiled near-dup kernel.

    The spill MUST be visible to every executor: the block files one
    task writes are read by every other task's ``mapInPandas`` pass.
    Resolution order: explicit ``work_dir`` (the operator trusts the
    caller to pass an object-store / shared-FS prefix on a cluster) >
    the session's checkpoint dir (already required to be cluster-shared
    by Spark) > node-local tmp, which is ONLY correct in local mode —
    on any non-local master we fail fast instead of silently
    under-reporting pairs."""
    import tempfile

    if work_dir is not None:
        return work_dir
    ckpt = spark.sparkContext.getCheckpointDir()
    if ckpt:
        # strip scheme for local-path use; object-store URIs pass through
        return ckpt[len("file:"):] if ckpt.startswith("file:") else ckpt
    if not spark.sparkContext.master.startswith("local"):
        raise ValueError(
            "embedding_near_dup_pairs needs a cluster-shared work_dir "
            "(object store / shared FS) on a non-local master; the "
            "node-local tmp default would hide other executors' blocks"
        )
    return tempfile.gettempdir()


def _register_spill_dir(path: str) -> None:
    """Track spill dirs and clean them at interpreter exit; also prune
    all but the most recent two on each new invocation so repeated runs
    (e.g. bench passes) don't accumulate parquet indefinitely.  Keeping
    two covers a still-unconsumed previous DataFrame's lazy read."""
    global _ATEXIT_REGISTERED
    import atexit
    import shutil

    while len(_SPILL_DIRS) >= 2:
        shutil.rmtree(_SPILL_DIRS.pop(0), ignore_errors=True)
    _SPILL_DIRS.append(path)
    if not _ATEXIT_REGISTERED:
        _ATEXIT_REGISTERED = True

        def _cleanup() -> None:
            for p in _SPILL_DIRS:
                shutil.rmtree(p, ignore_errors=True)

        atexit.register(_cleanup)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    block_rows: int = 4096,
    work_dir: str | None = None,
) -> DataFrame:
    """Semantic near-dup pairs: cosine >= threshold, exact all-pairs.

    Tiled block-matrix execution — NOTHING transits the driver:

    1. one distributed write spills the slim (vec_id, embedding)
       projection to parquet, hash-partitioned into ~``block_rows``-row
       block files (executor-side write; at 100 TB this is an
       object-store prefix, and usually already exists as the source
       layout);
    2. one ``mapInPandas`` pass: each task materializes its own input
       split, then streams the block files one at a time — load block,
       BLAS-matmul it against the split in bounded row chunks, emit
       pairs, drop the block.  Peak memory per task is
       O(split + one block + chunk x block sims), independent of corpus
       size; FLOPs are the exact O(n^2 d) in vectorized kernels instead
       of a JVM nested-loop join evaluating an interpreted
       array-aggregate per pair (~30x).

    Each unordered pair (a < b) is emitted exactly once: a's split sees
    b's block, and the a < b guard kills the mirror when b's split sees
    a's block — so no distinct/groupBy shuffle afterwards.

    At 100 TB the corpus outgrows any single broadcast, but never this
    shape; the LSH-bucketed variant remains the sub-quadratic
    alternative when approximate recall is acceptable.
    """
    import glob
    import math
    import os
    import uuid

    import numpy as np
    import pandas as pd

    slim = embeddings.select("vec_id", "embedding")
    n = slim.count()
    n_blocks = max(1, math.ceil(n / block_rows))
    base = _resolve_spill_dir(embeddings.sparkSession, work_dir)
    path = os.path.join(base, f"emb_blocks_{uuid.uuid4().hex}")
    _register_spill_dir(path)
    (
        slim.withColumn(
            "block", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_blocks))
        )
        .repartition(n_blocks, "block")
        .write.partitionBy("block")
        .mode("overwrite")
        .parquet(path)
    )

    chunk_rows = block_rows  # bounds the sims matrix at block_rows^2 doubles

    def score(batches):
        import pyarrow.parquet as pq

        files = sorted(glob.glob(os.path.join(path, "block=*", "*.parquet")))
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        part = pd.concat(pdfs, ignore_index=True)
        A = np.stack(part["embedding"].to_numpy()).astype(np.float64)
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        aids = part["vec_id"].to_numpy(dtype=np.int64)
        for f in files:
            tb = pq.read_table(f, columns=["vec_id", "embedding"]).to_pandas()
            B = np.stack(tb["embedding"].to_numpy()).astype(np.float64)
            B /= np.linalg.norm(B, axis=1, keepdims=True)
            bids = tb["vec_id"].to_numpy(dtype=np.int64)
            for lo in range(0, len(A), chunk_rows):
                sims = A[lo : lo + chunk_rows] @ B.T
                ai, bj = np.nonzero(sims >= threshold)
                va, vb = aids[lo + ai], bids[bj]
                keep = va < vb
                if keep.any():
                    yield pd.DataFrame({"vec_a": va[keep], "vec_b": vb[keep]})

    return fan_out(slim).mapInPandas(score, "vec_a long, vec_b long")


# ---------------------------------------------------------------------------
# DuckDB oracle generators
# ---------------------------------------------------------------------------


def sql_lsh_bucket(vec_expr: str, dim: int = 64) -> str:
    bit_terms = []
    for i in range(N_PLANES):
        terms = " + ".join(
            f"(CAST({vec_expr}[{j + 1}] AS DOUBLE) * {_plane_sign(i, j)})"
            for j in range(dim)
        )
        bit_terms.append(f"(CASE WHEN ({terms}) >= 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(bit_terms) + ")"


def sql_brute_force_topk(query_ids: list[int], k: int = 10, table: str = "embeddings") -> str:
    ids = ", ".join(str(i) for i in query_ids)
    cos = sql_cosine("q.embedding", "c.embedding")
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cos
  FROM {table} q JOIN {table} c ON c.vec_id <> q.vec_id
  WHERE q.vec_id IN ({ids})
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
"""


# --- IVF-Flat ANN -----------------------------------------------------------

N_CELLS = 16
N_PROBE = 2


def ivf_cells(
    embeddings: DataFrame, n_cells: int = N_CELLS, keep: tuple = ()
) -> DataFrame:
    """Assign every vector to its nearest centroid cell (IVF-Flat).

    ``keep`` carries extra per-vector columns (e.g. ``label`` for the
    kNN noise audit) through the argmax untouched — they ride in the
    min-struct AFTER the (score, cell_id) decision fields, so they can
    never influence the assignment.

    Centroids are the first ``n_cells`` corpus vectors by vec_id —
    deterministic seeding (k-means iterations would sharpen the cells
    but add nothing to the plan shape; swap in MLlib KMeans centroids
    at scale).  Assignment = broadcast the 16 centroids, score with
    cosine, keep the argmax per vector via a window — one narrow pass
    over the corpus plus a 16x row blow-up that immediately collapses.

    The assignment relation IS the IVF index ("this operator IS the
    partition layout", ivf_topk) — at 100 TB it is written partitioned
    by cell_id once per rebuild and every retrieval face reads it.  The
    in-session rehearsal of that is the shared relation: four
    independent faces consume the identical assignment (ivf_topk's
    ranked-base build, semantic_dedup_pairs, cell_label_purity,
    knn_label_noise_ivf via the label join-back), and without the memo
    each ran its own corpus x n_cells argmax pass per session.

    Deliberately corpus-proportional and EAGER (see plans/memo.py's
    contract note): the memoized relation keeps the embedding column
    because every consumer re-ranks candidates by exact cosine — the
    same reason the persisted index carries it.  Measured 7.6 MB at
    the sf1 blow-up (20k vectors; tools/MEMO_FOOTPRINT_SF1.json),
    linear in the corpus, MEMORY_AND_DISK so growth spills rather
    than OOMs; blocks are non-reliable under executor loss.  First
    call materializes at plan-construction time.

    Only the canonical keep=() assignment is shared: a keep variant
    would pin a SECOND full-corpus relation in executor storage for
    the session.  Production callers all use keep=() + the label
    join-back idiom (cell_label_purity/knn_label_noise_ivf); keep
    survives for the equivalence tests that pin that idiom
    row-identical.
    """
    if keep:
        return _ivf_assignment(embeddings, n_cells, keep).localCheckpoint()
    return shared(_ivf_assignment, embeddings, n_cells=n_cells)


def _ivf_assignment(
    embeddings: DataFrame, n_cells: int, keep: tuple = ()
) -> DataFrame:
    from eventstreamd_spark.functions.vectors import dot, norm

    cents = embeddings.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cvec")
    )
    # norms hoisted out of the k-way fan-out (one 64-term fold per
    # pair, not three) and argmax as min(struct(-ccos, cell_id, ...)) —
    # a map-side-partial hash aggregate instead of a sort window; both
    # preserve the exact cosine value and tie rule (same association
    # order as functions.vectors.cosine; double negation is exact;
    # cell_id breaks ties before the payload field).  A/B-measured on
    # the identical pattern in clustering._assign.
    # zero-norm guard: cosine vs a zero vector is NaN, which the two
    # engines RANK differently (struct-min: last; ORDER BY DESC: first)
    # — replaced with the -2.0 sentinel in both engines so the
    # zero-norm candidate deterministically loses (vectors.cosine_guarded
    # idiom, inlined to reuse the hoisted norms).
    cents_n = cents.withColumn("__nc", norm(F.col("cvec")))
    emb_n = fan_out(embeddings).withColumn("__nv", norm(F.col("embedding")))
    nprod = F.col("__nv") * F.col("__nc")
    scored = emb_n.join(F.broadcast(cents_n)).withColumn(
        "ccos",
        F.when(nprod == 0.0, F.lit(-2.0)).otherwise(
            dot(F.col("embedding"), F.col("cvec")) / nprod
        ),
    )
    best = scored.groupBy("vec_id").agg(
        F.min(
            F.struct(
                (-F.col("ccos")).alias("nc"),
                F.col("cell_id").alias("cell_id"),
                F.col("embedding").alias("embedding"),
                *[F.col(c).alias(c) for c in keep],
            )
        ).alias("b")
    )
    return best.select(
        "vec_id",
        F.col("b.embedding").alias("embedding"),
        F.col("b.cell_id").alias("cell_id"),
        *[F.col(f"b.{c}").alias(c) for c in keep],
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = N_CELLS,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """IVF-Flat ANN: probe the ``n_probe`` nearest cells per query,
    exact cosine re-rank of the candidates.

    At 100 TB the cell table is written partitioned BY cell_id, so each
    query's candidate read is a partition-pruned scan of n_probe cells
    (~n_probe/n_cells of the corpus) — this operator IS the partition
    layout.

    Like ``brute_force_topk``, the ranked top-``TOPK_MEMO_KMAX`` base is
    shared per (query set, session): similarity_ivf_ann
    (k=5), ann_recall's approx leg (k=5) and ndcg_eval's (k=10) probe
    the SAME cells — one assignment pass serves all three faces, and
    rank-filtering the kmax base is row-for-row identical to ranking
    with k directly (row_number over the full candidate set)."""
    kmax = max(k, TOPK_MEMO_KMAX)
    base = shared(
        _ivf_ranked,
        ivf_cells(embeddings, n_cells),
        embeddings,
        query_ids=_ids(query_ids),
        kmax=kmax,
        n_cells=n_cells,
        n_probe=n_probe,
    )
    return base.filter(F.col("rank") <= k) if k < kmax else base


def _ivf_ranked(
    cells: DataFrame,
    embeddings: DataFrame,
    query_ids: tuple,
    kmax: int,
    n_cells: int,
    n_probe: int,
) -> DataFrame:
    cents = embeddings.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cvec")
    )
    q = embeddings.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    qscored = q.join(F.broadcast(cents)).withColumn(
        "ccos", cosine(F.col("qvec"), F.col("cvec"))
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("cell_id"))
    probes = (
        qscored.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= n_probe)
        .select("query_id", "qvec", "cell_id")
    )
    # fan_out: cells arrives from a KB-ish groupBy shuffle that AQE
    # coalesces to ~1 partition — without it the interpreted-HOF
    # re-rank runs single-core (the knn_label_noise_ivf finding)
    cand = fan_out(cells).join(F.broadcast(probes), "cell_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.withColumn("cos", cosine(F.col("qvec"), F.col("embedding")))
    return _ranked(scored, F.desc("cos"), kmax)


def sql_ivf_topk(
    query_ids: list[int],
    k: int = 5,
    n_cells: int = N_CELLS,
    n_probe: int = N_PROBE,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of ivf_topk (same seeding, scoring, tie order)."""
    ids = ", ".join(str(i) for i in query_ids)
    cos_cell = sql_cosine_guarded("e.embedding", "c.embedding")
    cos_q = sql_cosine("q.embedding", "c.embedding")
    cos_re = sql_cosine("p.qvec", "cells.embedding")
    return f"""
WITH cents AS (SELECT vec_id AS cell_id, embedding FROM {table} WHERE vec_id < {n_cells}),
cells AS (
  SELECT vec_id, embedding, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos_cell} DESC, c.cell_id) AS r
    FROM {table} e CROSS JOIN cents c
  ) WHERE r = 1
),
probes AS (
  SELECT query_id, qvec, cell_id FROM (
    SELECT q.vec_id AS query_id, q.embedding AS qvec, c.cell_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {cos_q} DESC, c.cell_id) AS r
    FROM {table} q JOIN cents c ON TRUE
    WHERE q.vec_id IN ({ids})
  ) WHERE r <= {n_probe}
),
ranked AS (
  SELECT p.query_id, cells.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY p.query_id
           ORDER BY {cos_re} DESC, cells.vec_id) AS rank
  FROM probes p JOIN cells ON cells.cell_id = p.cell_id
  WHERE cells.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
"""


def embedding_norm_stats(embeddings: DataFrame) -> DataFrame:
    """Per-label L2-norm statistics, computed entirely JVM-side with
    higher-order array functions (transform/zip_with/aggregate) — no
    Python in the loop.

    The per-row norm is a sequential left-to-right double reduction
    (functions/vectors.py), deterministic and engine-portable; the
    group aggregates are chosen order-independent (count, min, max,
    exact-decimal sum for the mean) so shuffling/partitioning cannot
    change the answer.  Scale: one narrow pass + one tiny shuffle
    keyed on label — the plan a 100 TB norm-audit job wants.
    """
    from eventstreamd_spark.functions.vectors import norm

    nrm = norm(F.col("embedding")).alias("nrm")
    return (
        embeddings.select("label", nrm)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
            (
                F.sum(F.col("nrm").cast("decimal(18,4)")).cast("double")
                / F.count("*")
            ).alias("avg_norm"),
        )
    )


def sql_embedding_norm_stats(table: str = "embeddings") -> str:
    from eventstreamd_spark.functions.vectors import sql_dot

    return (
        "SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs, "
        "MIN(nrm) AS min_norm, MAX(nrm) AS max_norm, "
        "(CAST(sum(CAST(nrm AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)) AS avg_norm "
        f"FROM (SELECT label, sqrt({sql_dot('embedding', 'embedding')}) AS nrm "
        f"FROM {table}) GROUP BY label"
    )


# --- SemDeDup — semantic dedup via cluster-bounded pairwise cosine ---------


def semantic_dedup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_cells: int = N_CELLS,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-dup pairs found by clustering the corpus and comparing
    pairwise cosine ONLY within each cluster.

    This is the scale answer to embedding_near_dup's tiled all-pairs
    sweep: the intra-cell self-join is quadratic only in cell size, so
    with k ~ sqrt(N) cells the candidate volume is O(N^1.5) instead of
    O(N^2), and the join legs are the identical cell-keyed sub-plan
    (one exchange, read twice).  Recall is bounded by cell assignment:
    scaled copies have identical centroid cosines, so true duplicates
    land in the same cell by construction; borderline pairs split
    across cell boundaries are the documented SemDeDup trade.
    Deterministic seeding (ivf_cells) keeps the whole operator
    oracle-checkable; floats stay out of the output (threshold in the
    predicate only).
    """
    import numpy as np
    import pandas as pd

    cells = ivf_cells(embeddings, n_cells)

    # Intra-cell scoring is one BLAS matmul per cell via applyInPandas
    # (one exchange on cell_id — same shuffle count as the self-join
    # formulation, but the O(cell^2) cosines run vectorized instead of
    # as an interpreted JVM higher-order function per pair: measured
    # ~30x on the identical pattern in embedding_near_dup_pairs).
    # Peak memory per task is O(cell rows x dim + chunk x cell sims);
    # with k ~ sqrt(N) cells a cell is sqrt(N) rows, the documented
    # SemDeDup working set.
    chunk_rows = 4096

    def pairs_in_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {"cell_id": pd.Series(dtype="int64"),
                 "vec_a": pd.Series(dtype="int64"),
                 "vec_b": pd.Series(dtype="int64")}
            )
        A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        outs_a, outs_b = [], []
        for lo in range(0, len(A), chunk_rows):
            sims = A[lo : lo + chunk_rows] @ A.T
            ai, bj = np.nonzero(sims >= threshold)
            va, vb = ids[lo + ai], ids[bj]
            keep = va < vb
            outs_a.append(va[keep])
            outs_b.append(vb[keep])
        va = np.concatenate(outs_a)
        return pd.DataFrame(
            {
                "cell_id": np.full(len(va), pdf["cell_id"].iloc[0], np.int64),
                "vec_a": va,
                "vec_b": np.concatenate(outs_b),
            }
        )

    return cells.groupBy("cell_id").applyInPandas(
        pairs_in_cell, "cell_id long, vec_a long, vec_b long"
    )


def sql_semantic_dedup_pairs(
    base_sql: str, threshold: float = 0.95, n_cells: int = N_CELLS
) -> str:
    """DuckDB twin of semantic_dedup_pairs (same seeding/tie order)."""
    cos_cell = sql_cosine_guarded("e.embedding", "c.embedding")
    cos_pair = sql_cosine("a.embedding", "b.embedding")
    return f"""
WITH base AS (SELECT * FROM {base_sql}),
cents AS (SELECT vec_id AS cell_id, embedding FROM base WHERE vec_id < {n_cells}),
cells AS (
  SELECT vec_id, embedding, cell_id FROM (
    SELECT e.vec_id, e.embedding, c.cell_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos_cell} DESC, c.cell_id) AS r
    FROM base e CROSS JOIN cents c
  ) WHERE r = 1
)
SELECT a.cell_id, a.vec_id AS vec_a, b.vec_id AS vec_b
FROM cells a JOIN cells b
  ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
WHERE {cos_pair} >= {threshold}
"""


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed-embedding ANN tier
# ---------------------------------------------------------------------------

PQ_M = 8          # subspaces
PQ_K = 16         # centroids per subspace
PQ_SUB = 8        # dims per subspace (PQ_M * PQ_SUB = 64 = corpus dim)


def _sub_l2(a_name: str, b_name: str, m: int):
    """Squared L2 between subspace ``m`` of two vector columns, as one
    explicit left-associative float64 sum — the SQL twin builds the
    byte-identical expression, so argmin codes are engine-exact.
    Elements are cast to double BEFORE subtraction (the parquet arrays
    are float32; float arithmetic would round differently).

    Built as ONE F.expr string, not Column algebra: the 8-term product
    chain is ~40 expression nodes, and a py4j round-trip per node made
    plan CONSTRUCTION (driver-side, data-independent) dominate the
    operator's bench time (~2.2s of a 3.1s total before this)."""
    terms = " + ".join(
        f"(CAST(element_at({a_name}, {j}) AS DOUBLE) - "
        f"CAST(element_at({b_name}, {j}) AS DOUBLE)) * "
        f"(CAST(element_at({a_name}, {j}) AS DOUBLE) - "
        f"CAST(element_at({b_name}, {j}) AS DOUBLE))"
        for j in range(m * PQ_SUB + 1, (m + 1) * PQ_SUB + 1)  # 1-based
    )
    return F.expr(terms)


def _sql_sub_l2(a: str, b: str, m: int) -> str:
    return " + ".join(
        f"(CAST({a}[{j}] AS DOUBLE) - CAST({b}[{j}] AS DOUBLE)) * "
        f"(CAST({a}[{j}] AS DOUBLE) - CAST({b}[{j}] AS DOUBLE))"
        for j in range(m * PQ_SUB + 1, (m + 1) * PQ_SUB + 1)
    )


def pq_codes(embeddings: DataFrame) -> DataFrame:
    """PQ-encode the corpus: per vector, per subspace m, the index of
    the nearest of PQ_K centroid subvectors (squared L2, ties to the
    smallest centroid id).

    Codebook = the first PQ_K corpus vectors by vec_id — the same
    deterministic seeding as ivf_cells (k-means sharpens centroids at
    scale without changing this plan; swap in MLlib KMeans).  64 floats
    compress to 8 nibbles: a 1000-executor corpus scan of PQ codes
    reads 64x less than raw vectors, which is the entire point of the
    tier — the ADC query path (pq_topk) never touches raw corpus
    vectors again.

    Plan: one broadcast join against the PQ_K codebook rows (16x row
    blow-up that collapses immediately — the ivf_cells shape), argmin
    per subspace via min(struct(dist, k)): struct ordering compares
    dist first, then k, which IS the tie rule.  Output is all-integer,
    so the oracle check is exact.
    """
    cents = embeddings.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("k"), F.col("embedding").alias("cvec")
    )
    scored = fan_out(embeddings).join(F.broadcast(cents))
    aggs = []
    for m in range(PQ_M):
        dist = _sub_l2("embedding", "cvec", m)
        aggs.append(
            F.min(F.struct(dist.alias("d"), F.col("k").alias("k")))
            .getField("k")
            .alias(f"c{m}")
        )
    return scored.groupBy("vec_id").agg(*aggs)


def _sql_pq_codes_body(table: str) -> str:
    """Codes SELECT assuming a ``cents(k, cvec)`` CTE is in scope."""
    cols = []
    for m in range(PQ_M):
        d = _sql_sub_l2("e.embedding", "c.cvec", m)
        cols.append(
            f"CAST(min([{d}, CAST(c.k AS DOUBLE)])[2] AS BIGINT) AS c{m}"
        )
    sel = ",\n       ".join(cols)
    return (
        f"SELECT e.vec_id, {sel} "
        f"FROM {table} e CROSS JOIN cents c GROUP BY e.vec_id"
    )


def sql_pq_codes(table: str = "embeddings") -> str:
    """DuckDB twin of pq_codes: min over the [dist, k] pair-list is the
    lexicographic (dist, then k) minimum — the same ordering Spark's
    min(struct(dist, k)) uses, so codes and ties agree exactly (k < 16
    is exactly representable as double)."""
    return f"""
WITH cents AS (
  SELECT vec_id AS k, embedding AS cvec FROM {table} WHERE vec_id < {PQ_K}
)
{_sql_pq_codes_body(table)}
"""


def pq_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 5
) -> DataFrame:
    """PQ-ANN via asymmetric distance computation (ADC): score every
    corpus vector against each query using ONLY its 8 PQ codes — the
    query stays exact, the corpus side is its quantized reconstruction.

    approx_dist(q, x) = sum_m  l2(q_sub_m, centroid[m][code_m(x)])

    Plan at 100 TB: the corpus leg reads (vec_id, 8 tinyint codes) —
    64x narrower than raw vectors; the per-query lookup tables
    (|Q| x PQ_M x PQ_K doubles) broadcast.  Here the LUT join is
    expressed as PQ_M broadcast joins of a PQ_K-row dim each, keeping
    the per-subspace distances in FIXED column order so the total is
    one explicit left-associative sum (no float-sum accumulation-order
    nondeterminism), which keeps ranks oracle-exact.  Ties (two corpus
    vectors sharing all 8 codes) break on vec_id.

    The code table (vec_id + 8 small ints — the 64x-compressed corpus)
    is shared (plans/memo.py): ``pq_ann`` and ``ann_recall_pq`` run over
    the SAME codes, and re-encoding the corpus per query is exactly the
    work a persisted PQ index exists to avoid.  Likewise the per-query
    LUT (|Q| x PQ_K rows): without materialization each of the 8
    broadcast legs below re-executes the LUT subtree (8 redundant scans
    of the embeddings source just to rebuild an 80-row frame).  The
    ranked top-kmax base is shared like brute_force_topk/ivf_topk:
    pq_ann and ann_recall_pq score the same codes against the same
    queries — one ADC pass per session serves every k <= kmax face.
    """
    kmax = max(k, TOPK_MEMO_KMAX)
    codes = shared(pq_codes, embeddings)
    lut = shared(_pq_lut, embeddings, query_ids=_ids(query_ids))
    base = shared(_pq_ranked, codes, lut, kmax=kmax)
    return base.filter(F.col("rank") <= k) if k < kmax else base


def _pq_lut(embeddings: DataFrame, query_ids: tuple) -> DataFrame:
    """ONE wide per-(query, centroid) LUT row carrying all 8 subspace
    distances (|Q| x 16 rows); ``_pq_ranked`` takes 8 cheap
    column-slices of it for the per-subspace joins — same shape as the
    SQL twin, and far fewer driver-side plan nodes than an 8-part
    union."""
    cents = embeddings.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("k"), F.col("embedding").alias("cvec")
    )
    q = embeddings.filter(F.col("vec_id").isin(list(query_ids)))
    return q.join(F.broadcast(cents)).select(
        F.col("vec_id").alias("query_id"),
        F.col("k"),
        *[_sub_l2("embedding", "cvec", m).alias(f"d{m}") for m in range(PQ_M)],
    )


def _pq_ranked(codes: DataFrame, lut: DataFrame, kmax: int) -> DataFrame:
    scored = codes
    for m in range(PQ_M):
        lut_m = lut.select("query_id", F.col("k").alias(f"c{m}"), f"d{m}")
        join_keys = [f"c{m}"] if m == 0 else ["query_id", f"c{m}"]
        scored = scored.join(F.broadcast(lut_m), join_keys)
    total = None
    for m in range(PQ_M):
        t = F.col(f"d{m}")
        total = t if total is None else total + t
    scored = scored.filter(F.col("vec_id") != F.col("query_id")).withColumn(
        "approx_dist", total
    )
    return _ranked(scored, F.asc("approx_dist"), kmax)


def sql_pq_topk(
    query_ids: list[int], k: int = 5, table: str = "embeddings"
) -> str:
    """DuckDB twin of pq_topk (materialized codes + one wide per-query
    LUT row with the same fixed-order distance total; MATERIALIZED
    stops DuckDB from inlining the expensive code expressions into the
    8-way join, which blows planning/execution up ~50x)."""
    ids = ", ".join(str(int(i)) for i in query_ids)
    lut_cols = ",\n         ".join(
        f"c.k AS k{m}, {_sql_sub_l2('q.embedding', 'c.cvec', m)} AS d{m}"
        for m in range(PQ_M)
    )
    joins = " ".join(
        f"JOIN lut{m} ON lut{m}.k{m} = codes.c{m}"
        + ("" if m == 0 else f" AND lut{m}.query_id = lut0.query_id")
        for m in range(PQ_M)
    )
    lut_views = ",\n".join(
        f"lut{m} AS (SELECT query_id, k{m}, d{m} FROM lut)"
        for m in range(PQ_M)
    )
    total = " + ".join(f"lut{m}.d{m}" for m in range(PQ_M))
    return f"""
WITH cents AS MATERIALIZED (
  SELECT vec_id AS k, embedding AS cvec FROM {table} WHERE vec_id < {PQ_K}
),
qs AS MATERIALIZED (
  SELECT vec_id, embedding FROM {table} WHERE vec_id IN ({ids})
),
codes AS MATERIALIZED ({_sql_pq_codes_body(table)}),
lut AS MATERIALIZED (
  SELECT q.vec_id AS query_id,
         {lut_cols}
  FROM qs q CROSS JOIN cents c
),
{lut_views},
scored AS (
  SELECT lut0.query_id, codes.vec_id, {total} AS approx_dist
  FROM codes {joins}
  WHERE codes.vec_id != lut0.query_id
)
SELECT query_id, vec_id AS neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY approx_dist, vec_id) AS INT) AS rank
FROM scored
QUALIFY rank <= {k}
"""


def cell_label_purity(embeddings: DataFrame, n_cells: int = N_CELLS) -> DataFrame:
    """Embedding-space partition quality: for every IVF cell, the share
    of vectors carrying the cell's majority label — the standard
    clustering-purity diagnostic a pipeline tracks when the cells feed
    SemDeDup or IVF retrieval (a collapsing embedding space shows up
    here before it silently degrades recall).

    One cell-keyed aggregation over the ivf_cells assignment (the
    exchange the downstream consumers need anyway); ties on the
    majority label break to the smaller label id so the output is
    engine-exact.
    """
    cells = ivf_cells(embeddings, n_cells).select("vec_id", "cell_id")
    labeled = cells.join(embeddings.select("vec_id", "label"), "vec_id")
    per_label = labeled.groupBy("cell_id", "label").agg(
        F.count("*").alias("n")
    )
    top = per_label.groupBy("cell_id").agg(
        F.max(
            F.struct(F.col("n").alias("n"), (-F.col("label")).alias("neg"))
        ).alias("m"),
        F.sum("n").alias("n_vecs"),
    )
    return top.select(
        "cell_id",
        "n_vecs",
        F.col("m.n").alias("majority_n"),
        (-F.col("m.neg")).alias("majority_label"),
        (F.col("m.n") / F.col("n_vecs")).alias("purity"),
    )


def sql_cell_label_purity(table: str = "embeddings", n_cells: int = N_CELLS) -> str:
    """DuckDB twin of cell_label_purity (same cells CTE as the
    SemDeDup oracle, same max-struct tie rule via lexicographic list
    max over [n, -label])."""
    cos_cell = sql_cosine_guarded("e.embedding", "c.embedding")
    return f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding FROM {table} WHERE vec_id < {n_cells}
), cells AS (
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, c.cell_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos_cell} DESC, c.cell_id) AS r
    FROM {table} e CROSS JOIN cents c
  ) WHERE r = 1
), per_label AS (
  SELECT cells.cell_id, t.label, count(*) AS n
  FROM cells JOIN {table} t USING (vec_id)
  GROUP BY 1, 2
)
SELECT cell_id,
       CAST(sum(n) AS BIGINT) AS n_vecs,
       CAST(max([n, -label])[1] AS BIGINT) AS majority_n,
       CAST(-max([n, -label])[2] AS BIGINT) AS majority_label,
       CAST(max([n, -label])[1] AS DOUBLE) / sum(n) AS purity
FROM per_label
GROUP BY cell_id
"""


def ann_recall_report(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    tier: str = "ivf",
) -> DataFrame:
    """Retrieval-quality observability: per-query recall@k of an ANN
    tier against the exact brute-force ranking — the eval loop a
    production vector pipeline runs on every index rebuild (recall
    regressions from centroid drift, skewed cells, or quantization
    error surface here, not in user traffic).  ``tier`` selects which
    approximate ladder rung is audited ("ivf" or "pq").

    Composes the two existing operators and joins on (query, neighbor):
    the exact side is the |Q|-bounded brute-force scan, so the report
    costs one corpus pass more than the ANN query it audits — and only
    for the FIRST tier audited: the exact ranking (|Q| x k rows) is
    shared (plans/memo.py), so auditing the IVF and PQ rungs
    back-to-back pays the brute-force corpus scan once, not per rung
    (the in-session analog of persisting the eval ranking an index
    rebuild reuses across its recall dashboards).
    """
    approx_fn = {"ivf": ivf_topk, "pq": pq_topk}[tier]
    # brute_force_topk returns a rank filter over its memoized top-kmax
    # checkpoint; a second memo layer here would just re-checkpoint a
    # trivial projection of it.
    exact = brute_force_topk(embeddings, query_ids, k=k).select(
        "query_id", "neighbor_id"
    )
    approx = approx_fn(embeddings, query_ids, k=k).select(
        "query_id", F.col("neighbor_id").alias("approx_neighbor")
    )
    hits = exact.join(
        approx,
        (exact.query_id == approx.query_id)
        & (exact.neighbor_id == approx.approx_neighbor),
        "left",
    ).select(
        exact.query_id.alias("qid"),
        F.col("approx_neighbor").isNotNull().cast("bigint").alias("hit"),
    )
    return (
        hits.groupBy(F.col("qid").alias("query_id"))
        .agg(F.sum("hit").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            (F.col("n_hits") / F.lit(float(k))).alias("recall_at_k"),
        )
    )


def sql_ann_recall_report(
    query_ids: list[int],
    k: int = 5,
    table: str = "embeddings",
    tier: str = "ivf",
) -> str:
    """DuckDB twin of ann_recall_report (nests both ANN oracles)."""
    sql_fn = {"ivf": sql_ivf_topk, "pq": sql_pq_topk}[tier]
    exact = sql_brute_force_topk(query_ids, k=k, table=table)
    approx = sql_fn(query_ids, k=k, table=table)
    return f"""
WITH exact AS ({exact}),
approx AS ({approx})
SELECT e.query_id,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / {float(k)} AS recall_at_k
FROM exact e LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
"""


# --- int8 scalar quantization (storage-tier vector compression) ------------


def quantized_embeddings(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 scalar quantization: per vector, scale by
    max-abs so codes span [-127, 127] — the storage/transport tier
    between raw floats (4 B/dim) and PQ nibbles: 4x narrower corpus
    scans with ~0.4% cosine error at 64 dims, and dequantization is a
    single multiply.

    Plan: NARROW — max-abs and the code transform run inside one
    projection; nothing shuffles.  Determinism: max() over the array
    is order-free; each code is round(x * 127 / max_abs) computed in
    one fixed expression order, so both engines produce identical
    codes (round is half-away-from-zero in both).  All-zero vectors
    get max_abs = 0 and all-zero codes (guarded, no division).
    """
    emb = to_double(F.col("embedding"))
    amax = F.array_max(F.transform(emb, F.abs))
    codes = F.when(
        amax == 0.0,
        F.transform(emb, lambda x: F.lit(0).cast("int")),
    ).otherwise(
        F.transform(
            emb, lambda x: F.round(x * 127.0 / amax, 0).cast("int")
        )
    )
    return embeddings.select(
        "vec_id",
        amax.alias("max_abs"),
        codes.alias("codes"),
    )


def quantized_embeddings_csv(embeddings: DataFrame) -> DataFrame:
    """Oracle-comparable projection: codes flattened to a CSV string
    (array columns stringify differently across engines; a joined
    string hashes identically)."""
    q = quantized_embeddings(embeddings)
    return q.select(
        "vec_id",
        "max_abs",
        F.concat_ws(",", F.col("codes").cast("array<string>")).alias(
            "codes_csv"
        ),
        F.aggregate(
            F.col("codes"),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + F.abs(x),
        ).alias("abs_code_sum"),
    )


def sql_quantized_embeddings_csv(table: str = "embeddings") -> str:
    """DuckDB twin — same expression order inside the code transform."""
    emb = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    amax = f"list_max(list_transform({emb}, x -> abs(x)))"
    codes = (
        f"CASE WHEN {amax} = 0.0 THEN list_transform({emb}, x -> 0) "
        f"ELSE list_transform({emb}, x -> "
        f"CAST(round(x * 127.0 / {amax}, 0) AS INTEGER)) END"
    )
    return f"""
SELECT vec_id, {amax} AS max_abs,
       array_to_string({codes}, ',') AS codes_csv,
       CAST(list_reduce(list_prepend(0, list_transform({codes},
         x -> abs(x))), (acc, x) -> acc + x) AS BIGINT) AS abs_code_sum
FROM {table}
"""


# --- hard-negative mining (contrastive-training pairs) ---------------------


def hard_negatives(
    embeddings: DataFrame, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Contrastive-training hard negatives: for each anchor, the k most
    cosine-similar vectors with a DIFFERENT label — the pairs that
    actually move an embedding model (random negatives are trivially
    separable; these sit on the decision boundary).

    Same broadcast-anchor shape as brute_force_topk with the label
    inequality fused into the join predicate, so mismatched labels are
    dropped BEFORE any cosine is computed.  At scale the corpus leg
    runs per IVF cell exactly like ivf_topk — this exact variant is
    the |Q|-bounded audit/baseline.
    """
    q = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("anchor_label"),
    )
    cand = embeddings.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("anchor_id"))
        & (F.col("label") != F.col("anchor_label")),
    )
    scored = cand.withColumn("cos", cosine(F.col("qvec"), F.col("embedding")))
    w = W.partitionBy("anchor_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "anchor_id",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def sql_hard_negatives(
    query_ids: list[int], k: int = 5, table: str = "embeddings"
) -> str:
    """DuckDB twin — same label-inequality candidate set and tie order."""
    ids = ", ".join(str(i) for i in query_ids)
    cos = sql_cosine("q.embedding", "c.embedding")
    return f"""
WITH ranked AS (
  SELECT q.vec_id AS anchor_id, c.vec_id AS negative_id,
         c.label AS negative_label,
         row_number() OVER (PARTITION BY q.vec_id
           ORDER BY {cos} DESC, c.vec_id) AS rank
  FROM {table} q JOIN {table} c
    ON c.vec_id <> q.vec_id AND c.label <> q.label
  WHERE q.vec_id IN ({ids})
)
SELECT anchor_id, negative_id, negative_label, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


# --- hybrid retrieval: keyword + vector, reciprocal-rank fusion ------------

RRF_K = 60  # the standard smoothing constant (Cormack et al. 2009)


def hybrid_search_rrf(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec_id: int,
    k: int = 10,
    candidates: int = 50,
) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (Cormack et al.
    2009): a keyword leg (distinct query-term hits over the token set)
    and a vector leg (exact cosine) each produce a bounded candidate
    list; fusion scores 1/(RRF_K + rank) per leg and re-ranks — the
    retrieval shape RAG pipelines run, rank-based so no score
    calibration between BM25-ish and cosine scales is needed.

    Scale/exactness notes: each leg is top-``candidates`` via
    TakeOrderedAndProject (never a global sort of the corpus); the
    fusion joins two <= ``candidates``-row sides (full outer, a
    missing leg contributes nothing); RRF arithmetic is small-integer
    division — bit-exact on both engines.  The keyword leg's hit count
    is over DISTINCT terms (a bag would double-count repeats).
    """
    from eventstreamd_spark.functions.text import tokens

    terms = F.array(*[F.lit(t) for t in query_terms])
    kw_score = F.size(
        F.array_intersect(F.array_distinct(tokens(F.col("text"))), terms)
    )
    # the positivity filter sits ABOVE the TakeOrdered limit, not below:
    # filtered-first it pushes through the projection and inlines the
    # whole tokenize+intersect into the scan predicate (2x tokenization
    # per doc — the audit's join/filter inference trap); Catalyst never
    # pushes filters through a Limit, and the result is identical (a
    # zero-score doc can only enter the top-k when fewer than
    # ``candidates`` docs score positive, and the post-filter drops it).
    kw_cand = (
        docs.filter(F.col("doc_id") != query_vec_id)
        .select("doc_id", kw_score.alias("kw_score"))
        .orderBy(F.desc("kw_score"), F.asc("doc_id"))
        .limit(candidates)
        .filter(F.col("kw_score") > 0)
    )
    wk = W.orderBy(F.desc("kw_score"), F.asc("doc_id"))
    kw_ranked = kw_cand.withColumn("kw_rank", F.row_number().over(wk)).select(
        "doc_id", "kw_rank"
    )
    vec_ranked = brute_force_topk(
        embeddings, [query_vec_id], k=candidates
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("vec_rank"))
    fused = kw_ranked.join(vec_ranked, "doc_id", "full_outer")
    rrf = F.when(
        F.col("kw_rank").isNotNull(),
        1.0 / (F.lit(RRF_K) + F.col("kw_rank")),
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("vec_rank").isNotNull(),
        1.0 / (F.lit(RRF_K) + F.col("vec_rank")),
    ).otherwise(F.lit(0.0))
    wf = W.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("rrf_score", rrf)
        .withColumn("fused_rank", F.row_number().over(wf).cast("bigint"))
        .filter(F.col("fused_rank") <= k)
        .select(
            "doc_id",
            F.col("kw_rank").cast("bigint").alias("kw_rank"),
            F.col("vec_rank").cast("bigint").alias("vec_rank"),
            "rrf_score",
            "fused_rank",
        )
    )


def sql_hybrid_search_rrf(
    query_terms: list[str],
    query_vec_id: int,
    k: int = 10,
    candidates: int = 50,
    docs_table: str = "documents",
    emb_table: str = "embeddings",
) -> str:
    """DuckDB twin — same candidate bounds, tie orders, and RRF
    arithmetic."""
    from eventstreamd_spark.functions.text import sql_tokens

    terms = "[" + ", ".join("'" + t.replace("'", "''") + "'" for t in query_terms) + "]"
    toks = sql_tokens("text")
    bf = sql_brute_force_topk([query_vec_id], k=candidates, table=emb_table)
    return f"""
WITH kw_cand AS (
  SELECT doc_id, kw_score FROM (
    SELECT doc_id,
           len(list_intersect(list_distinct({toks}), {terms})) AS kw_score
    FROM {docs_table} WHERE doc_id <> {query_vec_id}
  ) WHERE kw_score > 0
  ORDER BY kw_score DESC, doc_id LIMIT {candidates}
), kw_ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY kw_score DESC, doc_id) AS kw_rank
  FROM kw_cand
), vec_ranked AS (
  SELECT neighbor_id AS doc_id, rank AS vec_rank FROM ({bf})
), fused AS (
  SELECT coalesce(kw.doc_id, v.doc_id) AS doc_id, kw.kw_rank, v.vec_rank,
         (CASE WHEN kw.kw_rank IS NOT NULL
               THEN CAST(1 AS DOUBLE) / ({RRF_K} + kw.kw_rank)
               ELSE CAST(0 AS DOUBLE) END)
         + (CASE WHEN v.vec_rank IS NOT NULL
                 THEN CAST(1 AS DOUBLE) / ({RRF_K} + v.vec_rank)
                 ELSE CAST(0 AS DOUBLE) END) AS rrf_score
  FROM kw_ranked kw FULL OUTER JOIN vec_ranked v ON kw.doc_id = v.doc_id
)
SELECT doc_id, CAST(kw_rank AS BIGINT) AS kw_rank,
       CAST(vec_rank AS BIGINT) AS vec_rank, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT)
         AS fused_rank
FROM fused
QUALIFY fused_rank <= {k}
"""


# ---------------------------------------------------------------------------
# Persisted IVF index — the partition layout ivf_topk's docstring promises
# ---------------------------------------------------------------------------


def write_ivf_index(
    embeddings: DataFrame, path: str, n_cells: int = N_CELLS
) -> None:
    """Materialize the IVF index as a partitioned parquet layout:

        <path>/cells/cell_id=<c>/...   corpus vectors, partitioned
        <path>/centroids/...           the tiny centroid table

    ``partitionBy("cell_id")`` turns every future probe into
    DIRECTORY-level pruning: a query that probes 2 of 16 cells reads
    2/16 of the files, enforced by the scan's PartitionFilters — the
    Spark-native serving shape for a vector index (what FAISS does
    with inverted lists, expressed as table layout).
    """
    cells = ivf_cells(embeddings, n_cells).select("vec_id", "cell_id")
    rows = embeddings.join(cells, "vec_id").select(
        "vec_id", "embedding", "cell_id"
    )
    rows.write.mode("overwrite").partitionBy("cell_id").parquet(
        path + "/cells"
    )
    embeddings.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cvec")
    ).coalesce(1).write.mode("overwrite").parquet(path + "/centroids")


def ivf_index_topk(
    spark,
    path: str,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """Serve ANN queries from a persisted IVF index: externally-
    supplied query vectors, probe-cell selection against the tiny
    centroid table, then a candidate scan whose ``cell_id IN (...)``
    filter is a PARTITION filter — only the probed directories are
    read (asserted in tests via the scan's PartitionFilters).

    The probe list is collected to the driver (n_queries x n_probe
    cell ids — KB) precisely so the cell filter is a literal predicate
    partition pruning can see; keeping it as a join would read every
    partition.
    """
    cents = spark.read.parquet(path + "/centroids")
    qdf = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in queries],
        "query_id long, qvec array<double>",
    )
    qscored = qdf.join(F.broadcast(cents)).withColumn(
        "ccos", cosine(F.col("qvec"), F.col("cvec"))
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("cell_id"))
    probes = (
        qscored.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= n_probe)
        .select("query_id", "cell_id")
    )
    probe_cells = sorted({r["cell_id"] for r in probes.collect()})
    cand = (
        spark.read.parquet(path + "/cells")
        .filter(F.col("cell_id").isin(probe_cells))
        .join(F.broadcast(probes), "cell_id")
        .join(F.broadcast(qdf), "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    scored = cand.withColumn(
        "cos", cosine(F.col("qvec"), F.col("embedding").cast("array<double>"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank")
    )


# ---------------------------------------------------------------------------
# nDCG ranking-quality eval (graded relevance, exact rational discounts)
# ---------------------------------------------------------------------------

NDCG_LCM = 27720  # lcm(2..11): clears every 1/(1+rank) denominator at k<=10


def ndcg_eval(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    tier: str = "ivf",
) -> DataFrame:
    """Graded ranking quality of an ANN tier: per-query nDCG@k and
    reciprocal rank against the exact cosine ranking.  recall@k (the
    ann_recall report) treats every exact top-k neighbor as equally
    relevant; nDCG grades them (relevance of the exact rank-r neighbor
    is k+1-r) and discounts by result position, so it catches the
    failure recall hides — the tier returning the right set in the
    wrong order.

    Exactness: the textbook log2 discount would put engine-libm
    ``log`` bits in the hash; instead the discount is the rational
    1/(1+rank) family scaled by LCM(2..11)=27720, so DCG and ideal DCG
    are EXACT BIGINT sums (dcg_num = sum rel * 27720/(1+rank)); nDCG
    and RR are each one double divide of exact integers.  Same
    rank-weighting family as RRF (hybrid_search) — consistent eval
    semantics across the retrieval stack.

    Plan: the |Q|-bounded exact ranking is a shared relation (shared
    with the recall reports when run in-session); the approx leg is
    the audited ANN query itself; everything downstream is joins and
    aggregates on |Q| x k rows.
    """
    approx_fn = {"ivf": ivf_topk, "pq": pq_topk}[tier]
    # the exact leg rides on brute_force_topk's memoized top-kmax
    # checkpoint (shared with the recall reports and similarity_topk);
    # the grading projection is trivial over that leaf.
    exact = brute_force_topk(embeddings, query_ids, k=k).select(
        "query_id",
        "neighbor_id",
        (F.lit(k + 1) - F.col("rank")).cast("bigint").alias("rel"),
        F.col("rank").alias("exact_rank"),
    )
    idcg = exact.groupBy("query_id").agg(
        F.sum(F.expr(f"rel * ({NDCG_LCM} div (1 + exact_rank))"))
        .cast("bigint")
        .alias("idcg_num")
    )
    approx = approx_fn(embeddings, query_ids, k=k).select(
        "query_id", "neighbor_id", F.col("rank").alias("approx_rank")
    )
    labeled = approx.join(
        exact.select("query_id", "neighbor_id", "rel"),
        ["query_id", "neighbor_id"],
        "left",
    )
    per = labeled.groupBy("query_id").agg(
        F.sum(F.expr(f"coalesce(rel, 0) * ({NDCG_LCM} div (1 + approx_rank))"))
        .cast("bigint")
        .alias("dcg_num"),
        F.min(
            F.when(F.col("rel").isNotNull(), F.col("approx_rank"))
        ).alias("first_hit_rank"),
    )
    return per.join(idcg, "query_id").select(
        "query_id",
        "dcg_num",
        "idcg_num",
        (F.col("dcg_num").cast("double") / F.col("idcg_num").cast("double")).alias(
            "ndcg"
        ),
        F.col("first_hit_rank").cast("bigint").alias("first_hit_rank"),
        F.coalesce(
            F.lit(1.0) / F.col("first_hit_rank").cast("double"), F.lit(0.0)
        ).alias("reciprocal_rank"),
    )


def sql_ndcg_eval(
    query_ids: list[int],
    k: int = 10,
    table: str = "embeddings",
    tier: str = "ivf",
) -> str:
    """DuckDB twin — same grading, LCM discounts, and tie handling."""
    sql_fn = {"ivf": sql_ivf_topk, "pq": sql_pq_topk}[tier]
    exact = sql_brute_force_topk(query_ids, k=k, table=table)
    approx = sql_fn(query_ids, k=k, table=table)
    return f"""
WITH exact AS MATERIALIZED (
  SELECT query_id, neighbor_id,
         CAST({k + 1} - rank AS BIGINT) AS rel,
         rank AS exact_rank
  FROM ({exact})
),
idcg AS (
  SELECT query_id,
         CAST(sum(rel * ({NDCG_LCM} // (1 + exact_rank))) AS BIGINT)
           AS idcg_num
  FROM exact GROUP BY query_id
),
approx AS (
  SELECT query_id, neighbor_id, rank AS approx_rank FROM ({approx})
),
labeled AS (
  SELECT a.query_id, a.approx_rank, e.rel
  FROM approx a LEFT JOIN exact e
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
),
per AS (
  SELECT query_id,
         CAST(sum(coalesce(rel, 0) * ({NDCG_LCM} // (1 + approx_rank)))
              AS BIGINT) AS dcg_num,
         min(CASE WHEN rel IS NOT NULL THEN approx_rank END)
           AS first_hit_rank
  FROM labeled GROUP BY query_id
)
SELECT p.query_id, p.dcg_num, i.idcg_num,
       CAST(p.dcg_num AS DOUBLE) / CAST(i.idcg_num AS DOUBLE) AS ndcg,
       CAST(p.first_hit_rank AS BIGINT) AS first_hit_rank,
       coalesce(1.0 / CAST(p.first_hit_rank AS DOUBLE), 0.0)
         AS reciprocal_rank
FROM per p JOIN idcg i USING (query_id)
"""


# ---------------------------------------------------------------------------
# MMR diversified top-k (greedy re-ranking, unrolled iterations)
# ---------------------------------------------------------------------------

MMR_LAMBDA = 0.7  # relevance/diversity trade-off (Carbonell & Goldstein 1998)


def mmr_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 5,
    candidates: int = 20,
    lam: float = MMR_LAMBDA,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998): from the query's top-``candidates`` cosine neighbors,
    greedily pick k results maximizing

        mmr(d) = lam * sim(q, d) - (1 - lam) * max_{s in selected} sim(d, s)

    — the diversified retrieval a RAG pipeline wants when the plain
    top-k is five paraphrases of the same passage.

    Determinism: every sim is the guarded cosine (zero-norm sentinel
    -2.0, never NaN); the greedy score is multiply/subtract/max of
    IEEE doubles — bit-identical across engines — and every argmax
    tie-breaks on vec_id.

    Scale shape: ONE corpus pass scores the query leg (broadcast
    1-row query, TakeOrdered candidates); everything after operates on
    the |candidates|-row frame and its |candidates|^2 pair table —
    KB-sized, broadcast — with the k greedy rounds unrolled as plan
    stages the same way PageRank unrolls its iterations.  The
    pair table is ``localCheckpoint``ed so round t does not replay the
    corpus scan t times.
    """
    cand = shared(
        _mmr_candidates,
        embeddings,
        query_vec_id=query_vec_id,
        candidates=candidates,
    )
    pair = shared(_mmr_pairs, cand)
    base = cand.select("vec_id", "rel")
    picks = []
    sel = None
    for t in range(1, k + 1):
        remaining = base if sel is None else base.join(sel, "vec_id", "anti")
        if sel is None:
            scored = remaining.select(
                "vec_id", "rel", (F.lit(lam) * F.col("rel")).alias("mmr_score")
            )
        else:
            pen = (
                pair.join(
                    sel.select(F.col("vec_id").alias("j")), "j"
                )
                .groupBy(F.col("i").alias("vec_id"))
                .agg(F.max("sim").alias("max_sim_sel"))
            )
            scored = remaining.join(pen, "vec_id").select(
                "vec_id",
                "rel",
                (
                    F.lit(lam) * F.col("rel")
                    - F.lit(1.0 - lam) * F.col("max_sim_sel")
                ).alias("mmr_score"),
            )
        top = (
            scored.orderBy(F.desc("mmr_score"), F.asc("vec_id"))
            .limit(1)
            .select(
                F.lit(t).cast("bigint").alias("selection_rank"),
                "vec_id",
                "rel",
                "mmr_score",
            )
            .localCheckpoint()
        )
        picks.append(top)
        sel = (
            top.select("vec_id")
            if sel is None
            else sel.union(top.select("vec_id"))
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.union(p)
    return out


def _mmr_candidates(
    embeddings: DataFrame, query_vec_id: int, candidates: int
) -> DataFrame:
    qvec = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv")
    )
    return (
        fan_out(embeddings)
        .filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            "embedding",
            cosine_guarded(F.col("embedding"), F.col("qv")).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(candidates)
    )


def _mmr_pairs(cand: DataFrame) -> DataFrame:
    a = cand.select(F.col("vec_id").alias("i"), F.col("embedding").alias("vi"))
    b = cand.select(F.col("vec_id").alias("j"), F.col("embedding").alias("vj"))
    return a.join(F.broadcast(b), F.col("i") != F.col("j")).select(
        "i", "j", cosine_guarded(F.col("vi"), F.col("vj")).alias("sim")
    )


def sql_mmr_topk(
    query_vec_id: int,
    k: int = 5,
    candidates: int = 20,
    lam: float = MMR_LAMBDA,
    table: str = "embeddings",
) -> str:
    """DuckDB twin — same candidate bound, guarded sims, unrolled
    greedy rounds (MATERIALIZED so DuckDB doesn't re-inline the
    selection CTEs exponentially)."""
    cos_q = sql_cosine_guarded("e.embedding", "q.embedding")
    cos_p = sql_cosine_guarded("a.embedding", "b.embedding")
    parts = [
        f"""cand AS MATERIALIZED (
  SELECT e.vec_id, e.embedding, {cos_q} AS rel
  FROM {table} e, {table} q
  WHERE q.vec_id = {query_vec_id} AND e.vec_id <> {query_vec_id}
  ORDER BY rel DESC, e.vec_id LIMIT {candidates}
)""",
        f"""pair AS MATERIALIZED (
  SELECT a.vec_id AS i, b.vec_id AS j, {cos_p} AS sim
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
)""",
        f"""pick1 AS MATERIALIZED (
  SELECT CAST(1 AS BIGINT) AS selection_rank, vec_id, rel,
         {lam!r} * rel AS mmr_score
  FROM cand ORDER BY mmr_score DESC, vec_id LIMIT 1
)""",
        "sel1 AS MATERIALIZED (SELECT vec_id FROM pick1)",
    ]
    for t in range(2, k + 1):
        parts.append(
            f"""pick{t} AS MATERIALIZED (
  SELECT CAST({t} AS BIGINT) AS selection_rank, c.vec_id, c.rel,
         {lam!r} * c.rel - {1.0 - lam!r} * p.max_sim_sel AS mmr_score
  FROM cand c
  JOIN (SELECT i AS vec_id, max(sim) AS max_sim_sel
        FROM pair WHERE j IN (SELECT vec_id FROM sel{t - 1})
        GROUP BY i) p USING (vec_id)
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{t - 1})
  ORDER BY mmr_score DESC, c.vec_id LIMIT 1
)"""
        )
        parts.append(
            f"sel{t} AS MATERIALIZED (SELECT vec_id FROM sel{t - 1} "
            f"UNION ALL SELECT vec_id FROM pick{t})"
        )
    body = ",\n".join(parts)
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM pick{t}" for t in range(1, k + 1)
    )
    return f"WITH {body}\n{union}"


# --- kNN label-noise audit (Confident-Learning-style mislabel screen) -------

NOISE_ANCHOR_MOD = 13  # hash-defined anchor sample: vec_id % 13 == 0
NOISE_K = 10


def knn_label_noise(
    embeddings: DataFrame,
    k: int = NOISE_K,
    anchor_mod: int = NOISE_ANCHOR_MOD,
) -> DataFrame:
    """Per-label kNN label-disagreement audit: for a hash-defined anchor
    sample (vec_id % anchor_mod == 0), find each anchor's exact top-k
    cosine neighbors and score the fraction whose label differs — the
    neighborhood-consistency screen behind Confident Learning /
    cleanlab-style mislabel detection (a label whose neighborhood
    majority disagrees is a candidate annotation error).

    Output per label: anchor count, mean disagreement fraction (exact
    small-integer divide: sum of disagreeing neighbors over sum of
    neighbors), and the number of anchors flagged (>= half the
    neighborhood disagrees).

    Scale: the anchor set is a fixed-rate hash sample, broadcast
    against one corpus stream — |A| x N dot products, the same exact
    tier as ``brute_force_topk`` (the labeled baseline); at 100 TB the
    swap is per-anchor IVF probes (``ivf_topk``) which prunes the
    candidate set before any dot product, with this exact tier as the
    oracle.  The disagreement aggregation shuffles |A| rows, then
    |labels| rows.
    """
    anchors = embeddings.filter(
        F.col("vec_id") % anchor_mod == 0
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        fan_out(embeddings)
        .join(F.broadcast(anchors), F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", cosine_guarded(F.col("qvec"), F.col("embedding")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    nb = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    per_anchor = nb.groupBy("query_id", "qlabel").agg(
        F.sum((F.col("label") != F.col("qlabel")).cast("bigint"))
        .cast("bigint")
        .alias("n_diff"),
        F.count(F.lit(1)).cast("bigint").alias("n_nb"),
    )
    return (
        per_anchor.groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
            (
                F.sum("n_diff").cast("double")
                / F.sum("n_nb").cast("double")
            ).alias("mean_noise"),
            F.sum(
                (F.col("n_diff") * 2 >= F.col("n_nb")).cast("bigint")
            )
            .cast("bigint")
            .alias("n_flagged"),
        )
    )


def sql_knn_label_noise(
    k: int = NOISE_K,
    anchor_mod: int = NOISE_ANCHOR_MOD,
    table: str = "embeddings",
) -> str:
    """DuckDB twin — same anchor gate, guarded cosine, tie order, and
    integer disagreement arithmetic."""
    cos = sql_cosine_guarded("q.embedding", "c.embedding")
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, q.label AS qlabel,
         c.vec_id AS neighbor_id, c.label AS nlabel, {cos} AS cos
  FROM {table} q JOIN {table} c ON c.vec_id <> q.vec_id
  WHERE q.vec_id % {anchor_mod} = 0
), ranked AS (
  SELECT query_id, qlabel, nlabel,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
), per_anchor AS (
  SELECT query_id, qlabel,
         CAST(sum(CASE WHEN nlabel <> qlabel THEN 1 ELSE 0 END) AS BIGINT)
           AS n_diff,
         CAST(count(*) AS BIGINT) AS n_nb
  FROM ranked WHERE rank <= {k}
  GROUP BY 1, 2
)
SELECT qlabel AS label,
       CAST(count(*) AS BIGINT) AS n_anchors,
       CAST(sum(n_diff) AS DOUBLE) / CAST(sum(n_nb) AS DOUBLE) AS mean_noise,
       CAST(sum(CASE WHEN n_diff * 2 >= n_nb THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged
FROM per_anchor GROUP BY 1
"""


NOISE_N_PROBE = 4


def knn_label_noise_ivf(
    embeddings: DataFrame,
    k: int = NOISE_K,
    anchor_mod: int = NOISE_ANCHOR_MOD,
    n_cells: int = N_CELLS,
    n_probe: int = NOISE_N_PROBE,
) -> DataFrame:
    """The documented 100 TB swap for ``knn_label_noise``, built
    (VERDICT r6 ask #6): per-anchor neighborhoods come from IVF probes
    (``ivf_cells`` assignment + ``n_probe`` nearest cells per anchor)
    instead of the |A| x N exact scan — candidates shrink to
    ~n_probe/n_cells of the corpus BEFORE any full-width dot product,
    and at scale the cell table is partitioned by cell_id so each
    anchor's read is partition-pruned.  The exact tier stays registered
    as the labeled oracle baseline; per-label recall of this tier vs
    exact is pinned in tests/test_similarity.py (the ann_recall ladder
    adjudication, applied to the noise audit).

    Same guarded-cosine scoring, tie order, and integer disagreement
    arithmetic as the exact tier — only the candidate set changes.

    The assignment comes from the SHARED ``ivf_cells`` relation (the
    session-memoized IVF index every retrieval face reads) with labels
    joined back on the unique vec_id — the ``cell_label_purity`` idiom;
    a ``keep=("label",)`` assignment would be a second, semantically
    distinct corpus x n_cells argmax pass that can never memo-hit the
    other faces'.  Row-identical: ``keep`` columns ride AFTER the
    (score, cell_id) decision fields and can never influence the
    argmax, and vec_id is unique, so the inner label join is
    row-preserving.
    """
    cells = ivf_cells(embeddings, n_cells).join(
        embeddings.select("vec_id", "label"), "vec_id"
    )
    cents = embeddings.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cvec")
    )
    anchors = embeddings.filter(F.col("vec_id") % anchor_mod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    qscored = anchors.join(F.broadcast(cents)).withColumn(
        "ccos", cosine(F.col("qvec"), F.col("cvec"))
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("cell_id"))
    probes = (
        qscored.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= n_probe)
        .select("query_id", "qvec", "qlabel", "cell_id")
    )
    # probes = |A| x n_probe rows; broadcast keeps the corpus-side cell
    # table streaming once (the same |A|-bounded broadcast the exact
    # tier already makes — at larger anchor rates this becomes a
    # shuffle join on cell_id, which AQE picks automatically once the
    # broadcast threshold trips).  fan_out: cells arrives from a KB-ish
    # groupBy shuffle that AQE coalesces to ~1 partition, which would
    # run the interpreted-HOF pair scoring single-core — the one stage
    # whose cost is the whole tier (measured 3.75s -> 1.1s at sf0.1;
    # without it the IVF tier was SLOWER than the exact tier it prunes)
    cand = fan_out(cells).join(F.broadcast(probes), "cell_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.withColumn(
        "cos", cosine_guarded(F.col("qvec"), F.col("embedding"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    nb = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    per_anchor = nb.groupBy("query_id", "qlabel").agg(
        F.sum((F.col("label") != F.col("qlabel")).cast("bigint"))
        .cast("bigint")
        .alias("n_diff"),
        F.count(F.lit(1)).cast("bigint").alias("n_nb"),
    )
    return (
        per_anchor.groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
            (
                F.sum("n_diff").cast("double")
                / F.sum("n_nb").cast("double")
            ).alias("mean_noise"),
            F.sum(
                (F.col("n_diff") * 2 >= F.col("n_nb")).cast("bigint")
            )
            .cast("bigint")
            .alias("n_flagged"),
        )
    )


def sql_knn_label_noise_ivf(
    k: int = NOISE_K,
    anchor_mod: int = NOISE_ANCHOR_MOD,
    n_cells: int = N_CELLS,
    n_probe: int = NOISE_N_PROBE,
    table: str = "embeddings",
) -> str:
    """DuckDB twin — sql_ivf_topk's cell/probe algebra (labels carried)
    + the exact tier's disagreement rollup."""
    cos_cell = sql_cosine_guarded("e.embedding", "c.embedding")
    cos_q = sql_cosine("q.embedding", "c.embedding")
    cos_re = sql_cosine_guarded("p.qvec", "cells.embedding")
    return f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding FROM {table} WHERE vec_id < {n_cells}
),
cells AS (
  SELECT vec_id, embedding, label, cell_id FROM (
    SELECT e.vec_id, e.embedding, e.label, c.cell_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos_cell} DESC, c.cell_id) AS r
    FROM {table} e CROSS JOIN cents c
  ) WHERE r = 1
),
probes AS (
  SELECT query_id, qvec, qlabel, cell_id FROM (
    SELECT q.vec_id AS query_id, q.embedding AS qvec, q.label AS qlabel,
           c.cell_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {cos_q} DESC, c.cell_id) AS r
    FROM {table} q JOIN cents c ON TRUE
    WHERE q.vec_id % {anchor_mod} = 0
  ) WHERE r <= {n_probe}
),
ranked AS (
  SELECT p.query_id, p.qlabel, cells.label AS nlabel,
         row_number() OVER (PARTITION BY p.query_id
           ORDER BY {cos_re} DESC, cells.vec_id) AS rank
  FROM probes p JOIN cells ON cells.cell_id = p.cell_id
  WHERE cells.vec_id <> p.query_id
),
per_anchor AS (
  SELECT query_id, qlabel,
         CAST(sum(CASE WHEN nlabel <> qlabel THEN 1 ELSE 0 END) AS BIGINT)
           AS n_diff,
         CAST(count(*) AS BIGINT) AS n_nb
  FROM ranked WHERE rank <= {k}
  GROUP BY 1, 2
)
SELECT qlabel AS label,
       CAST(count(*) AS BIGINT) AS n_anchors,
       CAST(sum(n_diff) AS DOUBLE) / CAST(sum(n_nb) AS DOUBLE) AS mean_noise,
       CAST(sum(CASE WHEN n_diff * 2 >= n_nb THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged
FROM per_anchor GROUP BY 1
"""


# --- incremental IVF index maintenance ---------------------------------------

IVF_BATCH_MOD = 7
IVF_BATCH_REM = 3  # vec_id % 7 == 3 (and not a centroid) => the new batch


def ivf_incremental_add(
    embeddings: DataFrame,
    n_cells: int = N_CELLS,
    batch_mod: int = IVF_BATCH_MOD,
    batch_rem: int = IVF_BATCH_REM,
) -> DataFrame:
    """Incremental IVF index maintenance: assign a NEW vector batch to
    the EXISTING cells (centroids frozen — the invariant that keeps a
    serving index append-only between rebuilds) and report per-cell
    growth — the daily-ingest twin of ``write_ivf_index``, and the ANN
    sibling of dedup's incremental admission tier.

    Fixture split: vectors with vec_id % mod == rem (excluding the
    centroid seeds) are "today's batch"; the rest are the indexed
    corpus.  Cost shape at scale: the batch assignment is
    O(|batch| x cells) against BROADCAST centroids — the corpus is
    never reassigned; the existing per-cell counts here recompute the
    base assignment only because this query is self-contained (a real
    index reads them from the persisted index's cell metadata, an
    O(cells) lookup — see write_ivf_index's partition layout).
    Growth skew is the actionable signal: a cell absorbing a
    disproportionate share of new vectors is the rebuild trigger
    (recall decays as cells unbalance).
    """
    from eventstreamd_spark.functions.vectors import dot, norm

    is_batch = (F.col("vec_id") % batch_mod == batch_rem) & (
        F.col("vec_id") >= n_cells
    )
    cents = embeddings.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cvec")
    )
    cents_n = cents.withColumn("__nc", norm(F.col("cvec")))

    def assign(df: DataFrame) -> DataFrame:
        emb_n = fan_out(df).withColumn("__nv", norm(F.col("embedding")))
        nprod = F.col("__nv") * F.col("__nc")
        scored = emb_n.join(F.broadcast(cents_n)).withColumn(
            "ccos",
            F.when(nprod == 0.0, F.lit(-2.0)).otherwise(
                dot(F.col("embedding"), F.col("cvec")) / nprod
            ),
        )
        best = scored.groupBy("vec_id").agg(
            F.min(
                F.struct(
                    (-F.col("ccos")).alias("nc"), F.col("cell_id").alias("cell_id")
                )
            ).alias("b")
        )
        return best.select("vec_id", F.col("b.cell_id").alias("cell_id"))

    existing = (
        assign(embeddings.filter(~is_batch))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_existing"))
    )
    added = (
        assign(embeddings.filter(is_batch))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_added"))
    )
    return (
        existing.join(added, "cell_id", "left")
        .select(
            "cell_id",
            "n_existing",
            F.coalesce(F.col("n_added"), F.lit(0).cast("bigint")).alias(
                "n_added"
            ),
        )
        .withColumn(
            "total_after", (F.col("n_existing") + F.col("n_added")).cast("bigint")
        )
        .withColumn(
            "frac_added",
            F.col("n_added").cast("double") / F.col("total_after").cast("double"),
        )
    )


def sql_ivf_incremental_add(
    n_cells: int = N_CELLS,
    batch_mod: int = IVF_BATCH_MOD,
    batch_rem: int = IVF_BATCH_REM,
    table: str = "embeddings",
) -> str:
    """DuckDB twin — same split, frozen centroids, guarded cosine,
    argmin tie rule."""
    cos = sql_cosine_guarded("e.embedding", "c.embedding")
    batch = f"(e.vec_id % {batch_mod} = {batch_rem} AND e.vec_id >= {n_cells})"
    return f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding FROM {table} WHERE vec_id < {n_cells}
),
assigned AS (
  SELECT vec_id, is_batch, cell_id FROM (
    SELECT e.vec_id, {batch} AS is_batch, c.cell_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos} DESC, c.cell_id) AS r
    FROM {table} e CROSS JOIN cents c
  ) WHERE r = 1
),
existing AS (
  SELECT cell_id, CAST(count(*) AS BIGINT) AS n_existing
  FROM assigned WHERE NOT is_batch GROUP BY 1
),
added AS (
  SELECT cell_id, CAST(count(*) AS BIGINT) AS n_added
  FROM assigned WHERE is_batch GROUP BY 1
)
SELECT e.cell_id, e.n_existing,
       coalesce(a.n_added, 0) AS n_added,
       CAST(e.n_existing + coalesce(a.n_added, 0) AS BIGINT) AS total_after,
       CAST(coalesce(a.n_added, 0) AS DOUBLE)
         / CAST(e.n_existing + coalesce(a.n_added, 0) AS DOUBLE) AS frac_added
FROM existing e LEFT JOIN added a ON e.cell_id = a.cell_id
"""

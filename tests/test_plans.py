"""Plan-quality regression tests: the properties that make these
queries survive a 100x scale-up, asserted on the physical plan itself.

If one of these breaks, the query still returns correct rows — the
oracle gate won't notice — but the plan has regressed into something
that falls over at scale (full scans past a pushable filter, shuffles
of a broadcastable dim, sort of the whole relation for a top-k)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eventstreamd_spark import queries_registry as qr
from eventstreamd_spark.plans import (
    audit_plan,
    explain_string,
    global_window_nodes,
)


def plan_of(spark, sf_dir: str, name: str) -> str:
    return explain_string(qr.QUERIES[name](spark, sf_dir), "extended")


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    return lambda name: plan_of(spark, sf_dir, name)


@pytest.fixture(scope="module")
def registry_plan_scan(spark, sf_dir):
    """One plan build per registered query, shared by every
    registry-wide gate below (building 255 optimized plans dominates
    the cost of these tests — the checks themselves are text/tree
    scans)."""
    out = {}
    for name, fn in qr.QUERIES.items():
        df = fn(spark, sf_dir)
        out[name] = (audit_plan(df), global_window_nodes(df))
    return out


def test_filter_pushdown_reaches_scan(plans) -> None:
    # the DSL-compiled predicate's null-safety gate must reach parquet
    plan = plans("q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_scan_prunes_columns(plans) -> None:
    # 2-column aggregate over a 11-column table: ReadSchema stays narrow
    plan = plans("order_priority_counts")
    assert "ReadSchema: struct<l_orderkey:bigint>" in plan


def test_dim_joins_broadcast(plans) -> None:
    plan = plans("q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_uses_take_ordered(plans) -> None:
    # top-k must never globally sort: TakeOrderedAndProject keeps a
    # k-row heap per partition
    plan = plans("q3_top_revenue_orders")
    assert "TakeOrderedAndProject" in plan
    assert "\n+- Sort" not in plan


def test_aggregates_have_map_side_partials(plans) -> None:
    plan = plans("subsystem_counts")
    assert "partial_count" in plan


def test_range_join_broadcasts_band_dim(plans) -> None:
    plan = plans("price_band_range_join")
    assert "BroadcastNestedLoopJoin" in plan


def test_semi_join_stays_semi(plans) -> None:
    # EXISTS must compile to a semi join (no row duplication + dedup)
    plan = plans("semi_join_customers")
    assert "LeftSemi" in plan


def test_audit_flags_no_registered_query(registry_plan_scan) -> None:
    """audit_plan must be clean for every registered (non-Python-kernel)
    query — a new query that introduces a cartesian product or loses
    pruning fails here before it ever meets real data.

    Allowlist: corpus_build_manifest's quality gate IS the token fold
    pushed to the scan — column pruning then drops every quality column
    from the projection above, so the scan filter is the expression's
    ONLY evaluation (filter-at-scan is optimal there, not the
    double-eval trap the marker exists to catch; verified by reading
    the formatted plan: no Project above that scan re-references the
    fold).  Every other query must stay clean."""
    allow = {
        "corpus_build_manifest": {
            "expensive expression inlined into a filter "
            "(inferred-predicate pushdown past a non-cheap alias?)"
        }
    }
    for name, (plan_warnings, _) in registry_plan_scan.items():
        warnings = [w for w in plan_warnings if w not in allow.get(name, set())]
        assert not warnings, f"{name}: {warnings}"


def test_salted_agg_exact_and_balanced(spark, sf_dir) -> None:
    from eventstreamd_spark.operators.skew import salted_agg
    from eventstreamd_spark.session import load_table

    events = load_table(spark, sf_dir, "events")
    plain = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    salted = {
        r["event_type"]: r["n_rows"]
        for r in salted_agg(events, "event_type").collect()
    }
    assert salted == plain
    # plan: two aggregation phases, first keyed by (key, salt)
    plan = salted_agg(events, "event_type")._sc._jvm.PythonSQLUtils.explainString(
        salted_agg(events, "event_type")._jdf.queryExecution(), "simple"
    )
    assert "__salt" in plan


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path) -> None:
    from eventstreamd_spark.operators.skew import bucketed_join_tables
    from eventstreamd_spark.session import load_table

    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_orderkey", "orderkey"
    )
    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "orderkey"
    )
    joined = bucketed_join_tables(spark, orders, li, "orderkey")
    plan = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "simple"
    )
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # co-located buckets
    assert joined.count() == li.count()


def test_media_fixture_scans_prune_to_doc_id_and_blob(spark, sf_dir) -> None:
    """Round-10: the write-once media fixture carries 5 columns
    (doc_id, media_type, blob, byte_len, content_md5), but every
    fingerprint kernel projects (doc_id, blob) BEFORE its mapInPandas
    — the projection must reach the parquet scan as ReadSchema
    pruning, or a 100 TB blob table pays a 2x-plus scan tax for
    metadata no kernel reads.  One representative per kernel family."""
    from eventstreamd_spark.operators import multimodal as mm
    from eventstreamd_spark.operators.audio import audio_fingerprints
    from eventstreamd_spark.operators.mixed import mixed_media_fingerprints
    from eventstreamd_spark.operators.perceptual import perceptual_hashes
    from eventstreamd_spark.operators.video import video_fingerprints

    cases = [
        ("scene_image", perceptual_hashes),
        ("scene_audio", audio_fingerprints),
        ("scene_video", video_fingerprints),
        ("scene_mixed", mixed_media_fingerprints),
    ]
    for kind, fp in cases:
        media = mm.cached_media(spark, sf_dir, kind)
        plan = fp(media)._jdf.queryExecution().executedPlan().toString()
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "doc_id" in read_schema and "blob" in read_schema, kind
        for dropped in ("media_type", "byte_len", "content_md5"):
            assert dropped not in read_schema, (kind, dropped)


def test_partitioned_layout_prunes_partitions(spark, sf_dir, tmp_path) -> None:
    """Partition-by-subsystem layout: a subsystem filter becomes a
    PartitionFilter — the scan plans only that directory's files (the
    reference's routing-table index, materialized as storage layout)."""
    from eventstreamd_spark.operators.skew import (
        persist_partitioned,
        read_partition,
    )
    from eventstreamd_spark.session import load_table

    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_by_subsystem")
    persist_partitioned(events, path, "event_type")
    one = read_partition(spark, path, "event_type", "purchase")
    plan = one._sc._jvm.PythonSQLUtils.explainString(
        one._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    partition_filters = plan.split("PartitionFilters")[1].split("]")[0]
    assert "event_type" in partition_filters  # pruned at planning time
    expected = events.filter(F.col("event_type") == "purchase").count()
    assert one.count() == expected


def test_global_sort_uses_range_partitioning(spark, sf_dir) -> None:
    # a full sort must be ONE rangepartitioning exchange + per-partition
    # sort — never a single-partition sort (the 100 TB killer)
    from eventstreamd_spark.operators.relational import global_sorted_orders
    from eventstreamd_spark.session import load_table

    df = global_sorted_orders(load_table(spark, sf_dir, "orders"))
    plan = explain_string(df, "extended")
    assert "rangepartitioning" in plan
    assert "SinglePartition" not in plan


def test_q6_fully_pushed_scan(plans) -> None:
    # Q6: every predicate is pushdown-eligible and the scan must read
    # only the 4 referenced columns — at 100 TB this IS the query cost.
    plan = plans("q6_forecast_revenue")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "l_comment" not in plan
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"):
        assert col in plan.split("ReadSchema")[-1]


def test_q10_topk_and_dims_after_aggregate(plans) -> None:
    # Q10: top-k via heap, customer/nation broadcast onto the aggregate
    plan = plans("q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_q21_quantifiers_stay_semi_anti(plans) -> None:
    # EXISTS/NOT EXISTS must compile to semi/anti joins, never inner
    # joins that duplicate rows before a distinct
    plan = plans("q21_lonely_return_suppliers")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_q18_no_broadcast_of_fact_aggregate(plans) -> None:
    # the orderkey HAVING aggregate joins orders on the shuffle key; the
    # only broadcast should be the customer dim
    plan = plans("q18_large_volume_customers")
    assert "TakeOrderedAndProject" in plan


def test_zorder_layout_clusters_both_dimensions(spark, sf_dir, tmp_path) -> None:
    # Z-ordered files must cover small rectangles of BOTH key
    # dimensions; a linear sort on one key leaves the other dimension's
    # per-file span at ~100% of the global range.
    from eventstreamd_spark.operators.layout import (
        file_clustering_spans,
        write_zordered,
    )
    from eventstreamd_spark.session import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.unix_timestamp("o_orderdate").alias("o_epoch"),
    )
    bounds = orders.agg(
        F.min("o_custkey"), F.max("o_custkey"), F.min("o_epoch"), F.max("o_epoch")
    ).collect()[0]

    zpath = str(tmp_path / "zorder")
    write_zordered(
        orders, zpath, "o_custkey", "o_epoch",
        (bounds[0], bounds[1]), (bounds[2], bounds[3]), n_files=8,
    )
    lpath = str(tmp_path / "linear")
    orders.repartitionByRange(8, "o_custkey").sortWithinPartitions(
        "o_custkey"
    ).write.mode("overwrite").parquet(lpath)

    z_spans = file_clustering_spans(spark, zpath, "o_custkey", "o_epoch")
    l_spans = file_clustering_spans(spark, lpath, "o_custkey", "o_epoch")
    z_avg_y = sum(s[1] for s in z_spans) / len(z_spans)
    l_avg_y = sum(s[1] for s in l_spans) / len(l_spans)
    z_avg_x = sum(s[0] for s in z_spans) / len(z_spans)

    # linear sort: second dimension unclustered (span ~1.0 per file)
    assert l_avg_y > 0.9
    # z-order: both dimensions clustered well below the global range
    assert z_avg_y < 0.7, z_spans
    assert z_avg_x < 0.7, z_spans


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_dir) -> None:
    # At 100 TB a selective dim filter should prune the fact side of a
    # shuffle join BEFORE the exchange: Spark's runtime bloom filter
    # injects might_contain(l_orderkey) into the lineitem scan.  The
    # size thresholds are lowered because the fixture is tiny; on a
    # real cluster the defaults (10 GB application side) take over.
    from eventstreamd_spark.session import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 400000.0
        )
        lineitem = load_table(spark, sf_dir, "lineitem")
        joined = lineitem.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        ).select("l_orderkey", "l_quantity", "o_totalprice")
        plan = explain_string(joined, "extended")
        assert "might_contain" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_doc_chunks_has_no_shuffle(plans) -> None:
    # chunking is scan -> generate -> project; any Exchange means the
    # row expansion stopped being free
    plan = plans("doc_chunks")
    assert "Exchange" not in plan
    assert "Generate posexplode" in plan or "Generate" in plan


def test_contamination_broadcasts_eval_hashes(plans) -> None:
    # the eval shingle set must broadcast; a sort-merge join here would
    # shuffle the full corpus explode on a hash key
    plan = plans("contamination_check")
    assert "BroadcastHashJoin" in plan
    # LEFT join so zero-hit documents survive
    assert "LeftOuter" in plan


def test_tfidf_broadcasts_corpus_count(plans) -> None:
    # N (1-row aggregate) must arrive via broadcast, not a shuffle join
    plan = plans("tfidf_top_terms")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_token_shards_offsets_window_is_tiny(plans) -> None:
    # the unpartitioned window must run over per-bucket totals (an
    # aggregate), never the raw documents: assert the single-partition
    # exchange feeds from a HashAggregate
    plan = plans("token_shards")
    assert "SinglePartition" in plan
    import re
    # the SinglePartition exchange's subtree must contain the bucket
    # aggregate, i.e. appear AFTER a HashAggregate on bucket_total
    pos_sp = plan.find("Exchange SinglePartition")
    assert pos_sp != -1
    assert "bucket_total" in plan[pos_sp:]


def test_rebalance_broadcasts_thresholds_no_fact_shuffle(plans) -> None:
    # per-group rate thresholds (|groups| rows) must reach the fact
    # table via broadcast; any fact-side Exchange before the filter
    # means the sampler stopped being a narrow map
    plan = plans("domain_mix_rebalance")
    assert "BroadcastHashJoin" in plan
    # the only exchanges allowed are for the tiny counts/min aggregates
    # and broadcasts — the events scan itself must not hash-partition
    import re
    assert not re.search(r"Exchange hashpartitioning\(event_id", plan)


def test_token_freq_quality_single_vocab_join(plans) -> None:
    # two-pass unigram shape: explode -> vocab agg -> join back -> doc
    # agg.  The join key must be the term, and doc aggregation must be
    # partial (map-side) before its exchange.
    plan = plans("token_freq_quality")
    assert "HashAggregate" in plan
    assert plan.count("FileScan") <= 2  # one logical source, <=2 physical reads


def test_ping_spine_generate_no_join(plans) -> None:
    # span agg + sequence explode; a join would mean the spine stopped
    # being generated in place
    plan = plans("ping_spine")
    assert "Generate" in plan
    assert "Join" not in plan


def test_expiry_logouts_single_window_exchange(plans) -> None:
    # one user_id hash exchange feeding the lead() window, nothing else
    plan = plans("expiry_logouts")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_shingle_explodes_infer_no_scan_filter(plans) -> None:
    # An inner explode of a bound shingle alias lets
    # InferFiltersFromGenerate add size(shingles) > 0, which pushdown
    # inlines at the parquet scan — the whole shingle fold then runs
    # twice per row, serialized on the scan's input splits (measured
    # 12x on the tier).  explode_outer at the explode sites keeps the
    # fold out of every Filter; this pins it.
    for q in ("dedup_ngram_jaccard", "span_dup_coverage", "contamination_check"):
        plan = plans(q)
        assert "Filter (size(array_distinct" not in plan, q
        assert "DataFilters: [(size(array_distinct" not in plan, q


def test_classifier_quality_is_narrow(plans) -> None:
    # the whole scorer folds inside one projection: no keyed shuffle,
    # no join, no aggregate (fan_out's round-robin spread is the only
    # Exchange, and it carries no grouping semantics)
    phys = plans("classifier_quality").split("== Physical Plan ==")[-1]
    assert "Exchange hashpartitioning" not in phys
    assert "Join" not in phys and "Aggregate" not in phys


def test_weighted_sample_is_take_ordered_not_global_sort(plans) -> None:
    phys = plans("weighted_sample").split("== Physical Plan ==")[-1]
    assert "TakeOrderedAndProject" in phys
    # no full Sort of the relation; the per-partition heaps do the work
    assert "Sort " not in phys


def test_kmeans_assign_broadcasts_centroids(plans) -> None:
    phys = plans("kmeans_assignments").split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in phys or "BroadcastNestedLoopJoin" in phys
    # the corpus leg is never exchanged for the join itself: the only
    # exchanges are the per-vector argmax window's hash partitioning
    assert phys.count("Exchange hashpartitioning") <= 2


def test_winsorized_never_sorts_the_relation(plans) -> None:
    # exact order statistics WITHOUT a distributed full sort: no
    # rangepartitioning exchange anywhere; the cut-bucket pick is a
    # k-row heap and the only ordered windows run over the bucket table
    phys = plans("winsorized_prices").split("== Physical Plan ==")[-1]
    assert "rangepartitioning" not in phys
    assert "TakeOrderedAndProject" in phys


def test_drift_single_fact_scan(plans) -> None:
    # totals come from a window over the bin table, NOT a second
    # aggregate of the fact — one scan, two exchanges (bins, then the
    # per-type window whose partitioning the final aggregate reuses)
    phys = plans("event_value_drift").split("== Physical Plan ==")[-1]
    assert phys.count("Scan parquet") == 1
    assert phys.count("Exchange hashpartitioning") <= 2


def test_fuzzy_blocking_shuffles_hashes_not_names(plans) -> None:
    plan = plans("fuzzy_name_match")
    # the blocking join key is the md5-derived bigint, not the raw key
    phys = plan.split("== Physical Plan ==")[-1]
    assert "levenshtein" in plan.lower()


def test_skew_profile_two_aggregates_only(plans) -> None:
    phys = plans("orderkey_skew_profile").split("== Physical Plan ==")[-1]
    # per-key agg (one exchange) + scalar agg (single partition of the
    # already-aggregated key table)
    assert phys.count("Exchange hashpartitioning") <= 1


def test_deciles_single_scan_family_no_rangepartition(plans) -> None:
    phys = plans("price_deciles").split("== Physical Plan ==")[-1]
    assert "rangepartitioning" not in phys  # exact quantiles, no sort
    # every scan reads ONLY the value column
    assert "l_extendedprice" in phys.split("ReadSchema")[-1]


def test_cooccurrence_broadcasts_frequency_gate(plans) -> None:
    phys = plans("token_cooccurrence").split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in phys


def test_media_dedup_prunes_blob_from_exchange(plans) -> None:
    # the exchange carries digests, never the blob/text payload
    phys = plans("media_dedup").split("== Physical Plan ==")[-1]
    ex = phys.split("Exchange hashpartitioning", 1)
    assert len(ex) == 2
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in phys


def test_recall_tiers_share_one_exact_ranking(spark, sf_dir) -> None:
    # ann_recall (IVF) and ann_recall_pq audit against the SAME exact
    # brute-force ranking; the session memo must materialize it once and
    # serve the second tier (and repeated eval passes) from the memo.
    from eventstreamd_spark.plans import memo

    memo.memo_clear()
    before = memo.HITS
    qr.QUERIES["ann_recall"](spark, sf_dir).collect()
    assert memo.HITS == before  # first tier: all misses
    qr.QUERIES["ann_recall_pq"](spark, sf_dir).collect()
    # second tier reuses the exact ranking checkpoint (>=1 hit); the
    # pq codes + LUT entries are fresh (different plans)
    assert memo.HITS >= before + 1


def test_pq_ann_and_recall_share_code_table(spark, sf_dir) -> None:
    # the PQ code table is the persisted-index analog: pq_ann builds
    # it, ann_recall_pq (and any later pq_topk caller) reuses it.
    from eventstreamd_spark.plans import memo

    memo.memo_clear()
    qr.QUERIES["pq_ann"](spark, sf_dir).collect()
    before = memo.HITS
    qr.QUERIES["pq_ann"](spark, sf_dir).collect()
    # codes + LUT both served from the memo on the second build
    assert memo.HITS >= before + 2


def test_topk_kmax_base_serves_k_by_rank_filter(spark, sf_dir) -> None:
    # §8 (r12): the topk kernels memoize ONE ranked top-TOPK_MEMO_KMAX
    # base per (query set, session) and serve every k <= kmax by rank
    # filter.  Pin (a) the k=5 face is row-for-row the pure-Python
    # exact cosine top-5 (same left-to-right float association as
    # functions/vectors.py::dot, self excluded) — ranking at kmax then
    # filtering to k loses nothing; (b) a later k <= kmax call is a
    # memo hit on the same base, not a second corpus scan.
    import math
    from functools import reduce

    from eventstreamd_spark.operators import similarity as sim
    from eventstreamd_spark.plans import memo
    from eventstreamd_spark.session import load_table

    memo.memo_clear()
    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    got = sorted(
        (r.query_id, r.rank, r.neighbor_id)
        for r in sim.brute_force_topk(emb, qids, k=5).collect()
    )

    vecs = {r.vec_id: r.embedding for r in emb.collect()}

    def dot(a, b):
        return reduce(
            lambda acc, x: acc + x,
            (float(x) * float(y) for x, y in zip(a, b)),
            0.0,
        )

    def cos(a, b):
        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    want = []
    for q in qids:
        ranked = sorted(
            ((vid, cos(vecs[q], v)) for vid, v in vecs.items() if vid != q),
            key=lambda t: (-t[1], t[0]),
        )[:5]
        want.extend((q, i + 1, vid) for i, (vid, _) in enumerate(ranked))
    assert got == sorted(want)

    # (b) the k=10 (= kmax) face is the SAME checkpoint, served from
    # the memo — one exact corpus scan for the whole eval suite
    hits = memo.HITS
    top10 = sim.brute_force_topk(emb, qids, k=10)
    assert memo.HITS == hits + 1
    assert top10.count() == len(qids) * 10


def test_ivf_assignment_shared_across_faces(spark, sf_dir) -> None:
    # r12 optimization-round: ivf_cells memoizes the assignment (the
    # IVF index relation) once per (corpus plan, n_cells, session).
    # (a) knn_label_noise_ivf's label join-back is row-identical to the
    # keep=("label",) assignment it replaced — keep columns ride after
    # the (score, cell_id) decision fields and vec_id is unique, so the
    # substitution is exact; (b) a second face's ivf_cells call is a
    # memo hit, not a second corpus x n_cells argmax pass.
    from eventstreamd_spark.operators import similarity as sim
    from eventstreamd_spark.plans import memo
    from eventstreamd_spark.session import load_table

    memo.memo_clear()
    emb = load_table(spark, sf_dir, "embeddings")
    via_keep = sorted(
        (r.vec_id, r.cell_id, r.label)
        for r in sim.ivf_cells(emb, keep=("label",)).collect()
    )
    via_join = sorted(
        (r.vec_id, r.cell_id, r.label)
        for r in sim.ivf_cells(emb)
        .join(emb.select("vec_id", "label"), "vec_id")
        .select("vec_id", "cell_id", "label")
        .collect()
    )
    assert via_keep == via_join

    hits = memo.HITS
    sim.ivf_cells(emb)  # same (corpus, n_cells, keep=()) => memo hit
    assert memo.HITS == hits + 1


def test_lsh_bucket_index_memoized(spark, sf_dir) -> None:
    # r12 optimization-round: bucketed_corpus (the LSH index) is
    # memoized per session — the 16-plane fold runs once, every later
    # lsh_topk call (and both legs of one call) reads the checkpoint.
    # Bucket values must equal an un-memoized evaluation of the same
    # projection.
    from eventstreamd_spark.operators import similarity as sim
    from eventstreamd_spark.plans import memo
    from eventstreamd_spark.session import fan_out, load_table

    memo.memo_clear()
    emb = load_table(spark, sf_dir, "embeddings")
    raw = fan_out(emb).withColumn(
        "bucket", sim.lsh_bucket(F.col("embedding"))
    )
    want = sorted((r.vec_id, r.bucket) for r in raw.collect())
    got = sorted(
        (r.vec_id, r.bucket)
        for r in sim.bucketed_corpus(emb).select("vec_id", "bucket").collect()
    )
    assert got == want

    hits = memo.HITS
    sim.bucketed_corpus(emb)
    assert memo.HITS == hits + 1


# Faces that read a session-shared relation (plans/memo.py): the nine
# MinHash pair-tier consumers, every media-signature face, the SimHash
# tiers, and the ANN faces over the memoized rankings / index tables.
_PAIR_TIER_FACES = (
    "dedup_minhash_lsh", "dedup_keep_corpus", "dedup_clusters",
    "curation_decisions", "corpus_build_manifest", "pagerank_canonical",
    "triangle_stats", "split_leakage", "lsh_recall_report",
)
_SIGNATURE_FACES = (
    "media_perceptual_hashes", "media_near_dup", "media_near_dup_wide",
    "media_near_dup_prod", "media_near_dup_clusters",
    "media_admission_decisions", "media_admission_wide",
    "media_split_leakage", "video_fingerprints", "video_near_dup",
    "video_near_dup_grid", "mixed_media_fingerprints",
    "mixed_media_near_dup", "audio_fingerprints", "audio_near_dup",
    "dedup_simhash", "dedup_simhash_prod", "dedup_simhash_wide",
    "text_admission_decisions", "text_admission_wide",
)
_ANN_FACES = (
    "ann_recall", "ann_recall_pq", "similarity_topk", "similarity_ivf_ann",
    "similarity_lsh_ann", "pq_ann", "ndcg_eval", "cell_label_purity",
    "knn_label_noise_ivf", "semantic_dedup", "mmr_diversified_topk",
)
# subtree markers: MinHash banding (candidates) and the exact-jaccard
# verify, and the Arrow decode/hash kernels
_RECOMPUTE_MARKERS = ("concat_ws", "array_intersect", "MapInPandas")


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_recompute_markers_detect_unshared_subtrees(spark, sf_dir) -> None:
    """The markers the leaf gate below looks for do appear in the
    producers' own plans, so their absence from a face means the face
    reads the materialized relation instead."""
    from eventstreamd_spark.operators import dedup, perceptual
    from eventstreamd_spark.operators.multimodal import cached_media
    from eventstreamd_spark.session import load_table

    docs = dedup.with_planted_near_dups(load_table(spark, sf_dir, "documents"))
    media = cached_media(spark, sf_dir, "scene_image")
    pairs = _optimized(dedup.minhash_lsh_candidates(docs))
    verify = _optimized(dedup.minhash_lsh_dedup(docs))
    decode = _optimized(perceptual.perceptual_hashes(media))
    assert "concat_ws" in pairs
    assert "array_intersect" in verify
    assert "MapInPandas" in decode


@pytest.mark.parametrize(
    "name", _PAIR_TIER_FACES + _SIGNATURE_FACES + _ANN_FACES
)
def test_shared_relation_plan_is_leaf(spark, sf_dir, name) -> None:
    # every session-shared relation enters a face's optimized plan as a
    # materialized leaf (ExistingRDD/LogicalRDD) and never as a second
    # MinHash candidate/verify or decode subtree, so per-face
    # recomputation cannot come back silently
    plan = _optimized(qr.QUERIES[name](spark, sf_dir))
    assert "LogicalRDD" in plan or "ExistingRDD" in plan
    for marker in _RECOMPUTE_MARKERS:
        assert marker not in plan, marker


def test_cascade_delete_broadcasts_request_set(plans) -> None:
    # the deletion-request set and the doomed-order hop must broadcast;
    # a fact-to-fact shuffle here would be the 100 TB killer
    phys = plans("cascade_delete_report").split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in phys
    assert "SortMergeJoin" not in phys


def test_curriculum_order_no_global_sort(plans) -> None:
    # deciles come from the broadcast CDF, not percent_rank/ntile over
    # the corpus: no range partitioning, no corpus-wide window
    phys = plans("curriculum_order").split("== Physical Plan ==")[-1]
    assert "rangepartitioning" not in phys.lower()
    assert "BroadcastHashJoin" in phys


def test_triangle_probe_is_equi_join(plans) -> None:
    # the kappa orientation makes the closure probe an equi-join; an
    # OR-of-directions probe would plan as an Inner nested-loop scan.
    # The only nested-loop nodes allowed are the final Cross joins of
    # the four broadcast 1-row aggregate frames.
    phys = plans("triangle_stats").split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in phys
    for line in phys.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line


def test_ewma_single_window_pass(plans) -> None:
    # all 15 leads + row_number share ONE descending window sort; a
    # second Sort node would mean the lead family split across passes
    phys = plans("ewma_user_score").split("== Physical Plan ==")[-1]
    assert phys.count("WindowGroupLimit") <= 1
    assert phys.count("Sort ") <= 2  # one window sort (+AQE variance)


def test_calibration_windows_over_bucket_table_only(plans) -> None:
    # the ECE window runs over the 10-row decile table, after the
    # corpus aggregate — the corpus itself is never window-sorted
    plan = plans("calibration_report")
    agg_pos = plan.index("== Physical Plan ==")
    phys = plan[agg_pos:]
    assert "hashpartitioning(score_decile" in phys or "HashAggregate" in phys


def test_bootstrap_single_scan_and_tiny_unpivot(plans) -> None:
    # the 128-column accumulator aggregate is localCheckpoint'ed, so
    # the final plan reads the |event_type|-row checkpoint blocks for
    # BOTH legs (replicate unpivot + exact mean) and contains NO
    # parquet scan at all — the single-corpus-scan property, asserted
    # in the strongest possible form
    phys = plans("bootstrap_ci").split("== Physical Plan ==")[-1]
    assert "Scan parquet" not in phys
    assert "Generate explode" in phys
    gen_line = next(
        l for l in phys.splitlines() if "Generate explode" in l
    )
    # the unpivot explodes structs of AGGREGATED accumulator columns
    # (sw0/swx0...), proving it runs over the post-aggregate frame,
    # not the corpus rows
    assert "sw0" in gen_line and "swx0" in gen_line
    # the percentile window partitions by event_type over <=64-row
    # groups; no range partitioning of the corpus anywhere
    assert "rangepartitioning" not in phys.lower()


def test_rolling_active_users_spine_broadcasts(plans) -> None:
    # the range join fans pairs at a BROADCAST date spine; a shuffled
    # or cartesian range join over the corpus is the scale killer
    phys = plans("rolling_active_users").split("== Physical Plan ==")[-1]
    assert "BroadcastNestedLoopJoin" in phys
    assert "CartesianProduct" not in phys
    # both distinct aggregates keep map-side partials
    assert "partial_count" in phys or "HashAggregate" in phys


def test_knn_label_noise_broadcasts_anchors(plans) -> None:
    # anchors are the broadcast side; the corpus streams exactly once
    phys = plans("knn_label_noise").split("== Physical Plan ==")[-1]
    assert "BroadcastNestedLoopJoin" in phys or "BroadcastHashJoin" in phys
    assert "SortMergeJoin" not in phys


def test_tokenizer_fertility_single_wide_distinct(plans) -> None:
    # the only wide stage is the (lang, source, token) distinct; the
    # additive sums collapse map-side and the final join keys are the
    # KB-sized (lang, source) group table
    phys = plans("tokenizer_fertility").split("== Physical Plan ==")[-1]
    assert "partial_count" in phys
    assert "rangepartitioning" not in phys.lower()


def test_sketch_prod_twins_have_no_exact_distinct(plans) -> None:
    # the production twins exist to NOT pay the exact tier: their
    # optimized plans must contain no COUNT(DISTINCT) over the corpus
    # (the eval-column siblings keep it, and keep the accuracy bound)
    for name in (
        "hll_distinct_prod",
        "hll_distinct_by_type_prod",
        "rolling_wau_hll_prod",
        "column_stats_catalog_hll_prod",
    ):
        plan = plans(name).lower()
        assert "count(distinct" not in plan, name
        assert "distinct " not in plan.split("== physical plan ==")[-1], name


def test_sketch_prod_twins_keep_register_combine(plans) -> None:
    # register build keeps map-side combine: m (or group x m) partial
    # rows per task is the whole scale story of the sketch tier
    for name in ("hll_distinct_prod", "rolling_wau_hll_prod"):
        phys = plans(name).split("== Physical Plan ==")[-1]
        assert "partial_max" in phys, name


def test_knn_label_noise_ivf_candidates_equi_join(plans) -> None:
    # the IVF tier's candidate set comes from an EQUI join on cell_id
    # (broadcast probes, corpus streams once, partition-prunable at
    # scale); the only nested-loop join left is anchors x the 16-row
    # centroid table — bounded by n_cells, not the corpus
    phys = plans("knn_label_noise_ivf").split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin [cell_id" in phys


def test_kmv_prod_twins_have_no_exact_leg(plans) -> None:
    # kmv_distinct_prod: no corpus-wide exact distinct aggregate —
    # the only distinct left is over the <= k x n_batches survivor
    # union; kmv_join_size_prod: no exact-intersection aggregate, the
    # k-row bottom plans as TakeOrderedAndProject (no global sort), and
    # — the actual cost contract — orders is scanned exactly ONCE:
    # theta is a window max over the k-row bottom, so the corpus-wide
    # presence aggregate has a single consumer (a broadcast-theta leg
    # would re-run it per consumer; round-8 ADVICE fix)
    phys = plans("kmv_distinct_prod").split("== Physical Plan ==")[-1]
    assert "count(distinct" not in phys.lower()
    assert "TakeOrderedAndProject" in phys
    phys2 = plans("kmv_join_size_prod").split("== Physical Plan ==")[-1]
    assert "TakeOrderedAndProject" in phys2
    assert phys2.count("Scan parquet") == 1


def test_salted_topk_two_phase(plans) -> None:
    # phase 1 groups on (user_id, __salt): the heavy key's rows spread
    # over n_salts reducers with bounded per-group state; phase 2 is
    # keys x n_salts x k rows only
    phys = plans("salted_topk_values").split("== Physical Plan ==")[-1]
    assert "__salt" in phys


def test_media_near_dup_band_equi_join(plans) -> None:
    # candidates come from an EQUI join on (band, bhash) — never a
    # cross/nested-loop pair enumeration; verify is per-candidate O(1)
    phys = plans("media_near_dup").split("== Physical Plan ==")[-1]
    assert "SortMergeJoin" in phys or "ShuffledHashJoin" in phys \
        or "BroadcastHashJoin" in phys
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys


def test_analyze_sketch_tier_single_scan(plans) -> None:
    """The one-pass rewrite: the sketch-tier ANALYZE job folds null
    counts into the register shuffle (bucket -1), so the fact table is
    scanned exactly once — the two-aggregate formulation it replaced
    scanned and unpivoted lineitem twice and paid a join."""
    phys = plans("column_stats_catalog_hll_prod").split(
        "== Physical Plan =="
    )[-1]
    # round 13: the register cells are the session-shared
    # _catalog_cells_rel (plans.memo.shared) — the query's own plan reads
    # the checkpointed cells (zero parquet scans), and the ONE scan that
    # builds them lives in the shared relation, still single-scan by
    # construction (asserted value-exact against the eval sibling in
    # test_sketches.py).
    n_scans = phys.count("Scan parquet")
    assert n_scans <= 1
    if n_scans == 0:
        assert "Scan ExistingRDD" in phys
    assert "Join" not in phys


def test_global_windows_are_allowlisted(registry_plan_scan) -> None:
    """Registry-wide gate on UNPARTITIONED window functions (round-8
    VERDICT residual #3): a Window with an empty partition spec sorts
    its whole input on ONE task — fine over a KB-bounded control table
    (sketch registers, CDF/bucket tables, shard boundaries, k-bounded
    candidate lists), fatal over a fact table at 100 TB.  Every query
    whose optimized plan contains one must appear below with the
    bounded-input argument written down; set EQUALITY keeps the list
    honest in both directions (a new global window fails the build, a
    removed one must leave the list)."""
    allow = {
        # prefix-sum shard/packing boundary tables: one row per shard
        # (n_docs/shard_size rows), never per document
        "token_shards": "shard-boundary prefix sum, rows = n_shards",
        "media_shards": "shard-boundary prefix sum, rows = n_shards",
        "multimodal_shards": "shard-boundary prefix sum, rows = n_shards",
        "token_budget_fill": "cumulative fill over per-source totals",
        "corpus_build_manifest": "prefix packing over shard boundaries",
        "media_corpus_manifest": "prefix packing over shard boundaries",
        "curriculum_order": "decile CDF table (<=10 rows) + stage key",
        # order statistics via histogram refinement: the window runs
        # over the bucket/register table (bounded cells), not the facts
        "price_deciles": "histogram-refinement bucket table",
        "winsorized_prices": "histogram-refinement bucket table",
        "percentile_rank_features": "value-frequency CDF prefix sum",
        "quantile_sketch": "sketch register table (bounded cells)",
        "quantile_sketch_weighted": "sketch register table",
        "kmv_join_size_prod": "window-max theta over k-row synopses",
        "session_stats": "KB-sized session-length histogram",
        # calendar/category-bounded series: rows = days or categories
        "interpolated_daily_series": "daily spine, rows = n_days",
        "vocab_growth": "cumulative distinct over daily buckets",
        "late_data_audit": "per-day watermark lag table",
        "calibration_report": "fixed score-bin table",
        "source_concentration": "per-source totals, rows = n_sources",
        "dedup_threshold_sweep": "per-threshold sweep table",
        "multi_touch_attribution": "per-conversion credit remainder rows",
        # k-bounded fused candidate lists (top-k per modality)
        "hybrid_search": "RRF rank over two k-bounded candidate lists",
    }
    found = {
        name: nodes
        for name, (_, nodes) in registry_plan_scan.items()
        if nodes
    }
    extra = set(found) - set(allow)
    stale = set(allow) - set(found)
    assert not extra, (
        "NEW unpartitioned window(s) — adjudicate the bounded-input "
        f"argument and allowlist, or partition the window: "
        f"{ {n: found[n] for n in extra} }"
    )
    assert not stale, f"allowlist entries with no global window left: {stale}"

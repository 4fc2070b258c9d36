"""Training-data pipeline operators: dedup tiers, similarity, text
metrics, multimodal plumbing.  (The exhaustive equivalence check is the
DuckDB oracle gate — tools/check_correctness.py; these tests pin the
operator-level semantics that matter independent of the oracle.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eventstreamd_spark.operators import dedup, multimodal, similarity, textops
from eventstreamd_spark.session import load_table


def test_exact_dedup_finds_planted_copies(spark, sf_dir) -> None:
    docs = load_table(spark, sf_dir, "documents")
    n_planted = docs.filter("doc_id % 5 = 0").count()
    out = dedup.exact_dedup(dedup.with_planted_exact_dups(docs))
    dup_groups = out.filter("n_copies = 2")
    assert dup_groups.count() == n_planted
    # canonical id is always the original (min), never the planted copy
    assert dup_groups.filter(F.col("canonical_doc_id") >= dedup.PLANT_OFFSET).count() == 0


def test_ngram_jaccard_finds_planted_near_dups(spark, sf_dir) -> None:
    docs = load_table(spark, sf_dir, "documents")
    planted = dedup.with_planted_near_dups(docs)
    pairs = dedup.ngram_jaccard_pairs(planted, threshold=0.6).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    expected = {
        (r["doc_id"], r["doc_id"] + dedup.PLANT_OFFSET)
        for r in docs.filter("doc_id % 5 = 0").select("doc_id").collect()
    }
    assert expected <= got  # every planted pair found
    for r in pairs:
        assert 0.6 <= r["jaccard"] <= 1.0


def test_minhash_lsh_recall_vs_exact(spark, sf_dir) -> None:
    docs = dedup.with_planted_near_dups(load_table(spark, sf_dir, "documents"))
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_dedup(docs, threshold=0.6).collect()
    }
    # LSH verifies candidates exactly => subset; banding recall here
    assert lsh <= exact
    assert len(lsh) >= 0.8 * len(exact)


def test_embedding_near_dup_planted_scaled_copies(spark, sf_dir) -> None:
    emb = load_table(spark, sf_dir, "embeddings")
    copies = emb.filter("vec_id % 50 = 0").select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 2).alias("embedding"),
        "label",
    )
    pairs = similarity.embedding_near_dup_pairs(emb.unionByName(copies)).collect()
    got = {(r["vec_a"], r["vec_b"]) for r in pairs}
    expected = {
        (r["vec_id"], r["vec_id"] + 100000)
        for r in emb.filter("vec_id % 50 = 0").select("vec_id").collect()
    }
    assert got == expected  # scaled copies and nothing else at 0.95


def test_embedding_near_dup_never_materializes_on_driver(
    spark, sf_dir, monkeypatch
) -> None:
    """The tiled kernel must ship corpus blocks executor-side — any
    toPandas/collect of the corpus through the driver is the 100 TB
    OOM this test pins closed."""
    from pyspark.sql import DataFrame

    def _boom(self, *a, **k):  # pragma: no cover - should never run
        raise AssertionError("driver-side materialization in near-dup path")

    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    monkeypatch.setattr(DataFrame, "collect", _boom)
    emb = load_table(spark, sf_dir, "embeddings")
    df = similarity.embedding_near_dup_pairs(emb, block_rows=128)
    monkeypatch.undo()
    assert df.count() >= 0  # executes the full tiled plan


def test_brute_force_topk_shape(spark, sf_dir) -> None:
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.brute_force_topk(emb, [0, 1], k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
        assert r["neighbor_id"] != r["query_id"]
    assert set(by_q) == {0, 1}
    for rows in by_q.values():
        assert sorted(r["rank"] for r in rows) == [1, 2, 3, 4, 5]


def test_lsh_ann_neighbors_are_plausible(spark, sf_dir) -> None:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, [0], k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.lsh_topk(emb, [0], k=5).collect()
    }
    # ANN should overlap the exact top-10 at least somewhat
    assert len(exact & approx) >= 1


def test_text_metrics_ranges(spark, sf_dir) -> None:
    out = textops.text_metrics(load_table(spark, sf_dir, "documents"))
    bad = out.filter(
        (F.col("stopword_ratio") < 0) | (F.col("stopword_ratio") > 1)
        | (F.col("punct_ratio") < 0) | (F.col("punct_ratio") > 1)
        | (F.col("n_tokens") <= 0)
    )
    assert bad.count() == 0


def test_multimodal_feature_extraction_batches(spark, sf_dir) -> None:
    media = multimodal.documents_as_media(load_table(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(media)
    rows = feats.limit(5).collect()
    assert len(rows) == 5
    for r in rows:
        assert len(r["feature"]) == multimodal.FEATURE_DIM
        assert r["byte_len"] > 0
    # deterministic: same blob -> same feature
    again = {r["doc_id"]: r["feature"] for r in feats.limit(5).collect()}
    for r in rows:
        assert again[r["doc_id"]] == r["feature"]


def test_approx_sketches_bounded_error(spark, sf_dir) -> None:
    """The sketch twins (HLL distinct, approx_percentile) must stay
    within their error bounds of the exact operators."""
    from eventstreamd_spark.operators import relational as rel

    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r["l_returnflag"]: r["n_parts"]
        for r in rel.distinct_part_stats(li).collect()
    }
    approx = {
        r["l_returnflag"]: r["n_parts_approx"]
        for r in rel.approx_distinct_parts(li, rsd=0.02).collect()
    }
    for flag, n in exact.items():
        assert abs(approx[flag] - n) / n < 0.1, (flag, n, approx[flag])

    eq = rel.quantity_quantiles(li).collect()
    aq = {r["l_returnflag"]: r for r in rel.approx_quantity_quantiles(li).collect()}
    for r in eq:
        a = aq[r["l_returnflag"]]
        for c in ("q25", "q50", "q75", "q95"):
            assert abs(a[c] - r[c]) <= 2.0, (r["l_returnflag"], c, r[c], a[c])


def test_ivf_ann_recall_vs_exact(spark, sf_dir) -> None:
    """IVF with n_probe=2/16 cells must recover most exact neighbors
    (the recall/probes trade is the operator's contract)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, qids, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(emb, qids, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"recall {recall} too low for 2/16 probes"


def test_hashed_shingles_match_duckdb(spark, sf_dir) -> None:
    """hashed_word_shingles (token-hash fold, no shingle strings) must
    agree with its DuckDB twin bit-for-bit."""
    import duckdb

    from eventstreamd_spark.functions.text import (
        hashed_word_shingles,
        sql_hashed_word_shingles,
        sql_tokens,
        tokens,
    )

    sp = (
        load_table(spark, sf_dir, "documents")
        .limit(50)
        .select(
            "doc_id",
            F.array_sort(hashed_word_shingles(tokens(F.col("text")))).alias("hs"),
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    du = con.execute(
        f"SELECT doc_id, list_sort({sql_hashed_word_shingles(sql_tokens('text'))}) AS hs "
        f"FROM (SELECT * FROM '{sf_dir}/documents.parquet' ORDER BY doc_id LIMIT 50) "
        f"ORDER BY doc_id"
    ).df()
    assert all(list(a) == list(b) for a, b in zip(sp["hs"], du["hs"]))


def test_multimodal_resize_and_frame_sample(spark, sf_dir) -> None:
    """Resize normalizes every blob to the byte budget; frame sampling
    expands rows deterministically (every 2nd 256-byte chunk) and its
    fingerprints match a direct Python re-computation."""
    import hashlib

    media = multimodal.documents_as_media(load_table(spark, sf_dir, "documents"))
    resized = multimodal.resize_media(media, target_bytes=64)
    lens = {r["byte_len"] for r in resized.select("byte_len").distinct().collect()}
    assert lens == {64}
    assert resized.count() == media.count()

    frames = multimodal.sample_frames(media, frame_bytes=256, every_n=2)
    one = media.orderBy("doc_id").limit(1).collect()[0]
    blob = one["blob"]
    expect = []
    n_frames = (len(blob) + 255) // 256
    for k in range(0, n_frames, 2):
        chunk = bytes(blob)[k * 256 : (k + 1) * 256]
        expect.append((k, len(chunk), hashlib.md5(chunk).hexdigest()))
    got = [
        (r["frame_idx"], r["frame_len"], r["frame_md5"])
        for r in frames.filter(F.col("doc_id") == one["doc_id"])
        .orderBy("frame_idx")
        .collect()
    ]
    assert got == expect


def test_connected_components_star_on_adversarial_chain(spark) -> None:
    """A 64-node path graph (worst case for label propagation: diameter
    63) plus disjoint pairs and a singleton-free gap — star rounds must
    label every component by its min node well inside the O(log n)
    iteration budget."""
    from eventstreamd_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(100, 163)]          # one long path
    pairs = [(1000, 2000), (3000, 2500)]                   # two 2-cliques
    edges = spark.createDataFrame(chain + pairs, "src bigint, dst bigint")
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges, max_iters=8).collect()
    }
    assert all(comp[i] == 100 for i in range(100, 164))
    assert comp[1000] == comp[2000] == 1000
    assert comp[2500] == comp[3000] == 2500


def test_connected_components_multi_root_probe(spark) -> None:
    """Regression: edges (10,1),(10,5),(20,2),(20,5) form ONE component
    (min 1) but satisfy the naive 'no node is both dst and src' probe
    after one star round while node 5 still hangs off two would-be
    roots — the probe must also require each src to have exactly one
    distinct dst, or the component splits in two and node 5 gets
    conflicting rows."""
    from eventstreamd_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(10, 1), (10, 5), (20, 2), (20, 5)], "src bigint, dst bigint"
    )
    rows = connected_components(edges, max_iters=8).collect()
    comp = {}
    for r in rows:
        assert r["node"] not in comp or comp[r["node"]] == r["component"], (
            f"node {r['node']} has conflicting component rows"
        )
        comp[r["node"]] = r["component"]
    assert comp == {1: 1, 2: 1, 5: 1, 10: 1, 20: 1}


def test_rebalance_to_mix_hits_targets(spark, sf_dir) -> None:
    """The kept corpus's group shares approximate the target mix, no
    group is upsampled, and membership is key-deterministic."""
    from eventstreamd_spark.operators import sampling

    events = load_table(spark, sf_dir, "events")
    targets = {"click": 0.5, "view": 0.3, "purchase": 0.2}
    kept = sampling.rebalance_to_mix(events, "event_id", "event_type", targets)
    shares = {
        r["event_type"]: r["n"]
        for r in kept.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert set(shares) <= set(targets)  # untargeted groups dropped
    total = sum(shares.values())
    orig = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    for g, t in targets.items():
        assert shares[g] <= orig[g]  # downsample-only
        # hash-gate sampling is approximate: ±20% relative at sf0.001 sizes
        assert abs(shares[g] / total - t) <= 0.2 * t
    # deterministic: same inputs -> identical membership
    again = sampling.rebalance_to_mix(events, "event_id", "event_type", targets)
    assert kept.select("event_id").exceptAll(again.select("event_id")).count() == 0


def test_span_coverage_catches_shared_paragraph(spark) -> None:
    """Two otherwise-unrelated docs sharing one long paragraph get
    partial dup_frac; a fully unique doc gets zero."""
    from eventstreamd_spark.operators.dedup import span_duplication_coverage

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta epsilon zeta eta theta"),
            (2, boiler + " one two three four five six seven eight nine"),
            (3, "completely unrelated words nowhere else repeated at all ok"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r for r in span_duplication_coverage(docs, n=8).collect()
    }
    assert out[3]["shared_spans"] == 0 and out[3]["dup_frac"] == 0.0
    for d in (1, 2):
        assert 0 < out[d]["shared_spans"] < out[d]["n_spans"]
        assert 0.0 < out[d]["dup_frac"] < 1.0


def test_token_freq_quality_flags_gibberish(spark, sf_dir) -> None:
    """A planted all-hapax doc gets median_term_freq 1 and full hapax
    count; corpus docs (shared vocabulary) score far higher."""
    from eventstreamd_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = spark.createDataFrame(
        [(999999, "zxqv qqwx vvbn mmzzk ppoeir ttyyu")],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in textops.token_freq_quality(docs.unionByName(planted)).collect()
    }
    g = out[999999]
    assert g["hapax_tokens"] == g["n_tokens"] == 6
    assert g["median_term_freq"] == 1.0
    normal = [r["median_term_freq"] for d, r in out.items() if d != 999999]
    assert sorted(normal)[len(normal) // 2] > 10  # shared corpus vocab


def test_winnowing_guarantee(spark, sf_dir) -> None:
    """Schleimer et al.'s correctness property: documents sharing a
    token run of >= k + w - 1 tokens share at least one fingerprint;
    selection keeps well under the full window count."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    df = spark.createDataFrame(
        [
            (1, "XX YY " + base),               # shared run, shifted
            (2, base + " ZZ QQ"),               # shared run, suffixed
            (3, "totally different words here nothing shared at all ok"),
        ],
        "doc_id long, text string",
    )
    fp = textops.winnowed_fingerprints(df, k=4, w=4)
    by_doc = {
        r["doc_id"]: set(r["fps"])
        for r in fp.groupBy("doc_id")
        .agg(F.collect_set("fingerprint").alias("fps"))
        .collect()
    }
    assert by_doc[1] & by_doc[2]          # shared run -> shared fingerprint
    assert not (by_doc[1] & by_doc[3])    # disjoint content -> disjoint keys
    n_windows = len(base.split()) - 3     # k-gram count for doc of 20 tokens
    assert len(by_doc[2]) < n_windows     # winnowing actually thins


def test_compact_small_files(spark, sf_dir, tmp_path) -> None:
    """64 tiny fragments -> a handful of target-sized files, same rows."""
    from eventstreamd_spark.operators.skew import compact_small_files
    from eventstreamd_spark.session import load_table

    events = load_table(spark, sf_dir, "events")
    frag = str(tmp_path / "fragmented")
    events.repartition(64).write.parquet(frag)
    n_frag = len(spark.read.parquet(frag).inputFiles())
    assert n_frag >= 32

    compacted = str(tmp_path / "compacted")
    n = compact_small_files(spark, frag, compacted, target_file_bytes=512 * 1024)
    out = spark.read.parquet(compacted)
    assert out.count() == events.count()
    assert len(out.inputFiles()) == n < n_frag / 4


def test_sql_front_end(spark, sf_dir) -> None:
    """Arbitrary ANSI SQL over registered views must agree with the
    DataFrame path — a CTE + window + join in one statement."""
    from eventstreamd_spark.session import load_table, sql

    out = sql(
        spark,
        """
        WITH big AS (
          SELECT o_custkey, o_totalprice,
                 RANK() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC) AS rk
          FROM orders
        )
        SELECT c.c_mktsegment, COUNT(*) AS n
        FROM big b JOIN customer c ON b.o_custkey = c.c_custkey
        WHERE b.rk = 1
        GROUP BY c.c_mktsegment
        """,
        sf_dir,
    ).collect()
    got = {r["c_mktsegment"]: r["n"] for r in out}
    # DataFrame twin
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    top = orders.withColumn("rk", F.rank().over(w)).filter("rk = 1")
    expect = {
        r["c_mktsegment"]: r["n"]
        for r in top.join(customer, top.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expect


def test_quality_observation_single_pass(spark, sf_dir) -> None:
    """Null-audit counters ride the main action — no second scan."""
    from eventstreamd_spark.operators.stats import quality_observation
    from eventstreamd_spark.session import load_table

    events = load_table(spark, sf_dir, "events")
    observed, obs = quality_observation(events, ["user_id", "props"])
    n = observed.count()  # the "main job"
    got = obs.get
    assert got["n_rows"] == n
    assert got["n_null_user_id"] == events.filter(F.col("user_id").isNull()).count()
    assert got["n_null_props"] == events.filter(F.col("props").isNull()).count()


def test_multi_format_round_trip(spark, sf_dir, tmp_path) -> None:
    """Same rows through parquet, csv, and json-lines — format choice
    must not change query results (csv/json with explicit schema)."""
    from eventstreamd_spark.session import load_table
    from eventstreamd_spark.sources.files import read_table, write_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    expect_n = events.count()
    expect_sum = events.agg(F.sum("user_id").alias("s")).collect()[0]["s"]
    for fmt in ("parquet", "csv", "json"):
        path = str(tmp_path / fmt)
        write_table(events, path, fmt)
        back = read_table(spark, path, fmt, schema=events.schema)
        assert back.count() == expect_n, fmt
        assert (
            back.agg(F.sum("user_id").alias("s")).collect()[0]["s"] == expect_sum
        ), fmt

    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_table(spark, str(tmp_path / "csv"), "csv")  # schema required


def test_chunking_reconstructs_documents(spark, sf_dir) -> None:
    """Stride-prefix concatenation of chunks must reproduce the exact
    original text, and overlap means consecutive chunks share their
    boundary characters."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = textops.chunk_documents(docs)
    stride = textops.CHUNK_SIZE - textops.CHUNK_OVERLAP
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_id", "chunk"))
                    ),
                    lambda s: s["chunk"].substr(F.lit(1), F.lit(stride)),
                ),
            ).alias("rebuilt")
        )
        .join(docs.select("doc_id", "text"), "doc_id")
    )
    # substr(1, stride) of the LAST chunk may drop its tail only if the
    # final chunk is longer than stride; reconstruct handles that case
    # by comparing prefixes of equal length.
    mismatches = rebuilt.filter(
        ~F.col("text").startswith(F.col("rebuilt"))
        | (F.length("rebuilt") < F.length("text") - textops.CHUNK_OVERLAP)
    ).count()
    assert mismatches == 0
    # overlap property on a doc with >1 chunk
    two = (
        chunks.filter(F.col("chunk_id") <= 1)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.collect_list(F.struct("chunk_id", "chunk")).alias("cs"))
        .filter(F.col("n") == 2)
        .limit(1)
        .collect()
    )
    if two:
        cs = sorted(two[0]["cs"], key=lambda s: s["chunk_id"])
        assert cs[0]["chunk"][stride:] == cs[1]["chunk"][: textops.CHUNK_OVERLAP]


def test_repetition_metrics_flags_planted_loop(spark) -> None:
    data = [
        (1, "spam spam spam spam spam spam spam spam spam spam"),
        (2, "a genuinely varied sentence with many distinct interesting words here"),
        (3, "line one\nline one\nline one\nline two"),
    ]
    df = spark.createDataFrame(data, ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in textops.repetition_metrics(df).collect()}
    assert rows[1]["repetitive"] and rows[1]["top_word_frac"] == 1.0
    assert not rows[2]["repetitive"]
    assert rows[3]["repetitive"] and abs(rows[3]["dup_line_frac"] - 0.5) < 1e-9
    assert rows[2]["dup_word_frac"] == 0.0


def test_tfidf_prefers_rare_terms(spark) -> None:
    data = [
        (1, "common zebra"),
        (2, "common words common words"),
        (3, "common common common words"),
    ]
    df = spark.createDataFrame(data, ["doc_id", "text"])
    top = textops.tfidf_top_terms(df, k=1)
    by_doc = {r["doc_id"]: r["term"] for r in top.collect()}
    # 'zebra' appears once in one doc; idf beats the frequent 'common'
    assert by_doc[1] == "zebra"
    assert all(r["rank"] == 1 for r in top.collect())


def test_contamination_flags_planted_eval_copy(spark) -> None:
    # doc 100 is in the eval slice (doc_id % 100 == 0); doc 1 copies it
    # verbatim, doc 2 is unrelated.
    data = [
        (100, "the quick brown fox jumps over the lazy dog tonight"),
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "completely different words about gardening and carpentry skills"),
    ]
    df = spark.createDataFrame(data, ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in dedup.contamination_check(df).collect()}
    assert set(rows) == {1, 2}  # eval doc itself excluded from the verdict
    assert rows[1]["contaminated"] and rows[1]["contam_frac"] == 1.0
    assert not rows[2]["contaminated"] and rows[2]["n_hits"] == 0


def test_token_shards_match_naive_global_window(spark, sf_dir) -> None:
    """The scalable two-phase prefix sum must agree EXACTLY with the
    naive unpartitioned-window formulation."""
    from pyspark.sql import Window

    from eventstreamd_spark.functions.text import tokens
    from eventstreamd_spark.operators import layout

    docs = load_table(spark, sf_dir, "documents")
    fast = layout.token_shard_assignments(docs)
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    naive = (
        docs.select(
            "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
        )
        .withColumn("excl", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select(
            "doc_id",
            "n_tokens",
            F.floor(F.col("excl") / layout.SHARD_TOKENS).alias("shard_id"),
            F.col("excl").alias("shard_start_token"),
        )
    )
    assert fast.exceptAll(naive).count() == 0
    assert naive.exceptAll(fast).count() == 0
    # shards are contiguous runs: shard_id is monotone in doc_id
    rows = fast.orderBy("doc_id").select("shard_id").collect()
    ids = [r[0] for r in rows]
    assert ids == sorted(ids)


def test_df_cutoff_kills_hot_shingle_pairs_keeps_cold(spark) -> None:
    # 12 docs share one boilerplate sentence (every shared shingle has
    # df=12 > MAX_SHINGLE_DF) plus unique tails -> plain tier reports
    # the boilerplate cluster as near-dups, the cutoff tier drops every
    # such pair.  One genuinely duplicated doc pair (unique text, df=2
    # shingles) must survive the cutoff.
    boiler = "the quick brown fox jumps over the lazy sleeping dog again"
    rows = [(i, f"{boiler} u{i} v{i}") for i in range(12)]
    rows += [(100, "alpha beta gamma delta epsilon zeta eta theta"),
             (101, "alpha beta gamma delta epsilon zeta eta theta iota")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plain = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    cut = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs_df_cutoff(docs, threshold=0.6).collect()
    }
    assert (100, 101) in plain and (100, 101) in cut
    boiler_pairs = {p for p in plain if p[0] < 100}
    assert boiler_pairs  # the blowup the cutoff exists to kill
    assert not (cut & boiler_pairs)


def test_minhash_keep_corpus_keeps_originals_drops_plants(spark, sf_dir) -> None:
    docs = load_table(spark, sf_dir, "documents")
    planted = dedup.with_planted_near_dups(docs)
    kept = dedup.minhash_keep_corpus(planted)
    n_docs = docs.count()
    n_planted = planted.count() - n_docs
    # drop rule is exactly "appears as doc_b in some LSH pair" — the
    # corpus itself contains near-dup originals, so assert consistency
    # with the pair list rather than "all originals survive"
    drop = {r["doc_b"] for r in dedup.minhash_lsh_dedup(planted).collect()}
    kept_ids = {r["doc_id"] for r in kept.collect()}
    all_ids = {r["doc_id"] for r in planted.select("doc_id").collect()}
    assert kept_ids == all_ids - drop
    # every duplicate chain keeps its minimum
    assert min(all_ids) in kept_ids
    # LSH recall >= 80%: at most 20% of plants slip through
    n_kept_plants = sum(1 for d in kept_ids if d >= dedup.PLANT_OFFSET)
    assert n_kept_plants <= 0.2 * n_planted


def test_bigram_lm_scores_hand_checked(spark) -> None:
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textops.bigram_lm_scores(docs).collect()}
    # corpus bigrams: (a,b)x3, (b,a)x1, (b,c)x1; c1: a->3, b->2
    assert set(out) == {1, 2}  # single-token doc has no bigrams
    r1 = out[1]
    assert (r1["n_bigrams"], r1["hapax_bigrams"], r1["sum_bigram_freq"],
            r1["sum_ctx_freq"], r1["min_bigram_freq"]) == (3, 1, 7, 8, 1)
    r2 = out[2]
    assert (r2["n_bigrams"], r2["hapax_bigrams"], r2["sum_bigram_freq"],
            r2["sum_ctx_freq"], r2["min_bigram_freq"]) == (2, 1, 4, 5, 1)


def test_corpus_bigram_topk_order_and_ties(spark) -> None:
    docs = spark.createDataFrame(
        [(1, "p q p q"), (2, "m n"), (3, "a b")],
        "doc_id long, text string",
    )
    got = [(r["w1"], r["w2"], r["bg_count"])
           for r in textops.corpus_bigram_topk(docs, k=3).collect()]
    # (p,q)x2 first; then count-1 ties lexicographic: (a,b) < (m,n)
    assert got == [("p", "q", 2), ("a", "b", 1), ("m", "n", 1)]


def test_semantic_dedup_finds_planted_copies_intra_cell(spark, sf_dir) -> None:
    emb = load_table(spark, sf_dir, "embeddings")
    copies = emb.filter("vec_id % 50 = 0").select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 2).alias("embedding"),
        "label",
    )
    planted = emb.unionByName(copies)
    got = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.semantic_dedup_pairs(planted).collect()
    }
    expected = {
        (r["vec_id"], r["vec_id"] + 100000)
        for r in emb.filter("vec_id % 50 = 0").select("vec_id").collect()
    }
    # scaled copies have identical centroid cosines -> same cell ->
    # every planted pair is found despite the cluster bound
    assert expected <= got
    # cluster bound holds: every reported pair is a subset of the
    # all-pairs sweep at the same threshold
    allpairs = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.embedding_near_dup_pairs(planted).collect()
    }
    assert got <= allpairs


def test_seeded_shuffle_keys_stable_and_epoch_varying(spark, sf_dir) -> None:
    from eventstreamd_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    e0 = {r["doc_id"]: r["shuffle_key"]
          for r in sampling.seeded_shuffle_keys(docs, "doc_id").collect()}
    # append-stable: a subset corpus assigns identical keys
    sub = {r["doc_id"]: r["shuffle_key"]
           for r in sampling.seeded_shuffle_keys(
               docs.filter("doc_id % 2 = 0"), "doc_id").collect()}
    assert all(e0[k] == v for k, v in sub.items())
    # a new seed is a different permutation
    e1 = {r["doc_id"]: r["shuffle_key"]
          for r in sampling.seeded_shuffle_keys(docs, "doc_id", "epoch1").collect()}
    order0 = sorted(e0, key=lambda k: (e0[k], k))
    order1 = sorted(e1, key=lambda k: (e1[k], k))
    assert order0 != order1


def test_span_dedup_trim_removes_shared_and_internal_spans(spark) -> None:
    boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    rows = [
        (1, f"u1 u2 u3 {boiler} u4 u5 u6"),
        (2, f"v1 v2 v3 {boiler} v4 v5 v6"),
        (3, f"{boiler} x1 x2 x3 {boiler}"),  # internal repetition
        (4, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),  # clean doc untouched
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.span_dedup_trim(docs).collect()}
    # the shared span is excised from both docs, unique tokens survive
    for d in (1, 2, 3):
        assert "b1" not in out[d]["trimmed_text"]
        assert out[d]["n_tokens_removed"] >= 8
    assert "u1" in out[1]["trimmed_text"] and "u4" in out[1]["trimmed_text"]
    assert "v1" in out[2]["trimmed_text"] and "v4" in out[2]["trimmed_text"]
    # internal repetition: both occurrences removed
    assert "b8" not in out[3]["trimmed_text"]
    # clean doc passes through verbatim
    assert out[4]["trimmed_text"] == rows[3][1]
    assert out[4]["n_tokens_removed"] == 0


def test_length_buckets_monotone_and_balanced(spark, sf_dir) -> None:
    from eventstreamd_spark.operators import layout

    docs = load_table(spark, sf_dir, "documents")
    out = layout.length_bucket_assignments(docs).collect()
    # monotone: longer docs never land in a lower bucket
    by_len = sorted(out, key=lambda r: r["n_tokens"])
    buckets = [r["length_bucket"] for r in by_len]
    assert buckets == sorted(buckets)
    # equal lengths share a bucket
    seen = {}
    for r in out:
        assert seen.setdefault(r["n_tokens"], r["length_bucket"]) == r["length_bucket"]
    # roughly balanced: no bucket holds more than 3x its fair share
    # (ties collapse into one bucket, so exact eighths aren't expected)
    from collections import Counter
    c = Counter(buckets)
    assert max(c.values()) <= 3 * len(out) / layout.N_LENGTH_BUCKETS


def test_quality_ensemble_reasons_and_verdict(spark) -> None:
    rows = [
        (1, "the quick brown fox a jumps over the lazy dog daily news today"),
        (2, "spam spam spam spam spam spam spam spam spam spam"),  # repetitive
        (3, "!!! ??? ... ;;; ::: @@@ ###"),  # punctuation soup
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textops.quality_ensemble(docs).collect()}
    assert out[2]["repetitive"] and not out[2]["keep"]
    assert not out[3]["quality_ok"] and not out[3]["keep"]
    # verdict is exactly the conjunction of its reasons
    for r in out.values():
        assert r["keep"] == (
            r["quality_ok"] and not r["repetitive"] and not r["oov_like"]
        )


def test_bpe_merges_hand_checked_with_overlaps(spark) -> None:
    from eventstreamd_spark.operators import bpe

    # corpus: "aaab" x3, "ab" x2 -> pair counts: (a,a)=6, (a,b)=5
    # round 1 fuses (a,a) GREEDILY: "aaab" -> [aa, a, b] (overlap: the
    # second candidate at position 2 is consumed by the first match)
    # round 2 counts: (aa,a)=3, (a,b)=5 -> fuses (a,b)
    docs = spark.createDataFrame(
        [(1, "aaab aaab aaab ab ab")], "doc_id long, text string"
    )
    out = [(r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
           for r in bpe.bpe_merge_table(docs, n_merges=3).collect()]
    assert out[0] == (1, "a", "a", 6)
    assert out[1] == (2, "a", "b", 5)
    # round 3: vocab is {[aa, ab] x3, [ab] x2} -> (aa, ab)=3
    assert out[2] == (3, "aa", "ab", 3)


def test_shard_packing_integer_exact_past_2_53(spark) -> None:
    from eventstreamd_spark.operators import layout

    # weights so large the running total exceeds 2^53, where float64
    # floor division silently rounds; shard_id must use integral `div`
    w = (1 << 53) + 1
    rows = [(k, w) for k in range(8)]
    df = spark.createDataFrame(rows, "key long, wt long")
    budget = (1 << 53) - 1
    out = {
        r["key"]: (r["shard_id"], r["shard_start"])
        for r in layout.weighted_shard_assignments(
            df, "key", "wt", budget, bucket_width=2
        ).collect()
    }
    for k in range(8):
        excl = k * w  # exact python int prefix sum
        assert out[k] == (excl // budget, excl), (
            f"key {k}: got {out[k]}, want {(excl // budget, excl)}"
        )


def test_near_dup_spill_dir_rejects_node_local_on_cluster() -> None:
    import pytest

    from eventstreamd_spark.operators.similarity import _resolve_spill_dir

    class _Ctx:
        def __init__(self, master, ckpt):
            self.master = master
            self._ckpt = ckpt

        def getCheckpointDir(self):
            return self._ckpt

    class _Spark:
        def __init__(self, master, ckpt=None):
            self.sparkContext = _Ctx(master, ckpt)

    # explicit work_dir always wins
    assert _resolve_spill_dir(_Spark("spark://host:7077"), "/mnt/shared") == "/mnt/shared"
    # cluster-shared checkpoint dir is an acceptable default
    assert (
        _resolve_spill_dir(_Spark("yarn", "hdfs://nn/ckpt"), None)
        == "hdfs://nn/ckpt"
    )
    # node-local tmp on a non-local master must fail fast, not
    # silently under-report pairs
    with pytest.raises(ValueError, match="cluster-shared"):
        _resolve_spill_dir(_Spark("spark://host:7077"), None)
    # local mode may fall back to tmp
    assert _resolve_spill_dir(_Spark("local[32]"), None)


def test_temperature_mix_flattens_head_keeps_tail(spark) -> None:
    from eventstreamd_spark.operators import sampling

    # 3 groups with 1600/400/100 rows: tau=2 rates are sqrt(100/n_g)
    # -> tail kept whole, head kept at sqrt(1/16)=25%
    rows = (
        [(i, "head") for i in range(1600)]
        + [(10_000 + i, "mid") for i in range(400)]
        + [(20_000 + i, "tail") for i in range(100)]
    )
    df = spark.createDataFrame(rows, "key long, grp string")
    out = sampling.temperature_mix(df, "key", "grp")
    got = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(
        F.count("*").alias("n")).collect()}
    assert got["tail"] == 100  # smallest group is never downsampled
    # hash gate is uniform-ish: expect ~400 head (rate .25), ~200 mid
    # (rate .5); allow generous slack for the md5 gate's variance
    assert 300 <= got["head"] <= 500
    assert 150 <= got["mid"] <= 250


def test_df_frac_cutoff_matches_absolute_at_equivalent_setting(spark, sf_dir) -> None:
    from eventstreamd_spark.operators import dedup

    docs = dedup.with_planted_near_dups(load_table(spark, sf_dir, "documents"))
    n_docs = docs.count()
    frac = dedup.MAX_SHINGLE_DF_FRAC
    import math

    equiv_abs = math.ceil(frac * n_docs)
    frac_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs_df_frac_cutoff(docs).collect()
    }
    abs_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs_df_cutoff(
            docs, max_df=equiv_abs
        ).collect()
    }
    # the fraction form IS the absolute form at ceil(frac * corpus)
    assert frac_pairs == abs_pairs
    # and the planted pairs survive the cutoff
    planted = {
        (r["doc_id"], r["doc_id"] + dedup.PLANT_OFFSET)
        for r in docs.filter(
            (F.col("doc_id") % 5 == 0) & (F.col("doc_id") < dedup.PLANT_OFFSET)
        ).select("doc_id").collect()
    }
    assert planted <= frac_pairs


def test_pq_codes_and_ann_recall(spark, sf_dir) -> None:
    from eventstreamd_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    codes = similarity.pq_codes(emb)
    n = emb.count()
    assert codes.count() == n  # one code row per vector
    row = codes.filter("vec_id = 7").collect()[0]
    for m in range(similarity.PQ_M):
        assert 0 <= row[f"c{m}"] < similarity.PQ_K
    # a codebook vector quantizes to itself in every subspace
    self_row = codes.filter("vec_id = 3").collect()[0]
    assert all(self_row[f"c{m}"] == 3 for m in range(similarity.PQ_M))
    # ADC ranking with a 16-word codebook is coarse on random 64-d
    # data; assert against exact L2 (PQ's own metric, not cosine):
    # some top-10 overlap plus a clear distance signal — PQ picks must
    # be materially closer than the corpus average for every query.
    import numpy as np

    qids = [100, 200, 300]
    V = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    exact = {
        (q, i)
        for q in qids
        for _, i in sorted(
            (float(np.sum((V[q] - V[i]) ** 2)), i) for i in V if i != q
        )[:10]
    }
    pq = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.pq_topk(emb, qids, k=10).collect()
    }
    overlap = len(exact & pq) / len(exact)
    assert overlap >= 0.05, f"PQ recall vs exact L2 too low: {overlap}"
    for q in qids:
        picks = [i for (qq, i) in pq if qq == q]
        d_pq = np.mean([np.sum((V[q] - V[i]) ** 2) for i in picks])
        d_all = np.mean([np.sum((V[q] - V[i]) ** 2) for i in V if i != q])
        assert d_pq < 0.92 * d_all, (q, d_pq, d_all)


def test_dsir_importance_prefers_target_like_docs(spark, sf_dir) -> None:
    from eventstreamd_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents")
    out = textops.dsir_importance(docs, target_lang="en")
    joined = out.join(docs.select("doc_id", "lang"), "doc_id")
    rates = {
        r["lang"]: r["keep_rate"]
        for r in joined.groupBy("lang")
        .agg(F.avg(F.col("keep").cast("double")).alias("keep_rate"))
        .collect()
    }
    # English docs (the target corpus) must be kept at a strictly
    # higher rate than every non-target language
    for lang, rate in rates.items():
        if lang != "en":
            assert rates["en"] > rate, (lang, rates)
    # affinities are positive integers; keep is the exact cross-multiply
    row = out.first()
    assert row["aff_target"] > 0 and row["aff_raw"] >= row["aff_target"]


def test_containment_catches_doc_in_doc(spark) -> None:
    """A short doc fully embedded in a long one scores low on Jaccard
    but 1.0 on containment — the asymmetric tier's raison d'etre."""
    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.6).collect()
    assert jac == []  # Jaccard blind to the embedding
    con = dedup.ngram_containment_pairs(docs, threshold=0.9).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in con] == [(1, 2)]
    assert con[0]["containment"] == 1.0


def test_incremental_dedup_decisions(spark, sf_dir) -> None:
    docs = load_table(spark, sf_dir, "documents")
    batch = dedup.with_incremental_batch(docs)
    out = {
        r["doc_id"]: r
        for r in dedup.incremental_dedup_decisions(docs, batch).collect()
    }
    assert len(out) == batch.count()  # one decision per batch doc
    for doc_id, r in out.items():
        orig = doc_id - dedup.PLANT_OFFSET
        if orig % 10 == 0:  # exact copy
            assert r["exact_dup"] and not r["keep"], r
        elif orig % 10 == 5:  # near copy (one appended token)
            assert r["near_dup"] and not r["exact_dup"] and not r["keep"], r
        else:  # word-reversed: genuinely fresh
            assert r["keep"] and not r["exact_dup"] and not r["near_dup"], r


def test_per_group_cap_quota_and_determinism(spark, sf_dir) -> None:
    from eventstreamd_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    capped = sampling.per_group_cap(docs, "doc_id", "source", 3)
    sizes = {
        r["source"]: r["n"]
        for r in capped.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    raw = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    for src, n in sizes.items():
        assert n == min(3, raw[src]), (src, n, raw[src])
    # deterministic: same pick on re-execution
    a = {r["doc_id"] for r in capped.collect()}
    b = {r["doc_id"] for r in sampling.per_group_cap(
        docs, "doc_id", "source", 3).collect()}
    assert a == b


def test_token_mix_rebalance_weight_shares(spark, sf_dir) -> None:
    from eventstreamd_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    targets = {"src1": 0.5, "src2": 0.3, "src3": 0.2}
    out = sampling.rebalance_to_token_mix(docs, "doc_id", "source", targets)
    got = {
        r["source"]: r["w"]
        for r in out.groupBy("source")
        .agg(F.sum("n_chars").alias("w"))
        .collect()
    }
    assert set(got) <= set(targets)  # untargeted groups dropped
    total = sum(got.values())
    for src, share in targets.items():
        if src in got:
            # achieved weight share within sampling noise of target
            assert abs(got[src] / total - share) < 0.18, (src, got, targets)


def test_cell_label_purity_bounds_and_partition(spark, sf_dir) -> None:
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.cell_label_purity(emb).collect()
    assert sum(r["n_vecs"] for r in out) == emb.count()  # exact partition
    for r in out:
        assert 0.0 < r["purity"] <= 1.0
        assert r["majority_n"] <= r["n_vecs"]
        assert r["purity"] == r["majority_n"] / r["n_vecs"]


def test_language_confusion_diagonal_dominates(spark, sf_dir) -> None:
    from eventstreamd_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents")
    rows = textops.language_confusion(docs).collect()
    assert sum(r["n_docs"] for r in rows) == docs.count()
    # the heuristic's accuracy is pinned elsewhere; here: the matrix is
    # a true partition and the en diagonal is its largest en-row cell
    en = {r["detected_lang"]: r["n_docs"] for r in rows if r["lang"] == "en"}
    assert en["en"] == max(en.values())


def test_hashed_embeddings_deterministic_and_bag_semantics(spark) -> None:
    from eventstreamd_spark.operators import textops

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: [r[f"e{j}"] for j in range(textops.EMB_DIM)]
           for r in textops.hashed_doc_embeddings(docs).collect()}
    # bag-of-words: word order is irrelevant
    assert out[1] == out[2]
    # different bags differ (with overwhelming probability for 8 dims)
    assert out[1] != out[3]
    # component range bound: each token contributes within [-1000, 1000]
    for v in out[1]:
        assert abs(v) <= 3 * 1000


def test_ann_recall_report_consistency(spark, sf_dir) -> None:
    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]
    report = {r["query_id"]: r for r in similarity.ann_recall_report(
        emb, qids, k=5).collect()}
    assert set(report) == set(qids)  # one row per query
    # the report must agree with recomputing the overlap directly
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, qids, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(emb, qids, k=5).collect()
    }
    for q in qids:
        n = len({p for p in exact & approx if p[0] == q})
        assert report[q]["n_hits"] == n
        assert report[q]["recall_at_k"] == n / 5.0


# --- Lloyd k-means refinement ----------------------------------------------


def test_kmeans_refinement_improves_or_holds_cohesion(spark, sf_dir) -> None:
    """Lloyd iterations never worsen total assignment cosine (the
    objective is monotone), and the final output is a total assignment
    with valid cell ids."""
    from eventstreamd_spark.functions.vectors import cosine
    from eventstreamd_spark.operators import clustering, similarity

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()

    def cohesion(assigned, cents):
        joined = assigned.join(
            emb.select("vec_id", "embedding"), "vec_id"
        ).join(cents, "cell_id")
        return joined.select(
            F.sum(cosine(F.col("embedding"), F.col("cvec"))).alias("s")
        ).collect()[0]["s"]

    seed = similarity.ivf_cells(emb, clustering.N_CELLS).select(
        "vec_id", "cell_id"
    )
    final = clustering.kmeans_assignments(emb)
    assert final.count() == n
    assert final.select("vec_id").distinct().count() == n
    cells = {r["cell_id"] for r in final.select("cell_id").distinct().collect()}
    assert cells <= set(range(clustering.N_CELLS))
    # refinement moves at least some vectors off the raw seeding at
    # this sf (the seeds are arbitrary corpus vectors, far from means)
    moved = (
        final.alias("f")
        .join(seed.alias("s"), "vec_id")
        .filter("f.cell_id <> s.cell_id")
        .count()
    )
    assert moved > 0


# --- frozen quality classifier ---------------------------------------------


def test_classifier_scores_bounded_and_total(spark, sf_dir) -> None:
    from eventstreamd_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents")
    out = textops.classifier_quality_scores(docs)
    rows = out.collect()
    assert len(rows) == docs.count()
    for r in rows:
        # mean of per-feature weights in [-1, 1]
        assert -1.0 <= r["logit"] <= 1.0
        assert r["keep"] == (r["logit"] >= 0)
        assert r["n_feats"] >= 0


def test_classifier_counts_repeated_bigrams(spark) -> None:
    from eventstreamd_spark.operators import textops

    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "a b"), (3, "solo"), (4, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in textops.classifier_quality_scores(docs).collect()}
    assert got[1]["n_feats"] == 4  # bag, not set: a-b, b-a, a-b, b-a
    assert got[2]["n_feats"] == 1
    assert got[3]["n_feats"] == 0 and got[3]["logit"] == 0.0
    assert got[4]["n_feats"] == 0


# --- sequential Poisson weighted sampling ----------------------------------


def test_weighted_sample_deterministic_and_weight_biased(spark, sf_dir) -> None:
    from eventstreamd_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    k = 50
    s1 = sampling.weighted_sample(docs, "doc_id", "n_chars", k)
    s2 = sampling.weighted_sample(docs, "doc_id", "n_chars", k)
    ids1 = [r["doc_id"] for r in s1.collect()]
    ids2 = [r["doc_id"] for r in s2.collect()]
    assert ids1 == ids2  # replayable
    assert len(ids1) == k
    # PPS property: the sample's mean weight exceeds the corpus mean
    mean_all = docs.agg(F.avg("n_chars")).collect()[0][0]
    mean_sample = s1.agg(F.avg("weight")).collect()[0][0]
    assert mean_sample > mean_all


def test_weighted_sample_excludes_nonpositive_weights(spark) -> None:
    from eventstreamd_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, 10), (2, 0), (3, -5), (4, None), (5, 3)],
        "doc_id long, w long",
    )
    got = {r["doc_id"] for r in sampling.weighted_sample(df, "doc_id", "w", 10).collect()}
    assert got == {1, 5}


# --- text normalization ----------------------------------------------------


def test_normalize_text_canonicalizes_planted_mess(spark) -> None:
    from eventstreamd_spark.operators import textops

    docs = spark.createDataFrame(
        [
            (0, "plain text stays"),
            (7, "already clean"),
        ],
        "doc_id long, text string",
    )
    messy = textops.with_planted_mess(docs)  # dirties doc 0 and 7? only %7==0
    out = {r["doc_id"]: r for r in textops.normalize_text(messy).collect()}
    # both ids are %7==0 -> dirtied, then normalization restores the
    # words with ASCII quotes around them
    assert out[0]["changed"] and out[7]["changed"]
    assert out[0]["text_norm"] == '" plain text stays "'
    assert "\t" not in out[0]["text_norm"]
    assert "  " not in out[0]["text_norm"]


def test_normalize_text_idempotent(spark, sf_dir) -> None:
    from eventstreamd_spark.operators import textops

    docs = textops.with_planted_mess(load_table(spark, sf_dir, "documents"))
    once = textops.normalize_text(docs).select(
        F.col("doc_id"), F.col("text_norm").alias("text")
    )
    twice = textops.normalize_text(once)
    assert twice.filter("changed").count() == 0


# --- int8 embedding quantization -------------------------------------------


def test_quantized_embeddings_bounds_and_reconstruction(spark, sf_dir) -> None:
    from eventstreamd_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q = similarity.quantized_embeddings(emb)
    rows = q.join(emb, "vec_id").collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert all(-127 <= c <= 127 for c in r["codes"])
        scale = r["max_abs"] / 127.0
        for c, x in zip(r["codes"], r["embedding"]):
            assert abs(c * scale - x) <= scale / 2 + 1e-12


def test_quantized_embeddings_zero_vector_guard(spark) -> None:
    from eventstreamd_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r for r in similarity.quantized_embeddings(df).collect()}
    assert got[1]["codes"] == [0, 0, 0] and got[1]["max_abs"] == 0.0
    assert got[2]["codes"] == [64, -127, 32]


# --- fuzzy entity matching -------------------------------------------------


def test_fuzzy_pairs_block_and_verify(spark) -> None:
    from eventstreamd_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "red widget"), (2, "blue widget"), (3, "red gadget"),
         (4, "red widget"), (5, "totally different thing")],
        "p_partkey long, p_name string",
    )
    got = {
        (r["name_a"], r["name_b"]): r["dist"]
        for r in dedup.fuzzy_name_pairs(df, max_dist=4).collect()
    }
    # shares "widget" deletion key, lev(red, blue)=4 -> within 4
    assert got[("blue widget", "red widget")] == 4
    # shares "red" deletion key, lev(widget, gadget)=2
    assert got[("red gadget", "red widget")] == 2
    # duplicates collapse before blocking: no self-pair, no repeats
    assert all(a < b for (a, b) in got)
    # non-overlapping name never becomes a candidate
    assert not any("totally" in a or "totally" in b for (a, b) in got)


def test_event_value_drift_bounds_and_identity(spark, sf_dir) -> None:
    from eventstreamd_spark.operators import statistics

    ev = load_table(spark, sf_dir, "events")
    out = statistics.event_value_drift(ev).collect()
    assert len(out) > 0
    for r in out:
        assert 0.0 <= r["tvd"] <= 1.0
        assert r["n_ref"] + r["n_cand"] > 0
    # identical slices => zero drift
    dup = ev.select(
        (F.col("event_id") * 2).alias("event_id"), "event_type", "value"
    ).unionAll(
        ev.select(
            (F.col("event_id") * 2 + 1).alias("event_id"),
            "event_type",
            "value",
        )
    )
    zero = statistics.event_value_drift(dup).collect()
    assert all(r["tvd"] == 0.0 for r in zero)


def test_winsorized_cuts_match_sorted_reference(spark, sf_dir) -> None:
    import math

    from eventstreamd_spark.operators import statistics

    li = load_table(spark, sf_dir, "lineitem")
    got = statistics.winsorized_price_stats(li, p_bp=100).collect()[0]
    vals = sorted(r["l_extendedprice"] for r in li.select("l_extendedprice").collect())
    n = len(vals)
    lo_rank = math.ceil(100 / 10000.0 * n)
    hi_rank = n - lo_rank + 1
    assert got["n_rows"] == n
    assert got["lo_cut"] == vals[lo_rank - 1]
    assert got["hi_cut"] == vals[hi_rank - 1]
    assert got["n_clipped_low"] == sum(1 for v in vals if v < got["lo_cut"])
    assert got["n_clipped_high"] == sum(1 for v in vals if v > got["hi_cut"])
    clipped = [min(got["hi_cut"], max(got["lo_cut"], v)) for v in vals]
    assert abs(got["avg_winsorized"] - sum(clipped) / n) < 1e-6


def test_fuzzy_single_token_typo_always_blocked_together(spark) -> None:
    """Deletion-neighborhood guarantee: names differing in exactly one
    token ALWAYS share a deletion key, so blocking can never miss them
    (recall=1 for the single-token-edit class, by construction)."""
    import itertools

    vocab = ["alpha", "beta", "gamma", "delta"]
    names = [" ".join(p) for p in itertools.product(vocab, repeat=2)]
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "p_partkey long, p_name string"
    )
    got = {
        (r["name_a"], r["name_b"])
        for r in dedup.fuzzy_name_pairs(df, max_dist=100).collect()
    }
    for a, b in itertools.combinations(names, 2):
        ta, tb = a.split(), b.split()
        one_token_apart = sum(x != y for x, y in zip(ta, tb)) == 1
        if one_token_apart:
            assert (min(a, b), max(a, b)) in got


def test_token_budget_fill_semantics(spark, sf_dir) -> None:
    """The selected set must equal the take-until-budget prefix of the
    globally quality-sorted corpus, with the crossing doc included."""
    from eventstreamd_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents")
    budget = 300
    got = {
        r["doc_id"]: r
        for r in textops.token_budget_fill(docs, budget=budget).collect()
    }
    ref = sorted(
        textops._clf_logit_frame(docs).collect(),
        key=lambda r: (-r["logit"], r["doc_id"]),
    )
    cum, expected = 0, {}
    for r in ref:
        if cum >= budget:
            break
        expected[r["doc_id"]] = cum
        cum += r["n_tokens"]
    assert set(got) == set(expected)
    for i, start in expected.items():
        assert got[i]["start_tokens"] == start
    total = sum(got[i]["n_tokens"] for i in got)
    assert total >= budget  # budget filled (crossing doc included)


def test_bpe_encode_compresses_and_is_consistent(spark, sf_dir) -> None:
    """Encoding invariants: merges only ever REDUCE symbol counts
    (n_bpe <= n_chars), totals are conserved, and a doc's BPE length is
    recoverable from the vocabulary encoding of its terms."""
    from eventstreamd_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    out = bpe.bpe_encode_stats(docs).collect()
    assert len(out) == docs.count()
    assert all(r["n_bpe_tokens"] <= r["n_chars_tokens"] for r in out)
    assert all(r["n_bpe_tokens"] >= r["n_word_tokens"] for r in out)
    # 8 merges on this corpus must actually fire somewhere
    assert sum(r["n_chars_tokens"] - r["n_bpe_tokens"] for r in out) > 0


def test_training_export_order_bounds_and_manifest(spark, sf_dir, tmp_path) -> None:
    """Export writer invariants: files respect maxRecordsPerFile, the
    manifest accounts for every row, file key ranges are disjoint (the
    global order = file order + in-file order), and the layout is
    seed-replayable."""
    from eventstreamd_spark.operators.layout import write_training_export

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "export")
    manifest = write_training_export(docs, path, max_records_per_file=20).collect()
    assert sum(r["n_rows"] for r in manifest) == docs.count()
    assert all(r["n_rows"] <= 20 for r in manifest)
    spans = sorted((r["key_lo"], r["key_hi"]) for r in manifest)
    for (al, ah), (bl, bh) in zip(spans, spans[1:]):
        assert ah <= bl  # disjoint, ordered ranges => global order holds
    # replay: same seed -> identical file-level layout
    path2 = str(tmp_path / "export2")
    manifest2 = write_training_export(docs, path2, max_records_per_file=20).collect()
    assert sorted((r["n_rows"], r["key_lo"], r["key_hi"]) for r in manifest) == \
        sorted((r["n_rows"], r["key_lo"], r["key_hi"]) for r in manifest2)


def test_training_export_round_trips_every_format(spark, sf_dir, tmp_path) -> None:
    """Format-choice invariance for the export writer (mirrors
    test_multi_format_round_trip): the SAME corpus exported as parquet,
    orc, csv, and json yields identical manifest-level layout (row
    counts, key ranges, token totals) and a lossless row round-trip —
    the on-disk format must never change what the data loader sees."""
    from eventstreamd_spark.operators.layout import write_training_export
    from eventstreamd_spark.sources.files import FORMATS, read_table

    docs = load_table(spark, sf_dir, "documents")
    # csv cannot carry embedded newlines losslessly in our plain mode;
    # assert the fixture precondition instead of silently relying on it
    assert docs.filter(F.col("text").contains("\n")).count() == 0
    n = docs.count()
    want_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    layouts = {}
    schema = None  # filled from the first (schema-carrying) format
    for fmt in FORMATS:  # parquet first => schema available for csv/json
        path = str(tmp_path / f"export_{fmt}")
        manifest = write_training_export(
            docs, path, max_records_per_file=20, fmt=fmt
        ).collect()
        layouts[fmt] = sorted(
            (r["n_rows"], r["n_tokens_ws"], r["key_lo"], r["key_hi"])
            for r in manifest
        )
        assert sum(r["n_rows"] for r in manifest) == n, fmt
        back = read_table(spark, path, fmt, schema=schema)
        if schema is None:
            schema = back.schema
        assert back.count() == n, fmt
        assert {r["doc_id"] for r in back.select("doc_id").collect()} == want_ids, fmt
    # manifest-level layout is identical across formats
    for fmt in FORMATS[1:]:
        assert layouts[fmt] == layouts["parquet"], fmt


def test_hard_negatives_labels_differ_and_are_hardest(spark, sf_dir) -> None:
    from eventstreamd_spark.functions.vectors import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.hard_negatives(emb, [0, 1], k=3).collect()
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    by_anchor = {}
    for r in out:
        assert labels[r["anchor_id"]] != r["negative_label"]
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    assert set(by_anchor) == {0, 1}
    for rows in by_anchor.values():
        assert sorted(r["rank"] for r in rows) == [1, 2, 3]
    # the rank-1 negative must beat every other different-label vector:
    # spot-check against a driver-side exact ranking for anchor 0
    import numpy as np

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    a = vecs[0] / np.linalg.norm(vecs[0])
    best = max(
        (v for v in vecs if v != 0 and labels[v] != labels[0]),
        key=lambda v: (float(a @ (vecs[v] / np.linalg.norm(vecs[v]))), -v),
    )
    r1 = [r for r in by_anchor[0] if r["rank"] == 1][0]
    assert r1["negative_id"] == best


def test_scd2_intervals_partition_time(spark, sf_dir) -> None:
    """SCD2 invariants: per key, exactly one current version, versions
    are contiguous (valid_to == next valid_from), and intervals never
    overlap."""
    from eventstreamd_spark.operators import merge

    orders = load_table(spark, sf_dir, "orders")
    hist = merge.scd2_history(
        orders, "o_custkey", "o_orderdate", ["o_totalprice"], "o_orderkey"
    )
    assert hist.count() == orders.count()
    cur = hist.filter("is_current").groupBy("o_custkey").count()
    assert cur.filter("count <> 1").count() == 0
    rows = [r for r in hist.filter("o_custkey = 1").collect()]
    rows.sort(key=lambda r: r["version_seq"])
    for a, b in zip(rows, rows[1:]):
        assert a["valid_to"] == b["valid_from"]
        assert a["valid_from"] <= a["valid_to"]
    assert rows[-1]["valid_to"] is None


def test_hybrid_rrf_prefers_dual_leg_hits(spark, sf_dir) -> None:
    """A document ranked on BOTH legs must outscore one ranked equally
    on a single leg; ranks and scores are internally consistent."""
    from eventstreamd_spark.operators import similarity

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.hybrid_search_rrf(
        docs, emb, ["spark", "table", "hash"], query_vec_id=0, k=10
    ).collect()
    assert len(out) == 10
    assert [r["fused_rank"] for r in out] != []
    for r in out:
        expect = 0.0
        if r["kw_rank"] is not None:
            expect += 1.0 / (similarity.RRF_K + r["kw_rank"])
        if r["vec_rank"] is not None:
            expect += 1.0 / (similarity.RRF_K + r["vec_rank"])
        assert r["rrf_score"] == expect
    scores = [r["rrf_score"] for r in sorted(out, key=lambda r: r["fused_rank"])]
    assert scores == sorted(scores, reverse=True)


def test_asof_tolerance_nulls_stale_matches(spark, sf_dir) -> None:
    from eventstreamd_spark.operators import asof

    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    loose = asof.asof_join(
        events, orders, "user_id", "o_custkey", "ts", "o_orderdate",
        value_cols=["o_orderkey"], left_cols=["event_id", "user_id"],
    )
    tight = asof.asof_join_tolerance(
        events, orders, "user_id", "o_custkey", "ts", "o_orderdate",
        value_cols=["o_orderkey"], left_cols=["event_id", "user_id"],
        tolerance_days=8400,
    )
    n_loose = loose.filter("o_orderkey IS NOT NULL").count()
    rows = tight.collect()
    n_tight = sum(r["o_orderkey"] is not None for r in rows)
    assert 0 < n_tight < n_loose  # the bound really expires matches
    for r in rows:
        if r["o_orderkey"] is not None:
            assert 0 <= r["match_age_days"] <= 8400
        else:
            assert r["match_age_days"] is None


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path) -> None:
    """ORC: full round-trip parity with parquet AND predicate pushdown
    reaching the ORC scan (the property that makes a format a real
    warehouse citizen, not just an interchange container)."""
    from eventstreamd_spark.sources.files import read_table, write_table

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc")
    write_table(orders, path, "orc")
    back = read_table(spark, path, "orc")
    assert back.schema == orders.schema
    assert back.count() == orders.count()
    filtered = back.filter(F.col("o_custkey") == 7)
    plan = filtered._sc._jvm.PythonSQLUtils.explainString(
        filtered._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [" in plan and "o_custkey" in plan.split("PushedFilters")[1][:120]
    assert filtered.count() == orders.filter("o_custkey = 7").count()


def test_token_cooccurrence_support_and_lift(spark) -> None:
    from eventstreamd_spark.operators import textops

    docs = spark.createDataFrame(
        [(i, "alpha beta") for i in range(6)]
        + [(10 + i, "alpha gamma") for i in range(3)]
        + [(20, "delta")],
        "doc_id long, text string",
    )
    # n_docs=10, gate = max(1, 10//10) = 1: every term qualifies
    rows = {(r["ta"], r["tb"]): r for r in textops.token_cooccurrence(docs).collect()}
    ab = rows[("alpha", "beta")]
    assert ab["support"] == 6 and ab["df_a"] == 9 and ab["df_b"] == 6
    assert ab["lift"] == 6.0 * 10.0 / (9.0 * 6.0)
    ag = rows[("alpha", "gamma")]
    assert ag["support"] == 3
    assert ("alpha", "delta") not in rows  # never co-occur


def test_exact_deciles_match_sorted_reference(spark, sf_dir) -> None:
    import math

    from eventstreamd_spark.operators import statistics

    li = load_table(spark, sf_dir, "lineitem")
    got = {
        r["frac"]: (r["rank"], r["value"])
        for r in statistics.exact_quantile_values(li, "l_extendedprice").collect()
    }
    vals = sorted(r["l_extendedprice"] for r in li.select("l_extendedprice").collect())
    n = len(vals)
    for f in statistics.DECILES:
        rk = math.ceil(f * n)
        assert got[f] == (rk, vals[rk - 1])


def test_split_leakage_detects_planted_cross_split_pairs(spark, sf_dir) -> None:
    from eventstreamd_spark.operators import dedup

    docs = dedup.with_planted_near_dups(load_table(spark, sf_dir, "documents"))
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    rows = dedup.split_leakage_check(docs, w).collect()
    total = sum(r["n_pairs"] for r in rows)
    leaks = sum(r["n_pairs"] for r in rows if r["is_boundary"])
    # planted copies get independent split hashes: some cross pairs exist
    assert total > 0 and 0 < leaks < total
    for r in rows:
        assert r["is_boundary"] == (r["split_lo"] != r["split_hi"])


def test_vocab_growth_monotone_and_totals(spark, sf_dir) -> None:
    from eventstreamd_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents")
    rows = sorted(
        textops.vocab_growth_curve(docs).collect(),
        key=lambda r: r["bucket_start"],
    )
    assert rows[-1]["vocab_size"] == sum(r["new_terms"] for r in rows)
    sizes = [r["vocab_size"] for r in rows]
    assert sizes == sorted(sizes)  # cumulative is monotone
    # the final vocab equals the corpus-wide distinct term count
    total = (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("t"))
        .filter("t <> ''")
        .select("t")
        .distinct()
        .count()
    )
    assert rows[-1]["vocab_size"] == total


def test_postings_index_consistency(spark, sf_dir) -> None:
    from eventstreamd_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents")
    rows = textops.build_postings(docs).collect()
    # df == number of postings entries; doc order is ascending
    for r in rows[:100]:
        entries = r["postings"].split(",")
        assert len(entries) == r["df"]
        ids = [int(e.split(":")[0]) for e in entries]
        assert ids == sorted(ids)
        assert sum(int(e.split(":")[1]) for e in entries) == r["total_tf"]
    # total term mass equals the corpus token count
    total = sum(r["total_tf"] for r in rows)
    corpus_tokens = docs.select(
        F.sum(F.size(F.split(F.trim(F.lower("text")), r"\s+")))
    ).collect()[0][0]
    assert total == corpus_tokens


def test_source_concentration_curve(spark, sf_dir) -> None:
    from eventstreamd_spark.operators import statistics

    docs = load_table(spark, sf_dir, "documents")
    rows = sorted(
        statistics.source_concentration(docs).collect(),
        key=lambda r: r["source_rank"],
    )
    assert rows[-1]["cum_docs"] == docs.count()
    assert abs(rows[-1]["cum_share"] - 1.0) < 1e-12
    counts = [r["n_docs"] for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_interarrival_median_matches_reference(spark, sf_dir) -> None:
    from eventstreamd_spark.operators import windows

    ev = load_table(spark, sf_dir, "events")
    got = {r["user_id"]: r for r in windows.interarrival_stats(ev).collect()}
    one = sorted(
        ev.filter("user_id = 1").select("ts", "event_id").collect(),
        key=lambda r: (r["ts"], r["event_id"]),
    )
    gaps = sorted(
        int((b["ts"] - a["ts"]).total_seconds() * 1_000_000)
        for a, b in zip(one, one[1:])
    )
    r = got[1]
    assert r["n_gaps"] == len(gaps)
    assert r["min_gap_us"] == gaps[0] and r["max_gap_us"] == gaps[-1]
    # lower median: first gap with 2*rank >= n
    import math
    assert r["median_gap_us"] == gaps[math.ceil(len(gaps) / 2) - 1]


def test_robust_outliers_resist_contamination(spark, sf_dir) -> None:
    """Planting extreme values must increase n_outliers while leaving
    the median (and nearly the MAD) unmoved — THE robustness property
    a mean/stddev screen lacks."""
    from eventstreamd_spark.operators import statistics

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    base = {r["event_type"]: r for r in statistics.robust_outlier_stats(ev).collect()}
    poisoned = ev.unionByName(
        ev.filter("event_id % 100 = 0").select(
            (F.col("event_id") + 10_000_000).alias("event_id"),
            "event_type",
            (F.col("value") + 1e6).alias("value"),
        )
    )
    after = {
        r["event_type"]: r
        for r in statistics.robust_outlier_stats(poisoned).collect()
    }
    for t, b in base.items():
        a = after[t]
        assert a["n_outliers"] > b["n_outliers"]
        # median moves at most one rank step under ~1% contamination
        assert abs(a["median_value"] - b["median_value"]) < 1.0


# --- zero-norm cosine guard (engine/oracle NaN-ranking divergence) ----------


def test_zero_norm_vectors_match_oracle_in_argmax(spark) -> None:
    """cosine(x, 0-vector) is NaN, and Spark's min(struct(-cos, ...))
    argmax ranks NaN LAST while DuckDB's ORDER BY cos DESC ranks it
    FIRST — the guarded -2.0 sentinel must make ivf_cells and the Lloyd
    rounds agree with the DuckDB twin even when the fixture contains
    zero-norm corpus vectors AND zero-norm seed centroids."""
    import duckdb
    import pandas as pd

    from eventstreamd_spark.operators import clustering, similarity

    vecs = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.0, 0.0, 0.0, 0.0],  # zero-norm SEED centroid (vec_id < n_cells)
        2: [0.0, 1.0, 0.0, 0.0],
        3: [0.0, 0.0, 0.0, 0.0],  # another zero-norm seed
        4: [0.5, 0.5, 0.0, 0.0],
        5: [0.0, 0.0, 0.0, 0.0],  # zero-norm MEMBER (non-centroid)
        6: [0.0, -1.0, 0.0, 0.0],
        7: [0.25, 0.0, 0.75, 0.0],
        8: [0.0, 0.0, 0.0, 1.0],
        9: [-0.5, 0.0, 0.0, 0.5],
    }
    rows = [(i, [float(x) for x in v]) for i, v in sorted(vecs.items())]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(
            {"vec_id": list(sorted(vecs)), "embedding": [vecs[i] for i in sorted(vecs)]}
        ),
    )

    # ivf seeding assignment (n_iters=0 twin == ivf_cells)
    got = {
        (r["vec_id"], r["cell_id"])
        for r in similarity.ivf_cells(emb, n_cells=4).collect()
    }
    want = {
        (r[0], r[1])
        for r in con.execute(
            clustering.sql_kmeans_assignments("embeddings", n_cells=4, n_iters=0, dim=4)
        ).fetchall()
    }
    assert got == want
    # every zero-norm vector lost every argmax: all land in cell 0
    # (the -2.0 sentinel ties across all cells, lowest cell_id wins)
    assert {(1, 0), (3, 0), (5, 0)} <= got

    # one full Lloyd round (zero-norm members feed centroid means too)
    got2 = {
        (r["vec_id"], r["cell_id"])
        for r in clustering.kmeans_assignments(emb, n_cells=4, n_iters=1).collect()
    }
    want2 = {
        (r[0], r[1])
        for r in con.execute(
            clustering.sql_kmeans_assignments("embeddings", n_cells=4, n_iters=1, dim=4)
        ).fetchall()
    }
    assert got2 == want2


def test_source_overlap_planted_sharing(spark) -> None:
    """Two sources sharing a verbatim passage must show shared
    shingles; unrelated sources must not appear as a pair."""
    from pyspark.sql import Row
    from eventstreamd_spark.operators import dedup as dedup_op

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        Row(doc_id=1, text=shared + " iota kappa", source="srcA"),
        Row(doc_id=2, text=shared + " lambda mu", source="srcB"),
        Row(doc_id=3, text="one two three four five six seven", source="srcC"),
    ]
    out = {
        (r["source_a"], r["source_b"]): r
        for r in dedup_op.source_overlap(spark.createDataFrame(rows)).collect()
    }
    assert ("srcA", "srcB") in out
    ab = out[("srcA", "srcB")]
    assert ab["n_inter"] >= 6  # the shared 8-token run yields 6 shingles
    assert 0.0 < ab["jaccard"] < 1.0
    assert all("srcC" not in k for k in out)


def test_source_overlap_null_text_doc(spark) -> None:
    """A null-text doc must not inflate its source's shingle count
    (Spark's explode_outer emits a NULL row DuckDB's unnest lacks)."""
    import duckdb
    import pandas as pd
    from pyspark.sql import Row
    from eventstreamd_spark.operators import dedup as dedup_op

    rows = [
        Row(doc_id=1, text="alpha beta gamma delta epsilon", source="s1"),
        Row(doc_id=2, text=None, source="s1"),
        Row(doc_id=3, text="alpha beta gamma delta zeta", source="s2"),
    ]
    got = {
        tuple(r)
        for r in dedup_op.source_overlap(spark.createDataFrame(rows)).collect()
    }
    con = duckdb.connect()
    con.register("documents", pd.DataFrame([r.asDict() for r in rows]))
    want = {
        tuple(r)
        for r in con.sql(dedup_op.sql_source_overlap("documents")).fetchall()
    }
    assert got == want and len(got) == 1


def test_connected_components_string_nodes(spark) -> None:
    """The single-job convergence probe melts src/dst rows with a
    typed NULL — it must resolve that type from the edge schema, so
    components over STRING node ids (entity resolution runs the star
    rounds on raw name strings) work exactly like numeric ids."""
    from eventstreamd_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], "src string, dst string"
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges, max_iters=8).collect()
    }
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def _rows(df) -> set:
    return {tuple(r) for r in df.collect()}


def _planted(spark, sf_dir):
    return dedup.with_planted_near_dups(load_table(spark, sf_dir, "documents"))


def _scene(kind):
    return lambda spark, sf_dir: multimodal.cached_media(spark, sf_dir, kind)


def _text_corpus():
    return (F.col("doc_id") < dedup.PLANT_OFFSET) & (F.col("doc_id") % 2 == 0)


def _media_corpus():
    from eventstreamd_spark.operators import perceptual

    return (F.col("doc_id") % 8).isin(*perceptual.ADMIT_CORPUS_MOD8)


def _families():
    """family -> (producer, input, {registry face: bare operator over
    that input}).  The bare operator is what the face computes, called
    directly so it builds every shared relation itself."""
    from eventstreamd_spark.operators import (
        audio,
        bpe,
        clustering,
        curation,
        graph,
        mixed,
        perceptual,
        video,
    )

    def docs_table(name):
        return lambda spark, sf_dir: load_table(spark, sf_dir, name)

    split = {"train": 0.8, "val": 0.1, "test": 0.1}
    return {
        "shingles": (dedup.with_hashed_shingles, _planted, {
            "dedup_ngram_jaccard": dedup.ngram_jaccard_pairs,
            "dedup_ngram_df_cutoff": dedup.ngram_jaccard_pairs_df_cutoff,
            "dedup_ngram_df_frac_cutoff":
                dedup.ngram_jaccard_pairs_df_frac_cutoff,
            "dedup_containment": dedup.ngram_containment_pairs,
            "dedup_threshold_sweep": dedup.jaccard_threshold_sweep,
        }),
        "pairs": (dedup.minhash_lsh_dedup, _planted, {
            "dedup_minhash_lsh": dedup.minhash_lsh_dedup,
            "dedup_keep_corpus": dedup.minhash_keep_corpus,
            "split_leakage": lambda d: dedup.split_leakage_check(d, split),
            "lsh_recall_report": dedup.lsh_recall_report,
            "triangle_stats": graph.triangle_stats,
        }),
        "clusters": (dedup.dedup_clusters, _planted, {
            "dedup_clusters": dedup.dedup_clusters,
            "curation_decisions": curation.curation_decisions,
            "corpus_build_manifest": curation.corpus_build_manifest,
            "pagerank_canonical": graph.pagerank_canonical,
        }),
        "text_sigs": (dedup.simhash_signatures, _planted, {
            "dedup_simhash": dedup.simhash_pairs,
            "dedup_simhash_prod": dedup.simhash_pairs_prod,
            "dedup_simhash_wide": dedup.simhash_pairs_wide,
            "text_admission_decisions": lambda d: (
                dedup.text_admission_decisions(d, _text_corpus())
            ),
            "text_admission_wide": lambda d: dedup.text_admission_decisions(
                d, _text_corpus(), wide=True
            ),
        }),
        "bpe": (bpe.bpe_induction_relation, docs_table("documents"), {
            "bpe_merges": bpe.bpe_merge_table,
            "bpe_encode": bpe.bpe_encode_stats,
        }),
        "kmeans": (clustering.fit_centroids, docs_table("embeddings"), {
            "kmeans_assignments": clustering.kmeans_assignments,
            "kmeans_prototypes": clustering.kmeans_prototypes,
        }),
        "image_sigs": (perceptual.perceptual_hashes, _scene("scene_image"), {
            "media_perceptual_hashes": perceptual.perceptual_hashes,
            "media_near_dup": perceptual.media_near_dup,
            "media_near_dup_wide": perceptual.media_near_dup_wide,
            "media_near_dup_prod": perceptual.media_near_dup_prod,
            "media_near_dup_clusters": perceptual.media_near_dup_clusters,
            "media_split_leakage": lambda m: perceptual.media_split_leakage(
                m, split
            ),
            "media_admission_decisions": lambda m: (
                perceptual.media_admission_decisions(m, _media_corpus())
            ),
            "media_admission_wide": lambda m: (
                perceptual.media_admission_decisions(
                    m, _media_corpus(), wide=True
                )
            ),
        }),
        "video_sigs": (
            video.video_fingerprints_grid,
            _scene("scene_video_vflip"),
            {
                "video_fingerprints": lambda m: video.base_signatures_from_grid(
                    video.video_fingerprints_grid(m)
                ),
                "video_near_dup": lambda m: perceptual.banded_pairs(
                    video.base_signatures_from_grid(
                        video.video_fingerprints_grid(m)
                    ),
                    video.HAMMING_MAX,
                ),
                "video_near_dup_grid": video.video_near_dup_grid,
            },
        ),
        "mixed_sigs": (
            mixed.mixed_media_fingerprints,
            _scene("scene_mixed"),
            {
                "mixed_media_fingerprints": mixed.mixed_media_fingerprints,
                "mixed_media_near_dup": mixed.mixed_media_near_dup,
            },
        ),
        "audio_sigs": (audio.audio_fingerprints, _scene("scene_audio"), {
            "audio_fingerprints": audio.audio_fingerprints,
            "audio_near_dup": audio.audio_near_dup,
        }),
    }


@pytest.mark.parametrize("family", sorted(_families()))
def test_warm_face_matches_bare_operator(spark, sf_dir, family) -> None:
    """One session-relation memo (plans/memo.py): every registry face
    of a family, run back to back in one warm session, reads the
    family's shared relation — its producer misses exactly ONCE (no
    decode, tokenize or fixed point runs twice) — and returns the same
    rows as its bare operator recomputed after ``memo_clear()``."""
    from eventstreamd_spark import queries_registry as qr
    from eventstreamd_spark.plans import memo

    producer, source, faces = _families()[family]
    ident = (producer.__module__, producer.__qualname__)
    memo.memo_clear()
    warm = {name: _rows(qr.QUERIES[name](spark, sf_dir)) for name in faces}
    misses = [k for k in memo._MEMO if k[1:3] == ident]
    assert len(misses) == 1, (family, misses)
    for name, bare in faces.items():
        memo.memo_clear()
        assert _rows(bare(source(spark, sf_dir))) == warm[name], name
    memo.memo_clear()


def test_shared_keys_separate_parameter_tiers(spark, sf_dir) -> None:
    """A relation built with other parameters has another key: the
    pair tier at two thresholds (every planted pair of the small
    fixture scores >= 0.87, so 0.95 is the cut that separates rows)
    and at another shingle width are separate memo entries with
    different rows, so no consumer can be handed the wrong tier."""
    from eventstreamd_spark.plans.memo import _MEMO, memo_clear, shared

    memo_clear()
    docs = _planted(spark, sf_dir)
    lo = shared(dedup.minhash_lsh_dedup, docs, n=3, threshold=0.6)
    hi = shared(dedup.minhash_lsh_dedup, docs, n=3, threshold=0.95)
    n5 = shared(dedup.minhash_lsh_dedup, docs, n=5, threshold=0.6)
    assert {k[3] for k in _MEMO if k[2] == "minhash_lsh_dedup"} == {
        "[('n', 3), ('threshold', 0.6)]",
        "[('n', 3), ('threshold', 0.95)]",
        "[('n', 5), ('threshold', 0.6)]",
    }
    lo_rows, hi_rows = _rows(lo), _rows(hi)
    assert hi_rows < lo_rows
    assert all(r[2] >= 0.95 for r in hi_rows)
    assert _rows(n5) != lo_rows
    # defaults bind into the key: the canonical call is the same entry
    assert shared(dedup.minhash_lsh_dedup, docs) is lo
    memo_clear()


def test_non_default_tiers_ignore_canonical_relations(spark, sf_dir) -> None:
    """The tier-mix hazard the memo key closes: after the canonical
    (n=3, threshold=0.6) faces have filled the session, the recall
    report and pagerank at other parameters return exactly the rows
    they compute from an empty memo."""
    from eventstreamd_spark import queries_registry as qr
    from eventstreamd_spark.operators import graph
    from eventstreamd_spark.plans.memo import memo_clear

    docs = _planted(spark, sf_dir)
    cases = (
        lambda: dedup.lsh_recall_report(docs, threshold=0.95),
        lambda: dedup.lsh_recall_report(docs, n=5),
        lambda: graph.pagerank_canonical(docs, threshold=0.95),
    )
    memo_clear()
    for name in ("dedup_minhash_lsh", "dedup_clusters", "lsh_recall_report"):
        qr.QUERIES[name](spark, sf_dir).collect()
    warm = [_rows(case()) for case in cases]
    for case, rows in zip(cases, warm):
        memo_clear()
        assert _rows(case()) == rows
    memo_clear()


def test_shared_rejects_closure_producers(spark) -> None:
    """Producers must be module-level: a closure's captured variables
    are invisible to the key."""
    from eventstreamd_spark.plans.memo import shared

    df = spark.range(3)
    with pytest.raises(ValueError):
        shared(lambda d: d, df)

"""Round-11 SimHash tier: 64-bit signatures, 4 x 16-bit bands, and the
32-bit pair-band wide sibling (VERDICT r10 ask #1 — the SCALE.md §21
bucket-width-tracks-log2(n) rule applied to the text tier).

A pure-Python reference implementation pins the signature bit layout
(hi = md5 hex chars 1-8, lo = chars 9-16, majority vote with ties
set), so a silent Spark-side layout change cannot pass on
self-consistency alone; recall tests plant twins at controlled
Hamming distances and check each tier's pigeonhole guarantee.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F

from eventstreamd_spark.operators import dedup as dd


# ---------------------------------------------------------------------------
# Pure-Python reference (the spec, independent of both engines)
# ---------------------------------------------------------------------------


def _ref_tokens(text: str) -> list[str]:
    """Mirror of functions.text.tokens: lowercased whitespace split,
    empties dropped.  re.ASCII deliberately: Java regex \\s and RE2's
    \\s are both ASCII-only [ \\t\\n\\r\\f\\v], so the spec splits on
    exactly that set — Python's default Unicode \\s would also split
    on U+00A0 etc. and fork the reference from both engines."""
    import re

    return [t for t in re.split(r"\s+", text.lower(), flags=re.ASCII) if t]


def _ref_features(text: str, n: int = 3) -> list[str]:
    """Mirror of functions.text.word_shingles over tokens: distinct
    3-word shingles, whole-text fallback for short docs."""
    toks = _ref_tokens(text)
    if len(toks) >= n:
        raw = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    else:
        raw = [" ".join(toks)]
    seen: list[str] = []
    for s in raw:
        if s not in seen:
            seen.append(s)
    return seen


def _ref_simhash64(feats: list[str]) -> tuple[int, int]:
    n = len(feats)
    cnt = [0] * 64
    for t in feats:
        hx = hashlib.md5(t.encode("utf-8")).hexdigest()
        hi = int(hx[0:8], 16)
        lo = int(hx[8:16], 16)
        for j in range(32):
            cnt[32 + j] += (hi >> j) & 1
            cnt[j] += (lo >> j) & 1
    sig_hi = sum(
        (1 << j) for j in range(32) if 2 * cnt[32 + j] >= n
    )
    sig_lo = sum((1 << j) for j in range(32) if 2 * cnt[j] >= n)
    return sig_hi, sig_lo


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_signature_matches_pure_python_reference(spark) -> None:
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "lorem ipsum dolor sit amet consectetur adipiscing elit"),
        (3, "a"),
        (4, "unicode tokens café naïve über"),
        (5, ""),
    ]
    got = {
        r["doc_id"]: (r["sig_hi"], r["sig_lo"])
        for r in dd.simhash_signatures(_docs_df(spark, rows)).collect()
    }
    for doc_id, text in rows:
        want = _ref_simhash64(_ref_features(text))
        assert got[doc_id] == want, (doc_id, text, got[doc_id], want)
        # both halves live in [0, 2^32): band shifts stay non-negative
        assert 0 <= got[doc_id][0] < 1 << 32
        assert 0 <= got[doc_id][1] < 1 << 32


def _hamming(a: tuple[int, int], b: tuple[int, int]) -> int:
    return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")


def _twin_at_distance(base_text: str, lo: int, hi: int) -> tuple[str, int]:
    """Search appended-token variants for one whose 64-bit simhash sits
    at Hamming distance in [lo, hi] from the base — deterministic scan,
    no RNG."""
    base = _ref_simhash64(_ref_features(base_text))
    for i in range(4000):
        text = f"{base_text} v{i}"
        d = _hamming(_ref_simhash64(_ref_features(text)), base)
        if lo <= d <= hi:
            return text, d
    raise AssertionError(f"no twin at distance [{lo},{hi}] found")


BASE = (
    "shared corpus sentence with enough tokens to make the majority "
    "vote stable across small edits one two three four five six seven"
)


def test_standard_tier_recall_guarantee_h_le_3(spark) -> None:
    """Any pair at combined Hamming <= 3 MUST be returned (pigeonhole
    over 4 x 16-bit bands)."""
    t1, d1 = _twin_at_distance(BASE, 1, 3)
    rows = [(0, BASE), (1, t1)]
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dd.simhash_pairs(_docs_df(spark, rows)).collect()
    }
    assert (0, 1) in pairs
    assert pairs[(0, 1)] == d1


def test_wide_tier_recall_guarantee_h_le_2(spark) -> None:
    """The pair-band tier guarantees recall at combined Hamming <= 2
    (<= 2 dirty bands leave a clean pair)."""
    t1, d1 = _twin_at_distance(BASE, 1, 2)
    rows = [(0, BASE), (1, t1)]
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dd.simhash_pairs_wide(_docs_df(spark, rows)).collect()
    }
    assert (0, 1) in pairs
    assert pairs[(0, 1)] == d1


def test_wide_tier_is_subset_of_standard_tier(spark) -> None:
    """Every wide-tier pair is a standard-tier pair (same verify bound,
    strictly coarser candidate generation can only drop pairs)."""
    rows = [(i, f"{BASE} doc{i % 7}") for i in range(40)]
    rows += [(100 + i, f"{BASE} doc{i % 7} zz") for i in range(10)]
    docs = _docs_df(spark, rows)
    std = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dd.simhash_pairs(docs).collect()
    }
    wide = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dd.simhash_pairs_wide(docs).collect()
    }
    assert wide <= std
    assert wide, "planted identical-prefix twins must collide"


def test_identical_docs_hamming_zero_both_tiers(spark) -> None:
    rows = [(0, BASE), (1, BASE)]
    for fn in (dd.simhash_pairs, dd.simhash_pairs_wide):
        got = fn(_docs_df(spark, rows)).collect()
        assert len(got) == 1
        assert (got[0]["doc_a"], got[0]["doc_b"], got[0]["hamming"]) == (0, 1, 0)


def test_band_chunks_cover_signature_exactly(spark) -> None:
    """The 4 band slices reassemble the signature: no bit is sampled
    twice or dropped (layout audit — bands 0-1 from lo, 2-3 from hi)."""
    rows = [(1, BASE), (2, "another text entirely unrelated words here")]
    sig = dd.simhash_signatures(_docs_df(spark, rows))
    stacked = dd.simhash_band_stack(sig)
    rows_by_doc: dict[int, dict[int, int]] = {}
    for r in stacked.collect():
        rows_by_doc.setdefault(r["doc_id"], {})[r["band"]] = r["bhash"]
    for doc_id, bands in rows_by_doc.items():
        assert sorted(bands) == [0, 1, 2, 3]
    for r in sig.collect():
        b = rows_by_doc[r["doc_id"]]
        assert b[0] | (b[1] << 16) == r["sig_lo"]
        assert b[2] | (b[3] << 16) == r["sig_hi"]
        for v in b.values():
            assert 0 <= v < 1 << 16


def test_pair_band_stack_six_pairs_concat_key(spark) -> None:
    rows = [(1, BASE)]
    sig = dd.simhash_signatures(_docs_df(spark, rows))
    got = dd.simhash_pair_band_stack(sig).collect()
    assert len(got) == 6
    chunks = {}
    for r in dd.simhash_band_stack(sig).collect():
        chunks[r["band"]] = r["bhash"]
    keys = {r["band"]: r["bhash"] for r in got}
    k = 0
    for i in range(4):
        for j in range(i + 1, 4):
            assert keys[k] == (chunks[i] << 16) + chunks[j]
            assert 0 <= keys[k] < 1 << 32
            k += 1


def test_prod_guard_inert_on_real_corpus_collapses_flood(spark) -> None:
    """The guarded production twin equals the unguarded tier on a
    normal corpus (buckets far below the gate), and a planted
    2k-copy boilerplate flood collapses: flooded-bucket pairs are
    excluded while docs outside the flood keep their candidates."""
    rows = [(i, f"{BASE} unique{i} tail{i % 11}") for i in range(30)]
    rows += [(100 + i, f"{BASE} unique{i} tail{i % 11} zz") for i in range(10)]
    docs = _docs_df(spark, rows)
    std = {tuple(r) for r in dd.simhash_pairs(docs).collect()}
    prod = {tuple(r) for r in dd.simhash_pairs_prod(docs).collect()}
    assert prod == std  # guard provably inert off the flood path

    flood = [(1000 + i, "spam boilerplate page exactly the same text")
             for i in range(200)]
    flooded = _docs_df(spark, rows + flood)
    got = {tuple(r) for r in dd.simhash_pairs_prod(flooded, max_bucket=64).collect()}
    # flood pairs (199*200/2 = 19900 of them unguarded) are gone;
    # the real corpus's pairs survive untouched
    assert got == std


def test_text_admission_wide_face(spark, sf_dir) -> None:
    """Round-12 (VERDICT ask #6): the batch text-admission face with
    wide=True (32-bit pair-band layout).  Narrow and wide verdicts
    agree wherever the wide tier's recall guarantee applies; here the
    planted exact twin (Hamming 0, always within the pair-band bound)
    must reject against the index under BOTH layouts, and the full
    decision relation stays one-row-per-batch-doc."""
    from eventstreamd_spark.session import load_table

    docs = dd.with_planted_near_dups(
        load_table(spark, sf_dir, "documents").filter("doc_id < 40")
    ).localCheckpoint()
    in_corpus = (F.col("doc_id") < dd.PLANT_OFFSET) & (F.col("doc_id") % 2 == 0)
    n_batch = docs.filter(~in_corpus).count()
    by_wide = {}
    for wide in (False, True):
        rows = dd.text_admission_decisions(
            docs, in_corpus, wide=wide
        ).collect()
        assert len(rows) == n_batch
        by_wide[wide] = {r["doc_id"]: (r["keep"], r["reason"]) for r in rows}
    # plants of EVEN sources (doc_id % 10 == 0 -> in corpus, planted)
    # sit at small Hamming from their kept canonical; the ' zz' plant
    # of any corpus doc that deduped to itself must reject against the
    # index under the narrow tier, and every narrow index-rejection at
    # Hamming 0-2 is guaranteed under wide too — assert the planted
    # exact-duplicate class agrees across layouts
    narrow_idx_rejects = {
        d for d, (k, r) in by_wide[False].items() if r == "near_dup_index"
    }
    assert narrow_idx_rejects, "corpus plants must reject against index"
    wide_idx_rejects = {
        d for d, (k, r) in by_wide[True].items() if r == "near_dup_index"
    }
    # this corpus is plant-free and mutually dissimilar, so corpus
    # dedup keeps every doc under both layouts (identical index); with
    # the index fixed, the wide tier's coarser candidate generation
    # can only LOSE rejections relative to narrow, never invent them
    assert wide_idx_rejects <= narrow_idx_rejects
    assert wide_idx_rejects, "wide layout must still catch close twins"

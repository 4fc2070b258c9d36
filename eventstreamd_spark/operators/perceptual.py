"""Perceptual near-duplicate detection for media blobs (round-8,
VERDICT ask #5): exact digests (``multimodal.media_dedup``) miss
re-encoded or RESIZED duplicate images; the standard cheap fix is a
perceptual hash — aHash (average hash) and dHash (gradient hash) over
a downsampled grayscale grid — followed by Hamming-banded candidate
generation.  ``band_stack`` / ``banded_pairs`` here are the one
Hamming-band engine for every 64-bit signature family: the image,
audio, video and mixed tiers, and the text SimHash tiers
(``dedup.simhash_pairs*`` with ``dedup.TEXT_SIG_KINDS``).

Everything is integer arithmetic (no DCT, no libm):

- decode the PNG for REAL (functions/png.py: zlib inflate + scanline
  unfilter), grayscale = per-pixel channel-byte sum, downsample to an
  8x8 grid of (block_sum, block_px) pairs with integer block edges
  ``gi = (r*8)//h`` — exact for any image size;
- **aHash bit(i,j)** = ``S(i,j) * n_total >= S_total * n(i,j)`` — the
  "cell above corpus-free global mean" test, cross-multiplied so no
  division ever happens (ties deterministic via >=);
- **dHash bit(i,j)** = ``S(i,j) * n(i,j+1) > S(i,(j+1)%8) * n(i,j)``
  — the horizontal-gradient sign, cross-multiplied, wrap column keeps
  it at 64 bits;
- each 64-bit hash travels as two nonneg 32-bit halves in BIGINT
  columns (no sign-bit trap in either engine);
- candidates: 4 bands x 16 bits per hash (8 (kind, band) keys/doc),
  equi-join on (kind, band, bhash) — by pigeonhole a pair within
  Hamming 3 of EITHER hash is guaranteed a band collision; verify =
  combined 128-bit Hamming <= HAMMING_MAX via bit_count(xor).

Scale shape at 100 TB: per-image work is one Arrow-batched decode
kernel (mapInPandas); everything after is 5 BIGINTs/doc — the band
join shuffles 8 small rows per doc, bucket population is bounded by
the 16-bit band space times near-dup density; a degenerate corpus —
billions of all-black thumbnails — is handled by the opt-in
hot-bucket guard (``max_bucket`` on ``banded_pairs`` /
``banded_matches_against``, the ``dedup.ngram_jaccard_pairs``
df-cutoff idiom band-flavored); the verify is per-candidate O(1).
No all-pairs stage anywhere.

Fixture: ``documents_as_scene_media`` renders one REAL image per
document from a closed-form 8x8 "scene" (hash-mixed integer values),
at a per-member resolution AND codec — cohorts of 4 docs share a
scene: member 0 renders a 16x16 RGB PNG, member 1 renders a 64x64
grayscale baseline JPEG (a true CROSS-CODEC resized duplicate —
round-9 ask #1: the pair the md5 audit and a PNG-only hash tier are
both blind to), member 2 renders a 32x32 PNG with ONE scene cell
xor-perturbed (re-encode noise: tiny Hamming distance), member 3
gets a fresh-scene PNG (negative control).  Exactness holds across
both codecs: the scene is piecewise-constant on the 8x8 grid, PNG
render sizes are multiples of 8 (grid-aligned cells), and the JPEG
render size is a multiple of 64 so every scene cell spans whole
aligned 8x8 JPEG blocks — constant blocks are DC-only and round-trip
bit-exactly through the all-ones-quant integer codec
(functions/jpeg.py's exactness contract).  Channel count cancels out
of both cross-multiplied hash compares (they are homogeneous in the
gray sums), so the 1-channel JPEG and 3-channel PNG of the same
scene hash identically and the DuckDB oracle can state both hashes,
the banding, and the pair set purely arithmetically while the Spark
side exercises the full real pipeline (PNG/JPEG encode -> magic-byte
dispatch -> decode -> grid -> hash -> band join -> verify).

Reference parity note: the reference (srittau/eventstreamd) has no
media surface; this operator is part of the layer-B training-data
pipeline mandated by the build brief.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, functions as F

from eventstreamd_spark.plans.memo import shared
from eventstreamd_spark.session import fan_out

GRID = 8
N_CELLS = GRID * GRID
BAND_BITS = 16
N_BANDS = 4  # per 64-bit hash
HAMMING_MAX = 10  # combined aHash+dHash verify threshold
COHORT = 4
# member render sizes: PNG members are multiples of GRID; the JPEG
# member (index 1) is a multiple of 8*GRID so scene cells span whole
# aligned JPEG blocks (the constant-block exactness contract)
MEMBER_SIZES = (16, 64, 32, 16)
JPEG_MEMBER = 1
PERTURB_XOR = 64

# scene-value mix: murmur-style finalizer (multiply, xorshift, x2, take
# the HIGH byte).  Two properties matter and were verified empirically
# (1200 scenes / 719k pairs): (a) cross-scene hash Hamming >= 29 — an
# affine-in-s mix fails here catastrophically, because both hashes are
# invariant under a constant brightness shift and the low bits of a
# modular product depend only on low input bits, so v MUST come from
# the high byte after the final multiply; (b) every intermediate
# product stays under 2^63 for s up to ~10^9 (DuckDB BIGINT is the
# binding constraint — Python ints don't overflow).
_MIX_K1 = 2654435761  # Knuth multiplicative
_MIX_K2 = 1597334677  # xorshift* mix
_MIX_K3 = 1540483477  # murmur2 M (keeps 2^32 * K3 < 2^63)
_MIX_CELL = 40503
_MIX_ADD = 12345
_M32 = 4294967296  # 2^32

# right-half byte mix for the video tier's spatial fixture: the frame
# at scene value v renders left half = v, right half = g(v).  166v is
# even and 13 odd, so g(v) != v for EVERY byte — a half-swap (the
# spatial-permutation negative control) inverts all 64 sBits.
_SQL_G = "(({v} * 167 + 13) % 256)"

# bottom-half byte mix for the video tier (round 11): the frame at
# scene value v renders top rows left=v right=g(v) over a UNIFORM
# bottom half h(v), giving frames VERTICAL structure so a top/bottom
# flip is a real spatial permutation (the grid word's planted
# negative).  5 odd keeps h a byte bijection, and 5 specifically was
# CHOSEN BY THE BIT-BALANCE AUDIT (tools/bit_balance.py --tier video):
# the first candidate (89v+71) left the energy cell u = v + g + 2h
# skewed — P(u >= mean) = 0.613 over uniform v — which put every
# video eBit at p ~ 0.61 and inflated 16-bit a-band collisions 2.1x
# (the §21 quadratic-constant class).  With h = 5v: e-bit inflation
# 1.00x, zero top/bottom ties (v + g != 2h for every byte), and all
# three quadrant-bit families balanced at 0.50.
_SQL_H = "(({v} * 5) % 256)"


def _g_byte(v: int) -> int:
    """Python twin of ``_SQL_G``."""
    return (v * 167 + 13) % 256


def _h_byte(v: int) -> int:
    """Python twin of ``_SQL_H``."""
    return (v * 5) % 256


def _scene_value(s: int, cell: int) -> int:
    """Closed-form scene byte for (scene s, grid cell 0..63) — the
    formula the DuckDB oracle replays verbatim."""
    h1 = ((s + 1) * _MIX_K1) % _M32
    h1 ^= h1 >> 13
    h2 = ((h1 + cell * _MIX_CELL + _MIX_ADD) * _MIX_K2) % _M32
    h2 ^= h2 >> 16
    return ((h2 * _MIX_K3) % _M32) >> 24


def _doc_scene(doc_id: int) -> tuple[int, int, bool]:
    """(scene key, render size, perturbed?) for a document."""
    m = doc_id % COHORT
    s = 2 * (doc_id // COHORT) + (1 if m == 3 else 0)
    return s, MEMBER_SIZES[m], m == 2


def _synth_scene_media(doc_id: int) -> bytes:
    """Render the document's scene as a REAL image at its member
    resolution and codec — grayscale-in-RGB PNG for members 0/2/3, a
    1-channel all-ones-quant baseline JPEG for member 1 (the
    cross-codec twin); pixel (r,c) shows scene cell
    ((r*8)//size, (c*8)//size)."""
    from eventstreamd_spark.functions.jpeg import encode_jpeg
    from eventstreamd_spark.functions.png import encode_png

    s, size, perturbed = _doc_scene(doc_id)
    pcell = s % N_CELLS
    vals = []
    for cell in range(N_CELLS):
        v = _scene_value(s, cell)
        if perturbed and cell == pcell:
            v ^= PERTURB_XOR
        vals.append(v)
    if doc_id % COHORT == JPEG_MEMBER:
        px = bytearray(size * size)
        i = 0
        for r in range(size):
            gi = (r * GRID) // size
            for c in range(size):
                px[i] = vals[gi * GRID + (c * GRID) // size]
                i += 1
        return encode_jpeg(size, size, 1, bytes(px), quant_luma=[1] * 64)
    px = bytearray(size * size * 3)
    i = 0
    for r in range(size):
        gi = (r * GRID) // size
        for c in range(size):
            v = vals[gi * GRID + (c * GRID) // size]
            px[i] = px[i + 1] = px[i + 2] = v
            i += 3
    return encode_png(size, size, 3, bytes(px))


def documents_as_scene_media(docs: DataFrame) -> DataFrame:
    """Adapter: one scene-rendered image per document (stands in for
    the object-store fetch stage, like the other media adapters);
    media_type reflects the per-member codec."""
    from eventstreamd_spark.operators.multimodal import _synth_media_adapter

    return _synth_media_adapter(
        docs,
        _synth_scene_media,
        F.when(
            F.col("doc_id") % COHORT == JPEG_MEMBER, F.lit("image/jpeg")
        ).otherwise(F.lit("image/png")),
    )


def _grid_hashes(blob: bytes) -> tuple[int, int, int, int]:
    """(a_hi, a_lo, d_hi, d_lo) from a decoded image (PNG or baseline
    JPEG, magic-byte dispatch) — pure integer pipeline; works for ANY
    image size >= 8x8 (integer block edges).  Channel count cancels
    out of both cross-multiplied compares, so a grayscale JPEG and an
    RGB PNG of the same content hash identically.
    Overflow note: the cross-multiplied compares stay inside int64 for
    images up to ~10^8 pixels (S <= 765*W*H, times n_total = W*H)."""
    import numpy as np

    from eventstreamd_spark.functions.image import decode_image

    w, h, channels, pixels = decode_image(blob)
    # uint8 view + int64-ACCUMULATOR channel sum (round 13): the old
    # whole-buffer astype(int64) copied and widened every byte 8x first
    gray = (
        np.frombuffer(pixels, dtype=np.uint8)
        .reshape(h, w, channels)
        .sum(axis=2, dtype=np.int64)
    )  # channel-byte sum
    gi = (np.arange(h, dtype=np.int64) * GRID) // h
    gj = (np.arange(w, dtype=np.int64) * GRID) // w
    idx = (gi[:, None] * GRID + gj[None, :]).ravel()
    # bincount-with-weights instead of np.add.at (round 13): add.at is
    # unbuffered and ~10x slower; the float64 accumulation is EXACT for
    # these integers (cell sums <= 765*W*H < 2^53 by the overflow note
    # above), and the cast back to int64 is value-identical
    S = np.bincount(idx, weights=gray.ravel(), minlength=N_CELLS).astype(
        np.int64
    )
    n = np.bincount(idx, minlength=N_CELLS).astype(np.int64)
    abits = S * n.sum() >= S.sum() * n
    S8, n8 = S.reshape(GRID, GRID), n.reshape(GRID, GRID)
    Sn, nn = np.roll(S8, -1, axis=1), np.roll(n8, -1, axis=1)
    dbits = (S8 * nn > Sn * n8).ravel()

    def pack(bits) -> tuple[int, int]:
        lo = hi = 0
        for k in range(32):
            lo |= int(bits[k]) << k
            hi |= int(bits[32 + k]) << k
        return hi, lo

    a_hi, a_lo = pack(abits)
    d_hi, d_lo = pack(dbits)
    return a_hi, a_lo, d_hi, d_lo


HASH_SCHEMA = "doc_id bigint, a_hi bigint, a_lo bigint, d_hi bigint, d_lo bigint"


def perceptual_hashes(media: DataFrame) -> DataFrame:
    """Per-blob aHash/dHash as two 32-bit halves each — the decode is
    the per-row cost, so fan_out before the Arrow kernel (SCALE.md §15
    rule) and project to (doc_id, blob) first (nothing prunes through
    the mapInPandas barrier)."""
    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = [_grid_hashes(bytes(b)) for b in pdf["blob"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "a_hi": pd.Series([t[0] for t in hashes], dtype="int64"),
                    "a_lo": pd.Series([t[1] for t in hashes], dtype="int64"),
                    "d_hi": pd.Series([t[2] for t in hashes], dtype="int64"),
                    "d_lo": pd.Series([t[3] for t in hashes], dtype="int64"),
                }
            )

    return fan_out(media.select("doc_id", "blob")).mapInPandas(
        kernel, schema=HASH_SCHEMA
    )


CODEC_SCHEMA = (
    "doc_id bigint, codec string, width int, height int, "
    "channels int, gray_total bigint"
)


def image_codec_manifest(media: DataFrame) -> DataFrame:
    """Codec-dispatched decode audit: (doc_id, codec, width, height,
    channels, gray_total) where ``codec`` comes from MAGIC BYTES (not
    the metadata column — content is the truth at ingest) and
    ``gray_total`` is the exact integer sum of every decoded sample
    byte.  Exercises the full real JPEG decode path (Huffman ->
    dequant -> integer IDCT) next to the PNG path in one kernel, with
    an integer-exact oracle; the multimodal mirror of the manifest
    idiom with decode-level (not container-level) evidence."""
    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from eventstreamd_spark.functions.image import decode_image, image_kind

        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                b = bytes(blob)
                w, h, ch, px = decode_image(b)
                rows.append(
                    (int(doc_id), image_kind(b), w, h, ch, sum(px))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "codec", "width", "height", "channels",
                    "gray_total",
                ],
            )

    return fan_out(media.select("doc_id", "blob")).mapInPandas(
        kernel, schema=CODEC_SCHEMA
    )


_KINDS = (("a", "a_hi", "a_lo"), ("d", "d_hi", "d_lo"))


def _halves_of(kinds) -> tuple:
    return tuple(c for _, hi, lo in kinds for c in (hi, lo))


def band_stack(sig: DataFrame, kinds=_KINDS, wide: bool = False) -> DataFrame:
    """Explode a (doc_id, <halves>) signature relation into its banded
    (band, bhash) rows, the signature halves riding along for the
    verify step — the one banding layout of every Hamming candidate
    tier.  Each 64-bit word of ``kinds`` splits into 4 x 16-bit chunks
    ``{kind}0..{kind}3`` (0-1 from the lo half, 2-3 from the hi half);
    ``kinds`` picks the signature family: the media (a, d) word pair
    by default, one SimHash word (``dedup.TEXT_SIG_KINDS``), or the
    video grid tier's three words.

    ``wide`` emits one row per unordered chunk PAIR instead, labelled
    ``{ni}|{nj}`` and bucketed on the concatenated 32-bit key
    ``(ci << 16) + cj``.  The wide tier's candidate math (measured,
    SCALE.md §20): 16-bit buckets collide at ~n^2/2^16 — 44M random
    candidates at sf10 on the media tier, quadratic in every further
    decade — while 32-bit pair buckets collide at ~n^2/2^32, at the
    cost of C(c, 2) rows/doc instead of c for c chunks.  Recall: a
    pair within combined Hamming c - 2 leaves at least two clean
    chunks, so some clean pair collides — guaranteed, one notch
    tighter than the single-band tier's c - 1."""
    mask = (1 << BAND_BITS) - 1
    halves = _halves_of(kinds)
    chunks = []
    for kind, hi, lo in kinds:
        for b in range(N_BANDS):
            src = F.col(lo) if b < 2 else F.col(hi)
            shift = (b % 2) * BAND_BITS
            chunks.append(
                (f"{kind}{b}",
                 F.shiftright(src, shift).bitwiseAND(F.lit(mask)))
            )
    if wide:
        chunks = [
            (f"{ni}|{nj}", F.shiftleft(ci, BAND_BITS) + cj)
            for i, (ni, ci) in enumerate(chunks)
            for nj, cj in chunks[i + 1:]
        ]
    bands = [
        F.struct(F.lit(name).alias("band"), key.alias("bhash"))
        for name, key in chunks
    ]
    return sig.select(
        "doc_id", *halves, F.explode(F.array(*bands)).alias("bb")
    ).select(
        "doc_id",
        *halves,
        F.col("bb.band").alias("band"),
        F.col("bb.bhash").alias("bhash"),
    )


def _drop_hot_buckets(stacked: DataFrame, max_bucket: int) -> DataFrame:
    """The degenerate-corpus guard (dedup's df-cutoff idiom, band
    flavored): band rows in a bucket with more than ``max_bucket``
    members are EXCLUDED from candidate generation, bounding the
    bucket self-join at max_bucket^2 regardless of input.  The flood
    case it exists for — billions of near-identical thumbnails landing
    in one 16-bit bucket — is exactly the population whose pairs carry
    no information (byte-identical members belong to the upstream
    exact-digest dedup); recall loss is confined to the flooded
    buckets, and a doc's OTHER bands still generate its candidates.
    The size table is bounded by 8 x 2^16 keys (map-side combined),
    so the gate join broadcasts."""
    sizes = (
        stacked.groupBy("band", "bhash")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") <= max_bucket)
        .select("band", "bhash")
    )
    return stacked.join(F.broadcast(sizes), ["band", "bhash"])


def banded_pairs(
    sig: DataFrame,
    hamming_max: int,
    max_bucket: int | None = None,
    kinds=_KINDS,
    wide: bool = False,
) -> DataFrame:
    """Shared Hamming-banded candidate + verify tier over ANY
    signature relation of the ``kinds`` family — ``band_stack``'s
    buckets, equi-join on (band, bhash), combined-Hamming verify.
    Used by every near-dup pair tier: the SimHash text tiers
    (``dedup.simhash_pairs*``), the image tier (``media_near_dup``),
    audio, video and mixed; recall guarantee as documented on
    ``media_near_dup``.  ``max_bucket`` opts into the hot-bucket
    guard (``_drop_hot_buckets``) for degenerate corpora.

    ``wide`` buckets on 32-bit chunk PAIRS (``band_stack``): the tier
    for corpora where 16-bit buckets' ~n^2/2^16 random collisions
    become the bill (measured at sf10: 44M candidates for 500k media
    docs).  Same verify, same output schema; guaranteed recall drops
    one notch (media: combined Hamming <= 6 instead of <= 7; SimHash:
    <= 2 instead of <= 3).  The wide tiers run without the guard: its
    gate table over a 2^32 key space per band is not broadcastable,
    so a flood-exposed ingest guards at the 16-bit tier or upstream
    exact-dedup.

    Verify BEFORE distinct (the order the SQL tail always had): random
    16-bit band collisions grow as ~N^2/2^16 once bucket occupancy
    passes 1, and an early ``distinct`` shuffles every one of them
    carrying both signatures (10 columns wide).  The Hamming verify is
    a handful of JVM bit ops — evaluating it per COLLISION and
    deduplicating only the survivors shuffles O(true pairs) rows of 3
    ints instead.  Found by the sf10 probe: the mixed tier measured
    a10 = 1.16 with the old order (SCALE.md §19)."""
    stacked = band_stack(sig, kinds, wide)
    if max_bucket is not None:
        stacked = _drop_hot_buckets(stacked, max_bucket)
    l, r = stacked.alias("l"), stacked.alias("r")
    joined = l.join(
        r,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bhash") == F.col("r.bhash"))
        & (F.col("l.doc_id") < F.col("r.doc_id")),
    )
    hamming = sum(
        F.bit_count(F.col(f"l.{c}").bitwiseXOR(F.col(f"r.{c}")))
        for c in _halves_of(kinds)
    )
    return (
        joined.select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_max)
        .distinct()
    )


def banded_matches_against(
    probe_sig: DataFrame,
    index_sig: DataFrame,
    hamming_max: int = HAMMING_MAX,
    max_bucket: int | None = None,
    broadcast_probe: bool = False,
    kinds=_KINDS,
    wide: bool = False,
    dedup: bool = True,
) -> DataFrame:
    """Cross-relation candidate + verify: every (probe doc, index doc)
    pair whose combined 128-bit Hamming distance is within
    ``hamming_max``, found through the banded equi-join — the
    admission primitive of the incremental media tier
    (streaming/pipeline.py::start_media_admission).

    Scale shape: with ``broadcast_probe`` (the STREAMING writer's
    setting — its probe is a micro-batch) the index — the 100 TB
    corpus's kept signatures — is scanned once per trigger with NO
    shuffle, and the scan is partition-PRUNED to the batch's buckets
    when the index arrives pre-stacked from the band-partitioned
    layout (streaming/pipeline.py writes partitionBy(band, bp)); an
    ``index_sig`` that already carries ``band``/``bhash`` columns is
    taken as stacked in the ``wide`` layout asked for.  The BATCH face leaves ``broadcast_probe``
    off: its probe can be half the corpus, and a forced broadcast of 8
    rows/doc would blow the driver at scale (round-9 ADVICE) — AQE
    picks the strategy from actual sizes instead.  Candidate volume is
    O(|probe| x bucket density) either way, never O(|index|^2).

    Returns (doc_id, index_doc, hamming) — one row per verified match,
    doc_id from the probe side.  ``max_bucket`` applies the hot-bucket
    guard to the INDEX side (the unbounded one at ingest).  ``kinds``
    picks the signature family (default: the media (a, d) word pair;
    the text admission face passes the SimHash word).  ``dedup=False``
    (round 13) skips the trailing distinct for consumers whose next
    operator is itself an aggregation over the matches (the admission
    kernel's per-doc MIN) — min over the multi-band duplicate rows
    equals min over the distinct rows, and the dedup exchange was one
    AQE stage per face of pure overhead."""
    halves = _halves_of(kinds)
    probe = band_stack(probe_sig, kinds, wide).alias("p")
    if broadcast_probe:
        probe = F.broadcast(probe)
    index_stacked = (
        index_sig if "bhash" in index_sig.columns
        else band_stack(index_sig, kinds, wide)
    )
    if max_bucket is not None:
        index_stacked = _drop_hot_buckets(index_stacked, max_bucket)
    index = (
        index_stacked
        .select(
            F.col("doc_id").alias("index_doc"),
            *[F.col(c).alias(f"{c}_i") for c in halves],
            "band",
            "bhash",
        )
        .alias("i")
    )
    joined = index.join(
        probe,
        (F.col("i.band") == F.col("p.band"))
        & (F.col("i.bhash") == F.col("p.bhash")),
    )
    hamming = sum(
        F.bit_count(F.col(f"p.{c}").bitwiseXOR(F.col(f"i.{c}_i")))
        for c in halves
    )
    matches = joined.select(
        F.col("p.doc_id").alias("doc_id"),
        F.col("i.index_doc").alias("index_doc"),
        hamming.cast("int").alias("hamming"),
    ).filter(F.col("hamming") <= hamming_max)
    return matches.distinct() if dedup else matches


def media_near_dup(
    media: DataFrame,
    hamming_max: int = HAMMING_MAX,
) -> DataFrame:
    """Banded perceptual near-dup pairs (simhash_pairs idiom): 4 bands
    x 16 bits per hash; a pair within Hamming 3 of either hash is
    GUARANTEED a band collision (pigeonhole), so the planted one-cell
    perturbation (dHash distance <= 2 by construction — a flipped cell
    touches exactly its two horizontal comparisons) can never be
    missed; verify = combined 128-bit Hamming <= ``hamming_max``.

    **Recall semantics**: candidate RECALL is fixed by the band
    structure, not by ``hamming_max`` — with 8 bands over the combined
    128 bits, a collision is pigeonhole-guaranteed only for pairs
    within combined Hamming 7 (equivalently <= 3 on either single
    hash); beyond that, candidates surface only probabilistically
    (any one band happening to match).  Raising ``hamming_max`` above
    7 therefore loosens only the VERIFY threshold and does not widen
    candidate generation; to genuinely raise guaranteed recall you
    must also increase ``N_BANDS`` (bands >= hamming+1 over the bits
    you band).  The Spark side and the DuckDB oracle share the exact
    banding, so parity holds at any ``hamming_max``.

    Decode-once: the signature relation is the session's shared one
    (plans/memo.py), a materialized leaf before the banded SELF-join —
    without it both join legs re-run the Arrow decode kernel through
    lineage, doubling the dominant per-blob cost (measured 2x in-bench
    on all three media tiers; at 100 TB the decode IS the bill, so
    paying it twice is a plan bug, not noise) — and every image tier
    in the session reads the same one decode pass.
    """
    return banded_pairs(shared(perceptual_hashes, media), hamming_max)


# Production guard width: a bucket carrying more members than this is
# excluded from candidate generation.  64 is ~20x the densest bucket
# any non-degenerate fixture produces (cohort twins share buckets in
# 3s), so recall on real corpora is untouched, while a thumbnail
# flood — millions of near-identical blobs in one 16-bit bucket —
# stays subquadratic (the flood pytest plants one and proves it).
PROD_MAX_BUCKET = 64


def media_near_dup_prod(
    media: DataFrame,
    hamming_max: int = HAMMING_MAX,
    max_bucket: int = PROD_MAX_BUCKET,
) -> DataFrame:
    """The GUARDED production twin of ``media_near_dup`` (round-10,
    VERDICT ask #4 — the sketch-tier prod-twin idiom): identical
    banding and verify, with the hot-bucket guard ON, mirrored by the
    oracle.  The unguarded ``media_near_dup`` stays registered as the
    exact-recall evaluation sibling; a production ingest should run
    this one.  Signatures as on ``media_near_dup``."""
    return banded_pairs(
        shared(perceptual_hashes, media), hamming_max, max_bucket=max_bucket
    )


def media_near_dup_wide(
    media: DataFrame,
    hamming_max: int = HAMMING_MAX,
) -> DataFrame:
    """The WIDE-BUCKET sibling of ``media_near_dup`` for corpora
    where 16-bit buckets' random collisions are the bill
    (``banded_pairs(..., wide=True)``: 32-bit pair buckets, n^2/2^32 candidate
    growth, guaranteed recall at combined Hamming <= 6 instead of
    <= 7).  Verify threshold unchanged, so pairs between Hamming 7
    and ``hamming_max`` surface only probabilistically — the standard
    LSH r-vs-recall dial, stated in the open: 16-bit tier for
    guaranteed-recall evaluation and moderate n, 32-bit tier when n
    makes the candidate term dominate.  Signatures as on
    ``media_near_dup``."""
    return banded_pairs(
        shared(perceptual_hashes, media), hamming_max, wide=True
    )


def media_near_dup_clusters(
    media: DataFrame,
    hamming_max: int = HAMMING_MAX,
    max_iters: int = 16,
) -> DataFrame:
    """Canonical keep/drop decision for media: (doc_id, cluster_id,
    keep) where cluster_id = min doc_id of the perceptual near-dup
    connected component and ``keep`` marks the canonical copy — the
    step that turns pairwise output into the dedup a pipeline actually
    executes ("keep one image per cluster"), mirroring
    ``dedup.dedup_clusters`` over the perceptual pair tier.

    Same composition: the banded pair tier feeds the alternating
    large-star/small-star fixed point (O(log n) rounds) over the
    session's shared signature relation (a materialized leaf, so
    neither the pair self-join nor the rounds re-run the hash kernel
    through lineage); singletons restored by one left join against
    the signature relation, which carries one row per blob."""
    sig = shared(perceptual_hashes, media)
    return _sig_clusters(sig.select("doc_id"), sig, hamming_max, max_iters)


def _sig_clusters(
    doc_ids: DataFrame, sig: DataFrame, hamming_max: int, max_iters: int,
    kinds=_KINDS, wide: bool = False,
) -> DataFrame:
    """(doc_id, cluster_id, keep) over a precomputed signature relation
    — banded pairs -> large-star/small-star fixed point, singletons
    restored from ``doc_ids`` (the doc universe, which may be wider
    than the docs appearing in any pair)."""
    from eventstreamd_spark.operators.dedup import connected_components

    # no edge checkpoint (round 13): connected_components' single-scan
    # window-form star passes read the symmetrized edges exactly ONCE
    # in the initial round (the old join-form stars read them up to
    # 4x, which forced an eager localCheckpoint here — one extra
    # driver-synchronized job per face; the banded pair join now runs
    # once through lineage, inside the convergence probe's job)
    edges = (
        banded_pairs(sig, hamming_max, kinds=kinds, wide=wide)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    comp = connected_components(edges, max_iters)
    return (
        doc_ids.select("doc_id")
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias(
                "cluster_id"
            ),
        )
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
    )


def admission_decisions_from_sig(
    batch_sig: DataFrame,
    index_sig: DataFrame,
    hamming_max: int = HAMMING_MAX,
    max_iters: int = 16,
    max_bucket: int | None = None,
    broadcast_probe: bool = False,
    kinds=_KINDS,
    wide: bool = False,
) -> DataFrame:
    """The incremental-admission decision over precomputed signatures
    — the SINGLE implementation behind both the batch operator
    (``media_admission_decisions``) and the streaming foreachBatch
    kernel (streaming/pipeline.py::media_admission_writer), so batch
    and stream verdicts agree by construction.

    Steps: (1) batch docs matching any kept-canonical signature in the
    index (banded candidates, Hamming verify) are rejected with
    ``cluster_id`` = the minimal matching canonical; (2) the survivors
    run the in-batch cluster tier (banded self-pairs -> star fixed
    point, min-doc_id canonical).  Returns one row per batch doc:
    (doc_id, cluster_id, keep, reason) with reason in {'kept',
    'near_dup_batch', 'near_dup_index'}.

    The keyword passthroughs tune the index join for the two faces:
    the STREAMING writer sets ``broadcast_probe`` (micro-batch probe)
    and passes the band-partitioned layout pre-stacked and
    partition-pruned as ``index_sig`` (``banded_matches_against``
    takes a relation carrying ``band``/``bhash`` as stacked); the
    BATCH face passes plain signatures and leaves ``broadcast_probe``
    off so AQE sizes the join.  ``max_bucket`` applies the
    hot-bucket guard to the index side on either face."""
    # the rejected set is read three times downstream (the survivor
    # anti-join feeding the in-batch cluster tier's edge pass, the
    # singleton-restore leg, and the final union leg) — materialize
    # the banded index join + verify ONCE instead of letting each
    # consumer re-run it through lineage; the checkpointed relation
    # is one small (doc_id, cluster_id) row per rejected doc.
    # EAGER deliberately (round-13 measured wrong turn): the lazy form
    # saves one driver-synchronized job per face but the media faces
    # regressed 1.3x fresh-vs-fresh (4.53 vs 3.39 / 5.23 vs 4.02
    # best-of-4 alternated) — the eager checkpoint hands the planner
    # the EXACT materialized size of `rejected`, which drives the
    # survivor anti-join and final-union planning; lazily checkpointed
    # LogicalRDDs carry no such stats.  Text faces were ~0.9x either
    # way; net across the four faces the eager form wins.
    rejected = (
        banded_matches_against(
            batch_sig,
            index_sig,
            hamming_max,
            max_bucket=max_bucket,
            broadcast_probe=broadcast_probe,
            kinds=kinds,
            wide=wide,
            # the per-doc MIN below absorbs multi-band duplicate
            # matches; skipping the tier's distinct removes one
            # exchange per face (see banded_matches_against)
            dedup=False,
        )
        .groupBy("doc_id")
        .agg(F.min("index_doc").alias("cluster_id"))
        .localCheckpoint()
    )
    survivors = batch_sig.join(rejected.select("doc_id"), "doc_id", "left_anti")
    clustered = _sig_clusters(
        survivors.select("doc_id"), survivors, hamming_max, max_iters, kinds,
        wide,
    )
    return clustered.select(
        "doc_id",
        "cluster_id",
        "keep",
        F.when(F.col("keep"), F.lit("kept"))
        .otherwise(F.lit("near_dup_batch"))
        .alias("reason"),
    ).unionByName(
        rejected.select(
            "doc_id",
            "cluster_id",
            F.lit(False).alias("keep"),
            F.lit("near_dup_index").alias("reason"),
        )
    )


# the registered admission split, chosen so every decision class is
# exercised: corpus = cohort members {0,1} of EVEN cohorts (a real
# near-dup cluster whose canonical enters the index) plus member 3 of
# every cohort (fresh-scene singletons); batch = the rest — member 2
# of even cohorts rejects against the index ('near_dup_index'), odd
# cohorts' members {0,1,2} cluster in-batch ('kept'/'near_dup_batch')
ADMIT_CORPUS_MOD8 = (0, 1, 3, 7)


def media_admission_decisions(
    media: DataFrame,
    in_corpus: Column,
    hamming_max: int = HAMMING_MAX,
    max_iters: int = 16,
    wide: bool = False,
) -> DataFrame:
    """Batch-verifiable incremental admission: dedup the CORPUS (the
    rows of ``media`` where the doc_id predicate ``in_corpus`` holds)
    first — its kept canonicals' signatures form the banded perceptual
    index — then admit the BATCH (every other row) against that index:
    the relation the streaming tier materializes per micro-batch, as
    one DataFrame a SQL oracle can state.  At 100 TB this is the nightly-ingest shape:
    the corpus index is a prebuilt signature table (5 BIGINTs/doc) and
    only the new batch is decoded.  ``wide`` opts both the corpus
    dedup and the admission join into the 32-bit pair-band layout
    (the 10^9-doc tier; recall bound drops to the pair-band
    pigeonhole guarantee, the dial ``banded_pairs`` states).
    Both splits filter the session's ONE decode pass over ``media``
    (signatures are per-doc and deterministic, so filtering equals
    decoding the split), shared with every image near-dup tier."""
    sig = shared(perceptual_hashes, media)
    corpus_sig = sig.filter(in_corpus)
    index_sig = corpus_sig.join(
        _sig_clusters(
            corpus_sig.select("doc_id"), corpus_sig, hamming_max, max_iters,
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
        wide=wide,
    )


def media_split_leakage(
    media: DataFrame,
    weights: dict[str, float],
    salt: str = "m1",
    hamming_max: int = HAMMING_MAX,
) -> DataFrame:
    """Cross-split leakage audit for MEDIA: perceptual near-dup pairs
    that straddle a train/val/test boundary — the media mirror of
    ``dedup.split_leakage_check``.  Hash-disjoint splits separate
    BLOBS, not content: a test image whose resized or re-encoded twin
    sits in train is a leaked answer that the exact-digest split audit
    (md5-keyed) cannot see by construction.

    Composition: the banded perceptual pair tier (bounded candidates,
    Hamming verify) + the hash-gated split assignment joined on both
    8-byte pair legs; grouped by the canonicalized boundary.  Same
    two-leg note as the text twin: ``splits`` is a doc_id hash over a
    pruned single-column scan — recomputing it per leg is cheaper
    than materializing it."""
    from eventstreamd_spark.operators.sampling import dataset_split

    pairs = media_near_dup(media, hamming_max)
    splits = dataset_split(
        media.select("doc_id"), "doc_id", weights, salt=salt
    ).select("doc_id", "split")
    tagged = pairs.join(
        splits.select(
            F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
        ),
        "doc_a",
    ).join(
        splits.select(
            F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
        ),
        "doc_b",
    )
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


# ---------------------------------------------------------------------------
# DuckDB oracles — the arithmetic twins (scene formula, never PNG bytes)
# ---------------------------------------------------------------------------


def _sql_scene_hashes(
    table: str = "documents", s_offset: int = 0, neighbor: str = "grid"
) -> str:
    """Shared CTE chain ending in ``sig(doc_id, a_hi, a_lo, d_hi,
    d_lo)``.  Uniform block sizes (render sizes are multiples of 8)
    cancel out of both cross-multiplied compares, so the oracle's bits
    depend only on the 64 scene bytes — exactly the resize invariance
    the operator exists to provide.  ``s_offset`` shifts the scene key
    space (the audio tier keys its scenes disjointly from the image
    tier); ``neighbor`` picks the second word's topology —
    'grid' = dBit wraps within 8-cell rows (image gradient),
    'linear' = dBit wraps over all 64 cells (a time axis),
    'audio_spectral' = zBit: per-window zero-crossing compare, stated
    as ``r(v) > r(v_next)`` with r(v) = 16 >> (v % 3) and r(0) = 0
    (the w = 16 representative of the rate-free transition count),
    'video_spatial' = sBit: ``v > g(v)`` with g the right-half byte
    mix (and the ENERGY cell becomes v + g(v), both halves)."""
    if neighbor == "grid":
        nx_cell = f"(g.cell // {GRID}) * {GRID} + (g.cell + 1) % {GRID}"
    elif neighbor in ("linear", "audio_spectral", "video_spatial"):
        nx_cell = f"(g.cell + 1) % {N_CELLS}"
    else:
        raise ValueError(f"unknown neighbor topology {neighbor!r}")
    if neighbor == "audio_spectral":
        r_l = "CASE WHEN g.val = 0 THEN 0 ELSE 16 >> (g.val % 3) END"
        r_r = "CASE WHEN nx.val = 0 THEN 0 ELSE 16 >> (nx.val % 3) END"
        # crossing-count compare, ENERGY tiebreak on equal counts — the
        # tiebreak balances the bit (raw compare is true with p ~ 1/3,
        # and biased bits inflate banded collisions; SCALE.md §20)
        dbit_expr = (
            f"CASE WHEN ({r_l}) > ({r_r}) THEN 1 "
            f"WHEN ({r_l}) = ({r_r}) AND g.val > nx.val THEN 1 "
            f"ELSE 0 END"
        )
        e_cell, e_cell_g = "val", "g.val"
    elif neighbor == "video_spatial":
        # round-11 frame layout: top rows v|g(v), uniform bottom h(v)
        # — the ENERGY cell is v + g(v) + 2h(v); the sBit stays v >
        # g(v) (L - R = (v - g(v)) * size^2/4, the bottom half
        # contributes equally to both column halves)
        dbit_expr = (
            f"CASE WHEN g.val > {_SQL_G.format(v='g.val')} THEN 1 ELSE 0 END"
        )
        e_cell = f"val + {_SQL_G.format(v='val')} + 2 * {_SQL_H.format(v='val')}"
        e_cell_g = (
            f"g.val + {_SQL_G.format(v='g.val')} + 2 * {_SQL_H.format(v='g.val')}"
        )
    else:
        dbit_expr = "CASE WHEN g.val > nx.val THEN 1 ELSE 0 END"
        e_cell, e_cell_g = "val", "g.val"
    return f"""
m AS (
  SELECT doc_id,
         {s_offset} + 2 * (doc_id // {COHORT})
           + CASE WHEN doc_id % {COHORT} = 3 THEN 1 ELSE 0 END AS s,
         doc_id % {COHORT} = 2 AS perturbed
  FROM {table}
),
mix1 AS (
  SELECT doc_id, s, perturbed,
         xor((s + 1) * {_MIX_K1} % {_M32},
             ((s + 1) * {_MIX_K1} % {_M32}) >> 13) AS h1
  FROM m
),
mix2 AS (
  SELECT doc_id, s, perturbed, cc.cell,
         ((h1 + cc.cell * {_MIX_CELL} + {_MIX_ADD}) * {_MIX_K2}) % {_M32}
           AS h2
  FROM mix1, LATERAL (SELECT unnest(range({N_CELLS})) AS cell) cc
),
scene AS (
  SELECT doc_id, cell,
         CASE WHEN perturbed AND cell = s % {N_CELLS}
              THEN xor((xor(h2, h2 >> 16) * {_MIX_K3} % {_M32}) >> 24,
                       {PERTURB_XOR})
              ELSE (xor(h2, h2 >> 16) * {_MIX_K3} % {_M32}) >> 24
          END AS val
  FROM mix2
),
tot AS (SELECT doc_id, sum({e_cell}) AS total FROM scene GROUP BY doc_id),
bits AS (
  SELECT g.doc_id, g.cell,
         CASE WHEN {N_CELLS} * ({e_cell_g}) >= t.total THEN 1 ELSE 0 END
           AS abit,
         {dbit_expr} AS dbit
  FROM scene g
  JOIN tot t ON t.doc_id = g.doc_id
  JOIN scene nx ON nx.doc_id = g.doc_id
   AND nx.cell = {nx_cell}
),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN cell >= 32 THEN abit << (cell - 32) ELSE 0 END) AS a_hi,
         sum(CASE WHEN cell < 32 THEN abit << cell ELSE 0 END) AS a_lo,
         sum(CASE WHEN cell >= 32 THEN dbit << (cell - 32) ELSE 0 END) AS d_hi,
         sum(CASE WHEN cell < 32 THEN dbit << cell ELSE 0 END) AS d_lo
  FROM bits GROUP BY doc_id
)"""


def sql_perceptual_hashes(table: str = "documents") -> str:
    return f"""
WITH {_sql_scene_hashes(table)}
SELECT doc_id, a_hi, a_lo, d_hi, d_lo FROM sig
"""


def _sql_band_rows(src: str, words: tuple = ("a", "d")) -> str:
    """The 4-per-word (band, bhash) rows per doc over any signature
    CTE — the SQL twin of ``band_stack``.  ``words`` widens the
    layout (the video grid tier bands a third word)."""
    mask = (1 << BAND_BITS) - 1
    halves = ", ".join(f"{w}_hi, {w}_lo" for w in words)
    return " UNION ALL ".join(
        f"SELECT doc_id, {halves}, '{kind}{b}' AS band, "
        f"({'(' + col + ' >> ' + str(BAND_BITS) + ')' if b % 2 else col})"
        f" & {mask} AS bhash FROM {src}"
        for kind in words
        for b, col in enumerate(
            [f"{kind}_lo", f"{kind}_lo", f"{kind}_hi", f"{kind}_hi"]
        )
    )


def _sql_pair_band_rows(src: str) -> str:
    """The 28 (pair-band, 32-bit bhash) rows per doc over any
    signature CTE — the SQL twin of ``band_stack(..., wide=True)``."""
    mask = (1 << BAND_BITS) - 1
    chunks = []
    for kind in ("a", "d"):
        for b, col in enumerate(
            [f"{kind}_lo", f"{kind}_lo", f"{kind}_hi", f"{kind}_hi"]
        ):
            expr = (
                f"(({col} >> {BAND_BITS}) & {mask})"
                if b % 2
                else f"({col} & {mask})"
            )
            chunks.append((f"{kind}{b}", expr))
    selects = []
    for i in range(len(chunks)):
        for j in range(i + 1, len(chunks)):
            ni, ei = chunks[i]
            nj, ej = chunks[j]
            selects.append(
                f"SELECT doc_id, a_hi, a_lo, d_hi, d_lo, "
                f"'{ni}|{nj}' AS band, "
                f"({ei} << {BAND_BITS}) + {ej} AS bhash FROM {src}"
            )
    return " UNION ALL ".join(selects)


def sql_banded_pairs_wide_tail(hamming_max: int = HAMMING_MAX) -> str:
    """pair-bands/cand CTEs + final pair SELECT over a preceding
    ``sig`` CTE — the SQL twin of ``banded_pairs(..., wide=True)``."""
    ham = _sql_hamming()
    return f"""
bands AS ({_sql_pair_band_rows("sig")}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         {ham} AS hamming
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bhash = r.bhash AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
FROM cand WHERE hamming <= {hamming_max}
"""


def _sql_hamming(l: str = "l", r: str = "r", words: tuple = ("a", "d")) -> str:
    return " + ".join(
        f"bit_count(xor({l}.{c}, {r}.{c}))"
        for w in words
        for c in (f"{w}_hi", f"{w}_lo")
    )


def sql_banded_pairs_tail(
    hamming_max: int = HAMMING_MAX,
    max_bucket: int | None = None,
    words: tuple = ("a", "d"),
) -> str:
    """bands/cand CTEs + final pair SELECT over a preceding ``sig``
    CTE — the SQL twin of ``banded_pairs``, shared by the image and
    audio near-dup oracles.  ``max_bucket`` mirrors the hot-bucket
    guard (``_drop_hot_buckets``): band rows in over-full buckets are
    excluded from candidate generation on BOTH engines, so the guarded
    production twin stays oracle-exact."""
    band_rows = _sql_band_rows("sig", words)
    ham = _sql_hamming(words=words)
    src = "bands"
    guard = ""
    if max_bucket is not None:
        guard = f"""
keepb AS (
  SELECT band, bhash FROM bands
  GROUP BY band, bhash HAVING count(*) <= {max_bucket}
),
bands_g AS (
  SELECT b.* FROM bands b JOIN keepb k
    ON b.band = k.band AND b.bhash = k.bhash
),"""
        src = "bands_g"
    return f"""
bands AS ({band_rows}),{guard}
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         {ham} AS hamming
  FROM {src} l JOIN {src} r
    ON l.band = r.band AND l.bhash = r.bhash AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
FROM cand WHERE hamming <= {hamming_max}
"""


def sql_media_near_dup(
    table: str = "documents", hamming_max: int = HAMMING_MAX
) -> str:
    return f"""
WITH {_sql_scene_hashes(table)},
{sql_banded_pairs_tail(hamming_max)}
"""


def sql_media_near_dup_prod(
    table: str = "documents",
    hamming_max: int = HAMMING_MAX,
    max_bucket: int = PROD_MAX_BUCKET,
) -> str:
    """Oracle twin of ``media_near_dup_prod`` — same scene CTE, the
    banded tail WITH the bucket-size guard mirrored in SQL."""
    return f"""
WITH {_sql_scene_hashes(table)},
{sql_banded_pairs_tail(hamming_max, max_bucket=max_bucket)}
"""


def sql_media_near_dup_wide(
    table: str = "documents", hamming_max: int = HAMMING_MAX
) -> str:
    return f"""
WITH {_sql_scene_hashes(table)},
{sql_banded_pairs_wide_tail(hamming_max)}
"""


def sql_media_near_dup_clusters(
    table: str = "documents", hamming_max: int = HAMMING_MAX
) -> str:
    """DuckDB twin: transitive closure by recursive CTE, min label —
    the dedup_clusters oracle idiom over the perceptual pair tier."""
    pairs = sql_media_near_dup(table, hamming_max)
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(doc_id, label) AS (
  SELECT doc_id, doc_id FROM (SELECT doc_id FROM {table})
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.doc_id
)
SELECT doc_id, min(label) AS cluster_id,
       doc_id = min(label) AS keep
FROM reach GROUP BY doc_id
"""


def sql_admission_tail(
    corpus_pred: str,
    batch_pred: str,
    band_rows_fn,
    ham: str,
    hamming_max: int,
) -> str:
    """The admission oracle's shared CTE tail over a preceding ``sig``
    CTE (any signature family): corpus keeps by recursive closure,
    banded cross-match against those keeps, in-batch closure over the
    survivors — the three stages of ``admission_decisions_from_sig``
    stated arithmetically.  ``band_rows_fn(src)`` emits the family's
    band rows; ``ham`` its l/r Hamming expression.  MATERIALIZED CTEs
    throughout: DuckDB 1.0 otherwise re-inlines the whole signature
    chain per recursive-closure iteration (EMFILE at sf0.001)."""
    return f"""csig AS MATERIALIZED (SELECT * FROM sig WHERE {corpus_pred}),
bsig AS MATERIALIZED (SELECT * FROM sig WHERE {batch_pred}),
cbands AS ({band_rows_fn("csig")}),
cpairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM cbands l JOIN cbands r
    ON l.band = r.band AND l.bhash = r.bhash AND l.doc_id < r.doc_id
  WHERE {ham} <= {hamming_max}
),
cedges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM cpairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM cpairs
),
creach(doc_id, label) AS (
  SELECT doc_id, doc_id FROM csig
  UNION
  SELECT e.src, r.label FROM cedges e JOIN creach r ON e.dst = r.doc_id
),
ckeep AS (
  SELECT doc_id FROM creach GROUP BY doc_id HAVING doc_id = min(label)
),
isig AS (SELECT s.* FROM csig s JOIN ckeep USING (doc_id)),
ibands AS ({band_rows_fn("isig")}),
bbands AS ({band_rows_fn("bsig")}),
rejected AS MATERIALIZED (
  SELECT doc_id, min(index_doc) AS cluster_id FROM (
    SELECT DISTINCT l.doc_id, r.doc_id AS index_doc
    FROM bbands l JOIN ibands r ON l.band = r.band AND l.bhash = r.bhash
    WHERE {ham} <= {hamming_max}
  ) GROUP BY doc_id
),
ssig AS MATERIALIZED (
  SELECT * FROM bsig WHERE doc_id NOT IN (SELECT doc_id FROM rejected)
),
sbands AS ({band_rows_fn("ssig")}),
spairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM sbands l JOIN sbands r
    ON l.band = r.band AND l.bhash = r.bhash AND l.doc_id < r.doc_id
  WHERE {ham} <= {hamming_max}
),
sedges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM spairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM spairs
),
sreach(doc_id, label) AS (
  SELECT doc_id, doc_id FROM ssig
  UNION
  SELECT e.src, r.label FROM sedges e JOIN sreach r ON e.dst = r.doc_id
)
SELECT doc_id, min(label) AS cluster_id, doc_id = min(label) AS keep,
       CASE WHEN doc_id = min(label) THEN 'kept'
            ELSE 'near_dup_batch' END AS reason
FROM sreach GROUP BY doc_id
UNION ALL
SELECT doc_id, cluster_id, FALSE AS keep, 'near_dup_index' AS reason
FROM rejected
"""


def sql_media_admission_decisions(
    table: str = "documents", hamming_max: int = HAMMING_MAX
) -> str:
    """DuckDB twin of the registered admission split (the shared
    ``sql_admission_tail`` over the scene-hash sig CTE)."""
    mods = ", ".join(str(m) for m in ADMIT_CORPUS_MOD8)
    tail = sql_admission_tail(
        f"doc_id % 8 IN ({mods})",
        f"doc_id % 8 NOT IN ({mods})",
        _sql_band_rows,
        _sql_hamming(),
        hamming_max,
    )
    return f"""
WITH RECURSIVE {_sql_scene_hashes(table)},
{tail}"""


def sql_media_admission_decisions_wide(
    table: str = "documents", hamming_max: int = HAMMING_MAX
) -> str:
    """DuckDB twin of the WIDE media-admission face (round 12): the
    identical split and decision arithmetic over the 28 x 32-bit
    PAIR-band candidate layout — the exact banding the Spark side
    runs with ``wide=True``."""
    mods = ", ".join(str(m) for m in ADMIT_CORPUS_MOD8)
    tail = sql_admission_tail(
        f"doc_id % 8 IN ({mods})",
        f"doc_id % 8 NOT IN ({mods})",
        _sql_pair_band_rows,
        _sql_hamming(),
        hamming_max,
    )
    return f"""
WITH RECURSIVE {_sql_scene_hashes(table)},
{tail}"""


def sql_image_codec_manifest(table: str = "documents") -> str:
    """Integer-exact twin of the codec manifest over the scene
    fixture: render geometry is closed-form per cohort member (size,
    channels, pixels-per-cell), and gray_total = channels *
    (size/8)^2 * sum(scene bytes) because every scene cell renders as
    a constant block in BOTH codecs (the JPEG member's all-ones-quant
    DC-only blocks round-trip bit-exactly)."""
    sizes = ", ".join(
        f"WHEN {m} THEN {MEMBER_SIZES[m]}" for m in range(COHORT)
    )
    chans = ", ".join(
        f"WHEN {m} THEN {1 if m == JPEG_MEMBER else 3}"
        for m in range(COHORT)
    )
    sizes = sizes.replace(", WHEN", " WHEN")
    chans = chans.replace(", WHEN", " WHEN")
    return f"""
WITH {_sql_scene_hashes(table)},
geom AS (
  SELECT doc_id,
         CASE doc_id % {COHORT} {sizes} END AS size,
         CASE doc_id % {COHORT} {chans} END AS channels,
         CASE WHEN doc_id % {COHORT} = {JPEG_MEMBER}
              THEN 'jpeg' ELSE 'png' END AS codec
  FROM {table}
),
totals AS (SELECT doc_id, sum(val) AS sval FROM scene GROUP BY doc_id)
SELECT g.doc_id, g.codec,
       CAST(g.size AS INT) AS width, CAST(g.size AS INT) AS height,
       CAST(g.channels AS INT) AS channels,
       CAST(g.channels * (g.size // 8) * (g.size // 8) * t.sval AS BIGINT)
         AS gray_total
FROM geom g JOIN totals t ON t.doc_id = g.doc_id
"""


def sql_media_split_leakage(
    table: str = "documents",
    weights: dict[str, float] | None = None,
    salt: str = "m1",
    hamming_max: int = HAMMING_MAX,
) -> str:
    from eventstreamd_spark.operators.sampling import sql_dataset_split

    pairs = sql_media_near_dup(table, hamming_max)
    split_case = sql_dataset_split("doc_id", weights, salt=salt)
    return f"""
WITH pairs AS ({pairs}),
splits AS (SELECT doc_id, {split_case} FROM {table}),
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

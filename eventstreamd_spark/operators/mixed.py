"""Mixed-modality perceptual near-dup (round-9 capstone): a real
100 TB media corpus is not three separate tables — one ingest stream
carries PNGs, JPEGs, WAVs and MP4s side by side, and the pipeline
must fingerprint BY CONTENT, not by a metadata column it cannot
trust.  This operator runs the image, audio and video perceptual
tiers behind ONE magic-byte-dispatched Arrow kernel over one blob
column:

- ``\\x89PNG`` / ``\\xff\\xd8`` -> the image grid hashes
  (perceptual._grid_hashes: real PNG/JPEG decode, aHash/dHash);
- ``RIFF`` -> the audio envelope fingerprint (audio: RIFF walk,
  16-bit PCM, sign-of-window-energy);
- ``ftyp`` at offset 4 -> the video envelope fingerprint (video:
  ISO-BMFF sample-table walk, per-frame decode, luminance envelope);

all three emit the SHARED (doc_id, a_hi, a_lo, d_hi, d_lo) signature
schema, so ONE banded candidate tier (perceptual.banded_pairs — same
bands, same verify, same hot-bucket guard) serves the whole corpus,
and the streaming admission kernel takes ``mixed_media_fingerprints``
as its ``sig_fn`` unchanged.  Cross-modality band collisions are
possible in principle but never verify: the scene key spaces are
STRUCTURALLY disjoint (offsets 0 / 0x50000000 / 0xA0000000, all below
the hash's 2^32 input domain) for every doc_id < ~1.5e9 — far past
the sf100 fixture's ~5e7 ceiling — so fingerprints across modalities
are decorrelated, not envelope-identical.  The DuckDB oracle states
the identical computation, so parity is exact either way.

Fixture: whole cohorts alternate modality — ``(doc_id // 4) % 3``
picks image / audio / video — so every planted twin pair stays within
one modality and all three tiers' twin classes (cross-codec resize,
resample, rate-doubling, re-encode noise) appear in one relation.

Oracle: one scene CTE covers all three modalities, because the three
tiers share the scene-value mix and differ only in (a) the scene-key
offset, (b) the energy cell (val, or val + g(val) for the two-band
video frames), and (c) the second word's topology (grid dBit for
images, zero-crossing zBit for audio, left/right sBit for video) —
all expressible as CASE over the modality.

Reference parity note: the reference (srittau/eventstreamd) has no
media surface; layer-B scope per the build brief.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F

from eventstreamd_spark.operators import audio as audio_mod
from eventstreamd_spark.operators import video as video_mod
from eventstreamd_spark.operators.perceptual import (
    GRID,
    HAMMING_MAX,
    HASH_SCHEMA,
    N_CELLS,
    PERTURB_XOR,
    _grid_hashes,
    _MIX_ADD,
    _MIX_CELL,
    _MIX_K1,
    _MIX_K2,
    _MIX_K3,
    _M32,
    banded_pairs,
    sql_banded_pairs_tail,
)
from eventstreamd_spark.plans.memo import shared
from eventstreamd_spark.session import fan_out

# modality by COHORT (doc_id // 4), so twin structure stays intact
MODALITY_OFFSETS = (0, audio_mod.AUDIO_SCENE_OFFSET, video_mod.VIDEO_SCENE_OFFSET)


def _synth_mixed_media(doc_id: int) -> bytes:
    m3 = (doc_id // 4) % 3
    if m3 == 0:
        from eventstreamd_spark.operators.perceptual import _synth_scene_media

        return _synth_scene_media(doc_id)
    if m3 == 1:
        return audio_mod._synth_scene_wav(doc_id)
    return video_mod._synth_scene_mp4(doc_id)


def documents_as_mixed_media(docs: DataFrame) -> DataFrame:
    """Adapter: one blob per document, modality rotating per cohort —
    the one-table mixed-ingest shape."""
    from eventstreamd_spark.operators.multimodal import _synth_media_adapter

    m3 = (F.col("doc_id") / 4).cast("bigint") % 3
    media_type = (
        F.when(m3 == 1, F.lit("audio/wav"))
        .when(m3 == 2, F.lit("video/mp4"))
        .when(
            F.col("doc_id") % 4 == 1, F.lit("image/jpeg")
        )  # the image tier's JPEG member
        .otherwise(F.lit("image/png"))
    )
    return _synth_media_adapter(docs, _synth_mixed_media, media_type)


def _dispatch_fingerprint(blob: bytes) -> tuple[int, int, int, int]:
    """Magic-byte dispatch into the right per-modality kernel —
    content is the truth at ingest, never the metadata column."""
    if blob[:4] == b"RIFF":
        return audio_mod._envelope_fingerprint(blob)
    if len(blob) >= 12 and blob[4:8] == b"ftyp":
        return video_mod._envelope_fingerprint(blob)
    return _grid_hashes(blob)  # PNG / baseline JPEG (its own dispatch)


def mixed_media_fingerprints(media: DataFrame) -> DataFrame:
    """One Arrow kernel fingerprinting a mixed PNG/JPEG/WAV/MP4 blob
    column into the shared signature schema — plug-compatible with
    ``banded_pairs`` and the streaming admission ``sig_fn``."""
    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = [_dispatch_fingerprint(bytes(b)) for b in pdf["blob"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "a_hi": pd.Series([s[0] for s in sigs], dtype="int64"),
                    "a_lo": pd.Series([s[1] for s in sigs], dtype="int64"),
                    "d_hi": pd.Series([s[2] for s in sigs], dtype="int64"),
                    "d_lo": pd.Series([s[3] for s in sigs], dtype="int64"),
                }
            )

    return fan_out(media.select("doc_id", "blob")).mapInPandas(
        kernel, schema=HASH_SCHEMA
    )


def mixed_media_near_dup(
    media: DataFrame,
    hamming_max: int = HAMMING_MAX,
) -> DataFrame:
    """Near-dup pairs over the mixed corpus: one banded tier serves
    all three modalities (decode-once: the session's shared signature
    relation is a materialized leaf before the self-join, as
    everywhere)."""
    return banded_pairs(shared(mixed_media_fingerprints, media), hamming_max)


# ---------------------------------------------------------------------------
# DuckDB oracle — one scene CTE, modality-aware key offset + neighbor
# ---------------------------------------------------------------------------


def _sql_mixed_scene(table: str = "documents") -> str:
    """Scene CTE ending in ``sig`` for the mixed corpus: identical to
    perceptual._sql_scene_hashes except the scene-key offset, the
    energy cell, and the second word's topology are CASE-dispatched on
    the cohort modality — image: energy = val, dBit = grid-neighbor
    gradient; audio: energy = val, zBit = zero-crossing-rate compare
    (r(v) = 16 >> (v % 3), r(0) = 0, linear wrap); video: energy =
    val + g(val) + 2h(val) (the round-11 quad frame — perceptual._SQL_G
    / _SQL_H), sBit = val > g(val)."""
    from eventstreamd_spark.operators.perceptual import _SQL_G, _SQL_H

    off_audio, off_video = MODALITY_OFFSETS[1], MODALITY_OFFSETS[2]
    g_of = _SQL_G.format(v="g.val")
    u_val = f"val + {_SQL_G.format(v='val')} + 2 * {_SQL_H.format(v='val')}"
    u_gval = f"g.val + {g_of} + 2 * {_SQL_H.format(v='g.val')}"
    r_l = "CASE WHEN g.val = 0 THEN 0 ELSE 16 >> (g.val % 3) END"
    r_r = "CASE WHEN nx.val = 0 THEN 0 ELSE 16 >> (nx.val % 3) END"
    return f"""
m AS (
  SELECT doc_id,
         CASE (doc_id // 4) % 3
           WHEN 1 THEN {off_audio} WHEN 2 THEN {off_video} ELSE 0 END
           + 2 * (doc_id // 4)
           + CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END AS s,
         doc_id % 4 = 2 AS perturbed,
         (doc_id // 4) % 3 AS m3
  FROM {table}
),
mix1 AS (
  SELECT doc_id, s, perturbed, m3,
         xor((s + 1) * {_MIX_K1} % {_M32},
             ((s + 1) * {_MIX_K1} % {_M32}) >> 13) AS h1
  FROM m
),
mix2 AS (
  SELECT doc_id, s, perturbed, m3, cc.cell,
         ((h1 + cc.cell * {_MIX_CELL} + {_MIX_ADD}) * {_MIX_K2}) % {_M32}
           AS h2
  FROM mix1, LATERAL (SELECT unnest(range({N_CELLS})) AS cell) cc
),
scene AS (
  SELECT doc_id, m3, cell,
         CASE WHEN perturbed AND cell = s % {N_CELLS}
              THEN xor((xor(h2, h2 >> 16) * {_MIX_K3} % {_M32}) >> 24,
                       {PERTURB_XOR})
              ELSE (xor(h2, h2 >> 16) * {_MIX_K3} % {_M32}) >> 24
          END AS val
  FROM mix2
),
tot AS (
  SELECT doc_id,
         sum(CASE WHEN m3 = 2
                  THEN {u_val} ELSE val END) AS total
  FROM scene GROUP BY doc_id
),
bits AS (
  SELECT g.doc_id, g.cell,
         CASE WHEN {N_CELLS} *
                (CASE WHEN g.m3 = 2 THEN {u_gval} ELSE g.val END)
                >= t.total THEN 1 ELSE 0 END AS abit,
         CASE g.m3
           WHEN 2 THEN CASE WHEN g.val > {g_of} THEN 1 ELSE 0 END
           WHEN 1 THEN CASE WHEN ({r_l}) > ({r_r}) THEN 1
                            WHEN ({r_l}) = ({r_r}) AND g.val > nx.val THEN 1
                            ELSE 0 END
           ELSE CASE WHEN g.val > nx.val THEN 1 ELSE 0 END
         END AS dbit
  FROM scene g
  JOIN tot t ON t.doc_id = g.doc_id
  JOIN scene nx ON nx.doc_id = g.doc_id
   AND nx.cell = CASE WHEN g.m3 = 0
                      THEN (g.cell // {GRID}) * {GRID} + (g.cell + 1) % {GRID}
                      ELSE (g.cell + 1) % {N_CELLS} END
),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN cell >= 32 THEN abit << (cell - 32) ELSE 0 END) AS a_hi,
         sum(CASE WHEN cell < 32 THEN abit << cell ELSE 0 END) AS a_lo,
         sum(CASE WHEN cell >= 32 THEN dbit << (cell - 32) ELSE 0 END) AS d_hi,
         sum(CASE WHEN cell < 32 THEN dbit << cell ELSE 0 END) AS d_lo
  FROM bits GROUP BY doc_id
)"""


def sql_mixed_media_fingerprints(table: str = "documents") -> str:
    return f"""
WITH {_sql_mixed_scene(table)}
SELECT doc_id, a_hi, a_lo, d_hi, d_lo FROM sig
"""


def sql_mixed_media_near_dup(
    table: str = "documents", hamming_max: int = HAMMING_MAX
) -> str:
    return f"""
WITH {_sql_mixed_scene(table)},
{sql_banded_pairs_tail(hamming_max)}
"""

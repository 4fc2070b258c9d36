"""Audio perceptual fingerprint (round-9, VERDICT ask #3): exact
digests (``multimodal.media_dedup``) catch byte-identical WAV; a
RESAMPLED or re-encoded audio twin escapes them by construction.  The
standard cheap fix mirrors what aHash/dHash did for images — an
integer sign-of-band-energy fingerprint (the chromaprint shape, no
FFT, no floats) over fixed relative time windows, followed by the
SAME Hamming-banded candidate tier as ``perceptual.media_near_dup``:

- decode the WAV for REAL (functions/wav.py: RIFF walk, 16-bit PCM);
- energy envelope: 64 fixed RELATIVE windows with integer edges
  ``gi = (i*64)//n`` — exact for any sample count, which is what
  makes the fingerprint SAMPLE-RATE invariant (a resampled twin has
  the same envelope over relative time);
- **eBit(k)** = ``E(k) * n_total >= E_total * n(k)`` — window energy
  above the global mean, cross-multiplied so no division happens
  (E(k) = sum of |sample| in window k, all integers);
- **zBit(k)** = ``Z(k) > Z(k+1)``, ties broken by the energy compare
  — the SPECTRAL word (round-10, VERDICT ask #6): Z(k) counts
  intra-window sign transitions of the PCM (the zero-crossing rate,
  the classic integer spectral-centroid proxy — a one-bit chromaprint
  band), so two clips with the SAME energy envelope but different
  per-window pitch content — the EQ'd/different-material false
  positive the envelope-only fingerprint could not see — now
  separate, while a uniformly RESAMPLED twin keeps every zBit
  (transitions AND energies per window scale with the window sample
  count on both sides of each strict compare, so the rate cancels
  exactly).  The tiebreak is a SCALE requirement, not polish: coarse
  crossing counts tie often enough that the raw compare is true with
  p ~ 1/3, and biased bits inflate every banded bucket's collision
  rate ~5x — the sf10 probe caught the self-join going super-linear
  (a10 = 1.22) before the tiebreak balanced the word (SCALE.md §20);
- the two 64-bit words travel as the same (a_hi, a_lo, d_hi, d_lo)
  signature schema as the image tier, so candidate generation +
  verify REUSE ``perceptual.banded_pairs`` (4x16-bit bands,
  pigeonhole recall guarantee, combined-Hamming verify) and the SQL
  twin reuses ``perceptual.sql_banded_pairs_tail``.

Scale shape at 100 TB: identical to the image tier — one Arrow decode
kernel per blob, 5 BIGINTs/doc after it, banded equi-join, O(1)
verify, no all-pairs stage.

Fixture: ``documents_as_scene_audio`` renders one REAL WAV per
document from a closed-form 64-value audio "scene" (the image tier's
avalanche-verified mix, keyed disjointly via ``AUDIO_SCENE_OFFSET``):
window k holds a square wave of amplitude ``64 * scene(k)`` and
half-period ``2 ** (scene(k) % 3)`` samples (phase reset per window),
so |sample| is constant per window — E(k) recovers the scene exactly
at ANY sample count that is a multiple of 64 — and the transition
count is ``w / h(k) - 1`` per window (w = samples per window), whose
strict adjacent compare reduces to ``h(k) < h(k+1)`` with the energy
tiebreak reducing to ``scene(k) > scene(k+1)``: closed-form,
rate-free, stated by the oracle as ``16 >> (scene(k) % 3)``
comparisons (silent windows, scene byte 0, carry Z = 0).  Cohorts of 4 share a
scene: member 0 renders 1024 samples @ 8 kHz, member 1 renders 2048
samples @ 16 kHz (a true RESAMPLED duplicate — same duration, double
rate), member 2 renders 4096 samples with ONE window xor-perturbed
(re-encode noise), member 3 gets a fresh scene (negative control).
The DuckDB oracle states fingerprints, banding, and the pair set
purely arithmetically (the shared scene CTE with
``neighbor='audio_spectral'``: envelope bits on the scene bytes,
zBits as the rate-free transition-count compare) while Spark runs the
full real pipeline (WAV encode -> decode -> envelope + zero-crossing
count -> fingerprint -> band join -> verify).

Reference parity note: the reference (srittau/eventstreamd) has no
media surface; this operator is layer-B training-data-pipeline scope.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F

from eventstreamd_spark.operators.perceptual import (
    COHORT,
    HAMMING_MAX,
    HASH_SCHEMA,
    N_CELLS,
    PERTURB_XOR,
    _scene_value,
    _sql_scene_hashes,
    banded_pairs,
    sql_banded_pairs_tail,
)
from eventstreamd_spark.plans.memo import shared
from eventstreamd_spark.session import fan_out

# Keys audio scenes disjointly from image scenes (image space starts at
# 0).  The scene key feeds ``(s+1)*K1 % 2^32``, so disjointness must hold
# WITHIN the 32-bit domain (an offset >= 2^32 would vanish mod 2^32) and
# ``(s+1)*K1`` must stay under 2^63 for the DuckDB BIGINT oracle.
# 0x50000000 gives structural disjointness for doc_id < ~2.6e9 (image
# band) / ~1.5e9 (overall) — far past any fixture (sf100 tops out ~5e7).
AUDIO_SCENE_OFFSET = 0x50000000
N_WINDOWS = N_CELLS  # 64 relative time windows = the scene cell count
AMP_SCALE = 64  # scene byte -> square-wave amplitude (max 16320 < 2^15)
MEMBER_SAMPLES = (1024, 2048, 4096, 1024)  # all multiples of N_WINDOWS
MEMBER_RATES = (8000, 16000, 8000, 8000)  # member 1 = resampled twin
RESAMPLED_MEMBER = 1


def _audio_scene(doc_id: int) -> tuple[int, int, int, bool]:
    """(scene key, n_samples, sample_rate, perturbed?) for a doc."""
    m = doc_id % COHORT
    s = AUDIO_SCENE_OFFSET + 2 * (doc_id // COHORT) + (1 if m == 3 else 0)
    return s, MEMBER_SAMPLES[m], MEMBER_RATES[m], m == 2


def _synth_scene_wav(doc_id: int) -> bytes:
    """Render the document's audio scene as a REAL 16-bit PCM WAV at
    its member length/rate: sample i belongs to window (i*64)//n; each
    window is a zero-DC square wave of its scene amplitude and its
    scene HALF-PERIOD ``2 ** (v % 3)`` samples, phase reset at the
    window edge (64 | n, so windows are uniform and the half-period
    always divides the window)."""
    from eventstreamd_spark.functions.wav import encode_wav

    s, n, rate, perturbed = _audio_scene(doc_id)
    pcell = s % N_WINDOWS
    amps, halfp = [], []
    for k in range(N_WINDOWS):
        v = _scene_value(s, k)
        if perturbed and k == pcell:
            v ^= PERTURB_XOR
        amps.append(v * AMP_SCALE)
        halfp.append(1 << (v % 3))
    w = n // N_WINDOWS
    samples = [
        amps[k] * (1 if ((i - k * w) // halfp[k]) % 2 == 0 else -1)
        for i in range(n)
        for k in ((i * N_WINDOWS) // n,)
    ]
    return encode_wav(rate, 1, samples)


def documents_as_scene_audio(docs: DataFrame) -> DataFrame:
    """Adapter: one scene-rendered WAV per document (stands in for the
    object-store fetch stage, like the other media adapters)."""
    from eventstreamd_spark.operators.multimodal import _synth_media_adapter

    return _synth_media_adapter(docs, _synth_scene_wav, F.lit("audio/wav"))


def _envelope_fingerprint(blob: bytes) -> tuple[int, int, int, int]:
    """(e_hi, e_lo, z_hi, z_lo) from a decoded WAV — pure integer
    pipeline; works for ANY sample count >= 64 (integer window
    edges).  The e-word is the broadband energy envelope; the z-word
    is the spectral word: per-window PCM sign-transition counts
    (zero-crossing rate), compared between adjacent windows — the
    strict compare is sample-rate-free because both sides scale with
    the window length.  Overflow note: E <= 2^15 * n and the
    cross-multiplies add another factor n, so int64 holds for n up to
    ~10^7 samples per blob (hours of mono 16-bit audio)."""
    import numpy as np

    from eventstreamd_spark.functions.wav import decode_wav_pcm

    # frombuffer on the raw data chunk: zero-copy int16 view instead
    # of a per-sample Python int list (500k blobs/run made the list
    # path the dominant, GC-noisy cost — SCALE.md §20)
    _rate, _channels, _bits, data = decode_wav_pcm(blob)
    raw = np.frombuffer(data, dtype="<i2").astype(np.int64)
    arr = np.abs(raw)
    n = arr.shape[0]
    gi = (np.arange(n, dtype=np.int64) * N_WINDOWS) // n
    E = np.zeros(N_WINDOWS, dtype=np.int64)
    np.add.at(E, gi, arr)
    cnt = np.bincount(gi, minlength=N_WINDOWS).astype(np.int64)
    ebits = E * cnt.sum() >= E.sum() * cnt
    # intra-window sign transitions (window-boundary pairs excluded:
    # the synth resets phase per window, and for real audio a boundary
    # transition belongs to neither window's pitch)
    signs = np.sign(raw)
    trans = (signs[1:] != signs[:-1]) & (gi[1:] == gi[:-1])
    Z = np.bincount(gi[1:][trans], minlength=N_WINDOWS).astype(np.int64)
    # Z-ties break on the (cross-multiplied, rate-free) energy compare.
    # The tiebreak is LOAD-BEARING for scale, not cosmetics: the raw
    # Z-compare is true with probability ~1/3 (coarse crossing counts
    # tie ~1/3 of the time), and BIASED bits inflate every 16-bit
    # band's collision rate ~5x ((p^2+q^2)^16 vs 2^-16) — the sf10
    # probe measured the banded self-join going super-linear
    # (a10 = 1.22) before the tiebreak balanced the word (SCALE.md §20).
    En, cn = np.roll(E, -1), np.roll(cnt, -1)
    Zn = np.roll(Z, -1)
    zbits = (Z > Zn) | ((Z == Zn) & (E * cn > En * cnt))

    def pack(bits) -> tuple[int, int]:
        lo = hi = 0
        for k in range(32):
            lo |= int(bits[k]) << k
            hi |= int(bits[32 + k]) << k
        return hi, lo

    e_hi, e_lo = pack(ebits)
    z_hi, z_lo = pack(zbits)
    return e_hi, e_lo, z_hi, z_lo


def audio_fingerprints(media: DataFrame) -> DataFrame:
    """Per-blob envelope fingerprint in the shared signature schema
    (the energy word rides the a_* columns) — decode is the per-row
    cost, so fan_out before the Arrow kernel and project to
    (doc_id, blob) first (nothing prunes through mapInPandas)."""
    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fps = [_envelope_fingerprint(bytes(b)) for b in pdf["blob"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "a_hi": pd.Series([t[0] for t in fps], dtype="int64"),
                    "a_lo": pd.Series([t[1] for t in fps], dtype="int64"),
                    "d_hi": pd.Series([t[2] for t in fps], dtype="int64"),
                    "d_lo": pd.Series([t[3] for t in fps], dtype="int64"),
                }
            )

    return fan_out(media.select("doc_id", "blob")).mapInPandas(
        kernel, schema=HASH_SCHEMA
    )


def audio_near_dup(
    media: DataFrame,
    hamming_max: int = HAMMING_MAX,
) -> DataFrame:
    """Banded audio near-dup pairs — the WAV mirror of
    ``media_near_dup``: same banding, same pigeonhole recall
    guarantee (combined Hamming <= 7 / per-word <= 3), same verify;
    only the signature kernel differs.  Catches the resampled twin
    (member 1: Hamming 0 at a different sample rate — energy and
    zero-crossing words are both rate-free) and the re-encode-noise
    twin (member 2: one window perturbed flips <= 2 spectral bits +
    <= 1 energy bit) that ``media_dedup`` misses; an equal-envelope
    different-pitch clip — the false positive an envelope-only
    fingerprint cannot see — separates on the z-word (planted
    pytest in tests/test_audio.py).
    Decode-once: signatures are the session's shared relation, a
    materialized leaf before the banded self-join (see
    ``perceptual.media_near_dup``)."""
    return banded_pairs(shared(audio_fingerprints, media), hamming_max)


# ---------------------------------------------------------------------------
# DuckDB oracles — scene arithmetic (never WAV bytes); the envelope's
# uniform window sizes cancel out of both cross-multiplied compares,
# so the oracle bits are the scene bits with the LINEAR neighbor.
# ---------------------------------------------------------------------------


def sql_audio_fingerprints(table: str = "documents") -> str:
    return f"""
WITH {_sql_scene_hashes(table, s_offset=AUDIO_SCENE_OFFSET, neighbor="audio_spectral")}
SELECT doc_id, a_hi, a_lo, d_hi, d_lo FROM sig
"""


def sql_audio_near_dup(
    table: str = "documents", hamming_max: int = HAMMING_MAX
) -> str:
    return f"""
WITH {_sql_scene_hashes(table, s_offset=AUDIO_SCENE_OFFSET, neighbor="audio_spectral")},
{sql_banded_pairs_tail(hamming_max)}
"""

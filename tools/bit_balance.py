#!/usr/bin/env python
"""Bit-balance audit for the 64-bit text SimHash tier (round 11 — the
audit the audio zbits skew proved necessary, SCALE.md §21: "any
LSH-banded signature needs its bit balance AUDITED, not assumed").

A band of width w only delivers its nominal 2^-w random-collision rate
when every bit is ~balanced across the corpus: a bit set with
probability p contributes (p^2 + q^2) >= 1/2 to the band's random
pair-collision probability, so the band's INFLATION over nominal is

    inflation(band) = prod_{j in band} (p_j^2 + q_j^2) / 2^-w

(independence-approximate; the empirical bucket-occupancy term below
needs no independence assumption and is the number that actually
bills).  The audio tier's p~1/3 zbits inflated 16-bit collisions ~5x
and surfaced only at sf10 (a10 = 1.22); this audit makes the same
defect visible at sf0.1 in seconds.

Reports, for the 4 single bands and 6 pair bands:
  - per-bit frequency extremes,
  - the independence-model inflation factor,
  - EMPIRICAL expected random collisions per band: sum_b C(n_b, 2)
    over observed bucket occupancies, vs the nominal n^2/2^(w+1)
    (the direct-count methodology of SCALE.md §21).

Writes tools/BIT_BALANCE.json and prints a markdown table.
Run ALONE (no concurrent Spark) — same rule as bench.py.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from eventstreamd_spark.session import get_spark, load_table  # noqa: E402
from eventstreamd_spark.operators import dedup as dd  # noqa: E402
from eventstreamd_spark.operators import perceptual as pc  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(REPO, "tools", "BIT_BALANCE.json")


def _text_sig(spark):
    docs = dd.with_planted_near_dups(load_table(spark, SF, "documents"))
    return dd.simhash_signatures(docs), dd.TEXT_SIG_KINDS


def _media_sig(spark, kind: str):
    """The 4-word (a, d) media signatures — image/audio/video/mixed —
    via the real decode kernels over the cached fixture."""
    from eventstreamd_spark.operators import audio as au
    from eventstreamd_spark.operators import mixed as mx
    from eventstreamd_spark.operators import multimodal as mm
    from eventstreamd_spark.operators import video as vd

    kernel, fixture = {
        "image": (pc.perceptual_hashes, "scene_image"),
        "audio": (au.audio_fingerprints, "scene_audio"),
        "video": (vd.video_fingerprints, "scene_video"),
        "mixed": (mx.mixed_media_fingerprints, "scene_mixed"),
    }[kind]
    return kernel(mm.cached_media(spark, SF, fixture)), pc._KINDS


def main() -> None:
    import sys

    tier = sys.argv[sys.argv.index("--tier") + 1] if "--tier" in sys.argv else "text"
    spark = get_spark("bit-balance")
    sig, kinds = _text_sig(spark) if tier == "text" else _media_sig(spark, tier)
    sig = sig.localCheckpoint()
    n = sig.count()

    # per-bit set frequencies, one aggregate pass; global bit k =
    # 32 * half_index + j over the halves in (w_lo, w_hi, ...) order
    half_cols = [c for _, hi, lo in kinds for c in (lo, hi)]
    aggs = [
        F.sum((F.col(c).bitwiseAND(F.lit(1 << j)) > 0).cast("long")).alias(
            f"b{32 * i + j}"
        )
        for i, c in enumerate(half_cols)
        for j in range(32)
    ]
    row = sig.agg(*aggs).collect()[0]
    nbits = 32 * len(half_cols)
    p = [row[f"b{k}"] / n for k in range(nbits)]

    # band definitions matching band_stack's labels: per 64-bit word,
    # 4 x 16-bit bands {kind}0..{kind}3 (0-1 from lo, 2-3 from hi),
    # and the wide layout's {ni}|{nj} chunk pairs
    defs = []
    for w, (kind, _hi, _lo) in enumerate(kinds):
        for k in range(4):
            base = 32 * (2 * w + k // 2) + (k % 2) * 16
            defs.append((f"{kind}{k}", list(range(base, base + 16))))
    pair_defs = [
        (f"{ni}|{nj}", bi + bj)
        for i, (ni, bi) in enumerate(defs)
        for nj, bj in defs[i + 1:]
    ]

    def inflation(bits: list[int]) -> float:
        prob = 1.0
        for j in bits:
            pj = p[j]
            prob *= pj * pj + (1 - pj) * (1 - pj)
        return prob * (2 ** len(bits))

    # empirical random-collision mass per band tier: bucket occupancies
    def empirical(stacked, width: int) -> dict:
        occ = (
            stacked.groupBy("band", "bhash")
            .agg(F.count("*").alias("c"))
            .groupBy("band")
            .agg(
                F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("pairs"),
                F.max("c").alias("max_bucket"),
            )
            .collect()
        )
        nominal = n * (n - 1) / 2 / (2**width)
        return {
            "nominal_random_pairs_per_band": nominal,
            "bands": {
                r["band"]: {
                    "candidate_pairs": int(r["pairs"]),
                    "max_bucket": int(r["max_bucket"]),
                    "x_nominal": (r["pairs"] / nominal) if nominal else None,
                }
                for r in occ
            },
        }

    report = {
        "tier": tier,
        "sf_dir": SF,
        "n_docs": n,
        "bit_freq_min": min(p),
        "bit_freq_max": max(p),
        "worst_bits": sorted(
            ((j, round(pj, 4)) for j, pj in enumerate(p)),
            key=lambda t: abs(t[1] - 0.5),
            reverse=True,
        )[:8],
        "single_band_inflation": {
            name: inflation(bits) for name, bits in defs
        },
        "pair_band_inflation": {
            name: inflation(bits) for name, bits in pair_defs
        },
        "empirical_16bit": empirical(pc.band_stack(sig, kinds), 16),
        "empirical_32bit_pairs": empirical(pc.band_stack(sig, kinds, wide=True), 32),
    }

    out = OUT if tier == "text" else OUT.replace(".json", f"_{tier}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)

    print(f"tier={tier}  n={n}  bit freq in [{min(p):.3f}, {max(p):.3f}]")
    print("| band | model inflation | empirical pairs | x nominal | max bucket |")
    print("|---|---|---|---|---|")
    emp = report["empirical_16bit"]["bands"]
    for name, _bits in defs:
        e = emp[name]
        print(
            f"| {name} (16-bit) "
            f"| {report['single_band_inflation'][name]:.2f}x "
            f"| {e['candidate_pairs']:,} | {e['x_nominal']:.1f}x "
            f"| {e['max_bucket']} |"
        )
    empw = report["empirical_32bit_pairs"]["bands"]
    for name, _bits in pair_defs:
        e = empw[name]
        print(
            f"| {name} (32-bit pair) "
            f"| {report['pair_band_inflation'][name]:.2f}x "
            f"| {e['candidate_pairs']:,} | {e['x_nominal']:.1f}x "
            f"| {e['max_bucket']} |"
        )
    print(f"\nwrote {out}")


if __name__ == "__main__":
    main()

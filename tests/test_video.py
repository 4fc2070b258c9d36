"""Video perceptual tier: real sample-table parse + per-frame decode
vs the closed-form scene oracle, and the invariances the fingerprint
exists to provide (frame rate, resolution, codec)."""

from __future__ import annotations

from eventstreamd_spark.operators import video as vid
from eventstreamd_spark.session import load_table


def _ham(a: tuple, b: tuple) -> int:
    return sum(bin(x ^ y).count("1") for x, y in zip(a, b))


def test_fingerprint_invariances_and_negatives() -> None:
    """Cohort contract: the 64x64 JPEG resized twin and the 128-frame
    rate-doubled twin hash AT or NEAR the canonical; fresh scenes land
    far away (band-collision-safe)."""
    fp = {
        d: vid._envelope_fingerprint(vid._synth_scene_mp4(d))
        for d in range(12)
    }
    for c in (0, 4, 8):
        assert _ham(fp[c], fp[c + 1]) == 0  # cross-codec resized twin
        assert _ham(fp[c], fp[c + 2]) <= 6  # rate-doubled + perturbed
        assert _ham(fp[c], fp[c + 3]) > 20  # fresh scene negative
    assert _ham(fp[0], fp[4]) > 20  # cross-cohort


def test_frames_decode_through_real_sample_tables() -> None:
    """The blob is a REAL ISO-BMFF file: the stbl walk recovers every
    frame, each decodes through the magic-byte image dispatch, and the
    JPEG member's flat frames round-trip bit-exactly."""
    from eventstreamd_spark.functions.image import decode_image, image_kind
    from eventstreamd_spark.functions.mp4 import decode_mp4_samples

    from eventstreamd_spark.operators.perceptual import _g_byte

    w, h, fourcc, frames = decode_mp4_samples(vid._synth_scene_mp4(1))
    assert (w, h, fourcc) == (64, 64, b"mjpa")
    assert len(frames) == 64
    s, _, _, _ = vid._video_scene(1)
    for t in (0, 13, 63):
        assert image_kind(frames[t]) == "jpeg"
        fw, fh, ch, px = decode_image(frames[t])
        assert (fw, fh, ch) == (64, 64, 1)
        v = vid._scene_value(s, t)
        # the quad frame round-trips bit-exactly: top rows left v,
        # right g(v); bottom rows uniform h(v) (round-11 layout)
        from eventstreamd_spark.operators.perceptual import _h_byte

        for r in (0, 31):
            row = px[r * 64 : (r + 1) * 64]
            assert set(row[:32]) == {v} and set(row[32:]) == {_g_byte(v)}
        for r in (32, 63):
            row = px[r * 64 : (r + 1) * 64]
            assert set(row) == {_h_byte(v)}
    w, h, fourcc, frames = decode_mp4_samples(vid._synth_scene_mp4(2))
    assert (w, h, fourcc) == (8, 8, b"png ")
    assert len(frames) == 128  # the rate-doubled member
    assert image_kind(frames[0]) == "png"


def test_spatial_permutation_twin_separates() -> None:
    """Round-10 negative control (VERDICT ask #5): a video whose every
    frame is a spatial permutation of the canonical's — here the
    left/right half swap — has an IDENTICAL per-frame brightness
    timeline, so the envelope word pairs it at Hamming 0; the spatial
    word must separate it.  g(v) != v for every byte, so the swap
    inverts all 64 sBits."""
    from eventstreamd_spark.functions.mp4 import encode_video_mp4
    from eventstreamd_spark.functions.png import encode_png
    from eventstreamd_spark.operators.perceptual import (
        HAMMING_MAX,
        _g_byte,
        _scene_value,
    )

    s, n_frames, size, _ = vid._video_scene(0)

    def render(swapped: bool) -> bytes:
        frames = []
        for f in range(n_frames):
            v = _scene_value(s, (f * vid.N_POSITIONS) // n_frames)
            left, right = (_g_byte(v), v) if swapped else (v, _g_byte(v))
            row = bytes([left]) * (size // 2) + bytes([right]) * (size // 2)
            frames.append(encode_png(size, size, 1, row * size))
        return encode_video_mp4(size, size, frames, fourcc=b"png ",
                                frame_duration=75)

    canonical = vid._envelope_fingerprint(render(False))
    permuted = vid._envelope_fingerprint(render(True))
    # identical brightness timeline: the envelope word cannot see it
    assert canonical[:2] == permuted[:2]
    # the spatial word inverts at every position -> far outside verify
    assert _ham(canonical, permuted) == 64 > HAMMING_MAX


def test_video_near_dup_matches_oracle(spark, sf_dir) -> None:
    """Spark's full real pipeline (encode -> sample tables -> decode ->
    envelope -> banded pairs) is bit-identical to the DuckDB scene
    arithmetic, and every planted twin pair is caught."""
    import duckdb

    docs = load_table(spark, sf_dir, "documents")
    media = vid.documents_as_scene_video(docs)
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in vid.video_near_dup(media).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = {tuple(r) for r in con.execute(vid.sql_video_near_dup()).fetchall()}
    assert got == want
    n_docs = docs.count()
    planted = {
        (c, c + 1) for c in range(0, n_docs - 3, 4)
    } | {(c, c + 2) for c in range(0, n_docs - 3, 4)}
    assert planted <= {(a, b) for a, b, _ in got}


def test_admission_kernel_accepts_video_signatures(spark, sf_dir, tmp_path) -> None:
    """The modality-blind admission writer admits a video stream: the
    rate-doubled twin arriving a batch after its canonical is rejected
    against the index entry."""
    from eventstreamd_spark.streaming.pipeline import (
        media_admission_writer,
        seed_media_index,
    )

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 24")
    media = vid.documents_as_scene_video(docs).select("doc_id", "blob")
    idx, out = str(tmp_path / "vidx"), str(tmp_path / "vout")
    seed_media_index(
        spark.createDataFrame(
            [], "doc_id bigint, a_hi bigint, a_lo bigint, d_hi bigint, d_lo bigint"
        ),
        idx,
    )
    w = media_admission_writer(idx, out, sig_fn=vid.video_fingerprints)
    w(media.filter("doc_id < 10"), 0)  # mid-cohort: canonical 8 lands first
    w(media.filter("doc_id >= 10"), 1)
    rows = {
        r["doc_id"]: (r["cluster_id"], r["keep"], r["reason"])
        for r in spark.read.parquet(out).collect()
    }
    assert len(rows) == 24
    assert rows[10] == (8, False, "near_dup_index")  # rate-doubled twin
    assert rows[9] == (8, False, "near_dup_batch")
    assert rows[8] == (8, True, "kept")


def test_vertical_flip_twin_separates_on_grid_word_only() -> None:
    """Round-11 planted negative (VERDICT ask #4): the vertical-flip
    twin preserves every frame's total AND per-column sums, so the
    base 4-word fingerprint pairs it at Hamming 0 — the grid word's
    top/bottom quadrants must push it past the widened verify bound
    while the true twins stay inside it."""
    fp = {d: vid._grid_fingerprint(vid._synth_scene_mp4(d)) for d in range(4)}
    flip = vid._grid_fingerprint(
        vid._synth_scene_mp4(vid.VFLIP_PLANT_OFFSET + 0)
    )

    def ham(a, b, lo=0, hi=6):
        return sum(bin(x ^ y).count("1") for x, y in zip(a[lo:hi], b[lo:hi]))

    assert ham(fp[0], flip, 0, 4) == 0  # base words: the false positive
    assert ham(fp[0], flip) > vid.GRID_HAMMING_MAX  # grid word separates
    assert ham(fp[0], fp[1]) == 0  # resized cross-codec twin still pairs
    assert ham(fp[0], fp[2]) <= vid.GRID_HAMMING_MAX  # rate-doubled twin
    assert ham(fp[0], fp[3]) > 20  # fresh scene stays far


def test_grid_word_quadrant_layout_closed_form() -> None:
    """The grid word's bits match the closed-form quadrant compares
    the oracle replays: position t = scene cell 4t, bits (TL, TR, BL,
    BR) = 4*q >= v + g(v) + 2h(v) for q in (v, g(v), h(v), h(v))."""
    from eventstreamd_spark.operators.perceptual import _g_byte, _h_byte

    doc = 0
    s, n_frames, _, _ = vid._video_scene(doc)
    *_, g_hi, g_lo = vid._grid_fingerprint(vid._synth_scene_mp4(doc))
    word = (g_hi << 32) | g_lo
    for t in range(vid.GRID_POSITIONS):
        v = vid._scene_value(s, 4 * t)
        g, h = _g_byte(v), _h_byte(v)
        u = v + g + 2 * h
        want = [4 * v >= u, 4 * g >= u, 4 * h >= u, 4 * h >= u]
        got = [(word >> (4 * t + i)) & 1 == 1 for i in range(4)]
        assert got == want, (t, v, got, want)


def test_grid_near_dup_spark_vs_kernel(spark, sf_dir) -> None:
    """video_near_dup_grid through the full Spark path (vflip-planted
    corpus, 12-band join) agrees with a driver-side brute-force over
    the same kernel fingerprints."""
    from itertools import combinations

    from eventstreamd_spark.operators.multimodal import cached_media

    media = cached_media(spark, sf_dir, "scene_video_vflip").filter(
        "doc_id % 100000 < 16"
    )
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in vid.video_near_dup_grid(media).collect()
    }
    fp = {
        r["doc_id"]: vid._grid_fingerprint(bytes(r["blob"]))
        for r in media.collect()
    }

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    want = set()
    for a, b in combinations(sorted(fp), 2):
        d = ham(fp[a], fp[b])
        # brute force has no banding loss inside the verify bound
        # (single-band pigeonhole guarantees recall to Hamming 11;
        # GRID_HAMMING_MAX=14 pairs past that could drop — none here)
        if d <= vid.GRID_HAMMING_MAX:
            want.add((a, b, d))
    assert got == want


def test_grid_base_words_equal_envelope_fingerprint() -> None:
    """The decode-once contract (round 12): the grid kernel's first
    four words ARE the envelope fingerprint — same positions, same
    sums — so the registry may serve video_fingerprints/video_near_dup
    by projecting the cached 6-word signature table.  Checked across
    every cohort member class (PNG canonical, resized JPEG twin,
    rate-doubled+perturbed, fresh scene)."""
    for d in range(8):
        blob = vid._synth_scene_mp4(d)
        assert vid._grid_fingerprint(blob)[:4] == vid._envelope_fingerprint(
            blob
        ), f"doc {d}"


def test_base_signatures_from_grid_match_direct_kernel(spark, sf_dir) -> None:
    """End-to-end projection equivalence on DataFrames: deriving the
    base 4-word signatures from the vflip-corpus grid table (filter
    plants, project words) reproduces video_fingerprints over the
    base corpus row-for-row."""
    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 24")
    grid = vid.scene_video_grid_signatures(docs).localCheckpoint()
    derived = {
        tuple(r) for r in vid.base_signatures_from_grid(grid).collect()
    }
    direct = {
        tuple(r)
        for r in vid.video_fingerprints(
            vid.documents_as_scene_video(docs)
        ).collect()
    }
    assert derived == direct
    # and the grid table really does carry the plants the base tier drops
    n_plants = grid.filter(
        f"doc_id >= {vid.VFLIP_PLANT_OFFSET}"
    ).count()
    assert n_plants == 24 // vid.COHORT


def test_sig_relation_is_session_cached_not_persisted(spark, sf_dir) -> None:
    """DERIVED signature relations are computed fresh every process and
    shared only within the session (plans/memo.py) — never written
    under .scratch.  Pins (a) the three video faces decode ONCE per
    session: one memo entry for the grid kernel and a hit for every
    later face, (b) only blob kinds appear on disk, (c) rows equal the
    spec builder."""
    import glob
    import os

    from eventstreamd_spark import queries_registry as qr
    from eventstreamd_spark.operators import multimodal as mm
    from eventstreamd_spark.plans import memo

    memo.memo_clear()
    hits = memo.HITS
    faces = ("video_fingerprints", "video_near_dup", "video_near_dup_grid")
    for name in faces:
        qr.QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    # (a) one decode per session, served to every later face
    producer = vid.video_fingerprints_grid
    entries = [
        k for k in memo._MEMO
        if k[1:3] == (producer.__module__, producer.__qualname__)
    ]
    assert len(entries) == 1
    assert memo.HITS - hits == len(faces) - 1
    # (b) nothing derived persisted: every fixture on disk is a blob kind
    repo = os.path.dirname(os.path.dirname(os.path.abspath(mm.__file__)))
    on_disk = glob.glob(
        os.path.join(
            os.path.dirname(repo), ".scratch", "media_fixture", "*", "*",
            "*.parquet",
        )
    )
    kinds = {os.path.basename(p)[: -len(".parquet")] for p in on_disk}
    assert kinds <= set(mm._media_builders()), kinds
    # (c) same rows as the spec builder over the same documents
    grid = memo.shared(
        producer, mm.cached_media(spark, sf_dir, "scene_video_vflip")
    )
    spec = vid.scene_video_grid_signatures(
        load_table(spark, sf_dir, "documents")
    )
    assert {tuple(r) for r in grid.collect()} == {
        tuple(r) for r in spec.collect()
    }
    memo.memo_clear()

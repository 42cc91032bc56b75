"""Content tests for the multimodal kernels. The IMAGE family is real
(functions/imagecodec.py): these tests pin codec round-trips at the
byte/pixel level, then check the Spark kernels against local numpy on
the SAME deterministic images — beyond the driver's oracle/rows
checks (schema, one->many expansion, binary round-trip)."""

import math

import numpy as np
import pytest

from adcirctime2cogs_spark.functions import imagecodec as ic
from adcirctime2cogs_spark.operators import multimodal as mm
from adcirctime2cogs_spark.tables import load_table


def test_bmp_roundtrip_and_header_bytes():
    img = mm._synth_image(4)  # even -> the BMP path
    data = ic.encode_bmp(img)
    assert data[:2] == b"BM"
    import struct

    (offset,) = struct.unpack_from("<I", data, 10)
    assert offset == 54  # 14-byte file header + 40-byte info header
    size, w, h, planes, bpp, comp = struct.unpack_from("<IiiHHI", data, 14)
    assert (size, planes, bpp, comp) == (40, 1, 24, 0)
    assert (w, h) == (img.shape[1], img.shape[0])
    back = ic.decode_bmp(data)
    assert np.array_equal(back, img)  # BGR flip + bottom-up + padding undone


def test_bmp_row_padding():
    """Widths whose 3w isn't a multiple of 4 exercise the pad bytes."""
    for w in (1, 2, 3, 5, 17):
        img = np.arange(w * 6 * 3, dtype="uint8").reshape(6, w, 3)
        assert np.array_equal(ic.decode_bmp(ic.encode_bmp(img)), img)


def test_ppm_roundtrip():
    img = mm._synth_image(7)  # odd -> the PPM path
    data = ic.encode_ppm(img)
    assert data.startswith(b"P6\n")
    assert np.array_equal(ic.decode_ppm(data), img)
    gray = img[:, :, 0]
    assert np.array_equal(ic.decode_ppm(ic.encode_ppm(gray)), gray)


def test_decode_image_dispatch():
    img = mm._synth_image(10)
    assert ic.decode_image(ic.encode_bmp(img))[1] == "bmp"
    assert ic.decode_image(ic.encode_ppm(img))[1] == "ppm"
    with pytest.raises(ValueError):
        ic.decode_image(b"GIF89a....")


def test_resize_nearest_golden():
    """2x downsample of a checkerboard picks the pixel-center samples."""
    img = np.zeros((4, 4), dtype="uint8")
    img[::2, ::2] = 255
    out = ic.resize_nearest(img, 2, 2)
    # centers land at source rows/cols 1 and 3 -> all zeros
    assert out.tolist() == [[0, 0], [0, 0]]
    up = ic.resize_nearest(img, 8, 8)
    assert up.shape == (8, 8)
    # upsample is exact replication of the nearest source pixel
    assert up[0, 0] == img[0, 0] and up[7, 7] == img[3, 3]


def test_image_decode_matches_synth_dims(spark, sf_dir):
    out = {r.doc_id: r for r in mm.mm_image_decode(spark, sf_dir).collect()}
    docs = [r.doc_id for r in
            load_table(spark, sf_dir, "documents").select("doc_id").collect()]
    assert set(out) == set(docs)
    for d in docs:
        r = out[d]
        assert (r.width, r.height) == (16 + d % 48, 16 + (d * 7) % 48)
        assert r.channels == 3
        assert r.format == ("bmp" if d % 2 == 0 else "ppm")


def test_resize_kernel_matches_local_resample(spark, sf_dir):
    out = {r.doc_id: r for r in mm.mm_resize(spark, sf_dir).collect()}
    for d in list(out)[:50]:
        img = mm._synth_image(d)
        h, w = img.shape[:2]
        scale = min(mm.RESIZE_BOX / w, mm.RESIZE_BOX / h, 1.0)
        ow, oh = max(1, int(w * scale)), max(1, int(h * scale))
        r = out[d]
        assert (r.out_w, r.out_h) == (ow, oh)
        assert r.out_w <= mm.RESIZE_BOX and r.out_h <= mm.RESIZE_BOX


def test_frame_sample_decodes_real_avi(spark, sf_dir):
    """mm_frame_sample demuxes REAL AVI containers: every sampled
    frame's metadata matches a local decode of the same synthetic
    video, including the orientation/channel-sensitive probes."""
    rows = mm.mm_frame_sample(spark, sf_dir).collect()
    got = {(r.doc_id, r.frame_idx): r for r in rows}
    docs = load_table(spark, sf_dir, "documents").select("doc_id").collect()
    n_expected = 0
    for r in docs[:40] + docs[-5:]:
        w, h, nf = mm._synth_video_dims(r.doc_id)
        frames = mm._synth_frames(r.doc_id)
        for f_idx in range(0, nf, mm.VIDEO_STRIDE):
            row = got[(r.doc_id, f_idx)]
            assert (row.width, row.height) == (w, h)
            assert row.ts_ms == f_idx * 100
            assert row.red_sum == int(
                frames[f_idx][:, :, 0].astype("int64").sum()
            )
            assert row.corner_red == int(frames[f_idx][0, 0, 0])
    for r in docs:
        _, _, nf = mm._synth_video_dims(r.doc_id)
        n_expected += len(range(0, nf, mm.VIDEO_STRIDE))
    assert len(rows) == n_expected


def test_avi_bytes_conform_to_spec():
    """Byte-level conformance of the AVI writer against the public
    RIFF layout, independently hand-decoded (not via decode_avi)."""
    import struct

    import numpy as np

    from adcirctime2cogs_spark.functions.videocodec import encode_avi

    frames = np.arange(3 * 4 * 5 * 3, dtype="u1").reshape(3, 4, 5, 3) % 256
    buf = encode_avi(frames, fps=25)
    assert buf[:4] == b"RIFF" and buf[8:12] == b"AVI "
    (riff_size,) = struct.unpack_from("<I", buf, 4)
    assert 8 + riff_size == len(buf)
    assert buf[12:16] == b"LIST" and buf[20:24] == b"hdrl"
    assert buf[24:28] == b"avih"
    vals = struct.unpack_from("<10I", buf, 32)
    assert vals[0] == 1_000_000 // 25  # micro-sec per frame
    assert vals[4] == 3  # total frames
    assert (vals[8], vals[9]) == (5, 4)  # width, height
    # one '00db' chunk per frame, rows padded to 4 bytes (5*3 -> 16)
    assert buf.count(b"00db") == 3 + 3  # movi chunks + idx1 entries
    assert b"idx1" in buf
    i = buf.find(b"00db")
    (dib_size,) = struct.unpack_from("<I", buf, i + 4)
    assert dib_size == 4 * 16


def test_avi_roundtrip_and_tolerant_walk():
    import struct

    import numpy as np

    from adcirctime2cogs_spark.functions.videocodec import (
        decode_avi,
        encode_avi,
    )

    rng = np.random.default_rng(9)
    frames = rng.integers(0, 256, (5, 7, 9, 3), dtype="u1")  # odd width
    buf = encode_avi(frames, fps=10)
    out, fps = decode_avi(buf)
    assert fps == 10 and np.array_equal(out, frames)
    # an unknown odd-size chunk inserted before 'movi' must be skipped
    # (and its pad byte honored)
    junk = b"JUNK" + struct.pack("<I", 3) + b"abc\x00"
    i = buf.find(b"movi") - 8  # start of the movi LIST header
    patched = buf[:i] + junk + buf[i:]
    patched = patched[:4] + struct.pack(
        "<I", len(patched) - 8
    ) + patched[8:]
    out2, _ = decode_avi(patched)
    assert np.array_equal(out2, frames)
    import pytest

    with pytest.raises(ValueError, match="RIFF/AVI"):
        decode_avi(b"RIFF\x00\x00\x00\x00WAVE")


def test_feature_extract_matches_numpy(spark, sf_dir):
    out = {r.doc_id: r.features
           for r in mm.mm_feature_extract(spark, sf_dir).collect()}
    for d in list(out)[:50]:
        px = mm._synth_image(d).astype("float64")
        lum = px.mean(axis=2)
        want = [px[:, :, 0].mean(), px[:, :, 1].mean(), px[:, :, 2].mean(),
                px[:, :, 0].std(), px[:, :, 1].std(), px[:, :, 2].std(),
                lum.min(), lum.max()]
        feats = out[d]
        assert len(feats) == 8
        # float32 storage tolerance
        assert all(math.isclose(f, w, rel_tol=1e-6, abs_tol=1e-4)
                   for f, w in zip(feats, want))


def test_wav_roundtrip_and_header():
    from adcirctime2cogs_spark.functions import audiocodec as ac

    s = mm._synth_samples(11)
    data = ac.encode_wav(s, 8000)
    assert data[:4] == b"RIFF" and data[8:12] == b"WAVE"
    assert data[12:16] == b"fmt " and data[36:40] == b"data"
    back, rate = ac.decode_wav(data)
    assert rate == 8000
    assert np.array_equal(back, s)


def test_wav_chunk_walker_skips_extras_and_downmixes():
    import struct

    from adcirctime2cogs_spark.functions import audiocodec as ac

    s = mm._synth_samples(3)
    data = ac.encode_wav(s, 16000)
    # splice an unknown LIST chunk between fmt and data: a real-world
    # WAV often carries one; the parser must skip it
    fmt_end = 36
    extra = b"LIST" + struct.pack("<I", 6) + b"INFOxx"
    spliced = data[:fmt_end] + extra + data[fmt_end:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    back, rate = ac.decode_wav(spliced)
    assert rate == 16000 and np.array_equal(back, s)
    # stereo payload downmixes to mono
    stereo = np.stack([s, np.zeros_like(s)], axis=1).ravel()
    data2 = ac.encode_wav(stereo, 8000)
    patched = data2.replace(
        struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16),
        struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16),
    )
    back2, _ = ac.decode_wav(patched)
    assert len(back2) == len(s)
    # mean of (s, 0) is s/2.0; the int16 cast truncates toward zero
    expected = (s.astype("float64") / 2.0).astype("int16")
    assert np.array_equal(back2, expected)


def test_frame_energies_match_numpy():
    from adcirctime2cogs_spark.functions import audiocodec as ac

    s = mm._synth_samples(42)
    es = ac.frame_energies(s, mm.AUDIO_WINDOW, mm.AUDIO_HOP)
    n_expected = (len(s) - mm.AUDIO_WINDOW) // mm.AUDIO_HOP + 1
    assert len(es) == n_expected
    for i, e in enumerate(es):
        w = s[i * mm.AUDIO_HOP: i * mm.AUDIO_HOP + mm.AUDIO_WINDOW].astype("int64")
        assert int(e) == int((w * w).sum())


def test_audio_decode_kernel_matches_synth(spark, sf_dir):
    out = {r.doc_id: r for r in mm.mm_audio_decode(spark, sf_dir).collect()}
    for d, r in list(out.items())[:50]:
        assert r.sample_rate == mm.AUDIO_RATE
        assert r.n_samples == 256 + (d * 13) % 1024
        assert r.duration_ms == r.n_samples * 1000 // mm.AUDIO_RATE


def test_phash_kernels_stability_and_discrimination():
    """phash64 invariants: exact under uniform brightness shift (only
    the DC coefficient moves), within PHASH_HAM_MAX under JPEG
    re-encode at q >= 70 on the adversarial synthetic gradient, and
    far apart (> 20 bits) for unrelated images."""
    import numpy as np

    from adcirctime2cogs_spark.functions.imagecodec import (
        hamming64,
        phash64,
    )
    from adcirctime2cogs_spark.functions.jpegcodec import (
        decode_jpeg,
        encode_jpeg,
    )
    from adcirctime2cogs_spark.operators.multimodal import (
        PHASH_HAM_MAX,
        _synth_image,
    )

    img = _synth_image(5)
    h0 = phash64(img)
    shifted = np.clip(img.astype("int64") + 9, 0, 255).astype("uint8")
    assert hamming64(h0, phash64(shifted)) == 0
    for q in (95, 85, 70):
        rt = decode_jpeg(encode_jpeg(img, quality=q))
        assert hamming64(h0, phash64(rt)) <= PHASH_HAM_MAX, q
    other = _synth_image(6)
    assert hamming64(h0, phash64(other)) > 20


def test_phash_pairs_find_exactly_the_planted_twins(spark, sf_dir):
    """mm_image_phash_pairs on the fixture: output is EXACTLY the
    planted (doc_id, doc_id + offset) JPEG-twin pairs — every twin
    recalled through its band collision, zero chance collisions
    surviving the hamming verify."""
    from adcirctime2cogs_spark.operators.multimodal import (
        PHASH_TWIN_MOD,
        PHASH_TWIN_OFFSET,
        _doc_ids,
        mm_image_phash_pairs,
    )

    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in mm_image_phash_pairs(spark, sf_dir).collect()
    }
    planted = {
        (r.doc_id, r.doc_id + PHASH_TWIN_OFFSET)
        for r in _doc_ids(spark, sf_dir).collect()
        if r.doc_id % PHASH_TWIN_MOD == 3
    }
    assert planted, "fixture has no planted twin ids"
    assert set(got) == planted
    assert all(h <= 10 for h in got.values())


def test_audio_fingerprint_margins():
    """audio_fingerprint64 invariants on the note fixtures: identical
    under half-volume re-encode (RMS normalization), within the
    ceiling under 8-bit requantization, and well past it for
    unrelated clips."""
    import numpy as np

    from adcirctime2cogs_spark.functions.audiocodec import (
        audio_fingerprint64,
    )
    from adcirctime2cogs_spark.functions.imagecodec import hamming64
    from adcirctime2cogs_spark.operators.multimodal import (
        AUDIO_FP_HAM_MAX,
        _synth_audio_notes,
    )

    clip = _synth_audio_notes(12)
    h0 = audio_fingerprint64(clip)
    half = np.clip(clip.astype("float64") * 0.5, -32768, 32767).astype(
        "int16"
    )
    assert hamming64(h0, audio_fingerprint64(half)) == 0
    req = ((clip.astype("int64") >> 8) << 8).astype("int16")
    assert hamming64(h0, audio_fingerprint64(req)) <= AUDIO_FP_HAM_MAX
    other = _synth_audio_notes(13)
    assert hamming64(h0, audio_fingerprint64(other)) > AUDIO_FP_HAM_MAX


def test_audio_fp_pairs_find_exactly_the_planted_twins(spark, sf_dir):
    """mm_audio_fp_pairs on the fixture: output is EXACTLY the
    planted half-volume twin pairs."""
    from adcirctime2cogs_spark.operators.multimodal import (
        AUDIO_FP_TWIN_MOD,
        AUDIO_FP_TWIN_OFFSET,
        _doc_ids,
        mm_audio_fp_pairs,
    )

    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in mm_audio_fp_pairs(spark, sf_dir).collect()
    }
    planted = {
        (r.doc_id, r.doc_id + AUDIO_FP_TWIN_OFFSET)
        for r in _doc_ids(spark, sf_dir).collect()
        if r.doc_id % AUDIO_FP_TWIN_MOD == 4
    }
    assert planted, "fixture has no planted twin ids"
    assert set(got) == planted
    assert all(h == 0 for h in got.values())


def test_video_phash_pairs_find_exactly_the_planted_twins(spark, sf_dir):
    """mm_video_phash_pairs on the fixture: output is EXACTLY the
    planted MJPEG-transcode twin pairs, each matching at every
    sampled position."""
    from adcirctime2cogs_spark.operators.multimodal import (
        VIDEO_FP_TWIN_MOD,
        VIDEO_FP_TWIN_OFFSET,
        _doc_ids,
        mm_video_phash_pairs,
    )

    rows = mm_video_phash_pairs(spark, sf_dir).collect()
    got = {(r.doc_a, r.doc_b): (r.n_positions, r.match_frac)
           for r in rows}
    planted = {
        (r.doc_id, r.doc_id + VIDEO_FP_TWIN_OFFSET)
        for r in _doc_ids(spark, sf_dir).collect()
        if r.doc_id % VIDEO_FP_TWIN_MOD == 6
    }
    assert planted, "fixture has no planted twin ids"
    assert set(got) == planted
    for n_pos, frac in got.values():
        assert n_pos == 3 and frac == 1.0


def test_mih_candidates_cover_full_verify_ceiling(spark):
    """_mih_candidate_pairs must surface EVERY pair within the verify
    ceiling — including the ADVICE r09 killer for the old 4x16
    banding: differing bits spread one (or two) per 16-bit band, so
    no contiguous 16-bit key collides. Deterministic adversarial
    spreads plus seeded random flips, at both deployed ceilings
    (audio 5, image/video 8)."""
    import random

    from adcirctime2cogs_spark.operators.multimodal import (
        _mih_candidate_pairs,
    )

    def signed(h):
        return h - (1 << 64) if h >= (1 << 63) else h

    rng = random.Random(20260816)
    cases = []
    for ceiling in (5, 8):
        # one-per-old-band spreads (distance 4/5) and two-per-old-band
        # (distance 8): zero collisions under contiguous 16-bit bands
        spreads = [[0, 16, 32, 48], [0, 8, 16, 32, 48]]
        if ceiling == 8:
            spreads.append([0, 8, 16, 24, 32, 40, 48, 56])
        for s in spreads:
            if len(s) <= ceiling:
                cases.append((ceiling, s))
        for _ in range(12):
            d = rng.randint(1, ceiling)
            cases.append((ceiling, rng.sample(range(64), d)))
    for ceiling in (5, 8):
        rows, expected = [], set()
        base_id = 0
        for c, bits in cases:
            if c != ceiling:
                continue
            h0 = rng.getrandbits(64)
            h1 = h0
            for b in bits:
                h1 ^= 1 << b
            rows.append((base_id, signed(h0)))
            rows.append((base_id + 1, signed(h1)))
            expected.add((base_id, base_id + 1))
            base_id += 2
        df = spark.createDataFrame(rows, "doc_id long, h long")
        got = {
            (r.doc_a, r.doc_b)
            for r in _mih_candidate_pairs(df, "h", ceiling).collect()
        }
        missed = expected - got
        assert not missed, (
            f"ceiling {ceiling}: planted within-ceiling pairs missed "
            f"by MIH candidates: {sorted(missed)}"
        )


def test_mih_bucket_cap_bounds_mass_duplication(spark):
    """A mass-duplicated media corpus (5k identical hashes — every
    crawl's logo/blank-image bucket) must take the two-lowest-id star
    path on the MIH build side: candidate count stays O(k), never the
    quadratic, and every member still pairs with a representative."""
    from pyspark.sql import functions as F

    from adcirctime2cogs_spark.operators.multimodal import (
        MIH_BUCKET_CAP,
        _mih_candidate_pairs,
    )

    big_n = 5000
    assert MIH_BUCKET_CAP < big_n
    rows = [(i, 0x0123456789ABCDEF) for i in range(big_n)]
    df = spark.createDataFrame(rows, "doc_id long, h long")
    cand = _mih_candidate_pairs(df, "h", 8)
    pairs = [(r.doc_a, r.doc_b) for r in cand.collect()]
    # two-rep star after pair normalization: (0, m) for all m plus
    # (1, m) for m >= 2 -> 2k - 3 distinct pairs
    assert len(pairs) == 2 * big_n - 3
    # every pair touches a representative
    assert all(a <= 1 or b <= 1 for a, b in pairs)
    # in-band over-cap signal rides the same action (ADVICE r10);
    # every member hits m = 5 band buckets, all of the same over-cap
    # group, so groups_over_cap counts one per band. Read from the
    # collect()ed handle — df.count() runs a derived plan, and an
    # AQE-empty result eliminates the observed subtree entirely.
    from adcirctime2cogs_spark.operators.starcap import (
        observed_star_metrics,
    )

    m = observed_star_metrics(cand)["mih_bucket"]
    assert m["groups_over_cap"] == 5
    assert m["max_group_size"] == big_n
    assert m["cap"] == MIH_BUCKET_CAP


def test_hash_kernels_degenerate_inputs():
    """phash64 / resize_area / audio_fingerprint64 must stay total on
    degenerate inputs: 1x1 and single-row/column images, constant and
    silent signals — a corpus front door sees all of these."""
    import numpy as np

    from adcirctime2cogs_spark.functions.audiocodec import (
        audio_fingerprint64,
    )
    from adcirctime2cogs_spark.functions.imagecodec import (
        phash64,
        resize_area,
    )

    for shape in ((1, 1, 3), (1, 17, 3), (5, 1, 3), (2, 2, 3)):
        assert isinstance(phash64(np.zeros(shape, dtype="uint8")), int)
    assert isinstance(audio_fingerprint64(np.zeros(10, dtype="int16")),
                      int)
    assert isinstance(audio_fingerprint64(np.zeros(0, dtype="int16")),
                      int)
    assert np.allclose(resize_area(np.ones((1, 1)), 4, 4), 1.0)


def test_evict_fingerprints_releases_memo(spark, tmp_path):
    """ADVICE r12: fingerprint tables for ephemeral corpora must be
    releasable explicitly — the automatic supersession only fires on a
    same-dir re-request. memo.clear on the corpus dir unpersists and
    drops them."""
    from pyspark.sql import functions as F

    from adcirctime2cogs_spark import memo

    corpus = str(tmp_path)
    df = mm._fingerprints_once(
        spark, corpus, "evict_test",
        lambda: spark.range(5).select(F.col("id").alias("doc_id")),
    )
    key = ("multimodal.fingerprints:evict_test", corpus)
    assert memo._SESSION_MEMO[key][2] is df and df.storageLevel.useMemory
    memo.clear(spark, corpus)
    assert not any(k for k in memo._SESSION_MEMO if k[1] == corpus)
    assert not df.storageLevel.useMemory

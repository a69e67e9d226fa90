"""Multimodal plumbing tests: binary columns through mapInPandas with the
deterministic fake decoder (real codecs absent in this container)."""

from __future__ import annotations

import pytest

from tsatool_app_spark.functions.multimodal import (
    MEDIA_SCHEMA,
    decode_image_batch,
    pack_fake_image,
    sample_video_frames,
)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (1, pack_fake_image(8, 4), ("image", "fake", 8, 4, None)),
        (2, pack_fake_image(16, 16), ("image", "fake", 16, 16, None)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_image_batch(spark, media_df):
    out = {r.media_id: r for r in decode_image_batch(media_df, fake_decoder=True).collect()}
    assert (out[1].width, out[1].height, out[1].channels) == (8, 4, 3)
    assert (out[2].width, out[2].height) == (16, 16)
    # deterministic payload → deterministic mean
    expected_mean = sum(((x * 31 + y * 17) % 251) for y in range(4) for x in range(8)) / 32
    assert out[1].mean_px == f"{expected_mean:.6f}"


def test_decode_without_library_raises(spark, media_df):
    with pytest.raises(Exception) as ei:
        decode_image_batch(media_df, fake_decoder=False).collect()
    assert "NotImplementedError" in str(ei.value) or "requires" in str(ei.value)


def test_video_sampling_real_fanout(spark):
    """The 1→N frame fan-out runs for real on the TSTV container: every
    ``every_nth`` frame comes back with exact pixel bytes."""
    from tsatool_app_spark.functions.multimodal import pack_fake_video

    buf = pack_fake_video(4, 3, 10)
    df = spark.createDataFrame(
        [(1, buf, ("video", "tstv", 4, 3, None))], MEDIA_SCHEMA
    )
    rows = sorted(
        sample_video_frames(df, 3).collect(), key=lambda r: r.frame_idx
    )
    assert [r.frame_idx for r in rows] == [0, 3, 6, 9]
    for r in rows:
        want = bytes(((x + y + r.frame_idx) % 251) for y in range(3) for x in range(4))
        assert bytes(r.frame_bytes) == want


def test_video_sampling_unknown_codec_raises(spark, media_df):
    # media_df holds fake images (TSTM), not videos: the worker must refuse
    with pytest.raises(Exception, match="ffmpeg|NotImplemented"):
        sample_video_frames(media_df, 5).collect()


def test_wav_roundtrip_and_audio_decode(spark):
    """wav_codec round-trip plus the distributed audio kernel on real
    PCM-16 WAV bytes produced by the repo's own encoder."""
    import numpy as np

    from tsatool_app_spark.functions.multimodal import decode_audio_batch
    from tsatool_app_spark.wav_codec import decode_wav, encode_wav

    rng = np.random.default_rng(11)
    mono = rng.integers(-(2**15), 2**15, size=200, dtype=np.int16)
    stereo = rng.integers(-(2**15), 2**15, size=(150, 2), dtype=np.int16)

    rate, got = decode_wav(encode_wav(mono, 16000))
    assert rate == 16000 and np.array_equal(got[:, 0], mono)
    rate, got = decode_wav(encode_wav(stereo, 44100))
    assert rate == 44100 and np.array_equal(got, stereo)

    df = spark.createDataFrame(
        [
            (1, encode_wav(mono, 16000), ("audio", "wav", None, None, None)),
            (2, encode_wav(stereo, 44100), ("audio", "wav", None, None, None)),
        ],
        MEDIA_SCHEMA,
    )
    out = {r.media_id: r for r in decode_audio_batch(df).collect()}
    a = np.abs(mono.astype("int32"))
    assert (out[1].sample_rate, out[1].channels, out[1].n_frames) == (16000, 1, 200)
    assert out[1].peak_amp == int(a.max())
    assert out[1].mean_abs == f"{float(a.mean()):.6f}"
    assert (out[2].sample_rate, out[2].channels, out[2].n_frames) == (44100, 2, 150)


def test_wav_rejects_non_pcm():
    import numpy as np
    import pytest as _pytest

    from tsatool_app_spark.wav_codec import decode_wav, encode_wav

    with _pytest.raises(ValueError):
        decode_wav(b"not a wav at all")
    # corrupt the fmt tag to float (3): must refuse, not mis-decode
    buf = bytearray(encode_wav(np.zeros(4, dtype=np.int16), 8000))
    buf[20] = 3
    with _pytest.raises(NotImplementedError):
        decode_wav(bytes(buf))


# ---------------------------------------------------------------------------
# Native PNG decode path (r2 VERDICT #4: un-gate PNG decode)
# ---------------------------------------------------------------------------


def _filtered_png(arr, filters):
    """Forward-filter a (H, W, C) uint8 array into PNG bytes using a chosen
    filter type per scanline — lets the test exercise decode paths our own
    encoder (filter 0 only) never emits."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = arr.shape
    color = {1: 0, 3: 2, 4: 6}[ch]
    bpp = ch
    lines = []
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        cur = arr[y].reshape(-1).astype(np.int32)
        f = filters[y % len(filters)]
        out = [f]
        for i in range(w * ch):
            a = int(cur[i - bpp]) if i >= bpp else 0
            b = int(prev[i])
            c = int(prev[i - bpp]) if i >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((int(cur[i]) - pred) & 0xFF)
        lines.append(bytes(out))
        prev = cur

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )


def test_decode_png_roundtrip_own_encoder():
    import numpy as np

    from tsatool_app_spark.sinks_png import decode_png, encode_png

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(23, 17, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(arr)), arr)


def test_decode_png_all_filters_and_color_types():
    """Every scanline filter type (None/Sub/Up/Average/Paeth) and color
    types 0/2/6 reconstruct exactly."""
    import numpy as np

    from tsatool_app_spark.sinks_png import decode_png

    rng = np.random.default_rng(11)
    for ch in (1, 3, 4):
        arr = rng.integers(0, 256, size=(10, 9, ch), dtype=np.uint8)
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            got = decode_png(_filtered_png(arr, filters))
            assert got.shape == arr.shape, (ch, filters)
            assert np.array_equal(got, arr), (ch, filters)


def test_decode_image_batch_real_png(spark):
    """decode_image_batch with fake_decoder=False decodes real PNG bytes
    produced by the repo's own encoder — no gating (r2 VERDICT #4)."""
    import numpy as np

    from tsatool_app_spark.sinks_png import encode_png

    rng = np.random.default_rng(3)
    imgs = {
        1: rng.integers(0, 256, size=(12, 20, 3), dtype=np.uint8),
        2: rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8),
    }
    rows = [
        (mid, encode_png(a), ("image", "png", a.shape[1], a.shape[0], None))
        for mid, a in imgs.items()
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in decode_image_batch(df).collect()}
    for mid, a in imgs.items():
        r = out[mid]
        assert (r.width, r.height, r.channels) == (a.shape[1], a.shape[0], 3)
        assert r.mean_px == f"{float(a.mean()):.6f}"


def _gradient_img(h, w, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    x = np.linspace(0, 255, w)[None, :] * np.ones((h, 1))
    y = np.linspace(0, 200, h)[:, None] * np.ones((1, w))
    return np.clip(
        np.stack([x, y, (x + y) / 2], -1) + rng.normal(0, 3, (h, w, 3)), 0, 255
    ).astype(np.uint8)


def test_jpeg_roundtrip_near_lossless_q100():
    """quality=100 scales every Annex-K quant value to 1, so the only
    round-trip error is DCT/color rounding — a tight bound that validates
    encoder and decoder against each other numerically."""
    import numpy as np

    from tsatool_app_spark.jpeg_codec import (
        decode_jpeg_baseline,
        encode_jpeg_baseline,
    )

    img = _gradient_img(45, 61)  # non-multiple-of-8 on both axes
    out = decode_jpeg_baseline(encode_jpeg_baseline(img, quality=100))
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 3

    g = img[:, :, 1]
    gout = decode_jpeg_baseline(encode_jpeg_baseline(g, quality=100))
    assert gout.shape == (45, 61, 1)
    assert np.abs(gout[:, :, 0].astype(int) - g.astype(int)).max() <= 2


def test_jpeg_subsampled_and_restart_markers():
    """4:2:0 interleaved MCUs (4 Y blocks + Cb + Cr) and DRI/RSTn restart
    handling both decode; lossy error stays within quantization bounds."""
    import numpy as np

    from tsatool_app_spark.jpeg_codec import (
        decode_jpeg_baseline,
        encode_jpeg_baseline,
    )

    img = _gradient_img(33, 50, seed=11)
    for kwargs in (
        dict(quality=90, subsample=True),
        dict(quality=95, restart_interval=4),
        dict(quality=92, subsample=True, restart_interval=3),
    ):
        out = decode_jpeg_baseline(encode_jpeg_baseline(img, **kwargs))
        assert out.shape == img.shape
        err = np.abs(out.astype(int) - img.astype(int))
        assert err.mean() < 6 and err.max() < 40


def test_jpeg_rejects_unsupported_profiles():
    import numpy as np
    import pytest as _pytest

    from tsatool_app_spark.jpeg_codec import decode_jpeg_baseline, encode_jpeg_baseline

    with _pytest.raises(ValueError, match="SOI"):
        decode_jpeg_baseline(b"\x00\x01")
    # forge a lossless (SOF3) header out of a real baseline stream — still
    # rejected with a process-specific error (SOF2 decodes for real now)
    buf = bytearray(encode_jpeg_baseline(_gradient_img(16, 16), quality=90))
    idx = buf.find(b"\xff\xc0")
    buf[idx + 1] = 0xC3
    with _pytest.raises(ValueError, match="SOF3"):
        decode_jpeg_baseline(bytes(buf))
    # a SOF2 header over BASELINE scan data is invalid progressive
    # (a single scan cannot span DC and AC) — clear error, not garbage
    buf[idx + 1] = 0xC2
    with _pytest.raises(ValueError, match="progressive|DC mixed"):
        decode_jpeg_baseline(bytes(buf))


def test_jpeg_progressive_matches_baseline_exactly():
    """decode(progressive(x)) must equal decode(baseline(x)) BIT-FOR-BIT:
    the two encoders quantize identical coefficients, so any pixel
    difference would be a defect in the progressive scan machinery (DC/AC
    successive approximation, EOB-run accumulation, refinement bits)."""
    import numpy as np

    from tsatool_app_spark.jpeg_codec import (
        decode_jpeg,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    img = _gradient_img(45, 61)
    for q in (85, 95, 100):
        assert np.array_equal(
            decode_jpeg(encode_jpeg_progressive(img, quality=q)),
            decode_jpeg(encode_jpeg_baseline(img, quality=q)),
        ), q
    # grayscale
    g = img[:, :, 0]
    assert np.array_equal(
        decode_jpeg(encode_jpeg_progressive(g, quality=92)),
        decode_jpeg(encode_jpeg_baseline(g, quality=92)),
    )
    # near-constant image: long cross-block EOB runs in both AC passes
    flat = np.full((64, 64, 3), 128, np.uint8)
    flat[10, 10] = (250, 10, 10)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_progressive(flat, quality=85)),
        decode_jpeg(encode_jpeg_baseline(flat, quality=85)),
    )
    # dense noise: heavy refinement-bit traffic, ZRL paths
    rng = np.random.default_rng(13)
    noise = rng.integers(0, 256, (37, 53, 3), dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_progressive(noise, quality=75)),
        decode_jpeg(encode_jpeg_baseline(noise, quality=75)),
    )


def test_decode_image_batch_real_jpeg(spark):
    """decode_image_batch decodes baseline JPEG natively — no PIL gate
    (r3 VERDICT next-round #4)."""
    import numpy as np

    from tsatool_app_spark.jpeg_codec import decode_jpeg_baseline, encode_jpeg_baseline

    imgs = {
        1: _gradient_img(24, 32, seed=3),
        2: _gradient_img(9, 13, seed=5),
    }
    rows = [
        (
            mid,
            encode_jpeg_baseline(a, quality=95, subsample=(mid == 1)),
            ("image", "jpeg", a.shape[1], a.shape[0], None),
        )
        for mid, a in imgs.items()
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in decode_image_batch(df).collect()}
    for mid, a in imgs.items():
        r = out[mid]
        assert (r.width, r.height, r.channels) == (a.shape[1], a.shape[0], 3)
        # the kernel reports the DECODED mean — recompute it locally
        dec = decode_jpeg_baseline([b for m, b, _ in rows if m == mid][0])
        assert r.mean_px == f"{float(dec.mean()):.6f}"
        assert abs(float(r.mean_px) - float(a.mean())) < 3.0


def test_mjpeg_avi_end_to_end(spark):
    """Real video path, no ffmpeg: MJPEG-AVI container parsed natively
    (avi_codec), sampled frames are baseline JPEGs, and decode_image_batch
    decodes them — the full video → frames → features pipeline on one
    actually-produced format."""
    import numpy as np

    from tsatool_app_spark.avi_codec import encode_avi_mjpeg
    from tsatool_app_spark.jpeg_codec import decode_jpeg, encode_jpeg_baseline

    frames = [
        np.clip(
            np.fromfunction(
                lambda y, x, c: (x * 3 + y * 2 + f * 20 + c * 40) % 256,
                (24, 32, 3),
            ),
            0,
            255,
        ).astype(np.uint8)
        for f in range(8)
    ]
    jpegs = [encode_jpeg_baseline(f, quality=100) for f in frames]
    avi = encode_avi_mjpeg(jpegs, 32, 24, fps=10)
    df = spark.createDataFrame(
        [(7, avi, ("video", "mjpeg", 32, 24, None))], MEDIA_SCHEMA
    )
    sampled = sample_video_frames(df, 3)
    rows = sorted(sampled.collect(), key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in rows] == [0, 3, 6]
    # sampled frame bytes are the exact container payloads
    assert all(bytes(r.frame_bytes) == jpegs[r.frame_idx] for r in rows)
    # and they decode through the IMAGE kernel (rename to its contract)
    frame_media = sampled.selectExpr(
        "media_id * 10 + frame_idx AS media_id", "frame_bytes AS content"
    )
    meta = {r.media_id: r for r in decode_image_batch(frame_media).collect()}
    assert len(meta) == 3
    for r in rows:
        m = meta[70 + r.frame_idx]
        assert (m.width, m.height, m.channels) == (32, 24, 3)
        dec = decode_jpeg(jpegs[r.frame_idx])
        assert m.mean_px == f"{float(dec.mean()):.6f}"


def test_avi_codec_rejects_non_mjpeg():
    import numpy as np
    import pytest as _pytest

    from tsatool_app_spark.avi_codec import encode_avi_mjpeg, iter_avi_mjpeg_frames
    from tsatool_app_spark.jpeg_codec import encode_jpeg_baseline
    from tsatool_app_spark.wav_codec import encode_wav

    with _pytest.raises(ValueError, match="not an AVI"):
        list(iter_avi_mjpeg_frames(encode_wav(np.zeros(8, np.int16), 8000)))
    avi = bytearray(
        encode_avi_mjpeg(
            [encode_jpeg_baseline(np.zeros((8, 8), np.uint8))], 8, 8
        )
    )
    avi[avi.find(b"MJPG") : avi.find(b"MJPG") + 4] = b"H264"
    with _pytest.raises(NotImplementedError, match="MJPEG"):
        list(iter_avi_mjpeg_frames(bytes(avi)))


def _strip_dht(data: bytes) -> bytes:
    """Drop every DHT segment from a JPEG, keeping everything else."""
    import struct

    out = bytearray(data[:2])  # SOI
    pos = 2
    while pos < len(data):
        marker = data[pos + 1]
        if marker == 0xDA:  # SOS: copy the rest (entropy data + EOI)
            out += data[pos:]
            break
        (length,) = struct.unpack_from(">H", data, pos + 2)
        if marker != 0xC4:
            out += data[pos : pos + 2 + length]
        pos += 2 + length
    return bytes(out)


def test_jpeg_dht_less_frame_decodes_with_annex_k_tables():
    """MJPEG-AVI frames commonly omit DHT — OpenDML says decoders supply
    the fixed T.81 Annex-K tables, but only when the caller OPTS IN
    (mjpeg_tables=True, r5 ADVICE): a standalone JPEG missing its DHT is
    corrupt and must raise ValueError, not decode to garbage.  With the
    flag, the stripped stream decodes to identical pixels (the encoder
    writes exactly the Annex-K tables the fallback installs)."""
    import numpy as np
    import pytest

    from tsatool_app_spark.jpeg_codec import decode_jpeg, encode_jpeg_baseline

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8)
    data = encode_jpeg_baseline(img, quality=90)
    stripped = _strip_dht(data)
    assert len(stripped) < len(data)
    with pytest.raises(ValueError, match="undefined Huffman table"):
        decode_jpeg(stripped)  # strict default: DHT-less standalone = corrupt
    assert np.array_equal(decode_jpeg(stripped, mjpeg_tables=True), decode_jpeg(data))


def test_jpeg_unknown_scan_component_raises_value_error():
    """A scan referencing a component id absent from SOF is a malformed
    (not truncated) stream — it must still raise the codec's uniform
    ValueError, not escape as KeyError (r5 ADVICE)."""
    import numpy as np
    import pytest

    from tsatool_app_spark.jpeg_codec import decode_jpeg, encode_jpeg_baseline

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    data = bytearray(encode_jpeg_baseline(img, quality=85))
    sos = data.find(b"\xff\xda")
    assert sos > 0
    # SOS layout: marker(2) length(2) ns(1) then (cs, tdta) pairs
    data[sos + 5] = 0x77  # first scan component selector → unknown id
    with pytest.raises(ValueError, match="component id 119"):
        decode_jpeg(bytes(data))


def test_image_dhash_planted_transforms(spark):
    """Perceptual near-dup (r9 VERDICT stretch #8): the SAME picture
    re-encoded as PNG, JPEG q90, and JPEG q60 must pair up within the
    Hamming threshold (hamming 0 expected: cells are high-contrast and
    JPEG noise is a few counts), a resized copy must still pair, and a
    DIFFERENT picture must pair with none of them."""
    import numpy as np

    from tsatool_app_spark.functions.multimodal import (
        image_dhash, image_near_dup_pairs,
    )
    from tsatool_app_spark.jpeg_codec import encode_jpeg_baseline
    from tsatool_app_spark.sinks_png import encode_png

    rng = np.random.default_rng(7)
    # high-contrast 8x9 cell pattern upscaled x8 -> 64x72: cell means are
    # ~30 vs ~220, so codec noise cannot flip a gradient bit
    cells_a = rng.choice([30, 220], size=(8, 9)).astype(np.uint8)
    cells_b = rng.choice([30, 220], size=(8, 9)).astype(np.uint8)
    assert (cells_a != cells_b).any()

    def up(cells, f=8):
        img = np.repeat(np.repeat(cells, f, axis=0), f, axis=1)
        return np.ascontiguousarray(np.repeat(img[:, :, None], 3, axis=2))

    media = spark.createDataFrame(
        [
            (1, bytearray(encode_png(up(cells_a)))),
            (2, bytearray(encode_jpeg_baseline(up(cells_a), quality=90))),
            (3, bytearray(encode_jpeg_baseline(up(cells_a), quality=60))),
            (4, bytearray(encode_png(up(cells_a, f=4)))),  # resized copy
            (5, bytearray(encode_png(up(cells_b)))),
        ],
        "media_id long, content binary",
    )
    sigs = image_dhash(media)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in image_near_dup_pairs(sigs).collect()
    }
    same = {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}
    assert set(pairs) == same
    assert all(h <= 3 for h in pairs.values())
    h = {r.media_id: r.dhash for r in sigs.collect()}
    assert h[1] == h[4]  # resize-invariant by construction
    assert bin(h[1] ^ h[5]).count("1") > 10  # different picture is far


def test_image_dhash_fake_and_rendered_paths(spark):
    """Plumbing without codecs: fake-payload images with identical
    payloads hash equal; render_text_images gives byte-identical PNGs
    for identical texts (and thus equal dhash) and far hashes for
    distinct texts."""
    from tsatool_app_spark.functions.multimodal import (
        image_dhash, pack_fake_image, render_text_images,
    )

    fake = spark.createDataFrame(
        [
            (1, bytearray(pack_fake_image(12, 10))),
            (2, bytearray(pack_fake_image(12, 10))),
            (3, bytearray(pack_fake_image(16, 10))),
        ],
        "media_id long, content binary",
    )
    h = {r.media_id: r.dhash for r in image_dhash(fake, fake_decoder=True).collect()}
    assert h[1] == h[2] != h[3]

    docs = spark.createDataFrame(
        [(10, "same text"), (11, "same text"), (12, "other words entirely")],
        "doc_id long, text string",
    )
    imgs = render_text_images(docs)
    blobs = {r.doc_id: bytes(r.content) for r in imgs.collect()}
    assert blobs[10] == blobs[11] != blobs[12]
    hd = {r.doc_id: r.dhash for r in image_dhash(imgs, id_col="doc_id").collect()}
    assert hd[10] == hd[11]
    assert bin(hd[10] ^ hd[12]).count("1") > 10


def test_audio_fingerprint_planted_transforms(spark):
    """The audio twin of the image dHash test: the SAME recording at 2x
    gain, and a 2:1 decimated copy, must pair with the original within
    the Hamming budget; a different recording pairs with nothing.
    Gain invariance is exact for clip-free integer doubling (RMS
    comparisons are scale-invariant)."""
    import numpy as np

    from tsatool_app_spark.functions.multimodal import (
        audio_fingerprint, audio_near_dup_pairs,
    )
    from tsatool_app_spark.wav_codec import encode_wav

    rng = np.random.default_rng(11)
    # 65 frames x 64 samples of band-limited-ish noise with per-frame
    # gain envelopes, |sample| < 2^13 so 2x gain cannot clip
    def clip(seed):
        r = np.random.default_rng(seed)
        env = r.uniform(0.1, 1.0, size=65)
        s = (r.normal(0, 1200, size=(65, 64)) * env[:, None]).astype(np.int16)
        return s.reshape(-1, 1)

    a = clip(1)
    b = clip(2)
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_wav(a, 8000))),
            (2, bytearray(encode_wav((a.astype(np.int32) * 2).astype(np.int16), 8000))),
            (3, bytearray(encode_wav(np.ascontiguousarray(a[::2]), 8000))),
            (4, bytearray(encode_wav(b, 8000))),
        ],
        "media_id long, content binary",
    )
    sigs = audio_fingerprint(media)
    h = {r.media_id: r.afp for r in sigs.collect()}
    assert h[1] == h[2]  # exact gain invariance
    assert bin(h[1] ^ h[4]).count("1") > 10
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in audio_near_dup_pairs(sigs).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 0
    assert (1, 3) in pairs and (2, 3) in pairs  # decimated copy is near
    assert not any(4 in p for p in pairs)


def test_audio_fingerprint_fake_and_rendered_paths(spark):
    """Plumbing without the codec: fake payloads hash deterministically;
    render_text_audio gives byte-identical WAVs for identical texts and
    far fingerprints for distinct texts."""
    from tsatool_app_spark.functions.multimodal import (
        audio_fingerprint, pack_fake_image, render_text_audio,
    )

    fake = spark.createDataFrame(
        [
            (1, bytearray(pack_fake_image(40, 10))),
            (2, bytearray(pack_fake_image(40, 10))),
            (3, bytearray(pack_fake_image(41, 10))),
        ],
        "media_id long, content binary",
    )
    h = {
        r.media_id: r.afp
        for r in audio_fingerprint(fake, fake_decoder=True).collect()
    }
    assert h[1] == h[2] != h[3]

    docs = spark.createDataFrame(
        [(10, "same words"), (11, "same words"), (12, "different clip")],
        "doc_id long, text string",
    )
    wavs = render_text_audio(docs)
    blobs = {r.doc_id: bytes(r.content) for r in wavs.collect()}
    assert blobs[10] == blobs[11] != blobs[12]
    ha = {
        r.doc_id: r.afp
        for r in audio_fingerprint(wavs, id_col="doc_id").collect()
    }
    assert ha[10] == ha[11]
    assert bin(ha[10] ^ ha[12]).count("1") > 10


def test_video_fingerprint_planted_transforms(spark):
    """Video-level near-dup end to end (r10 VERDICT missing #3): the
    SAME clip re-encoded (identical frames at JPEG q90 vs q60, and a
    2:1 frame-decimated copy via every_nth) must pair up within the
    Hamming threshold, while a DIFFERENT clip pairs with nothing."""
    import numpy as np

    from tsatool_app_spark.avi_codec import encode_avi_mjpeg
    from tsatool_app_spark.functions.multimodal import (
        video_fingerprint, video_near_dup_pairs,
    )
    from tsatool_app_spark.jpeg_codec import encode_jpeg_baseline

    rng = np.random.default_rng(11)

    def clip(seed_cells, quality):
        # 6 high-contrast 8x9 cell frames upscaled x8 → 64x72: cell means
        # ~30 vs ~220, so JPEG noise cannot flip a gradient bit
        frames = [
            encode_jpeg_baseline(
                np.repeat(np.repeat(c, 8, axis=0), 8, axis=1), quality=quality
            )
            for c in seed_cells
        ]
        return bytearray(encode_avi_mjpeg(frames, 72, 64))

    cells_a = [
        rng.choice([30, 220], size=(8, 9)).astype(np.uint8) for _ in range(6)
    ]
    cells_b = [
        rng.choice([30, 220], size=(8, 9)).astype(np.uint8) for _ in range(6)
    ]
    media = spark.createDataFrame(
        [
            (1, clip(cells_a, 90)),
            (2, clip(cells_a, 60)),  # re-encode of the same clip
            (3, clip(cells_b, 90)),  # different clip
        ],
        "media_id long, content binary",
    )
    sigs = video_fingerprint(media)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in video_near_dup_pairs(sigs).collect()
    }
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] <= 3
    h = {r.media_id: r.vfp for r in sigs.collect()}
    assert bin(h[1] ^ h[3]).count("1") > 10
    # frame decimation on a STATIC clip (all frames share one pattern,
    # the common near-dup case — a re-sampled copy of mostly-still
    # footage): every frame hash is identical, so any every_nth subset
    # votes out the same fingerprint.  (A clip of six INDEPENDENT random
    # frames has ~Binomial(6, ½) votes per bit, where a subset majority
    # legitimately moves — decimation-invariance is a property of frame
    # correlation, not of the combiner.)
    static = spark.createDataFrame(
        [(9, clip([cells_a[0]] * 6, 90))], "media_id long, content binary"
    )
    s_all = video_fingerprint(static).collect()[0].vfp
    s_dec = video_fingerprint(static, every_nth=2).collect()[0].vfp
    assert s_all == s_dec


def test_video_fingerprint_fake_and_rendered_paths(spark):
    """Plumbing without heavy codecs: TSTV fake clips with identical
    payloads fingerprint equal; render_text_videos gives byte-identical
    MJPEG-AVIs for identical texts (equal vfp) and far fingerprints for
    distinct texts."""
    import struct

    import numpy as np

    from tsatool_app_spark.functions.multimodal import (
        render_text_videos, video_fingerprint,
    )

    # hand-built TSTV containers with RANDOM frame payloads (the packed
    # formula's monotone gradient hashes all-ones for every size, so
    # distinctness needs real payload variation)
    rng = np.random.default_rng(3)

    def tstv(seed_frames):
        head = struct.pack(">4sIII", b"TSTV", 24, 16, len(seed_frames))
        return bytearray(head + b"".join(seed_frames))

    fa = [rng.integers(0, 256, 24 * 16, dtype=np.uint8).tobytes() for _ in range(4)]
    fb = [rng.integers(0, 256, 24 * 16, dtype=np.uint8).tobytes() for _ in range(4)]
    fake = spark.createDataFrame(
        [(1, tstv(fa)), (2, tstv(fa)), (3, tstv(fb))],
        "media_id long, content binary",
    )
    h = {r.media_id: r.vfp for r in video_fingerprint(fake).collect()}
    assert h[1] == h[2] != h[3]

    docs = spark.createDataFrame(
        [(10, "same clip"), (11, "same clip"), (12, "another clip here")],
        "doc_id long, text string",
    )
    vids = render_text_videos(docs)
    blobs = {r.doc_id: bytes(r.content) for r in vids.collect()}
    assert blobs[10] == blobs[11] != blobs[12]
    hv = {
        r.doc_id: r.vfp
        for r in video_fingerprint(vids, id_col="doc_id").collect()
    }
    assert hv[10] == hv[11]
    assert bin(hv[10] ^ hv[12]).count("1") > 10


def test_synthetic_signature_fixtures_exact(spark):
    """The constructed-distance fixtures (r10 VERDICT stretch #7 and its
    audio twin) are EXACT: base hashes are all-ones (-1 signed), and the
    pairwise Hamming distances equal the symmetric differences of the
    flip sets — through the real PNG/WAV decode paths."""
    from tsatool_app_spark.functions.multimodal import (
        audio_fingerprint, image_dhash, synthetic_afp_audio,
        synthetic_dhash_image, synthetic_vfp_video, video_fingerprint,
    )

    img = spark.createDataFrame(
        [
            (1, bytearray(synthetic_dhash_image())),
            (2, bytearray(synthetic_dhash_image((0,)))),
            (3, bytearray(synthetic_dhash_image((62, 63)))),
        ],
        "media_id long, content binary",
    )
    hi = {r.media_id: r.dhash for r in image_dhash(img).collect()}
    wav = spark.createDataFrame(
        [
            (1, bytearray(synthetic_afp_audio())),
            (2, bytearray(synthetic_afp_audio((0,)))),
            (3, bytearray(synthetic_afp_audio((62, 63)))),
        ],
        "media_id long, content binary",
    )
    ha = {r.media_id: r.afp for r in audio_fingerprint(wav).collect()}
    avi = spark.createDataFrame(
        [
            (1, bytearray(synthetic_vfp_video())),
            (2, bytearray(synthetic_vfp_video((0,)))),
            (3, bytearray(synthetic_vfp_video((62, 63)))),
        ],
        "media_id long, content binary",
    )
    hv = {r.media_id: r.vfp for r in video_fingerprint(avi).collect()}
    mask = (1 << 64) - 1
    for h in (hi, ha, hv):
        assert h[1] == -1  # all ones, signed
        assert bin((h[1] ^ h[2]) & mask).count("1") == 1
        assert bin((h[1] ^ h[3]) & mask).count("1") == 2
        assert bin((h[2] ^ h[3]) & mask).count("1") == 3


def test_signature_width_guards(spark):
    """r11 ADVICE: a grid/n_frames producing other than 64 bits must
    fail FAST on the driver (the packed Python int would otherwise
    break the Arrow→LongType conversion mid-job, and the near-dup
    probe machinery requires exactly 64 bits)."""
    import pytest

    from tsatool_app_spark.functions.multimodal import (
        audio_fingerprint, image_dhash,
    )

    media = spark.createDataFrame([], "media_id long, content binary")
    with pytest.raises(ValueError, match="grid"):
        image_dhash(media, grid=9)
    with pytest.raises(ValueError, match="n_frames"):
        audio_fingerprint(media, n_frames=129)


def test_video_fingerprint_zero_frames_null(spark):
    """ADVICE r11: a frame-less container yields a NULL vfp (not 0), so
    degenerate videos never cluster as mutual hamming-0 duplicates."""
    import struct

    from tsatool_app_spark.functions.multimodal import (
        video_fingerprint,
        video_near_dup_pairs,
    )

    empty = struct.pack(">4sIII", b"TSTV", 9, 8, 0)
    rows = [(1, bytearray(empty)), (2, bytearray(empty))]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    sigs = video_fingerprint(media)
    got = {r["media_id"]: r["vfp"] for r in sigs.collect()}
    assert got == {1: None, 2: None}
    assert video_near_dup_pairs(sigs).count() == 0


def test_interframe_quarantine_without_pyav(spark):
    """Without pyav (this container), non-RIFF/non-TSTV video bytes must
    still raise the quarantine NotImplementedError through both the
    frame-sampling and fingerprint paths."""
    import pytest

    try:
        import av  # noqa: F401
    except ImportError:
        pass
    else:
        pytest.skip("pyav present; quarantine branch not reachable")
    from tsatool_app_spark.functions.multimodal import (
        sample_video_frames,
        video_fingerprint,
    )

    media = spark.createDataFrame(
        [(1, bytearray(b"\x00\x00\x00\x18ftypisom fake-mp4 bytes"))],
        "media_id long, content binary",
    )
    with pytest.raises(Exception, match="ffmpeg/pyav"):
        sample_video_frames(media, 1).collect()
    with pytest.raises(Exception, match="ffmpeg/pyav"):
        video_fingerprint(media).collect()


def test_interframe_pyav_fingerprint():
    """SKIPPED where pyav is absent: an h264 mp4 round-trips through the
    gated decode and fingerprints deterministically (two identical
    encodes -> equal vfp inputs)."""
    import pytest

    av = pytest.importorskip("av")
    import io

    import numpy as np

    from tsatool_app_spark.functions.multimodal import (
        _dhash_value, _interframe_lumas, _majority_bits,
    )

    def encode_h264(frames):
        buf = io.BytesIO()
        with av.open(buf, "w", format="mp4") as container:
            stream = container.add_stream("h264", rate=25)
            stream.width, stream.height = frames[0].shape[1], frames[0].shape[0]
            stream.pix_fmt = "yuv420p"
            for arr in frames:
                frame = av.VideoFrame.from_ndarray(arr, format="gray")
                container.mux(stream.encode(frame))
            container.mux(stream.encode())
        return buf.getvalue()

    rng = np.random.default_rng(7)
    frames = [
        rng.integers(0, 256, size=(32, 32), dtype=np.uint8) for _ in range(5)
    ]
    clip = encode_h264(frames)
    lumas_a = _interframe_lumas(clip, 1)
    lumas_b = _interframe_lumas(encode_h264(frames), 1)
    assert len(lumas_a) == 5
    fp_a = _majority_bits([_dhash_value(x, 8) for x in lumas_a])
    fp_b = _majority_bits([_dhash_value(x, 8) for x in lumas_b])
    assert fp_a == fp_b

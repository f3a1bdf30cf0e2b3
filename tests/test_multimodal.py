"""Multimodal plumbing: binary payloads, typed metadata, stubbed decode."""

from __future__ import annotations

import pytest

from ssg_etl_spark.operators import multimodal as MM
from ssg_etl_spark.sources.tables import load_table


def test_media_table_schema_and_features(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    assets = MM.media_from_documents(docs)
    assert dict(assets.dtypes)["payload"] == "binary"
    feats = MM.extract_features(assets, fake=True).collect()
    assert len(feats) == docs.count()
    for r in feats[:5]:
        assert len(r.feature) == MM.FEATURE_DIM
        assert all(0.0 <= x <= 1.0 for x in r.feature)
        assert r.payload_bytes > 0


def test_real_decode_is_stubbed_for_compressed_formats():
    """Formats still needing codec libraries (MP3/H.264) must refuse, not
    silently fake; JPEG is a REAL codec since r12, so JPEG-magic bytes
    now hit the genuine decoder (malformed ones raise ValueError)."""
    with pytest.raises(NotImplementedError):
        MM.decode_media(b"ID3\x04 mp3 bytes", "audio", fake=False)
    with pytest.raises(NotImplementedError):
        MM.decode_media(b"P6\n1 1\n255\nRGB", "audio", fake=False)
    with pytest.raises(ValueError):
        MM.decode_media(b"\xff\xd8\xff\xe0 truncated jpeg", "image", fake=False)


def test_ppm_roundtrip_and_real_features():
    """encode_ppm → decode_ppm is lossless; decode_media(fake=False) on a
    P6 payload computes REAL pixel statistics."""
    pixels = bytes([10, 200, 30, 0, 255, 45])  # 2 pixels, 1x2... w=2,h=1
    payload = MM.encode_ppm(2, 1, pixels)
    w, h, maxval, back = MM.decode_ppm(payload)
    assert (w, h, maxval, back) == (2, 1, 255, pixels)
    f = MM.decode_media(payload, "image", fake=False)
    assert f[0:3] == [2.0, 1.0, 2.0]
    assert f[3] == pytest.approx(sum(pixels) / 6)
    assert (f[4], f[5]) == (0.0, 255.0)
    assert (f[6], f[7]) == (255.0, 1.0)
    # Comment + arbitrary whitespace in the header grammar.
    hairy = b"P6 # comment\n# more\n 2\t1 # w h\n255\n" + pixels
    assert MM.decode_ppm(hairy)[3] == pixels


def test_ppm_malformed_payloads_raise():
    good = MM.encode_ppm(2, 2, bytes(range(12)))
    with pytest.raises(ValueError):
        MM.decode_ppm(good[:-1])  # truncated raster
    with pytest.raises(ValueError):
        MM.decode_ppm(b"P5\n1 1\n255\nx")  # wrong magic (PGM)
    with pytest.raises(ValueError):
        MM.decode_ppm(b"P6\n0 1\n255\n")  # zero dimension
    with pytest.raises(ValueError):
        MM.decode_ppm(b"P6\n1 1\n70000\n" + bytes(3))  # >8-bit maxval
    with pytest.raises(ValueError):
        MM.encode_ppm(2, 2, bytes(5))  # wrong buffer size


def test_ppm_assets_real_extraction_end_to_end(spark, sf_dir):
    """The un-faked pipeline: Arrow encode stage → fake=False extraction;
    every asset decodes, dims follow the doc_id rule, stats are the digest
    stats."""
    import hashlib

    docs = load_table(spark, sf_dir, "documents").limit(40)
    feats = {
        r.asset_id: r
        for r in MM.extract_features(
            MM.ppm_assets_from_documents(docs), fake=False
        ).collect()
    }
    rows = {r.doc_id: r.text for r in docs.collect()}
    assert set(feats) == set(rows)
    for doc_id, text in rows.items():
        f = feats[doc_id].feature
        hpx = doc_id % 4 + 1
        digest = hashlib.md5(text.encode()).digest()
        assert f[0:3] == [16.0, float(hpx), 16.0 * hpx]
        assert f[3] == pytest.approx(sum(digest) / 16)
        assert (f[4], f[5]) == (float(min(digest)), float(max(digest)))


def test_frame_sample_plan(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    assets = MM.media_from_documents(docs)
    plan = MM.frame_sample_plan(assets, every_ms=1000)
    n_video = assets.filter("media_type = 'video'").count()
    assert plan.select("asset_id").distinct().count() == n_video


def test_extract_features_null_payload_yields_null_row(spark):
    from pyspark.sql import functions as F

    from ssg_etl_spark.operators.multimodal import extract_features, frame_sample_plan

    assets = spark.createDataFrame(
        [(1, "image", b"abc"), (2, "audio", None)],
        "asset_id long, media_type string, payload binary",
    )
    rows = {r.asset_id: r for r in extract_features(assets, fake=True).collect()}
    assert rows[1].feature is not None and rows[1].payload_bytes == 3
    assert rows[2].feature is None and rows[2].payload_bytes is None

    # NULL duration keeps the asset in the sample plan (sample_ms NULL).
    vids = spark.createDataFrame(
        [(1, "video", 2000), (2, "video", None)],
        "asset_id long, media_type string, duration_ms long",
    )
    plan = frame_sample_plan(vids, every_ms=1000)
    got = {r.asset_id for r in plan.collect()}
    assert got == {1, 2}
    assert plan.filter(F.col("asset_id") == 2).first().sample_ms is None


def test_resize_images_stub_shapes(spark):
    import pytest as _pytest

    from ssg_etl_spark.operators.multimodal import resize_images

    assets = spark.createDataFrame(
        [(1, "image", b"abc"), (2, "video", b"zz"), (3, "image", None)],
        "asset_id long, media_type string, payload binary",
    )
    rows = {r.asset_id: r for r in resize_images(assets, 4, 2).collect()}
    # Only images are resized; payload is 3 bytes/pixel; deterministic.
    assert set(rows) == {1, 3}
    assert rows[1].payload_bytes == 4 * 2 * 3 == len(rows[1].payload)
    assert rows[3].payload is None and rows[3].payload_bytes is None
    again = {r.asset_id: r for r in resize_images(assets, 4, 2).collect()}
    assert again[1].payload == rows[1].payload

    with _pytest.raises(ValueError):
        resize_images(assets, 0, 2)


def test_ppm_resize_real_nearest_neighbor():
    """_ppm_resize: integer-scale downsample picks exactly the
    pixel-center sources (((2i+1)*src)//(2*dst)); output re-decodes."""
    from ssg_etl_spark.operators.multimodal import (
        _ppm_resize,
        decode_ppm,
        encode_ppm,
    )

    # 4x2 source with distinct per-pixel bytes.
    raster = bytes(range(4 * 2 * 3))
    out = _ppm_resize(encode_ppm(4, 2, raster), 2, 1)
    w, h, maxval, px = decode_ppm(out)
    assert (w, h, maxval) == (2, 1, 255)
    # Target (0, c) reads source row ((2*0+1)*2)//2 = 1, col 2c+1.
    expect = bytes(
        raster[(1 * 4 + sc) * 3 + ch] for sc in (1, 3) for ch in range(3)
    )
    assert px == expect
    # Upsample is pure replication of nearest sources; still decodable.
    w, h, _, px = decode_ppm(_ppm_resize(encode_ppm(4, 2, raster), 8, 4))
    assert (w, h, len(px)) == (8, 4, 8 * 4 * 3)

    import pytest as _p

    with _p.raises(ValueError):
        _ppm_resize(b"not a ppm", 2, 2)


def test_resize_images_real_ppm_pipeline(spark, sf_dir):
    """fake=False end-to-end: PPM assets through the Arrow resize stage —
    every output payload is a decodable 8x8 PPM whose bytes match the
    local _ppm_resize of the same source."""
    from ssg_etl_spark.operators import multimodal as MM
    from ssg_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(12)
    assets = MM.ppm_assets_from_documents(docs)
    src = {r.asset_id: r.payload for r in assets.collect()}
    out = {
        r.asset_id: r
        for r in MM.resize_images(assets, 8, 8, fake=False).collect()
    }
    assert set(out) == set(src)
    for aid, row in out.items():
        assert row.payload == MM._ppm_resize(src[aid], 8, 8)
        w, h, _, px = MM.decode_ppm(row.payload)
        assert (w, h, len(px)) == (8, 8, 192)
        assert row.payload_bytes == len(row.payload)


def test_wav_roundtrip_and_malformed():
    """r10 audio leg: the stdlib WAV codec round-trips every sample
    bit-exactly, the container is genuine RIFF/WAVE, and non-mono-16-bit
    payloads raise instead of mis-parsing."""
    import io
    import wave

    import numpy as np
    import pytest

    from ssg_etl_spark.operators import multimodal as MM

    samples = MM.wav_samples(7, MM.wav_sample_count(7))
    payload = MM.encode_wav(samples)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    sr, decoded = MM.decode_wav(payload)
    assert sr == MM.WAV_SAMPLE_RATE
    assert decoded.tolist() == samples
    # Sign changes exist (zero-crossing feature is non-degenerate).
    s = np.asarray(samples)
    assert ((s[:-1] < 0) != (s[1:] < 0)).sum() > 0

    # Stereo payload refused.
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00\x00\x00")
    with pytest.raises(ValueError, match="mono 16-bit"):
        MM.decode_wav(buf.getvalue())
    with pytest.raises(wave.Error):
        MM.decode_wav(b"not a wav at all")


def test_wav_features_end_to_end(spark, sf_dir):
    """Encode → Arrow decode → integer features equals a local numpy
    replay of the same formula, including the variable clip lengths."""
    import numpy as np

    from ssg_etl_spark.operators import multimodal as MM
    from ssg_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(9)
    feats = {
        r.asset_id: r
        for r in MM.audio_features(MM.wav_assets_from_documents(docs)).collect()
    }
    for aid, row in feats.items():
        n = MM.wav_sample_count(aid)
        s = np.asarray(MM.wav_samples(aid, n), dtype=np.int64)
        assert row.n_samples == n
        assert row.duration_ms == n * 1000 // MM.WAV_SAMPLE_RATE
        assert row.sum_sq == int((s * s).sum())
        assert row.peak == int(np.abs(s).max())
        assert row.zero_crossings == int(((s[:-1] < 0) != (s[1:] < 0)).sum())


def test_y4m_roundtrip_and_malformed():
    """r10 video leg: genuine YUV4MPEG2 container round-trips every frame
    byte-exactly; foreign signatures, wrong geometry, bad FRAME markers,
    and truncated frames all raise."""
    import pytest

    from ssg_etl_spark.operators import multimodal as MM

    frames = [MM.y4m_frame_raster("doc text", fi) for fi in range(4)]
    payload = MM.encode_y4m(frames)
    assert payload.startswith(b"YUV4MPEG2 W16 H8 ")
    w, h, back = MM.decode_y4m(payload)
    assert (w, h) == (MM.Y4M_W, MM.Y4M_H) and back == frames

    with pytest.raises(ValueError, match="not a YUV4MPEG2"):
        MM.decode_y4m(b"RIFF....WAVE")
    with pytest.raises(ValueError, match="geometry"):
        MM.decode_y4m(b"YUV4MPEG2 W32 H8 F25:1\nFRAME\n" + b"x" * 768)
    with pytest.raises(ValueError, match="FRAME marker"):
        MM.decode_y4m(MM.Y4M_HEADER + b"BOGUS\n" + frames[0])
    with pytest.raises(ValueError, match="truncated"):
        MM.decode_y4m(MM.Y4M_HEADER + b"FRAME\n" + frames[0][:100])
    with pytest.raises(ValueError, match="frame must be"):
        MM.encode_y4m([b"short"])


def test_y4m_frame_sampling_end_to_end(spark, sf_dir):
    """Encode → Arrow decode → sample every 2nd frame equals a local
    replay: right indices (0, 2, …), right digests, right clip sizes."""
    import hashlib

    from ssg_etl_spark.operators import multimodal as MM
    from ssg_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(8)
    texts = {r.doc_id: r.text for r in docs.collect()}
    rows = MM.sample_frames(
        MM.y4m_assets_from_documents(docs), every_n=2
    ).collect()
    by_asset: dict[int, list] = {}
    for r in rows:
        by_asset.setdefault(r.asset_id, []).append(r)
    assert set(by_asset) == set(texts)
    for aid, rs in by_asset.items():
        n = 2 + aid % 4
        assert all(r.n_frames == n for r in rs)
        assert sorted(r.frame_index for r in rs) == list(range(0, n, 2))
        expect_bytes = len(MM.Y4M_HEADER) + n * (6 + MM.Y4M_FRAME_BYTES)
        assert all(r.payload_bytes == expect_bytes for r in rs)
        for r in rs:
            raster = MM.y4m_frame_raster(texts[aid], r.frame_index)
            assert r.frame_digest == hashlib.md5(
                raster.hex().encode("ascii")
            ).hexdigest()

    import pytest

    with pytest.raises(ValueError, match="every_n"):
        MM.sample_frames(MM.y4m_assets_from_documents(docs), every_n=0)


def test_png_roundtrip_and_malformed():
    """PNG encode->decode is lossless for arbitrary RGB rasters, and the
    decoder rejects corruption loudly: bad signature, CRC flip,
    truncation, unsupported color type."""
    import struct
    import zlib

    import pytest

    from ssg_etl_spark.operators import multimodal as mm

    pixels = bytes((i * 37 + 11) % 256 for i in range(3 * 5 * 4))
    payload = mm.encode_png(5, 4, pixels)
    assert payload[:8] == mm.PNG_SIG
    assert mm.decode_png(payload) == (5, 4, pixels)

    with pytest.raises(ValueError, match="signature"):
        mm.decode_png(b"P6" + payload)
    # Flip a byte inside the IDAT body -> CRC mismatch.
    idat_at = payload.index(b"IDAT") + 4
    corrupt = bytearray(payload)
    corrupt[idat_at] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        mm.decode_png(bytes(corrupt))
    with pytest.raises(ValueError, match="truncated|missing"):
        mm.decode_png(payload[:-6])
    # Grayscale (color type 0) is outside the supported subset.
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    raw = b"\x00\x01\x02" + b"\x00\x03\x04"
    gray = (
        mm.PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", zlib.compress(raw))
        + mm._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="unsupported"):
        mm.decode_png(gray)


def test_png_poison_payloads_raise_valueerror_bounded():
    """Hostile payloads (r11 advice): a decompression bomb must be
    rejected WITHOUT materializing the inflated raster; CRC-valid
    garbage DEFLATE and a wrong-length IHDR must raise ValueError (not
    zlib.error / struct.error); a truncated deflate stream inside a
    CRC-valid chunk must also raise."""
    import struct
    import zlib

    import pytest

    from ssg_etl_spark.operators import multimodal as mm

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)

    def png(ihdr_body, idat_body):
        return (
            mm.PNG_SIG
            + mm._png_chunk(b"IHDR", ihdr_body)
            + mm._png_chunk(b"IDAT", idat_body)
            + mm._png_chunk(b"IEND", b"")
        )

    # 10 MB of zeros compresses to ~10 KB; IHDR declares a 14-byte
    # raster. The bounded inflate must stop at expected+1 bytes.
    bomb = png(ihdr, zlib.compress(b"\x00" * 10_000_000, 9))
    assert len(bomb) < 20_000
    with pytest.raises(ValueError, match="bomb|overflow"):
        mm.decode_png(bomb)

    with pytest.raises(ValueError, match="inflate failed"):
        mm.decode_png(png(ihdr, b"\xff\xfe\x01garbage"))

    good_raw = b"".join(b"\x00" + b"\x10" * 6 for _ in range(2))
    with pytest.raises(ValueError, match="IHDR must be 13"):
        mm.decode_png(png(ihdr[:-1], zlib.compress(good_raw)))

    with pytest.raises(ValueError, match="truncated"):
        mm.decode_png(png(ihdr, zlib.compress(good_raw, 9)[:-4]))

    # Absurd declared dimensions are rejected before any inflate.
    huge = struct.pack(">IIBBBBB", 1 << 15, 1 << 15, 8, 2, 0, 0, 0)
    with pytest.raises(ValueError, match="out of range"):
        mm.decode_png(png(huge, zlib.compress(b"")))


def test_png_decoder_reverses_all_five_filters():
    """Our encoder writes filter 0, but a conforming writer may use any
    scanline filter — apply Sub/Up/Average/Paeth forward per the spec
    and prove the decoder reconstructs the original raster."""
    import struct
    import zlib

    from ssg_etl_spark.operators import multimodal as mm

    w, h, bpp = 4, 5, 3
    stride = w * bpp
    pixels = bytes((i * 73 + 5) % 256 for i in range(stride * h))

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    raw = bytearray()
    prev = bytes(stride)
    for r, ft in zip(range(h), (0, 1, 2, 3, 4)):
        line = pixels[r * stride : (r + 1) * stride]
        raw.append(ft)
        for i in range(stride):
            left = line[i - bpp] if i >= bpp else 0
            up = prev[i]
            ul = prev[i - bpp] if i >= bpp else 0
            if ft == 0:
                enc = line[i]
            elif ft == 1:
                enc = (line[i] - left) & 0xFF
            elif ft == 2:
                enc = (line[i] - up) & 0xFF
            elif ft == 3:
                enc = (line[i] - ((left + up) >> 1)) & 0xFF
            else:
                enc = (line[i] - paeth(left, up, ul)) & 0xFF
            raw.append(enc)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (
        mm.PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + mm._png_chunk(b"IEND", b"")
    )
    assert mm.decode_png(payload) == (w, h, pixels)


def test_png_features_and_decode_media_dispatch():
    """decode_media routes PNG payloads to the real decoder (codec id
    2.0) and PPM payloads keep their id 1.0 — mixed-codec corpora stay
    distinguishable in one feature column."""
    from ssg_etl_spark.operators import multimodal as mm

    pixels = bytes(range(48))  # 4x4 RGB
    png = mm.decode_media(mm.encode_png(4, 4, pixels), "image")
    ppm = mm.decode_media(mm.encode_ppm(4, 4, pixels), "image")
    assert png[:6] == ppm[:6]  # same dims + same pixel stats
    assert (png[7], ppm[7]) == (2.0, 1.0)


def test_png_pipeline_end_to_end(spark, sf_dir):
    """Arrow encode stage -> real decode stage at sf0.001: every row
    round-trips, dims follow doc_id%4+1, and the raster digest equals
    the digest-cycled construction."""
    import hashlib

    from ssg_etl_spark.operators import multimodal as mm
    from ssg_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    out = mm.png_roundtrip(mm.png_assets_from_documents(docs)).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert len(out) == len(texts)
    for r in out:
        h = r["asset_id"] % 4 + 1
        assert (r["width"], r["height"]) == (16, h)
        digest = hashlib.md5(texts[r["asset_id"]].encode()).digest()
        raster = digest * (3 * h)
        assert r["sum_byte"] == sum(raster)
        assert r["raster_digest"] == hashlib.md5(
            raster.hex().encode()
        ).hexdigest()


def test_png_resize_matches_ppm_resize_pixels():
    """The PNG resample produces the exact same target pixels as the PPM
    resample on the same source raster — the codec changes, the
    arithmetic does not — and the result survives the double DEFLATE
    round-trip."""
    from ssg_etl_spark.operators import multimodal as mm

    pixels = bytes((i * 31 + 7) % 256 for i in range(3 * 16 * 4))
    ppm_out = mm._ppm_resize(mm.encode_ppm(16, 4, pixels), 8, 8)
    png_out = mm._png_resize(mm.encode_png(16, 4, pixels), 8, 8)
    _, _, _, ppm_px = mm.decode_ppm(ppm_out)
    w, h, png_px = mm.decode_png(png_out)
    assert (w, h) == (8, 8)
    assert png_px == ppm_px

    # The dispatching real path routes by magic bytes.
    assert mm._real_resize(mm.encode_png(16, 4, pixels), 8, 8) == png_out
    assert mm._real_resize(mm.encode_ppm(16, 4, pixels), 8, 8) == ppm_out
    import pytest

    with pytest.raises(NotImplementedError):
        mm._real_resize(b"\xff\xd8\xff\xe0 jpeg-ish", 8, 8)

def test_jpeg_roundtrip_exact_on_dc_fixtures_and_bounded_on_real_content():
    """The baseline JPEG codec (r12): bit-exact on the DC-exact fixture
    family (constant 8x8-aligned gray columns + q[0]=8 tables — the math
    says lossless, the code must deliver it), and bounded-error lossy on
    smooth content with the stock Annex K tables."""
    import numpy as np

    from ssg_etl_spark.operators import multimodal as mm

    # Exact: both fixture heights (5 = single padded block row, 13 = two).
    for doc_id, text in [(0, "alpha"), (1, "beta"), (9, "long " * 80)]:
        w, h = mm.jpeg_fixture_dims(doc_id)
        raster = mm.jpeg_fixture_raster(text, h)
        payload = mm.encode_jpeg(
            w, h, raster,
            quant_luma=mm.JPEG_QUANT_LUMA_DCEXACT,
            quant_chroma=mm.JPEG_QUANT_CHROMA_DCEXACT,
        )
        assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
        assert mm.decode_jpeg(payload) == (w, h, 3, raster)

    # Lossy: a smooth gradient through the stock tables decodes within a
    # tight per-pixel bound (quantization error, not a parsing bug).
    W, H = 40, 24
    grad = np.zeros((H, W, 3), dtype=np.uint8)
    for x in range(W):
        grad[:, x, :] = int(x * 255 / (W - 1))
    _, _, _, px = mm.decode_jpeg(mm.encode_jpeg(W, H, grad.tobytes()))
    err = np.abs(
        np.frombuffer(px, dtype=np.uint8).astype(int)
        - grad.reshape(-1).astype(int)
    )
    assert err.max() <= 4, err.max()

    # Grayscale 1-component stream exercises the non-color decode leg.
    gray = bytes(range(64)) * 4
    gw, gh, gnc, gpx = mm.decode_jpeg(mm.encode_jpeg(16, 16, gray, gray=True))
    assert (gw, gh, gnc) == (16, 16, 1)
    assert max(abs(a - b) for a, b in zip(gpx, gray)) <= 8

    # decode_media dispatches by SOI magic with codec id 3.0.
    feats = mm.decode_media(
        mm.encode_jpeg(
            *(lambda w2, h2: (w2, h2, mm.jpeg_fixture_raster("t", h2)))(
                *mm.jpeg_fixture_dims(3)
            ),
            quant_luma=mm.JPEG_QUANT_LUMA_DCEXACT,
            quant_chroma=mm.JPEG_QUANT_CHROMA_DCEXACT,
        ),
        "image",
    )
    assert feats[7] == 3.0 and feats[0] == 125.0


def test_jpeg_malformed_and_unsupported_payloads_raise_valueerror():
    """Poison JPEG payloads must raise ValueError, never mis-parse: bad
    SOI, truncation, unsupported processes (progressive, subsampled,
    16-bit tables, restart intervals), entropy-stream corruption."""
    import struct

    import pytest

    from ssg_etl_spark.operators import multimodal as mm

    w, h = mm.jpeg_fixture_dims(1)
    good = mm.encode_jpeg(w, h, mm.jpeg_fixture_raster("t", h))

    with pytest.raises(ValueError, match="SOI"):
        mm.decode_jpeg(b"P6 " + good)
    with pytest.raises(ValueError, match="truncated|missing"):
        mm.decode_jpeg(good[: len(good) // 2])
    with pytest.raises(ValueError, match="no scan data"):
        mm.decode_jpeg(b"\xff\xd8\xff\xd9")

    # Progressive (SOF2) is outside the subset.
    sof0_at = good.index(b"\xff\xc0")
    prog = good[:sof0_at] + b"\xff\xc2" + good[sof0_at + 2 :]
    with pytest.raises(ValueError, match="baseline SOF0 only"):
        mm.decode_jpeg(prog)

    # Pixel cap (r12 advice): the float64 IDCT working set is ~100-200
    # bytes/px, so the JPEG cap is 2^25 px (NOT PNG's 2^28) and is a
    # parameter. A crafted SOF declaring 8192x4097 must be rejected
    # before any allocation; the same stream's real dims pass exactly at
    # the caller-supplied bound and fail one pixel below it.
    big = good[: sof0_at + 5] + struct.pack(">HH", 4097, 8192) + good[sof0_at + 9 :]
    with pytest.raises(ValueError, match="dimensions out of range"):
        mm.decode_jpeg(big)
    assert mm.decode_jpeg(good, max_pixels=w * h)[0] == w
    with pytest.raises(ValueError, match="dimensions out of range"):
        mm.decode_jpeg(good, max_pixels=w * h - 1)

    # Sampling factor 3 is outside T.81's 1/2/4 set.
    sub = bytearray(good)
    sub[sof0_at + 11] = 0x33  # component 1 sampling byte in SOF
    with pytest.raises(ValueError, match="sampling factors"):
        mm.decode_jpeg(bytes(sub))

    # DRI > 0 with no restart markers in the scan: interval mismatch.
    dri = struct.pack(">HHH", 0xFFDD, 4, 2)
    sos_at = good.index(b"\xff\xda")
    with pytest.raises(ValueError, match="restart-interval count"):
        mm.decode_jpeg(good[:sos_at] + dri + good[sos_at:])

    # Restart marker with DRI == 0 must be rejected, not skipped.
    hdr = sos_at + 2 + struct.unpack(">H", good[sos_at + 2 : sos_at + 4])[0]
    with pytest.raises(ValueError, match="DRI is 0"):
        mm.decode_jpeg(good[: hdr + 2] + b"\xff\xd0" + good[hdr + 2 :])

    # Entropy garbage: overwrite the scan body with 0xFF-free noise that
    # cannot be a valid Huffman stream ending at EOI.
    hdr_end = sos_at + 2 + struct.unpack(">H", good[sos_at + 2 : sos_at + 4])[0]
    corrupt = good[:hdr_end] + b"\x55" * 4 + b"\xff\xd9"
    with pytest.raises(ValueError, match="truncated|invalid|overflows"):
        mm.decode_jpeg(corrupt)

    # Oversized declared dimensions are rejected before any decode work.
    big = bytearray(good)
    struct.pack_into(">HH", big, sof0_at + 5, 1 << 15, 1 << 15)
    with pytest.raises(ValueError, match="out of range"):
        mm.decode_jpeg(bytes(big))


def test_jpeg_pipeline_end_to_end(spark, sf_dir):
    """jpeg_assets_from_documents -> jpeg_roundtrip over real testdata:
    every decoded raster matches the digest-derived expectation (the
    same invariants the DuckDB oracle checks, asserted Spark-side)."""
    import hashlib

    from ssg_etl_spark.operators import multimodal as mm
    from ssg_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    out = mm.jpeg_roundtrip(mm.jpeg_assets_from_documents(docs)).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert len(out) == len(texts)
    for r in out:
        w, h = mm.jpeg_fixture_dims(r["asset_id"])
        assert (r["width"], r["height"]) == (w, h)
        expected = mm.jpeg_fixture_raster(texts[r["asset_id"]], h)
        assert r["sum_byte"] == sum(expected)
        assert r["raster_digest"] == hashlib.md5(
            expected.hex().encode()
        ).hexdigest()

def test_transcode_resize_jpeg_to_png(spark, sf_dir):
    """Cross-codec normalization (r12): JPEG in -> nearest-neighbor
    resample -> lossless PNG out, zero generation loss. The decoded PNG
    pixels must equal the resample of the JPEG fixture raster computed
    locally; NULL payloads pass through; unknown containers raise."""
    import numpy as np
    import pytest as _p

    from ssg_etl_spark.operators import multimodal as mm
    from ssg_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(10)
    assets = mm.jpeg_assets_from_documents(docs)
    out = {
        r.asset_id: r
        for r in mm.transcode_resize_images(assets, 8, 8).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert set(out) == set(texts)
    for aid, row in out.items():
        w0, h0 = mm.jpeg_fixture_dims(aid)
        src = np.frombuffer(
            mm.jpeg_fixture_raster(texts[aid], h0), dtype=np.uint8
        ).reshape(h0, w0, 3)
        rows = (2 * np.arange(8) + 1) * h0 // 16
        cols = (2 * np.arange(8) + 1) * w0 // 16
        expect = src[rows][:, cols].tobytes()
        got = mm.decode_png(row.payload)
        assert got == (8, 8, expect), aid

    # PPM and PNG containers route through the same stage.
    ppm = mm.encode_ppm(4, 2, bytes(range(24)))
    png = mm.encode_png(4, 2, bytes(range(24)))
    for payload in (ppm, png):
        arr = mm._decode_image_rgb(payload)
        assert arr.shape == (2, 4, 3) and arr.tobytes() == bytes(range(24))
    with _p.raises(ValueError, match="unknown image container"):
        mm._decode_image_rgb(b"GIF89a...")

    # NULL payloads yield NULL rows; bad dims raise.
    nulls = spark.createDataFrame(
        [(1, "image", None)], "asset_id long, media_type string, payload binary"
    )
    r = mm.transcode_resize_images(nulls, 8, 8).collect()[0]
    assert r.payload is None and r.payload_bytes is None
    with _p.raises(ValueError):
        mm.transcode_resize_images(nulls, 0, 8)

# Foreign-writer JPEG fixtures (embedded so the test is hermetic):
# _FOREIGN_GRAY_2X2 is IPython's test asset 2x2.jpg (BSD-licensed test
# data) — a libjpeg-written 2x2 grayscale mid-gray square; _FOREIGN_LOGO
# is CPython's test_email python.jpg (PSF-licensed test data) — a
# libjpeg-written 16x16 color logo with 4:2:0 subsampling and two
# quantization passes. Neither was produced by this repo's encoder.
_FOREIGN_GRAY_2X2 = (
    "/9j/4AAQSkZJRgABAQAAAQABAAD/2wBDAAgGBgcGBQgHBwcJCQgKDBQNDAsLDBkSEw8UHRofHh0aHBwgJC4nICIsIxwcKDcpLDAxNDQ0Hyc5PTgyPC4zNDL/wAALCAACAAIBAREA/8QAHwAAAQUBAQEBAQEAAAAAAAAAAAECAwQFBgcICQoL/8QAtRAAAgEDAwIEAwUFBAQAAAF9AQIDAAQRBRIhMUEGE1FhByJxFDKBkaEII0KxwRVS0fAkM2JyggkKFhcYGRolJicoKSo0NTY3ODk6Q0RFRkdISUpTVFVWV1hZWmNkZWZnaGlqc3R1dnd4eXqDhIWGh4iJipKTlJWWl5iZmqKjpKWmp6ipqrKztLW2t7i5usLDxMXGx8jJytLT1NXW19jZ2uHi4+Tl5ufo6erx8vP09fb3+Pn6/9oACAEBAAA/ACv/2Q=="
)
_FOREIGN_LOGO = (
    "/9j/4AAQSkZJRgABAQEAAQABAAD/2wBDAAMCAgICAgMCAgIDAwMDBAYEBAQEBAgGBgUGCQgKCgkICQkKDA8MCgsOCwkJDRENDg8QEBEQCgwSExIQEw8QEBD/2wBDAQMDAwQDBAgEBAgQCwkLEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBD/wAARCAAQABADASIAAhEBAxEB/8QAFgABAQEAAAAAAAAAAAAAAAAABwQF/8QAJBAAAQQBBAICAwAAAAAAAAAAAQIDBAYFBwgSExEiABQJMTL/xAAVAQEBAAAAAAAAAAAAAAAAAAAABv/EACMRAAECBQMFAAAAAAAAAAAAAAECEQMEBQYhABIxFRZhgeH/2gAMAwEAAhEDEQA/ABSm0mobc8HmExLUlRzzEWPkJWW+ulrsaUVAseUgslSlH9LKuPryIKuWPZdskzXmm3fX5m2nF4GlVxx/HOpx4ks51+MiU/Iaad7UcUo4tILoS4kqcWkezS0hO/HvuRp0rO6hWnWO1UisZVuFi4GFeyEpmGepa5S5SWVPuciFKRFLgSrwetnyPIB+Vb4N9mKhQMzo5po9XLdDs9d6ZVix2VEhiL9kuNPxw2gEKcDQ/rs8AuA8VAe0vdl7VOYn+27flGAUgmITjbhSmCg3BYlyeWDkMolvw4KOp1KM6iCNvngZHwetf//Z"
)


def test_jpeg_decodes_foreign_writer_streams():
    """The decoder must handle streams from REAL encoders, not just its
    own (self-consistency hides Huffman/zigzag transcription errors).
    Two embedded libjpeg-written fixtures: a 2x2 grayscale mid-gray
    square (every pixel provably 128) and a 16x16 4:2:0-subsampled
    color logo (dims + plausibility + regression digest). The 4:2:0
    path and per-table DQT/DHT selection only execute on foreign input
    — our encoder writes 4:4:4."""
    import base64
    import hashlib

    from ssg_etl_spark.operators import multimodal as mm

    w, h, nc, px = mm.decode_jpeg(base64.b64decode(_FOREIGN_GRAY_2X2))
    assert (w, h, nc) == (2, 2, 1)
    assert px == b"\x80" * 4  # a mid-gray square: all pixels exactly 128

    w, h, nc, px = mm.decode_jpeg(base64.b64decode(_FOREIGN_LOGO))
    assert (w, h, nc) == (16, 16, 3)
    import numpy as np

    arr = np.frombuffer(px, dtype=np.uint8).reshape(16, 16, 3).astype(int)
    # The logo is blue-over-yellow on black: blue dominates the top
    # half's colored pixels, yellow (r+g, low b) the bottom half's.
    top, bottom = arr[:8], arr[8:]
    assert (top[..., 2].sum() - top[..., 1].sum()) > 0
    assert (bottom[..., 0].sum() + bottom[..., 1].sum()) > 2 * bottom[..., 2].sum()
    # Regression digest of the full decoded raster (box chroma upsample).
    assert hashlib.md5(px).hexdigest() == "dbb5d9878836c7edc21cfc2ce6115416"


def test_jpeg_restart_marker_sequence_rejection():
    """Out-of-sequence RSTn markers are rejected (T.81 B.2.1.2 requires
    the D0..D7 cycle); the green DRI path is pinned by the constructed
    streams in the two tests below."""
    import struct

    import pytest

    from ssg_etl_spark.operators import multimodal as mm

    w, h = mm.jpeg_fixture_dims(1)
    good = mm.encode_jpeg(w, h, mm.jpeg_fixture_raster("t", h))
    sos_at = good.index(b"\xff\xda")
    hdr = sos_at + 2 + struct.unpack(">H", good[sos_at + 2 : sos_at + 4])[0]
    # Inject DRI=2 and a WRONG-sequence restart marker (RST3 first).
    dri = struct.pack(">HHH", 0xFFDD, 4, 2)
    bad = good[:sos_at] + dri + good[: hdr + 2][sos_at:] + b"\xff\xd3" + good[hdr + 2 :]
    with pytest.raises(ValueError, match="out of sequence|restart-interval"):
        mm.decode_jpeg(bad)


# --- hand-assembled restart-interval streams (r13) -----------------------
# A test-local JPEG writer: canonical code assignment (T.81 C.2), MSB-first
# bit packing, 1-padding to byte alignment at each restart boundary, 0xFF00
# byte stuffing, and the RST0..RST7 cycle — all written here, shared with
# the production encoder ONLY through the public Annex K table constants
# (whose transcription fidelity is pinned separately by the foreign
# libjpeg fixtures above). This is the decoder's positive-DRI green path
# on a stream the repo's own encoder cannot produce (encode_jpeg never
# writes DRI), so self-consistency cannot mask a restart-handling bug.


def _tl_huff_codes(bits, vals):
    """Test-local canonical Huffman assignment: {symbol: (code, length)}."""
    out = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[i]] = (code, length)
            i += 1
            code += 1
        code <<= 1
    return out


class _TLBits:
    """Test-local MSB-first bit packer with JPEG byte stuffing."""

    def __init__(self):
        self.acc = 0
        self.n = 0
        self.out = bytearray()

    def put(self, value, length):
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.n -= 8

    def align(self):
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)
        done = bytes(self.out)
        self.out = bytearray()
        return done


def _tl_dc_bits(bw, diff, codes):
    cat = 0 if diff == 0 else diff.bit_length() if diff > 0 else (-diff).bit_length()
    code, length = codes[cat]
    bw.put(code, length)
    if cat:
        bw.put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)


def _tl_seg(marker, body):
    import struct

    return struct.pack(">HH", marker, 2 + len(body)) + body


def _tl_idct_block_constant(dc_quantized, q0):
    """Independent IDCT of a DC-only block: explicit cosine sum (T.81
    A.3.3), not the production _jpeg_dct_matrix — collapses to the
    constant (1/8)*dc*q0 per pixel, computed here from first principles."""
    import math

    import numpy as np

    f = np.zeros((8, 8))
    f[0, 0] = dc_quantized * q0
    px = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv * f[v, u]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            px[y, x] = s / 4 + 128.0
    return np.rint(px).clip(0, 255).astype(int)


def test_jpeg_positive_dri_grayscale_decodes_bit_exact():
    """Green-path restart intervals: a hand-assembled DRI=1 grayscale
    stream (24x8 = 3 MCUs, RST0/RST1 between byte-aligned intervals,
    DC predictor reset each interval) decodes bit-exact against an
    independently computed cosine-sum IDCT raster. The DC diffs are
    encoded RELATIVE TO THE RESET predictor (0), so a decoder that
    failed to reset would produce provably different pixels."""
    import struct

    import numpy as np

    from ssg_etl_spark.operators import multimodal as mm

    q0 = 8  # DC-exact: quantized DC = (v-128) exactly, IDCT returns v
    mcu_values = [80, 128, 200]
    dc = _tl_huff_codes(*mm._JPEG_DC_LUMA)
    ac = _tl_huff_codes(*mm._JPEG_AC_LUMA)
    eob_code, eob_len = ac[0x00]

    qzz = bytes([q0] + [16] * 63)  # zigzag order; AC entries never used
    out = bytearray(b"\xff\xd8")  # SOI
    out += _tl_seg(0xFFDB, b"\x00" + qzz)  # DQT table 0
    out += _tl_seg(0xFFC0, struct.pack(">BHHB", 8, 8, 24, 1) + bytes([1, 0x11, 0]))
    out += _tl_seg(
        0xFFC4,
        b"\x00"
        + bytes(mm._JPEG_DC_LUMA[0])
        + bytes(mm._JPEG_DC_LUMA[1]),
    )
    out += _tl_seg(
        0xFFC4,
        b"\x10"
        + bytes(mm._JPEG_AC_LUMA[0])
        + bytes(mm._JPEG_AC_LUMA[1]),
    )
    out += _tl_seg(0xFFDD, struct.pack(">H", 1))  # DRI = 1 MCU
    out += _tl_seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    for i, v in enumerate(mcu_values):
        bw = _TLBits()
        _tl_dc_bits(bw, v - 128, dc)  # predictor reset -> diff from 0
        bw.put(eob_code, eob_len)
        out += bw.align()
        if i < len(mcu_values) - 1:
            out += bytes([0xFF, 0xD0 + i])  # RST0, RST1
    out += b"\xff\xd9"

    w, h, nc, px = mm.decode_jpeg(bytes(out))
    assert (w, h, nc) == (24, 8, 1)
    got = np.frombuffer(px, dtype=np.uint8).reshape(8, 24).astype(int)
    expect = np.concatenate(
        [_tl_idct_block_constant(v - 128, q0) for v in mcu_values], axis=1
    )
    assert (got == expect).all()
    # The constants themselves: each 8x8 column block is its MCU value.
    for i, v in enumerate(mcu_values):
        assert (got[:, 8 * i : 8 * i + 8] == v).all()


def test_jpeg_positive_dri_422_subsampled_decodes_bit_exact():
    """Green-path DRI on a 4:2:2-subsampled COLOR stream (32x8 = 2 MCUs
    of 2 luma + 1 Cb + 1 Cr blocks, RST0 between intervals): chroma held
    at 128 makes the JFIF inverse transform return R=G=B=Y exactly, so
    the decoded RGB raster is pinned bit-exact per 8-pixel column band.
    Exercises the subsampled-MCU block order, per-component predictor
    reset, and chroma table selection on a constructed stream."""
    import struct

    import numpy as np

    from ssg_etl_spark.operators import multimodal as mm

    q0 = 8
    y_blocks = [[64, 192], [200, 40]]  # per MCU, left/right 8-col bands
    dcl = _tl_huff_codes(*mm._JPEG_DC_LUMA)
    acl = _tl_huff_codes(*mm._JPEG_AC_LUMA)
    dcc = _tl_huff_codes(*mm._JPEG_DC_CHROMA)
    acc = _tl_huff_codes(*mm._JPEG_AC_CHROMA)

    qzz = bytes([q0] + [16] * 63)
    out = bytearray(b"\xff\xd8")
    out += _tl_seg(0xFFDB, b"\x00" + qzz)  # table 0 (luma)
    out += _tl_seg(0xFFDB, b"\x01" + qzz)  # table 1 (chroma)
    out += _tl_seg(
        0xFFC0,
        struct.pack(">BHHB", 8, 8, 32, 3)
        + bytes([1, 0x21, 0, 2, 0x11, 1, 3, 0x11, 1]),  # Y 2x1, Cb/Cr 1x1
    )
    for cls, tid, spec in (
        (0, 0, mm._JPEG_DC_LUMA),
        (1, 0, mm._JPEG_AC_LUMA),
        (0, 1, mm._JPEG_DC_CHROMA),
        (1, 1, mm._JPEG_AC_CHROMA),
    ):
        out += _tl_seg(
            0xFFC4, bytes([(cls << 4) | tid]) + bytes(spec[0]) + bytes(spec[1])
        )
    out += _tl_seg(0xFFDD, struct.pack(">H", 1))
    out += _tl_seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    for i, (y0, y1) in enumerate(y_blocks):
        bw = _TLBits()
        pred = 0  # per-interval luma predictor, reset at each restart
        for v in (y0, y1):
            _tl_dc_bits(bw, v - 128 - pred, dcl)
            pred = v - 128
            bw.put(*acl[0x00])
        for chroma_dc, chroma_ac in ((dcc, acc), (dcc, acc)):  # Cb, Cr
            _tl_dc_bits(bw, 0, chroma_dc)  # chroma 128 -> diff 0
            bw.put(*chroma_ac[0x00])
        out += bw.align()
        if i < len(y_blocks) - 1:
            out += b"\xff\xd0"  # RST0
    out += b"\xff\xd9"

    w, h, nc, px = mm.decode_jpeg(bytes(out))
    assert (w, h, nc) == (32, 8, 3)
    got = np.frombuffer(px, dtype=np.uint8).reshape(8, 32, 3).astype(int)
    bands = [v for pair in y_blocks for v in pair]  # 64, 192, 200, 40
    for i, v in enumerate(bands):
        expect = _tl_idct_block_constant(v - 128, q0)
        band = got[:, 8 * i : 8 * i + 8, :]
        # Cb=Cr=128 -> R=G=B=Y exactly through the JFIF inverse.
        for c in range(3):
            assert (band[:, :, c] == expect).all(), (i, c)

def test_jpeg_header_scan_recovers_quality_without_decode(spark, sf_dir):
    """Header-only triage (r12): the DQT inversion recovers the encoded
    IJG quality within ~1 point across the whole 5-100 range (including
    the clamp-saturated low end, via the unclamped-coefficient median),
    reads dims/components without entropy decode, rejects malformed and
    non-baseline streams, and the Spark stage matches per-asset local
    scans over real testdata."""
    import numpy as np
    import pytest as _p

    from ssg_etl_spark.operators import multimodal as mm
    from ssg_etl_spark.sources.tables import load_table

    rng = np.random.default_rng(3)
    raster = rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8).tobytes()
    for q in (5, 10, 30, 50, 75, 90, 95, 100):
        ql, qc = mm.jpeg_quality_tables(q)
        meta = mm.jpeg_header_scan(
            mm.encode_jpeg(40, 24, raster, quant_luma=ql, quant_chroma=qc)
        )
        assert abs(meta["quality_est"] - q) <= 1.0, (q, meta)
        assert (meta["width"], meta["height"], meta["n_components"]) == (
            40, 24, 3,
        )

    with _p.raises(ValueError):
        mm.jpeg_quality_tables(0)
    with _p.raises(ValueError, match="SOI"):
        mm.jpeg_header_scan(b"P6 not a jpeg")
    with _p.raises(ValueError, match="baseline SOF0 only"):
        good = mm.encode_jpeg(8, 8, bytes(192))
        at = good.index(b"\xff\xc0")
        mm.jpeg_header_scan(good[:at] + b"\xff\xc2" + good[at + 2 :])
    with _p.raises(ValueError, match="missing SOF/DQT"):
        mm.jpeg_header_scan(b"\xff\xd8\xff\xda\x00\x02")
    # Headers-only payload (ends after SOF/DQT with no SOS): triage must
    # reject it like decode_jpeg does, not greenlight an undecodable
    # asset (r12 advice).
    good = mm.encode_jpeg(8, 8, bytes(192))
    with _p.raises(ValueError, match="missing SOS"):
        mm.jpeg_header_scan(good[: good.index(b"\xff\xda")])
    with _p.raises(ValueError):
        mm.decode_jpeg(good[: good.index(b"\xff\xda")])

    docs = load_table(spark, sf_dir, "documents").limit(12)
    assets = mm.jpeg_assets_from_documents(docs)
    local = {
        r.asset_id: mm.jpeg_header_scan(r.payload) for r in assets.collect()
    }
    got = {r.asset_id: r for r in mm.jpeg_header_triage(assets).collect()}
    assert set(got) == set(local)
    for aid, row in got.items():
        m = local[aid]
        assert (row.width, row.height, row.n_components) == (
            m["width"], m["height"], m["n_components"],
        )
        assert row.quality_est == 50.0  # DC-exact tables invert to 50


def test_mp3_header_scan_parses_and_rejects():
    """Header-only MPEG audio triage (r13): frame-chain walk recovers
    version/layer/rate/frames/bitrate/duration across the MPEG1/2/2.5 x
    Layer I/II/III grid (hand-built headers, spec frame lengths), skips
    ID3v2 tags, averages VBR bitrates, and rejects malformed streams."""
    import pytest

    from ssg_etl_spark.operators import multimodal as mm

    # CBR MPEG1 Layer III: 128 kbps @ 44100 -> 417-byte frames.
    f = mm.mp3_frame_bytes(9, 0)
    assert len(f) == 144 * 128000 // 44100
    m = mm.mp3_header_scan(f * 5)
    assert m == {
        "version": "MPEG1", "layer": 3, "sample_rate": 44100,
        "n_frames": 5, "bitrate_kbps": 128, "payload_bytes": 5 * 417,
        "duration_ms": 5 * 1152 * 1000 // 44100, "vbr_tag": None,
    }

    # Xing/Info tag frames (the LAME/ffmpeg first-frame convention, at
    # the MPEG1-mono side-info offset 4+17): metadata, not audio — they
    # must be EXCLUDED from frame count / bitrate mean / duration, and a
    # tag frame-count that disagrees with the walked chain must raise.
    def tagged_first(tag, n_declared=None):
        tf = bytearray(f)
        tf[21:25] = tag
        if n_declared is None:
            tf[25:29] = (0).to_bytes(4, "big")  # no fields
        else:
            tf[25:29] = (1).to_bytes(4, "big")  # frames field present
            tf[29:33] = n_declared.to_bytes(4, "big")
        return bytes(tf)

    x = mm.mp3_header_scan(tagged_first(b"Xing", 5) + f * 5)
    assert (x["n_frames"], x["vbr_tag"]) == (5, "xing")
    assert x["duration_ms"] == 5 * 1152 * 1000 // 44100
    assert mm.mp3_header_scan(tagged_first(b"Info") + f * 3)["vbr_tag"] == "info"
    # A VBR stream's mean bitrate ignores the tag frame's own bitrate.
    slow = mm.mp3_frame_bytes(5, 0)  # 64 kbps
    v = mm.mp3_header_scan(tagged_first(b"Xing", 2) + slow + f)
    assert v["bitrate_kbps"] == 96
    with pytest.raises(ValueError, match="declares 9 frames"):
        mm.mp3_header_scan(tagged_first(b"Xing", 9) + f * 5)

    # ID3v2 tag (syncsafe size) is skipped, not parsed as frames.
    tagged = b"ID3\x04\x00\x00\x00\x00\x00\x0a" + bytes(10) + f * 3
    assert mm.mp3_header_scan(tagged)["n_frames"] == 3

    # VBR: alternating 64/128 kbps frames -> mean 96 kbps.
    vbr = mm.mp3_frame_bytes(5, 0) + mm.mp3_frame_bytes(9, 0)
    assert mm.mp3_header_scan(vbr * 2)["bitrate_kbps"] == 96

    def hdr(vbits, lbits, bidx, sidx, pad=0):
        h = ((0x7FF << 21) | (vbits << 19) | (lbits << 17) | (1 << 16)
             | (bidx << 12) | (sidx << 10) | (pad << 9) | (3 << 6))
        return h.to_bytes(4, "big")

    # Layer I (lbits=3): slot-quantized frame length (12*bitrate/rate+p)*4,
    # 384 samples/frame. 256 kbps @ 44100: (12*256000//44100)*4 = 276.
    l1 = hdr(3, 3, 8, 0)
    l1 += bytes(276 - 4)
    m = mm.mp3_header_scan(l1)
    assert (m["layer"], m["bitrate_kbps"], m["duration_ms"]) == (1, 256, 8)

    # Layer II MPEG1 (lbits=2): 144*bitrate/rate, 1152 samples/frame.
    l2 = hdr(3, 2, 8, 1)  # 128 kbps @ 48000 -> 384 bytes
    l2 += bytes(144 * 128000 // 48000 - 4)
    assert mm.mp3_header_scan(l2)["layer"] == 2

    # MPEG2 Layer III (vbits=2): 72*bitrate/rate, 576 samples/frame.
    m2 = hdr(2, 1, 8, 0)  # 64 kbps @ 22050 -> 209 bytes
    m2 += bytes(72 * 64000 // 22050 - 4)
    meta = mm.mp3_header_scan(m2)
    assert (meta["version"], meta["duration_ms"]) == ("MPEG2", 576 * 1000 // 22050)

    # MPEG2.5 (vbits=0) resolves the low sample-rate table.
    m25 = hdr(0, 1, 8, 2)  # 64 kbps @ 8000 -> 576 bytes
    m25 += bytes(72 * 64000 // 8000 - 4)
    assert mm.mp3_header_scan(m25)["sample_rate"] == 8000

    # Padding bit adds one slot byte to the frame length.
    padded = hdr(3, 1, 9, 0, pad=1) + bytes(417 + 1 - 4)
    assert mm.mp3_header_scan(padded)["n_frames"] == 1

    for bad, why in [
        (b"RIFF" + f, "sync"),
        (hdr(1, 1, 9, 0) + bytes(413), "reserved MPEG version"),
        (hdr(3, 0, 9, 0) + bytes(413), "reserved MPEG layer"),
        (hdr(3, 1, 0, 0) + bytes(413), "free-format"),
        (hdr(3, 1, 15, 0) + bytes(413), "bad MPEG bitrate"),
        (hdr(3, 1, 9, 3) + bytes(413), "bad MPEG sample-rate"),
        (f[:100], "truncated MPEG audio frame body"),
        (f * 2 + f[:3], "truncated MPEG audio frame header"),
        (f + mm.mp3_frame_bytes(9, 1), "change mid-stream"),
        (b"ID3\x04\x00\x00\x00\x00\x00\xff" + bytes(300), "syncsafe"),
        (b"ID3\x04\x00\x00\x00\x00\x00\x7f" + bytes(5), "no MPEG audio frame"),
        (b"", "no MPEG audio frame|sync|truncated"),
    ]:
        with pytest.raises(ValueError, match=why):
            mm.mp3_header_scan(bad)

    with pytest.raises(ValueError):
        mm.mp3_frame_bytes(0, 0)
    with pytest.raises(ValueError):
        mm.mp3_frame_bytes(9, 3)


def test_mp3_triage_end_to_end(spark, sf_dir):
    """The Spark MP3 triage stage matches per-asset local scans over
    synthesized testdata assets, and the fixture fields follow the
    documented (doc_id, length(text)) derivation the oracle replays."""
    from ssg_etl_spark.operators import multimodal as mm
    from ssg_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(16)
    assets = mm.mp3_assets_from_documents(docs)
    local = {
        r.asset_id: mm.mp3_header_scan(bytes(r.payload))
        for r in assets.collect()
    }
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    got = {r.asset_id: r for r in mm.mp3_header_triage(assets).collect()}
    assert set(got) == set(local) == set(texts)
    for aid, row in got.items():
        m = {k: v for k, v in local[aid].items() if k != "vbr_tag"}
        assert local[aid]["vbr_tag"] is None  # fixtures carry no tag
        assert row.asDict() == {"asset_id": aid, **m}
        assert row.n_frames == 2 + len(texts[aid]) % 7
        assert row.sample_rate == (44100, 48000, 32000)[aid % 3]
        assert row.version == "MPEG1" and row.layer == 3


def test_mp4_header_scan_parses_and_rejects():
    """Container-only MP4 triage (r13): the box walk recovers brand,
    movie timescale/duration, per-track handler + sample-entry fourcc,
    and video presentation dims; tolerates unknown boxes, 64-bit
    largesize, size=0 (to-EOF), and mvhd v1; rejects malformed trees."""
    import pytest

    from ssg_etl_spark.operators import multimodal as mm

    p = mm.mp4_container_bytes(32, 48, 1800, with_audio=True)
    assert mm.mp4_header_scan(p) == {
        "major_brand": "isom", "timescale": 600, "duration_ms": 3000,
        "n_tracks": 2, "video_codec": "avc1", "width": 32, "height": 48,
        "audio_codec": "mp4a",
    }
    # Audio-less fixture: audio_codec None, one track.
    m = mm.mp4_header_scan(mm.mp4_container_bytes(16, 16, 600))
    assert (m["n_tracks"], m["audio_codec"]) == (1, None)

    # Unknown boxes (free) anywhere are skipped; a size=0 trailing box
    # extends to EOF; a 64-bit largesize box parses.
    ftyp_at = p.index(b"ftyp") - 4
    moov_at = p.index(b"moov") - 4
    free = mm._mp4_box(b"free", b"junk")
    padded = p[:moov_at] + free + p[moov_at:]
    assert mm.mp4_header_scan(padded)["duration_ms"] == 3000
    tail0 = p + (0).to_bytes(4, "big") + b"skip" + b"x" * 9
    assert mm.mp4_header_scan(tail0)["n_tracks"] == 2
    big = (
        p
        + (1).to_bytes(4, "big")
        + b"free"
        + (20).to_bytes(8, "big")
        + b"butt"
    )
    assert mm.mp4_header_scan(big)["n_tracks"] == 2

    # mvhd version 1 (64-bit times): same timescale/duration fields.
    mvhd_at = p.index(b"mvhd") - 4
    v1_body = (
        bytes([1, 0, 0, 0])
        + bytes(16)  # 64-bit ctime, mtime
        + (600).to_bytes(4, "big")
        + (1800).to_bytes(8, "big")
        + p[mvhd_at + 8 + 20 : mvhd_at + 8 + 100]  # rate..next_track
    )
    v1 = mm._mp4_box(b"mvhd", v1_body)
    old_size = int.from_bytes(p[mvhd_at : mvhd_at + 4], "big")
    moov_size = int.from_bytes(p[moov_at : moov_at + 4], "big")
    p1 = (
        p[:moov_at]
        + (moov_size - old_size + len(v1)).to_bytes(4, "big")
        + p[moov_at + 4 : mvhd_at]
        + v1
        + p[mvhd_at + old_size :]
    )
    assert mm.mp4_header_scan(p1)["duration_ms"] == 3000

    for bad, why in [
        (b"\x00\x00\x00\x04", "too short"),
        (p[:20], "overruns|truncated"),
        (mm._mp4_box(b"moov", b""), "missing ftyp"),
        (p[:ftyp_at] + mm._mp4_box(b"free", p[ftyp_at + 8 : p.index(b"moov") - 4 - 8]) + p[p.index(b"moov") - 4:], "missing ftyp"),
        (p[: p.index(b"moov") - 4], "missing moov"),
        (p[:moov_at] + mm._mp4_box(b"moov", b"") + b"", "missing mvhd"),
        (b"\x00\x00\x00\x07typx", "bad MP4 box size"),
    ]:
        with pytest.raises(ValueError, match=why):
            mm.mp4_header_scan(bad)

    # Reserved mvhd version and zero timescale raise.
    pv = bytearray(p)
    pv[mvhd_at + 8] = 2
    with pytest.raises(ValueError, match="mvhd version"):
        mm.mp4_header_scan(bytes(pv))
    pz = bytearray(p)
    pz[mvhd_at + 8 + 12 : mvhd_at + 8 + 16] = bytes(4)
    with pytest.raises(ValueError, match="timescale is zero"):
        mm.mp4_header_scan(bytes(pz))

    with pytest.raises(ValueError):
        mm.mp4_container_bytes(0, 16, 600)


def test_mp4_triage_end_to_end(spark, sf_dir):
    """The Spark MP4 triage stage matches per-asset local scans over
    synthesized containers, and fields follow the documented
    (doc_id, length(text)) derivation the oracle replays."""
    from ssg_etl_spark.operators import multimodal as mm
    from ssg_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(16)
    assets = mm.mp4_assets_from_documents(docs)
    local = {
        r.asset_id: mm.mp4_header_scan(bytes(r.payload))
        for r in assets.collect()
    }
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    got = {r.asset_id: r for r in mm.mp4_header_triage(assets).collect()}
    assert set(got) == set(local) == set(texts)
    for aid, row in got.items():
        assert row.asDict() == {"asset_id": aid, **local[aid]}
        assert row.width == 16 * (1 + aid % 4)
        assert row.height == 16 * (1 + aid % 3)
        assert row.duration_ms == (1 + len(texts[aid]) % 10) * 1000
        assert row.audio_codec == ("mp4a" if aid % 2 == 0 else None)


def test_media_triage_manifest_composition(spark, sf_dir):
    """The cross-modality manifest: one normalized keep/drop row per
    (asset, modality) decided at header cost — keep varies along each
    modality's own axes (image dims, audio bitrate x duration, video
    dims x duration), and every row agrees with the standalone scans."""
    from ssg_etl_spark.plans.llm_pack import media_triage_manifest

    rows = media_triage_manifest(spark, sf_dir).collect()
    by_mod = {}
    for r in rows:
        by_mod.setdefault(r.modality, []).append(r)
    n_docs = len(by_mod["image"])
    assert {m: len(v) for m, v in by_mod.items()} == {
        "image": n_docs, "audio": n_docs, "video": n_docs,
    }
    # Each modality's keep predicate actually discriminates on testdata.
    for mod in ("image", "audio", "video"):
        kept = {r.keep for r in by_mod[mod]}
        assert kept == {True, False}, mod
    # Normalized schema: image rows carry quality but no duration;
    # audio the reverse; video dims + duration, no quality.
    img = by_mod["image"][0]
    assert img.duration_ms is None and img.quality == 50.0
    aud = by_mod["audio"][0]
    assert aud.width is None and aud.duration_ms is not None
    vid = by_mod["video"][0]
    assert vid.quality is None and vid.codec == "avc1"


def test_image_header_scan_dispatch_and_rejects():
    """Magic-byte image triage (r13): PPM/PNG/JPEG dims at header cost,
    each scanner enforcing exactly its decoder's subset (PNG IHDR CRC,
    first-chunk rule, 8-bit truecolor; PPM raster-length arithmetic;
    JPEG baseline-only) so triage never admits what decode rejects."""
    import struct
    import zlib

    import pytest

    from ssg_etl_spark.operators import multimodal as mm

    ppm = mm.encode_ppm(4, 2, bytes(24))
    png = mm.encode_png(4, 2, bytes(24))
    jpg = mm.encode_jpeg(8, 8, bytes(192))
    assert mm.image_header_scan(ppm) == {
        "format": "ppm", "width": 4, "height": 2, "n_components": 3,
        "quality_est": None,
    }
    assert mm.image_header_scan(png)["format"] == "png"
    assert mm.image_header_scan(jpg)["quality_est"] == 50.0

    with pytest.raises(ValueError, match="unknown image magic"):
        mm.image_header_scan(b"GIF89a...")

    # PNG: CRC corruption, a non-first IHDR, and unsupported subsets all
    # raise — matching decode_png's rejects.
    corrupt = bytearray(png)
    corrupt[20] ^= 0xFF  # inside IHDR body -> CRC mismatch
    with pytest.raises(ValueError, match="CRC mismatch"):
        mm.png_header_scan(bytes(corrupt))
    with pytest.raises(ValueError):
        mm.decode_png(bytes(corrupt))
    shuffled = png[:8] + mm._png_chunk(b"sRGB", b"\x00") + png[8:]
    with pytest.raises(ValueError, match="first chunk"):
        mm.png_header_scan(shuffled)
    gray = bytearray(png)
    gray[25] = 0  # color type 0 in IHDR
    body = bytes(gray[16:29])
    gray[29:33] = struct.pack(">I", zlib.crc32(b"IHDR" + body) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="unsupported PNG subset"):
        mm.png_header_scan(bytes(gray))
    with pytest.raises(ValueError):
        mm.decode_png(bytes(gray))

    # PPM: truncated raster is caught from the length arithmetic.
    with pytest.raises(ValueError, match="truncated PPM raster"):
        mm.ppm_header_scan(ppm[:-1])


def test_image_header_triage_end_to_end(spark, sf_dir):
    """The mixed-corpus triage stage: formats rotate by doc_id%3, every
    row matches a local scan, and the geometry follows each format's
    fixture arithmetic the oracle replays."""
    from ssg_etl_spark.operators import multimodal as mm
    from ssg_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(18)
    assets = mm.mixed_image_assets_from_documents(docs)
    local = {
        r.asset_id: mm.image_header_scan(bytes(r.payload))
        for r in assets.collect()
    }
    got = {r.asset_id: r for r in mm.image_header_triage(assets).collect()}
    assert set(got) == set(local)
    assert {r.format for r in got.values()} == {"ppm", "png", "jpeg"}
    for aid, row in got.items():
        assert row.asDict() == {"asset_id": aid, **local[aid]}
        if aid % 3 == 2:
            assert (row.width, row.quality_est) == (125, 50.0)
        else:
            assert (row.width, row.height) == (16, aid % 4 + 1)
            assert row.quality_est is None


def _jpeg_payload() -> bytes:
    w, h = MM.jpeg_fixture_dims(1)
    return MM.encode_jpeg(w, h, MM.jpeg_fixture_raster("t", h))


# Every per-asset codec stage: (run the stage, a payload it decodes, the
# pass-through columns a NULL-payload row keeps).
_PER_ASSET_STAGES = {
    "jpeg_header_triage": (MM.jpeg_header_triage, _jpeg_payload, {"asset_id"}),
    "png_roundtrip": (
        MM.png_roundtrip,
        lambda: MM.encode_png(2, 2, bytes(range(12))),
        {"asset_id"},
    ),
    "jpeg_roundtrip": (MM.jpeg_roundtrip, _jpeg_payload, {"asset_id"}),
    "extract_features": (
        lambda a: MM.extract_features(a, fake=False),
        lambda: MM.encode_ppm(2, 2, bytes(range(12))),
        {"asset_id", "media_type"},
    ),
    "resize_images": (
        lambda a: MM.resize_images(a, 4, 2, fake=False),
        lambda: MM.encode_ppm(2, 2, bytes(range(12))),
        {"asset_id", "width", "height"},
    ),
    "transcode_resize_images": (
        lambda a: MM.transcode_resize_images(a, 4, 2),
        _jpeg_payload,
        {"asset_id", "width", "height"},
    ),
    "audio_features": (
        MM.audio_features,
        lambda: MM.encode_wav(MM.wav_samples(1, 64)),
        {"asset_id"},
    ),
    "sample_frames": (
        MM.sample_frames,
        lambda: MM.encode_y4m([MM.y4m_frame_raster("t", 0)]),
        {"asset_id"},
    ),
    "mp3_header_triage": (
        MM.mp3_header_triage,
        lambda: MM.mp3_frame_bytes(1, 0) * 2,
        {"asset_id"},
    ),
    "mp4_header_triage": (
        MM.mp4_header_triage,
        lambda: MM.mp4_container_bytes(16, 16, 600),
        {"asset_id"},
    ),
    "image_header_triage": (
        MM.image_header_triage,
        lambda: MM.encode_ppm(2, 2, bytes(range(12))),
        {"asset_id"},
    ),
}


@pytest.mark.parametrize("stage", sorted(_PER_ASSET_STAGES))
def test_null_payload_yields_null_row(spark, stage):
    """A NULL payload never reaches the codec: it yields exactly one row
    with the stage's pass-through columns and NULL (not NaN, not 0) in
    every derived column, while a decodable asset in the same input
    still gets its derived values."""
    run, payload, keep = _PER_ASSET_STAGES[stage]
    assets = spark.createDataFrame(
        [(1, "image", None), (2, "image", payload())],
        "asset_id long, media_type string, payload binary",
    )
    out = run(assets)
    rows = [r.asDict() for r in out.filter("asset_id = 1").collect()]
    assert len(rows) == 1, rows
    (row,) = rows
    assert row["asset_id"] == 1
    assert row.get("media_type", "image") == "image"
    if "width" in keep:
        assert (row["width"], row["height"]) == (4, 2)
    derived = [f.name for f in out.schema.fields if f.name not in keep]
    assert derived and all(row[c] is None for c in derived), row
    ints = [
        f.name
        for f in out.schema.fields
        if f.name not in keep and f.dataType.typeName() in ("integer", "long")
    ]
    good = out.filter("asset_id = 2").collect()
    assert good and all(r[c] is not None for r in good for c in ints)


_ENCODERS = (
    "ppm_assets_from_documents",
    "png_assets_from_documents",
    "jpeg_assets_from_documents",
    "wav_assets_from_documents",
    "y4m_assets_from_documents",
    "mp3_assets_from_documents",
    "mp4_assets_from_documents",
    "mixed_image_assets_from_documents",
)


@pytest.mark.parametrize("encoder", _ENCODERS)
def test_null_text_follows_one_encode_rule(spark, encoder):
    """Every encoder treats a NULL ``text`` the same way: the document
    keeps its asset row, with a NULL payload wherever the encoder reads
    ``text`` (the wav encoder reads ``doc_id`` only and encodes it as
    usual), and the same row with text gets a payload."""
    docs = spark.createDataFrame(
        [(4, None), (5, "some text")], "doc_id long, text string"
    )
    rows = {r.asset_id: r for r in getattr(MM, encoder)(docs).collect()}
    assert sorted(rows) == [4, 5]
    assert rows[5].payload
    if encoder == "wav_assets_from_documents":
        assert rows[4].payload
    else:
        assert rows[4].payload is None, rows[4]
    assert rows[4].media_type == rows[5].media_type


def test_codec_stages_share_one_python_batch_boundary():
    """AST lint: the module has exactly one ``mapInPandas`` call and one
    ``fan_out`` call, both inside ``_map_rows``, so a new codec stage
    passes a row function instead of forking the batch loop again."""
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(MM))
    sites: dict[str, list[str]] = {"mapInPandas": [], "fan_out": []}
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
            if name in sites:
                sites[name].append(owner)
    assert sites == {"mapInPandas": ["_map_rows"], "fan_out": ["_map_rows"]}, (
        f"Python-batch call sites outside the one boundary: {sites} — pass "
        "a per-row function to _map_rows instead"
    )

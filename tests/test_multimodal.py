"""Multimodal column plumbing: binary payloads, decode stubs, frame sampling."""

import pytest
from pyspark.sql import functions as F

from kafka_streams_demo_spark.functions.multimodal import (
    FEATURE_DIM,
    attach_binary,
    decode_features,
    frame_sample,
)


def _docs(spark):
    return spark.createDataFrame(
        [(1, "hello world"), (2, "spark engine test document")],
        "doc_id long, text string",
    )


def test_attach_binary_schema_and_meta(spark):
    mm = attach_binary(_docs(spark))
    assert [f.name for f in mm.schema.fields] == ["doc_id", "payload", "meta"]
    row = mm.filter(F.col("doc_id") == 1).first()
    assert bytes(row["payload"]) == b"hello world"
    assert row["meta"]["modality"] == "image"
    assert row["meta"]["byte_len"] == 11
    assert len(row["meta"]["checksum"]) == 64  # sha256 hex


def test_decode_features_fake_deterministic(spark):
    mm = attach_binary(_docs(spark))
    a = decode_features(mm).orderBy("doc_id").collect()
    b = decode_features(mm).orderBy("doc_id").collect()
    assert [r["features"] for r in a] == [r["features"] for r in b]
    for r in a:
        assert len(r["features"]) == FEATURE_DIM
        assert abs(sum(r["features"]) - 1.0) < 1e-9  # L1-normalized


def test_frame_sample_fake(spark):
    mm = attach_binary(_docs(spark))
    frames = frame_sample(mm, every_n_bytes=8).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 11 bytes → frames of 8 and 3
    f1 = sorted(by_doc[1], key=lambda r: r["frame_no"])
    assert [r["frame_bytes"] for r in f1] == [8, 3]


def test_resize_stub_one_row_per_image_deterministic(spark):
    from kafka_streams_demo_spark.functions.multimodal import attach_binary, resize_images
    from kafka_streams_demo_spark.sources.registry import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    mm = attach_binary(docs)
    out = resize_images(mm, target_w=224, target_h=224)
    rows = out.collect()
    assert len(rows) == docs.count()
    r0 = rows[0]
    assert r0["new_w"] == 224 and r0["new_h"] == 224
    assert 0 < r0["scale"] <= 224 / 64
    # deterministic across runs
    again = {r["doc_id"]: (r["orig_w"], r["orig_h"], r["scale"]) for r in out.collect()}
    first = {r["doc_id"]: (r["orig_w"], r["orig_h"], r["scale"]) for r in rows}
    assert again == first


def test_wav_codec_roundtrip_closed_form():
    """Real WAV: encode a known sine, decode, check stats against closed
    form (rms of A·sin = A/√2; peak ≈ A; duration = n/rate)."""
    import numpy as np

    from kafka_streams_demo_spark.functions.codecs import wav_decode, wav_encode

    rate, n, amp = 8000, 8000, 0.5
    t = np.arange(n) / rate
    payload = wav_encode(amp * np.sin(2 * np.pi * 440 * t), rate)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    got = wav_decode(payload)
    assert got["sample_rate"] == rate and got["channels"] == 1
    assert got["n_samples"] == n and got["duration_s"] == 1.0
    assert abs(got["rms"] - amp / 2 ** 0.5) < 1e-3
    assert abs(got["peak"] - amp) < 1e-3


def test_ppm_codec_roundtrip_comments_and_resize():
    import numpy as np

    from kafka_streams_demo_spark.functions.codecs import (
        ppm_decode,
        ppm_encode,
        ppm_resize,
    )

    px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    enc = ppm_encode(px)
    assert enc.startswith(b"P6\n4 4\n255\n")
    assert (ppm_decode(enc) == px).all()
    # spec allows comment lines in the header
    with_comment = b"P6\n# a comment\n4 4\n255\n" + px.tobytes()
    assert (ppm_decode(with_comment) == px).all()
    # nearest-neighbor 4x4 → 2x2 picks rows/cols 0 and 2
    small = ppm_decode(ppm_resize(enc, 2, 2))
    assert (small == px[[0, 2]][:, [0, 2]]).all()


def test_wav_pipeline_distributed(spark):
    """Synthetic WAVs generated and decoded across Spark workers: every
    decoded row must match the closed-form stats of its generator."""
    from kafka_streams_demo_spark.functions.multimodal import (
        attach_synthetic_wav,
        wav_feature_extract,
    )

    docs = spark.range(40).selectExpr("id AS doc_id")
    out = wav_feature_extract(attach_synthetic_wav(docs)).collect()
    assert len(out) == 40
    for r in out:
        expect_n = 800 + (r["doc_id"] % 5) * 80
        assert r["n_samples"] == expect_n
        assert r["sample_rate"] == 8000
        assert abs(r["rms"] - 0.5 / 2 ** 0.5) < 0.01
        assert 0.45 < r["peak"] <= 0.51


def test_ppm_resize_pipeline_distributed(spark):
    """Synthetic PPMs resized across Spark workers: resized payloads are
    valid P6 at the target dims with the expected gradient corners."""
    from kafka_streams_demo_spark.functions.codecs import ppm_decode
    from kafka_streams_demo_spark.functions.multimodal import (
        attach_synthetic_ppm,
        ppm_resize_images,
    )

    docs = spark.range(20).selectExpr("id AS doc_id")
    out = ppm_resize_images(attach_synthetic_ppm(docs), 16, 16).collect()
    assert len(out) == 20
    for r in out:
        assert r["orig_w"] == 8 + (r["doc_id"] % 8) * 4
        assert r["orig_h"] == 8 + (r["doc_id"] % 5) * 4
        px = ppm_decode(bytes(r["resized"]))
        assert px.shape == (16, 16, 3)
        assert px[0, 0, 0] == 0            # gradient starts at 0
        assert int(px[0, -1, 0]) > 180     # red ramps along x
        assert (px[..., 2] == r["doc_id"] % 256).all()


def test_ppm_video_frame_index():
    """The concatenated-P6 container indexes every frame with correct
    offsets, and each indexed slice decodes standalone."""
    import numpy as np

    from kafka_streams_demo_spark.functions.codecs import (
        ppm_decode,
        ppm_video_encode,
        ppm_video_frames,
    )

    frames = [np.full((4, 6, 3), v, dtype=np.uint8) for v in (10, 20, 30)]
    vid = ppm_video_encode(frames)
    idx = ppm_video_frames(vid)
    assert [(f[0], f[3], f[4]) for f in idx] == [(0, 6, 4), (1, 6, 4), (2, 6, 4)]
    assert idx[-1][1] + idx[-1][2] == len(vid)  # index spans the payload
    for fno, off, length, _, _ in idx:
        assert (ppm_decode(vid[off:off + length]) == frames[fno]).all()


def test_ppm_video_frame_sample_distributed(spark):
    """Real frame sampling across Spark workers: every-2nd-frame rows with
    standalone-decodable payloads whose shading matches the generator."""
    from kafka_streams_demo_spark.functions.codecs import ppm_decode
    from kafka_streams_demo_spark.functions.multimodal import (
        attach_synthetic_ppm_video,
        ppm_frame_sample,
    )

    docs = spark.range(20).selectExpr("id AS doc_id")
    vids = attach_synthetic_ppm_video(docs)
    n_frames = {r["doc_id"]: r["n_frames"] for r in
                vids.select("doc_id", "n_frames").collect()}
    out = ppm_frame_sample(vids, every_n=2).collect()
    got = {}
    for r in out:
        got.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in got.items():
        k = n_frames[doc_id]
        assert sorted(r["frame_no"] for r in rows) == list(range(0, k, 2))
        for r in rows:
            px = ppm_decode(bytes(r["frame"]))
            assert px.shape == (12, 16, 3)
            assert (px == (doc_id + 17 * r["frame_no"]) % 256).all()
    assert set(got) == set(range(20))


def test_gif_lzw_golden_documented_stream():
    """Golden LZW: the widely-documented 10x10 sample stream (min code
    size 2) exercises dictionary growth AND the 3→4 bit width change;
    and the canonical 1x1 pixel GIF decodes through the full container
    path. Both are public reference byte sequences, not our encoder's
    output — they pin the decoder against the spec, not against itself."""
    import base64

    from kafka_streams_demo_spark.functions.codecs import (
        _gif_lzw_decode,
        gif_decode,
    )

    stream = bytes.fromhex(
        "8C2D99872A1CDC33A00275EC95FAA8DE608C04914C01"
    )
    idx = _gif_lzw_decode(stream, 2)
    assert len(idx) == 100
    assert idx[:10] == [1, 1, 1, 1, 1, 2, 2, 2, 2, 2]
    assert set(idx) <= {0, 1, 2}

    one_px = base64.b64decode(
        "R0lGODlhAQABAIAAAP///wAAACH5BAEAAAAALAAAAAABAAEAAAICRAEAOw=="
    )
    px = gif_decode(one_px)
    assert px.shape == (1, 1, 3)
    assert px[0, 0].tolist() == [255, 255, 255]


def test_gif_roundtrip_and_palette():
    import numpy as np

    from kafka_streams_demo_spark.functions.codecs import (
        gif_decode,
        gif_encode,
        gif_meta,
    )

    rng = np.random.RandomState(3)
    palette = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255],
                        [10, 20, 30], [200, 200, 200]], dtype=np.uint8)
    idx = rng.randint(0, 5, size=(13, 17))
    img = palette[idx]
    payload = gif_encode(img)
    assert payload[:6] == b"GIF89a" and payload[-1:] == b"\x3b"
    back = gif_decode(payload)
    assert back.shape == (13, 17, 3)
    assert (back == img).all()
    meta = gif_meta(payload)
    assert (meta["width"], meta["height"]) == (17, 13)
    assert meta["n_colors"] == 5

    with __import__("pytest").raises(ValueError, match="signature"):
        gif_decode(b"NOTAGIF" + payload)


def test_gif_interlaced_rows_restored():
    """File stores rows in the 4-pass interlace order; the decoder must
    restore natural order when the interlace flag is set."""
    import numpy as np

    from kafka_streams_demo_spark.functions.codecs import gif_decode, gif_encode

    h, w = 11, 6
    palette = np.array([[0, 0, 0], [255, 255, 255], [9, 9, 9]], dtype=np.uint8)
    natural = palette[(np.arange(h * w).reshape(h, w)) % 3]
    file_order = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        file_order.extend(range(start, h, step))
    stored = natural[file_order]
    payload = bytearray(gif_encode(stored))
    # patch the image-descriptor packed byte: header(13) + GCT + sep/geom(9)
    table_n = 4  # 3 colors pad to 4
    packed_at = 13 + 3 * table_n + 9
    assert payload[packed_at] == 0x00
    payload[packed_at] = 0x40
    back = gif_decode(bytes(payload))
    assert (back == natural).all()


def test_gif_animation_multiframe_roundtrip_and_frame_sample(spark):
    """Multi-frame GIF: N full-canvas frames round-trip pixel-exact, and
    the Spark frame-sampler indexes every 2nd frame with real decode."""
    import numpy as np

    from kafka_streams_demo_spark.functions.codecs import (
        gif_encode_animation,
        gif_frames,
    )
    from kafka_streams_demo_spark.functions.multimodal import (
        attach_synthetic_gif_video,
        gif_frame_sample,
    )

    pal = np.array([[1, 2, 3], [250, 250, 250]], dtype=np.uint8)
    frames = [pal[(np.arange(20).reshape(4, 5) + k) % 2] for k in range(5)]
    back = gif_frames(gif_encode_animation(frames))
    assert len(back) == 5
    assert all((a == b).all() for a, b in zip(frames, back))

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    out = gif_frame_sample(attach_synthetic_gif_video(docs), every_n=2)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(r["frame_no"])
        assert (r["w"], r["h"]) == (12, 8)
    for d in range(8):
        n = 3 + d % 4
        assert sorted(got[d]) == list(range(0, n, 2))


def test_gif_resize_nearest_neighbor():
    import numpy as np

    from kafka_streams_demo_spark.functions.codecs import (
        gif_decode,
        gif_encode,
        gif_resize,
    )

    pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    img = pal[(np.arange(64).reshape(8, 8) // 8 + np.arange(64).reshape(8, 8) % 8) % 2]
    small = gif_decode(gif_resize(gif_encode(img), 4, 4))
    assert small.shape == (4, 4, 3)
    # nearest-neighbor on a checkerboard: sampled points keep the pattern
    expect = img[(np.arange(4) * 2)][:, (np.arange(4) * 2)]
    assert (small == expect).all()


def test_gif_truncated_raises_value_error_not_index_error():
    import numpy as np

    from kafka_streams_demo_spark.functions.codecs import gif_decode, gif_encode

    pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    payload = gif_encode(pal[(np.arange(64).reshape(8, 8)) % 2])
    for cut in (10, 20, len(payload) // 2, len(payload) - 3):
        try:
            gif_decode(payload[:cut])
        except ValueError:
            pass  # the only acceptable failure mode


def test_jpeg_quantization_matches_published_worked_example():
    """The T.81/Wallace worked-example 8×8 block, quantized with the
    Annex K luminance table at quality 50, must reproduce the published
    coefficient matrix EXACTLY — pins level shift, the orthonormal
    DCT-II, table scaling (quality 50 == the Annex K base verbatim), and
    rounding, against an externally documented result."""
    import numpy as np

    from kafka_streams_demo_spark.functions.codecs import (
        _jpeg_quality_tables,
        _jpeg_quantize_block,
        _JPEG_QT_LUMA,
    )

    block = np.array([
        [52, 55, 61, 66, 70, 61, 64, 73],
        [63, 59, 55, 90, 109, 85, 69, 72],
        [62, 59, 68, 113, 144, 104, 66, 73],
        [63, 58, 71, 122, 154, 106, 70, 69],
        [67, 61, 68, 104, 126, 88, 68, 70],
        [79, 65, 60, 70, 77, 68, 58, 75],
        [85, 71, 64, 59, 55, 61, 65, 83],
        [87, 79, 69, 68, 65, 76, 78, 94],
    ], dtype=float)
    published = np.array([
        [-26, -3, -6, 2, 2, -1, 0, 0],
        [0, -2, -4, 1, 1, 0, 0, 0],
        [-3, 1, 5, -1, -1, 0, 0, 0],
        [-3, 1, 2, -1, 0, 0, 0, 0],
        [1, 0, 0, 0, 0, 0, 0, 0],
        [0, 0, 0, 0, 0, 0, 0, 0],
        [0, 0, 0, 0, 0, 0, 0, 0],
        [0, 0, 0, 0, 0, 0, 0, 0],
    ])
    qt50, _ = _jpeg_quality_tables(50)
    assert (qt50.flatten() == np.array(_JPEG_QT_LUMA)).all()
    got = _jpeg_quantize_block(block - 128.0, qt50)
    assert (got == published).all(), got


def test_jpeg_huffman_canonical_codes_match_spec():
    """Canonical code construction against the spec's documented AC-luma
    codewords: EOB (0x00) = 1010, ZRL (0xF0) = 11111111001,
    (run 0, size 1) = 00 — plus structural invariants (prefix-free,
    162 AC symbols)."""
    from kafka_streams_demo_spark.functions.codecs import (
        _jpeg_canonical_codes,
        _JPEG_AC_L_BITS,
        _JPEG_AC_L_VALS,
    )

    codes = _jpeg_canonical_codes(_JPEG_AC_L_BITS, _JPEG_AC_L_VALS)
    assert len(codes) == 162
    def s(sym):
        c, ln = codes[sym]
        return format(c, f"0{ln}b")
    assert s(0x00) == "1010"
    assert s(0xF0) == "11111111001"
    assert s(0x01) == "00"
    # prefix-free: no codeword is a prefix of another
    words = sorted(s(k) for k in codes)
    for a, b in zip(words, words[1:]):
        assert not b.startswith(a)


def test_jpeg_roundtrip_psnr_gray_and_color():
    """decode(encode(img)) stays close at quality 90 (PSNR > 35 dB) for
    gradient and pseudo-random images, including non-multiple-of-8
    dimensions (edge-replicated padding cropped back exactly)."""
    import numpy as np

    from kafka_streams_demo_spark.functions.codecs import jpeg_decode, jpeg_encode

    rng = np.random.RandomState(7)

    def psnr(a, b):
        mse = float(((a.astype(float) - b.astype(float)) ** 2).mean())
        return 99.0 if mse == 0 else 10 * np.log10(255.0 ** 2 / mse)

    grad = (np.add.outer(np.arange(29) * 4, np.arange(21) * 7) % 256).astype(np.uint8)
    smooth = (rng.rand(19, 13) * 60 + 90).astype(np.uint8)
    for img in (grad, smooth):
        back = jpeg_decode(jpeg_encode(img, quality=90))
        assert back.shape == img.shape
        assert psnr(img, back) > 35, psnr(img, back)

    rgb = np.stack([grad, (255 - grad), np.roll(grad, 5, axis=0)], axis=-1)
    back = jpeg_decode(jpeg_encode(rgb, quality=90))
    assert back.shape == rgb.shape
    assert psnr(rgb, back) > 30, psnr(rgb, back)
    # flat image: near-lossless at any quality
    flat = np.full((16, 24), 137, dtype=np.uint8)
    assert psnr(flat, jpeg_decode(jpeg_encode(flat, quality=50))) > 45


def test_jpeg_meta_and_malformed_streams():
    """Header-only meta parse; truncated/garbage/progressive streams
    raise ValueError (the codec-family contract), never IndexError."""
    import numpy as np
    import pytest

    from kafka_streams_demo_spark.functions.codecs import (
        jpeg_encode,
        jpeg_decode,
        jpeg_meta,
    )

    img = (np.arange(16 * 24).reshape(16, 24) % 256).astype(np.uint8)
    data = jpeg_encode(img, quality=75)
    m = jpeg_meta(data)
    assert m == {"width": 24, "height": 16, "n_components": 1,
                 "precision": 8, "subsampling": "gray",
                 "progressive": False}

    with pytest.raises(ValueError, match="SOI"):
        jpeg_meta(b"\x00\x01\x02")
    for cut in (4, 20, len(data) // 2, len(data) - 3):
        with pytest.raises(ValueError):
            jpeg_decode(data[:cut])
    # progressive (SOF2): metadata PARSES (round 7), decode rejects by name
    sof0_at = data.find(b"\xff\xc0")
    assert sof0_at > 0
    prog = data[:sof0_at] + b"\xff\xc2" + data[sof0_at + 2:]
    assert jpeg_meta(prog)["progressive"] is True
    with pytest.raises(ValueError, match="progressive"):
        jpeg_decode(prog)
    with pytest.raises(ValueError, match="quality"):
        jpeg_encode(img, quality=0)


def test_jpeg_spark_attach_and_meta_extract(spark):
    """The Spark plumbing end-to-end at sf0.001: every doc's JPEG parses
    back to the closed-form dimensions/components the generator used."""
    from kafka_streams_demo_spark.functions.multimodal import (
        attach_synthetic_jpeg,
        jpeg_meta_extract,
    )
    from kafka_streams_demo_spark.sources.registry import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    out = jpeg_meta_extract(attach_synthetic_jpeg(docs)).collect()
    assert len(out) == docs.count()
    for r in out:
        d = r["doc_id"]
        assert r["width"] == 8 * (1 + d % 3)
        assert r["height"] == 8 * (1 + d % 2)
        assert r["n_components"] == (1 if d % 2 == 0 else 3)


def test_jpeg_420_roundtrip_and_meta():
    """4:2:0 (VERDICT r5 #7): the encoder emits 2×2-luma MCUs with
    box-averaged chroma; decode reads them back. Luma must match the
    4:4:4 decode closely (subsampling only touches chroma); a flat image
    is bit-exact; meta reports the layout; grayscale ignores the flag."""
    import numpy as np

    from kafka_streams_demo_spark.functions.codecs import (
        jpeg_decode,
        jpeg_encode,
        jpeg_meta,
    )

    base = (np.add.outer(np.arange(19) * 3, np.arange(29) * 5)) % 256
    px = np.stack([base, (base * 2) % 256, (255 - base) % 256],
                  axis=-1).astype(np.uint8)
    b444 = jpeg_encode(px, quality=90)
    b420 = jpeg_encode(px, quality=90, subsampling="420")
    assert jpeg_meta(b444)["subsampling"] == "4:4:4"
    assert jpeg_meta(b420)["subsampling"] == "4:2:0"
    assert len(b420) < len(b444)  # half the chroma blocks
    d444, d420 = jpeg_decode(b444), jpeg_decode(b420)
    assert d420.shape == px.shape
    y444 = 0.299 * d444[..., 0] + 0.587 * d444[..., 1] + 0.114 * d444[..., 2]
    y420 = 0.299 * d420[..., 0] + 0.587 * d420[..., 1] + 0.114 * d420[..., 2]
    assert np.abs(y444 - y420).mean() < 1.5
    # flat color: DC-only blocks survive subsampling exactly
    flat = np.full((16, 16, 3), 120, np.uint8)
    assert (jpeg_decode(jpeg_encode(flat, subsampling="420")) == 120).all()
    # grayscale has no chroma to subsample — byte-identical output
    g = base.astype(np.uint8)
    assert jpeg_encode(g, subsampling="420") == jpeg_encode(g)

    import pytest
    with pytest.raises(ValueError, match="subsampling"):
        jpeg_encode(px, subsampling="411")


def test_jpeg_422_decode_hand_built_stream():
    """4:2:2 decode, pinned against a hand-assembled spec stream: a flat
    128-gray 16×8 image is one 2×1-luma MCU whose entropy bits are the
    documented Annex K codewords (DC cat-0 '00', luma EOB '1010',
    chroma DC '00', chroma EOB '00') — 20 bits, 1-padded. The generic
    MCU walk must reproduce the flat image exactly; unsupported factor
    combos get named rejections."""
    import numpy as np
    import pytest

    from kafka_streams_demo_spark.functions.codecs import (
        jpeg_decode,
        jpeg_encode,
        jpeg_meta,
    )

    # header donor: real 4:4:4 color stream (DQT/DHT segments reused)
    donor = jpeg_encode(np.full((16, 16, 3), 128, np.uint8), quality=50)
    sof_at = donor.find(b"\xff\xc0")
    sos_at = donor.find(b"\xff\xda")
    assert sof_at > 0 and sos_at > sof_at
    sof_len = int.from_bytes(donor[sof_at + 2:sof_at + 4], "big")
    sof = bytearray(donor[sof_at:sof_at + 2 + sof_len])
    sof[5:7] = (8).to_bytes(2, "big")    # height 8
    sof[7:9] = (16).to_bytes(2, "big")   # width 16
    sof[11] = 0x21                       # luma H=2, V=1 → 4:2:2
    sos_len = int.from_bytes(donor[sos_at + 2:sos_at + 4], "big")
    header = (donor[:sof_at] + bytes(sof)
              + donor[sof_at + 2 + sof_len:sos_at]
              + donor[sos_at:sos_at + 2 + sos_len])
    # 1 MCU: Y("00"+"1010") ×2, Cb("00"+"00"), Cr("00"+"00"), pad 1s
    bits = "001010" * 2 + "0000" * 2 + "1111"
    entropy = bytes(int(bits[i:i + 8], 2) for i in range(0, 24, 8))
    stream = header + entropy + b"\xff\xd9"
    assert jpeg_meta(stream)["subsampling"] == "4:2:2"
    out = jpeg_decode(stream)
    assert out.shape == (8, 16, 3)
    assert (out == 128).all()

    # luma 3x1 → named rejection, never a mis-decode
    bad = bytearray(stream)
    bad[sof_at + 11] = 0x31
    with pytest.raises(ValueError, match="sampling"):
        jpeg_decode(bytes(bad))
    # chroma 2x1 → named rejection
    bad = bytearray(stream)
    bad[sof_at + 14] = 0x21
    with pytest.raises(ValueError, match="chroma"):
        jpeg_decode(bytes(bad))


def test_jpeg_resize_dims_and_content():
    """Resize completes the JPEG quartet: output re-parses at the target
    dimensions and a flat image survives resampling intact."""
    import numpy as np

    from kafka_streams_demo_spark.functions.codecs import (
        jpeg_encode,
        jpeg_decode,
        jpeg_meta,
        jpeg_resize,
    )

    img = np.full((24, 32), 200, dtype=np.uint8)
    small = jpeg_resize(jpeg_encode(img), 16, 8)
    m = jpeg_meta(small)
    assert (m["width"], m["height"]) == (16, 8)
    back = jpeg_decode(small)
    assert abs(float(back.mean()) - 200.0) < 3.0


def test_jpeg_progressive_header_parses_malformed_rejects(spark):
    """SOF2 headers parse for metadata (same segment layout as SOF0). A
    baseline stream with its marker REWRITTEN to SOF2 is structurally
    invalid progressive (its single scan spans Ss=0..Se=63) — metadata
    still parses but decode rejects with a named error; other SOFn
    variants stay rejected even at parse time."""
    import numpy as np
    import pytest

    from kafka_streams_demo_spark.functions.codecs import (
        jpeg_decode,
        jpeg_encode,
        jpeg_meta,
    )

    px = np.stack([
        (np.add.outer(np.arange(16) * 3, np.arange(24) * 5)) % 256,
        (np.add.outer(np.arange(16), np.arange(24))) % 256,
        np.full((16, 24), 7),
    ], axis=-1).astype(np.uint8)
    baseline = jpeg_encode(px, quality=90)
    i = baseline.index(b"\xff\xc0")
    pseudo = baseline[:i] + b"\xff\xc2" + baseline[i + 2:]

    m = jpeg_meta(pseudo)
    assert (m["width"], m["height"], m["n_components"]) == (24, 16, 3)
    assert m["progressive"] is True
    assert jpeg_meta(baseline)["progressive"] is False
    with pytest.raises(ValueError, match="progressive"):
        jpeg_decode(pseudo)
    # lossless (SOF3) still rejected outright
    sof3 = baseline[:i] + b"\xff\xc3" + baseline[i + 2:]
    with pytest.raises(ValueError, match="SOF"):
        jpeg_meta(sof3)


def test_jpeg_progressive_roundtrip_bit_equal_to_baseline(spark):
    """The Annex G progressive tier: decode(progressive_encode(px)) must
    equal decode(baseline_encode(px)) BIT-FOR-BIT — both pipelines
    quantize identically, progressive only reorders coefficient bits
    across scans (DC first/refine, AC spectral bands 1-5/6-63 at Al=1
    plus refinements). Covers gray, 4:4:4, 4:2:0, odd dims, a flat
    image (multi-block EOBn runs) and dense noise (ZRL + correction
    bits), at two qualities."""
    import numpy as np

    from kafka_streams_demo_spark.functions.codecs import (
        jpeg_decode,
        jpeg_encode,
        jpeg_encode_progressive,
        jpeg_meta,
    )

    rng = np.random.RandomState(7)
    base = (np.add.outer(np.arange(18) * 11, np.arange(22) * 13)) % 256
    cases = [
        (((np.add.outer(np.arange(20) * 7, np.arange(14) * 3)) % 256
          ).astype(np.uint8), "444"),
        (np.stack([base, (base + 70) % 256, (base * 3) % 256],
                  axis=-1).astype(np.uint8), "420"),
        (np.full((32, 40, 3), 128, dtype=np.uint8), "420"),
        (rng.randint(0, 256, (24, 24, 3)).astype(np.uint8), "444"),
    ]
    for px, sub in cases:
        for q in (90, 50):
            kw = {} if px.ndim == 2 else {"subsampling": sub}
            b = jpeg_encode(px, quality=q, **kw)
            p = jpeg_encode_progressive(px, quality=q, **kw)
            assert np.array_equal(jpeg_decode(b), jpeg_decode(p))
            m = jpeg_meta(p)
            assert m["progressive"] is True
            assert p.count(b"\xff\xda") >= 6  # genuinely multi-scan


def test_jpeg_meta_tolerant_rows(spark):
    """jpeg_meta_tolerant over the mixed fixture: every row (baseline
    gray and REAL progressive color) carries header metadata and a
    successful decode of the declared shape."""
    from kafka_streams_demo_spark.functions.multimodal import (
        attach_synthetic_jpeg_progressive_mix,
        jpeg_meta_tolerant,
    )

    docs = spark.range(0, 8).select(F.col("id").alias("doc_id"))
    got = {r["doc_id"]: r for r in
           jpeg_meta_tolerant(attach_synthetic_jpeg_progressive_mix(docs)).collect()}
    assert len(got) == 8
    for d, r in got.items():
        assert r["width"] == 8 * (1 + d % 3)
        assert r["height"] == 8 * (1 + d % 2)
        assert r["n_components"] == (1 if d % 2 == 0 else 3)
        assert r["progressive"] is (d % 2 == 1)
        assert r["decode_ok"] is True


def test_jpeg_restart_interval_roundtrip_and_meta(spark):
    """DRI/RSTn support (round 7): streams encoded with a restart
    interval decode bit-identically to the restart-free stream (the
    markers only byte-align and reset DC predictors), metadata parses,
    and a stream whose restart marker is destroyed raises instead of
    desyncing silently."""
    import numpy as np
    import pytest

    from kafka_streams_demo_spark.functions.codecs import (
        jpeg_decode,
        jpeg_encode,
        jpeg_meta,
    )

    base = (np.add.outer(np.arange(18) * 11, np.arange(22) * 13)) % 256
    color = np.stack(
        [base, (base + 70) % 256, (base * 3) % 256], axis=-1
    ).astype(np.uint8)
    gray = ((np.add.outer(np.arange(20) * 7, np.arange(14) * 3)) % 256
            ).astype(np.uint8)
    for px, sub in ((gray, None), (color, "444"), (color, "420")):
        kw = {} if sub is None else {"subsampling": sub}
        plain = jpeg_decode(jpeg_encode(px, quality=85, **kw))
        for ri in (1, 3, 1000):
            b = jpeg_encode(px, quality=85, restart_interval=ri, **kw)
            assert np.array_equal(jpeg_decode(b), plain)
    with_rst = jpeg_encode(gray, quality=85, restart_interval=1)
    assert jpeg_meta(with_rst)["width"] == 14
    assert with_rst.count(b"\xff\xdd") == 1 and b"\xff\xd0" in with_rst
    # destroy the first restart marker: decode must fail loudly
    i = with_rst.index(b"\xff\xd0")
    broken = with_rst[:i] + b"\x00\x00" + with_rst[i + 2:]
    with pytest.raises(ValueError):
        jpeg_decode(broken)


def test_jpeg_422_440_encode_all_paths(spark):
    """Round 7 closes the encoder-side layout set: 4:2:2 (2×1 luma) and
    4:4:0 (1×2) encode, decode back at the declared layout with smooth
    chroma fidelity, stay exact on flat images, and hold progressive +
    restart bit-equality like the other layouts. Gray still ignores
    subsampling byte-for-byte; 4:1:1 stays rejected."""
    import numpy as np
    import pytest

    from kafka_streams_demo_spark.functions.codecs import (
        jpeg_decode,
        jpeg_encode,
        jpeg_encode_progressive,
        jpeg_meta,
    )

    yy, xx = np.mgrid[0:18, 0:22]
    smooth = np.stack([
        np.clip(40 + yy * 5 + xx * 2, 0, 255),
        np.clip(200 - yy * 3 - xx * 2, 0, 255),
        np.full((18, 22), 90),
    ], axis=-1).astype(np.uint8)
    flat = np.full((24, 40, 3), 200, dtype=np.uint8)

    def psnr(a, b):
        mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
        return 99 if mse == 0 else 10 * np.log10(255 * 255 / mse)

    for sub, name in (("422", "4:2:2"), ("440", "4:4:0")):
        b = jpeg_encode(smooth, quality=90, subsampling=sub)
        assert jpeg_meta(b)["subsampling"] == name
        dec = jpeg_decode(b)
        assert dec.shape == smooth.shape and psnr(smooth, dec) > 30
        assert (jpeg_decode(jpeg_encode(flat, quality=90, subsampling=sub))
                == 200).all()
        for ri in (0, 2):
            p = jpeg_encode_progressive(
                smooth, quality=90, subsampling=sub, restart_interval=ri
            )
            assert np.array_equal(jpeg_decode(p), dec)
            assert jpeg_meta(p)["progressive"] is True
    g = ((np.arange(16 * 24).reshape(16, 24)) % 256).astype(np.uint8)
    assert jpeg_encode(g, subsampling="422") == jpeg_encode(g)
    with pytest.raises(ValueError, match="subsampling"):
        jpeg_encode(smooth, subsampling="411")


# sha256 of the sorted, concatenated payload checksums for doc_id 0-39:
# pins every fixture's payload bytes (the catalog oracles read only
# header fields).
PAYLOAD_DIGESTS = {
    "attach_synthetic_gif":
        "0e6d80b68260c51ccb349fae08bf2dd9c84c91cbf74ca6268967678bc2495e78",
    "attach_synthetic_gif_video":
        "b64005109466edfb0722b59969272a1c1a4c8dd3c6ac9e1c4d1c4e62e7dc77d2",
    "attach_synthetic_jpeg":
        "d8fd0eca138fe28de98570b9b8a64557ba597f217e1c5433d9fe7dd27457ce11",
    "attach_synthetic_jpeg_all_layouts":
        "a6c6801f6e4ed6be3b0ce77c67187aecdc2a8477351d3529bccede880aece7d5",
    "attach_synthetic_jpeg_mixed":
        "155f1763711c9d29eada2256788bbe28ec1a801e76844ccd3de5c8b23e81fadf",
    "attach_synthetic_jpeg_progressive_mix":
        "407c9d57a6c6642ccfff2566c65252fcfc023c39b35794333c38d36f05690eb3",
    "attach_synthetic_jpeg_restart":
        "ef035268fcd5d104c524e715de7c87814f1927a864d37409c81d7960b587f7f2",
    "attach_synthetic_ppm":
        "30c6804115207184e61c2b3067129b43e94b837ee520d5b0570121033af6ed53",
    "attach_synthetic_ppm_video":
        "e9bb02e02edf2cb603631801fb80043369399c378e91037cec5625ffe3ecbcb4",
    "attach_synthetic_wav":
        "8c79912c3e864b986d572f28b78dd2f04cb520449346ffe1b89dbfeb296766d3",
}


@pytest.mark.parametrize("fixture", sorted(PAYLOAD_DIGESTS))
def test_fixture_payload_bytes_pinned(spark, fixture):
    import hashlib

    from kafka_streams_demo_spark.functions import multimodal

    ids = spark.range(40).withColumnRenamed("id", "doc_id")
    rows = getattr(multimodal, fixture)(ids).select("payload", "checksum").collect()
    assert all(hashlib.sha256(bytes(r["payload"])).hexdigest() == r["checksum"]
               for r in rows)
    sums = "".join(sorted(r["checksum"] for r in rows))
    assert hashlib.sha256(sums.encode()).hexdigest() == PAYLOAD_DIGESTS[fixture]

"""Pure-Python media codecs for the multimodal pipeline: WAV-PCM audio,
PPM-P6 images, LZW-compressed GIF, and baseline-DCT JPEG — all
implemented from their public specifications with zero external codec
libraries (stdlib + numpy). They make the multimodal decode path REAL
across the whole codec ladder — uncompressed (WAV/PPM), dictionary-
compressed (GIF/LZW), and entropy-coded transform compression (JPEG:
DCT + quantization + canonical Huffman per ITU-T T.81). Perceptual-
model audio/video formats (MP3/H.264) remain out of scope in this
container (see functions/multimodal.py docstring).

All codec functions are defined inside a factory and exported as
closures: cloudpickle pickles nested functions BY VALUE, so Spark
workers can run them inside mapInPandas without having this package on
their PYTHONPATH (the driver may run from anywhere — see the verify
harness). Imports live inside the function bodies for the same reason.
"""

from __future__ import annotations


def _make_codecs():
    def wav_encode(samples, rate: int = 8000) -> bytes:
        """Mono 16-bit PCM WAV from float samples in [-1, 1]."""
        import io
        import wave

        import numpy as np

        pcm = (np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
               * 32767).astype("<i2")
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(pcm.tobytes())
        return buf.getvalue()

    def wav_decode(payload: bytes) -> dict:
        """Real RIFF/WAVE parse + PCM stats: sample_rate, channels,
        n_samples, duration_s, rms, peak (floats in [-1, 1] domain)."""
        import io
        import math
        import wave

        import numpy as np

        with wave.open(io.BytesIO(bytes(payload))) as w:
            rate, nch = w.getframerate(), w.getnchannels()
            nfr, sw = w.getnframes(), w.getsampwidth()
            raw = w.readframes(nfr)
        if sw != 2:
            raise ValueError(f"only 16-bit PCM supported, got sampwidth={sw}")
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
        return {
            "sample_rate": rate,
            "channels": nch,
            "n_samples": nfr,
            "duration_s": nfr / rate if rate else 0.0,
            "rms": float(math.sqrt(float(np.mean(x * x)))) if x.size else 0.0,
            "peak": float(np.max(np.abs(x))) if x.size else 0.0,
        }

    def ppm_encode(pixels) -> bytes:
        """P6 PPM from an (h, w, 3) uint8 array."""
        import numpy as np

        px = np.asarray(pixels, dtype=np.uint8)
        h, w, _ = px.shape
        return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()

    def ppm_decode(payload: bytes):
        """Parse P6 PPM (handles comment lines) → (h, w, 3) uint8 array."""
        import numpy as np

        data = bytes(payload)
        w, h, pos = _ppm_header(data, 0)
        raster = np.frombuffer(data, dtype=np.uint8, count=w * h * 3, offset=pos)
        return raster.reshape(h, w, 3).copy()

    def ppm_resize(payload: bytes, new_w: int, new_h: int) -> bytes:
        """Nearest-neighbor resize of a P6 payload, re-encoded as P6."""
        import numpy as np

        px = ppm_decode(payload)
        h, w, _ = px.shape
        rows = (np.arange(new_h) * h // new_h).clip(0, h - 1)
        cols = (np.arange(new_w) * w // new_w).clip(0, w - 1)
        return ppm_encode(px[rows][:, cols])

    def _ppm_header(data: bytes, base: int):
        """Parse one P6 header starting at ``base`` → (w, h, raster_start).

        Header per the netpbm spec: magic, then width/height/maxval as
        whitespace-separated tokens with '#' comments running to end of
        line, then ONE whitespace byte before the raster. maxval must be
        255 (1 byte/channel — larger maxvals switch to 2-byte samples and
        would shift every offset)."""
        if data[base:base + 2] != b"P6":
            raise ValueError(f"no P6 frame at offset {base}")
        pos, tokens = base + 2, []
        while len(tokens) < 3:
            while data[pos:pos + 1].isspace():
                pos += 1
            if data[pos:pos + 1] == b"#":
                pos = data.index(b"\n", pos) + 1
                continue
            start = pos
            while not data[pos:pos + 1].isspace():
                pos += 1
            tokens.append(int(data[start:pos]))
        w, h, maxval = tokens
        if maxval != 255:
            raise ValueError(f"only maxval=255 supported, got {maxval}")
        return w, h, pos + 1

    def ppm_video_frames(payload: bytes):
        """Frame index of a concatenated-P6 'video' (the uncompressed
        multi-frame container): [(frame_no, offset, length, w, h), ...]."""
        data = bytes(payload)
        out, base, fno = [], 0, 0
        while base < len(data):
            w, h, raster = _ppm_header(data, base)
            end = raster + w * h * 3
            out.append((fno, base, end - base, w, h))
            base, fno = end, fno + 1
        return out

    def ppm_video_encode(frames) -> bytes:
        """Concatenate (h, w, 3) uint8 arrays into the multi-frame payload."""
        return b"".join(ppm_encode(f) for f in frames)

    return (wav_encode, wav_decode, ppm_encode, ppm_decode, ppm_resize,
            ppm_video_encode, ppm_video_frames)


(wav_encode, wav_decode, ppm_encode, ppm_decode, ppm_resize,
 ppm_video_encode, ppm_video_frames) = _make_codecs()


def _make_gif_codec():
    """GIF87a/89a + LZW, from scratch per the public specification (the
    W3C GIF89a spec: logical screen descriptor, color tables, image
    descriptor, extension blocks, sub-block packed LZW image data with
    LSB-first variable-width codes). This is the REAL compressed-image
    tier of the multimodal pipeline — the decoder implements the full
    LZW grammar (dictionary growth, code-width increases, 12-bit cap
    with deferred clear, interlace reordering, local color tables);
    the encoder emits the literal-only LZW subset (a clear code before
    every pixel code keeps the code width fixed — valid per the spec,
    trades ratio for simplicity).
    By-value closures for worker safety, same as the other codecs."""

    def _lzw_decode(data: bytes, min_code_size: int) -> list:
        clear, end = 1 << min_code_size, (1 << min_code_size) + 1
        pos = 0
        nbits = len(data) * 8

        def read(width: int):
            nonlocal pos
            if pos + width > nbits:
                return None
            v = 0
            for i in range(width):
                v |= ((data[(pos + i) >> 3] >> ((pos + i) & 7)) & 1) << i
            pos += width
            return v

        width = min_code_size + 1
        table: list = [(i,) for i in range(clear)] + [None, None]
        out: list = []
        prev = None
        while True:
            code = read(width)
            if code is None:
                break  # stream ended without END code: tolerate (common)
            if code == clear:
                table = table[: clear + 2]
                width = min_code_size + 1
                prev = None
                continue
            if code == end:
                break
            if code < len(table) and table[code] is not None:
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + (prev[0],)
            else:
                raise ValueError(f"corrupt LZW stream: code {code}")
            out.extend(entry)
            if prev is not None and len(table) < 4096:
                table.append(prev + (entry[0],))
            if len(table) == (1 << width) and width < 12:
                width += 1
            prev = entry
        return out

    def _lzw_encode_literal(indices, min_code_size: int) -> bytes:
        """Literal-only LZW: CLEAR before every pixel code pins the
        decoder's table at its initial size, so the width never grows."""
        clear, end = 1 << min_code_size, (1 << min_code_size) + 1
        width = min_code_size + 1
        bits = bytearray()
        acc, nacc = 0, 0

        def emit(code: int):
            nonlocal acc, nacc
            acc |= code << nacc
            nacc += width
            while nacc >= 8:
                bits.append(acc & 0xFF)
                acc >>= 8
                nacc -= 8

        for idx in indices:
            emit(clear)
            emit(int(idx))
        emit(end)
        if nacc:
            bits.append(acc & 0xFF)
        return bytes(bits)

    _INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))

    def _deinterlace(rows: list) -> list:
        h = len(rows)
        out = [None] * h
        src = 0
        for start, step in _INTERLACE_PASSES:
            for r in range(start, h, step):
                out[r] = rows[src]
                src += 1
        return out

    def gif_encode(pixels) -> bytes:
        """(h, w, 3) uint8 → single-frame GIF89a. Palette = the sorted
        distinct colors (≤ 256 required), padded to a power of two."""
        import numpy as np

        px = np.asarray(pixels, dtype=np.uint8)
        h, w, _ = px.shape
        flat = px.reshape(-1, 3)
        palette = np.unique(flat, axis=0)  # sorted lexicographically
        n = len(palette)
        if n > 256:
            raise ValueError(f"GIF supports <=256 colors, got {n}")
        size_bits = max(1, (max(n, 2) - 1).bit_length())  # table = 2^size_bits
        table_n = 1 << size_bits
        lut = {tuple(c): i for i, c in enumerate(palette.tolist())}
        indices = [lut[tuple(p)] for p in flat.tolist()]

        out = bytearray(b"GIF89a")
        out += int(w).to_bytes(2, "little") + int(h).to_bytes(2, "little")
        out.append(0x80 | 0x70 | (size_bits - 1))  # GCT flag, color res 8
        out += b"\x00\x00"  # bg index, aspect
        gct = bytearray()
        for i in range(table_n):
            gct += bytes(palette[i]) if i < n else b"\x00\x00\x00"
        out += gct
        out += b"\x2c" + b"\x00\x00\x00\x00"  # image descriptor at (0,0)
        out += int(w).to_bytes(2, "little") + int(h).to_bytes(2, "little")
        out.append(0x00)  # no local table, not interlaced
        min_code = max(2, size_bits)
        out.append(min_code)
        stream = _lzw_encode_literal(indices, min_code)
        for i in range(0, len(stream), 255):
            chunk = stream[i:i + 255]
            out.append(len(chunk))
            out += chunk
        out += b"\x00\x3b"  # block terminator + trailer
        return bytes(out)

    def gif_frames(payload: bytes):
        """GIF → list of (h, w, 3) uint8 arrays, one per image block —
        multi-image GIFs (animations) are the engine's COMPRESSED video
        container. Frames must be full-canvas (left=top=0, frame size =
        screen size — true for everything this engine writes); partial-
        frame composition/disposal is out of scope and raises. Truncated
        or corrupt payloads raise ValueError (the codec-family contract),
        never a raw IndexError."""
        try:
            return _gif_frames_unchecked(payload)
        except IndexError as exc:
            raise ValueError("corrupt GIF: truncated input") from exc

    def _gif_frames_unchecked(payload: bytes):
        import numpy as np

        data = bytes(payload)
        if data[:6] not in (b"GIF87a", b"GIF89a"):
            raise ValueError("not a GIF (bad signature)")
        sw = int.from_bytes(data[6:8], "little")
        sh = int.from_bytes(data[8:10], "little")
        packed = data[10]
        pos = 13
        gct = None
        if packed & 0x80:
            n = 1 << ((packed & 0x07) + 1)
            gct = data[pos:pos + 3 * n]
            pos += 3 * n
        frames = []
        while pos < len(data):
            b = data[pos]
            pos += 1
            if b == 0x3B:  # trailer
                break
            if b == 0x21:  # extension: label + sub-blocks
                pos += 1
                while data[pos] != 0:
                    pos += 1 + data[pos]
                pos += 1
                continue
            if b != 0x2C:
                raise ValueError(f"unexpected GIF block 0x{b:02x}")
            left = int.from_bytes(data[pos:pos + 2], "little")
            top = int.from_bytes(data[pos + 2:pos + 4], "little")
            w = int.from_bytes(data[pos + 4:pos + 6], "little")
            h = int.from_bytes(data[pos + 6:pos + 8], "little")
            if (left, top) != (0, 0) or (w, h) != (sw, sh):
                raise ValueError("partial-canvas GIF frames unsupported")
            ipacked = data[pos + 8]
            pos += 9
            table = gct
            if ipacked & 0x80:  # local color table
                n = 1 << ((ipacked & 0x07) + 1)
                table = data[pos:pos + 3 * n]
                pos += 3 * n
            if table is None:
                raise ValueError("GIF image has no color table")
            min_code = data[pos]
            pos += 1
            stream = bytearray()
            while data[pos] != 0:
                ln = data[pos]
                stream += data[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            indices = _lzw_decode(bytes(stream), min_code)
            if len(indices) < w * h:
                raise ValueError(
                    f"GIF raster short: {len(indices)} of {w * h} pixels"
                )
            pal = np.frombuffer(table, dtype=np.uint8).reshape(-1, 3)
            idx = np.asarray(indices[: w * h], dtype=np.int64)
            if idx.max(initial=0) >= len(pal):
                raise ValueError("GIF pixel index outside color table")
            raster = pal[idx].reshape(h, w, 3)
            if ipacked & 0x40:  # interlaced: restore row order
                rows = [raster[r] for r in range(h)]
                raster = np.stack(_deinterlace(rows))
            frames.append(raster.copy())
        if not frames:
            raise ValueError("GIF contains no image data")
        return frames

    def gif_decode(payload: bytes):
        """GIF → (h, w, 3) uint8 array of the FIRST image."""
        return gif_frames(payload)[0]

    def gif_encode_animation(frames) -> bytes:
        """Full-canvas frames → one multi-image GIF89a sharing a global
        palette (union of all frames' colors, ≤ 256)."""
        import numpy as np

        fs = [np.asarray(f, dtype=np.uint8) for f in frames]
        if not fs:
            raise ValueError("no frames")
        h, w, _ = fs[0].shape
        if any(f.shape != (h, w, 3) for f in fs):
            raise ValueError("all frames must share the canvas size")
        allpx = np.concatenate([f.reshape(-1, 3) for f in fs])
        palette = np.unique(allpx, axis=0)
        n = len(palette)
        if n > 256:
            raise ValueError(f"GIF supports <=256 colors, got {n}")
        size_bits = max(1, (max(n, 2) - 1).bit_length())
        table_n = 1 << size_bits
        lut = {tuple(c): i for i, c in enumerate(palette.tolist())}

        out = bytearray(b"GIF89a")
        out += int(w).to_bytes(2, "little") + int(h).to_bytes(2, "little")
        out.append(0x80 | 0x70 | (size_bits - 1))
        out += b"\x00\x00"
        for i in range(table_n):
            out += bytes(palette[i]) if i < n else b"\x00\x00\x00"
        min_code = max(2, size_bits)
        for f in fs:
            out += b"\x2c" + b"\x00\x00\x00\x00"
            out += int(w).to_bytes(2, "little") + int(h).to_bytes(2, "little")
            out.append(0x00)
            out.append(min_code)
            indices = [lut[tuple(p)] for p in f.reshape(-1, 3).tolist()]
            stream = _lzw_encode_literal(indices, min_code)
            for i in range(0, len(stream), 255):
                chunk = stream[i:i + 255]
                out.append(len(chunk))
                out += chunk
            out += b"\x00"
        out += b"\x3b"
        return bytes(out)

    def gif_resize(payload: bytes, new_w: int, new_h: int) -> bytes:
        """Nearest-neighbor resize of a (single-frame) GIF, re-encoded —
        the compressed-image sibling of ``ppm_resize``."""
        import numpy as np

        px = gif_decode(payload)
        h, w, _ = px.shape
        rows = (np.arange(new_h) * h) // new_h
        cols = (np.arange(new_w) * w) // new_w
        return gif_encode(px[rows][:, cols])

    def gif_meta(payload: bytes) -> dict:
        """Decode + summarize: width, height, n_colors actually used."""
        import numpy as np

        px = gif_decode(payload)
        h, w, _ = px.shape
        n_colors = int(len(np.unique(px.reshape(-1, 3), axis=0)))
        return {"width": int(w), "height": int(h), "n_colors": n_colors}

    return (gif_encode, gif_decode, gif_meta, gif_frames,
            gif_encode_animation, gif_resize, _lzw_decode,
            _lzw_encode_literal)


(gif_encode, gif_decode, gif_meta, gif_frames, gif_encode_animation,
 gif_resize, _gif_lzw_decode, _gif_lzw_encode_literal) = _make_gif_codec()


def _make_jpeg_codec():
    """Baseline sequential-DCT JPEG (ITU-T T.81), from scratch per the
    public specification: Annex K quantization + Huffman tables, IJG
    quality scaling, level-shift → 8×8 DCT-II → quantize → zigzag →
    DC-difference / AC run-length magnitude coding → canonical Huffman →
    byte-stuffed entropy stream, wrapped in SOI/APP0(JFIF)/DQT/SOF0/DHT/
    SOS/EOI segments. Grayscale (1 component) and YCbCr color — 4:4:4
    (one block per component per MCU) and, round 6, chroma-subsampled
    layouts: the encoder emits 4:2:0 on request (2×2 luma + box-averaged
    chroma per 16×16 MCU) and the decoder handles 4:2:0 / 4:2:2 / 4:4:0
    via the generic T.81 A.2.3 interleaved-MCU walk with
    replication upsampling. The decoder parses the full marker grammar
    (multi-table DQT/DHT segments, APPn/COM skip); progressive (SOF2)
    headers parse for the METADATA path (round 7 — dimensions /
    components / subsampling from any real-corpus JPEG) while entropy
    decode rejects them — as it does restart-interval and
    unsupported-sampling streams — with named errors; baseline streams
    entropy-decode with canonically rebuilt Huffman trees. Quantization math is pinned
    against the published T.81/Wallace worked-example block, and the
    canonical code construction against the spec's documented AC-luma
    codewords (EOB=1010, ZRL=11111111001) in tests/test_multimodal.py.
    By-value closures for worker safety, same as the other codecs."""

    QT_LUMA = [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ]
    QT_CHROMA = [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ]
    ZIGZAG = [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ]
    DC_L_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    DC_L_VALS = list(range(12))
    DC_C_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
    DC_C_VALS = list(range(12))
    AC_L_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
    AC_L_VALS = [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ]
    AC_C_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
    AC_C_VALS = [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ]

    def _canonical_codes(bits, vals):
        """(symbol → (code, length)) per the spec's canonical rule: codes
        assigned in increasing length, within a length in table order."""
        out, code, i = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                out[vals[i]] = (code, ln)
                code += 1
                i += 1
            code <<= 1
        return out

    def _dct_basis():
        import math

        import numpy as np

        c = np.zeros((8, 8))
        for k in range(8):
            for n in range(8):
                c[k, n] = math.cos((2 * n + 1) * k * math.pi / 16)
            c[k] *= math.sqrt(0.125) if k == 0 else 0.5
        return c

    def _quality_tables(quality: int):
        import numpy as np

        if not 1 <= quality <= 100:
            raise ValueError(f"quality must be 1..100, got {quality}")
        scale = 5000 // quality if quality < 50 else 200 - 2 * quality
        def scaled(base):
            t = [(b * scale + 50) // 100 for b in base]
            return np.array([min(255, max(1, v)) for v in t]).reshape(8, 8)
        return scaled(QT_LUMA), scaled(QT_CHROMA)

    def _quantize_block(block, qtbl, C=None):
        """Level-shifted 8×8 spatial block → quantized DCT coefficients
        (the stage pinned against the published worked example). ``C`` is
        the hoisted DCT basis — the encode hot loop passes it in (rebuilt
        per block it's 64 cos() calls + two allocs; decode already
        hoists); None rebuilds it for standalone/test use."""
        import numpy as np

        if C is None:
            C = _dct_basis()
        coef = C @ np.asarray(block, dtype=np.float64) @ C.T
        return np.round(coef / qtbl).astype(np.int32)

    class _BitWriter:
        def __init__(self):
            self.buf = bytearray()
            self.acc = 0
            self.n = 0

        def write(self, value: int, length: int):
            for i in range(length - 1, -1, -1):
                self.acc = (self.acc << 1) | ((value >> i) & 1)
                self.n += 1
                if self.n == 8:
                    self.buf.append(self.acc)
                    if self.acc == 0xFF:
                        self.buf.append(0x00)  # byte stuffing
                    self.acc, self.n = 0, 0

        def flush(self):
            while self.n:
                self.write(1, 1)  # pad with 1-bits per spec
            return bytes(self.buf)

    def _category(v: int) -> int:
        return abs(v).bit_length()

    def _magnitude_bits(v: int, s: int) -> int:
        return v if v >= 0 else v + (1 << s) - 1

    def _encode_block(w, coef, dc_codes, ac_codes, prev_dc):
        zz = [int(coef.flat[ZIGZAG[i]]) for i in range(64)]
        diff = zz[0] - prev_dc
        s = _category(diff)
        code, ln = dc_codes[s]
        w.write(code, ln)
        if s:
            w.write(_magnitude_bits(diff, s), s)
        run = 0
        last_nz = 0
        for i in range(1, 64):
            if zz[i]:
                last_nz = i
        for i in range(1, last_nz + 1):
            if zz[i] == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]  # ZRL
                w.write(code, ln)
                run -= 16
            s = _category(zz[i])
            code, ln = ac_codes[(run << 4) | s]
            w.write(code, ln)
            w.write(_magnitude_bits(zz[i], s), s)
            run = 0
        if last_nz < 63:
            code, ln = ac_codes[0x00]  # EOB
            w.write(code, ln)
        return zz[0]

    def _pad_blocks(plane, mult: int = 8, mult_x: int | None = None):
        """Edge-replicate to multiples of ``mult`` vertically and
        ``mult_x`` (default ``mult``) horizontally — 8 for one block, 16
        along a 2-sampled axis — and report the 8×8 block grid."""
        import numpy as np

        if mult_x is None:
            mult_x = mult
        h, wd = plane.shape
        ph, pw = -(-h // mult) * mult, -(-wd // mult_x) * mult_x
        padded = np.empty((ph, pw), dtype=np.float64)
        padded[:h, :wd] = plane
        padded[h:, :wd] = plane[h - 1:h, :]
        padded[:h, wd:] = padded[:h, wd - 1:wd]
        padded[h:, wd:] = padded[h - 1, wd - 1]
        return padded, ph // 8, pw // 8

    def _seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    SUB_FACTORS = {"444": (1, 1), "420": (2, 2), "422": (2, 1), "440": (1, 2)}

    def jpeg_encode(pixels, quality: int = 90, subsampling: str = "444",
                    restart_interval: int = 0) -> bytes:
        """(h, w) uint8 grayscale or (h, w, 3) uint8 RGB → baseline JFIF
        bytes. ``subsampling`` (color only): '444' (one block per
        component per MCU), '420' (2×2 luma per 16×16 MCU, the dominant
        real-world layout), '422' (2×1 luma per 16×8 MCU — the other
        common camera layout, round 7) or '440' (1×2 per 8×16) — chroma
        box-averaged along the sampled axes, T.81 A.2.3 interleaved MCU
        order. ``restart_interval``
        (round 7): emit a DRI segment and an RSTn marker every that many
        MCUs — byte-aligned entropy flush + DC-predictor reset, the
        error-resilience feature camera JPEGs carry; decoded output is
        bit-identical to the restart-free stream."""
        import numpy as np

        if subsampling not in SUB_FACTORS:
            raise ValueError(
                f"subsampling must be one of {sorted(SUB_FACTORS)}, "
                f"got {subsampling!r}"
            )
        px = np.asarray(pixels)
        if px.dtype != np.uint8:
            raise ValueError(f"uint8 pixels required, got {px.dtype}")
        gray = px.ndim == 2
        if not gray and (px.ndim != 3 or px.shape[2] != 3):
            raise ValueError(f"expected (h,w) or (h,w,3), got {px.shape}")
        h, wd = px.shape[:2]
        qt_l, qt_c = _quality_tables(quality)
        lhi, lvi = (1, 1) if gray else SUB_FACTORS[subsampling]
        sub420 = (lhi, lvi) != (1, 1)

        if gray:
            planes = [px.astype(np.float64)]
        else:
            r = px[:, :, 0].astype(np.float64)
            g = px[:, :, 1].astype(np.float64)
            b = px[:, :, 2].astype(np.float64)
            y = 0.299 * r + 0.587 * g + 0.114 * b
            cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
            cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
            planes = [y, cb, cr]

        dc_l = _canonical_codes(DC_L_BITS, DC_L_VALS)
        ac_l = _canonical_codes(AC_L_BITS, AC_L_VALS)
        dc_c = _canonical_codes(DC_C_BITS, DC_C_VALS)
        ac_c = _canonical_codes(AC_C_BITS, AC_C_VALS)

        writer = _BitWriter()
        prev = [0] * len(planes)
        dct_c = _dct_basis()  # hoisted: one basis for the whole image
        chunks: list = []
        mcus_done = [0]
        rstm = [0]

        def end_mcu(total_mcus):
            """RSTn every restart_interval MCUs: flush to a byte
            boundary, emit the cycling marker, reset DC predictors."""
            nonlocal writer
            mcus_done[0] += 1
            if (restart_interval
                    and mcus_done[0] % restart_interval == 0
                    and mcus_done[0] < total_mcus):
                chunks.append(writer.flush())
                chunks.append(bytes([0xFF, 0xD0 + rstm[0] % 8]))
                rstm[0] += 1
                writer = _BitWriter()
                prev[:] = [0] * len(prev)

        def put(block, ci):
            coef = _quantize_block(block - 128.0, qt_l if ci == 0 else qt_c, dct_c)
            prev[ci] = _encode_block(
                writer, coef,
                dc_l if ci == 0 else dc_c,
                ac_l if ci == 0 else ac_c,
                prev[ci],
            )

        if sub420:
            # pad every full-res plane to MCU multiples FIRST so the
            # chroma box average lands exactly on an 8×8 block grid
            my8, mx8 = 8 * lvi, 8 * lhi
            pads = [_pad_blocks(p, my8, mx8)[0] for p in planes]
            ly = pads[0]
            ch = [
                p.reshape(p.shape[0] // lvi, lvi, p.shape[1] // lhi, lhi)
                .mean(axis=(1, 3))
                for p in pads[1:]
            ]
            n_mcus = (ly.shape[0] // my8) * (ly.shape[1] // mx8)
            for my in range(ly.shape[0] // my8):
                for mx in range(ly.shape[1] // mx8):
                    for v in range(lvi):        # T.81 interleaved MCU order:
                        for hh in range(lhi):   # luma blocks raster-first
                            y0, x0 = my * my8 + v * 8, mx * mx8 + hh * 8
                            put(ly[y0:y0 + 8, x0:x0 + 8], 0)
                    for ci, cp in enumerate(ch, start=1):
                        put(cp[my * 8:my * 8 + 8, mx * 8:mx * 8 + 8], ci)
                    end_mcu(n_mcus)
        else:
            padded = []
            for p in planes:
                pp, bh, bw = _pad_blocks(p)
                padded.append(pp)
            for by in range(bh):
                for bx in range(bw):
                    for ci, pp in enumerate(padded):
                        put(pp[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8], ci)
                    end_mcu(bh * bw)
        entropy = b"".join(chunks) + writer.flush()

        out = bytearray(b"\xff\xd8")  # SOI
        out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        dqt = bytes([0x00]) + bytes(int(qt_l.flat[ZIGZAG[i]]) for i in range(64))
        if not gray:
            dqt += bytes([0x01]) + bytes(int(qt_c.flat[ZIGZAG[i]]) for i in range(64))
        out += _seg(0xDB, dqt)
        if restart_interval:
            out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
        ncomp = 1 if gray else 3
        sof = bytes([8]) + h.to_bytes(2, "big") + wd.to_bytes(2, "big") + bytes([ncomp])
        for ci in range(ncomp):
            hv = ((lhi << 4) | lvi) if ci == 0 else 0x11
            sof += bytes([ci + 1, hv, 0 if ci == 0 else 1])
        out += _seg(0xC0, sof)
        dht = bytes([0x00]) + bytes(DC_L_BITS) + bytes(DC_L_VALS)
        dht += bytes([0x10]) + bytes(AC_L_BITS) + bytes(AC_L_VALS)
        if not gray:
            dht += bytes([0x01]) + bytes(DC_C_BITS) + bytes(DC_C_VALS)
            dht += bytes([0x11]) + bytes(AC_C_BITS) + bytes(AC_C_VALS)
        out += _seg(0xC4, dht)
        sos = bytes([ncomp])
        for ci in range(ncomp):
            sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
        sos += bytes([0x00, 0x3F, 0x00])
        out += _seg(0xDA, sos)
        out += entropy
        out += b"\xff\xd9"  # EOI
        return bytes(out)

    # ---- progressive (SOF2) tier — T.81 Annex G, Huffman coding ----

    def _opt_huffman(freq: dict) -> tuple:
        """Canonical Huffman (bits, vals) from symbol frequencies — the
        Annex K.2 optimization procedure: reserved symbol 256 (freq 1)
        guarantees no all-ones code, lengths capped at 16 via the
        ADJUST_BITS redistribution, canonical assignment by (code size,
        symbol). Deterministic: heap ties break on smallest member
        symbol. Progressive scans carry EOBn symbols Annex K's fixed
        baseline tables don't define, so per-scan optimized tables are
        not just smaller — they're required."""
        import heapq

        f = {s: c for s, c in freq.items() if c > 0}
        f[256] = 1
        depth = {s: 0 for s in f}
        heap = [(c, s, (s,)) for s, c in f.items()]
        heapq.heapify(heap)
        while len(heap) > 1:
            c1, m1, l1 = heapq.heappop(heap)
            c2, m2, l2 = heapq.heappop(heap)
            for s in l1 + l2:
                depth[s] += 1
            heapq.heappush(heap, (c1 + c2, min(m1, m2), l1 + l2))
        for s in depth:
            if depth[s] == 0:
                depth[s] = 1  # single-symbol table
        counts = [0] * 33
        for s, d in depth.items():
            counts[min(d, 32)] += 1
        for i in range(32, 16, -1):  # ADJUST_BITS (K.2 Figure K.3)
            while counts[i] > 0:
                j = i - 2
                while counts[j] == 0:
                    j -= 1
                counts[i] -= 2
                counts[i - 1] += 1
                counts[j + 1] += 2
                counts[j] -= 1
        # drop the reserved symbol's slot from the deepest used length
        top = max(i for i in range(1, 17) if counts[i])
        counts[top] -= 1
        ordered = sorted((s for s in depth if s != 256),
                         key=lambda s: (depth[s], s))
        bits = counts[1:17]
        return bits, ordered

    def _comp_coef_arrays(px, quality: int, subsampling: str):
        """Per-component quantized-coefficient blocks in zigzag order on
        the PADDED block grid — the shared front half of both entropy
        orderings. Identical quantization to jpeg_encode, which is what
        makes progressive and baseline round-trips bit-equal."""
        import numpy as np

        gray = px.ndim == 2
        h, wd = px.shape[:2]
        qt_l, qt_c = _quality_tables(quality)
        lhi, lvi = (1, 1) if gray else SUB_FACTORS[subsampling]
        sub420 = (lhi, lvi) != (1, 1)
        if gray:
            planes = [px.astype(np.float64)]
        else:
            r = px[:, :, 0].astype(np.float64)
            g = px[:, :, 1].astype(np.float64)
            b = px[:, :, 2].astype(np.float64)
            planes = [
                0.299 * r + 0.587 * g + 0.114 * b,
                128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
                128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
            ]
        C = _dct_basis()
        if sub420:
            pads = [_pad_blocks(p, 8 * lvi, 8 * lhi)[0] for p in planes]
            comp_planes = [pads[0]] + [
                p.reshape(p.shape[0] // lvi, lvi, p.shape[1] // lhi, lhi)
                .mean(axis=(1, 3))
                for p in pads[1:]
            ]
            sampling = [(lhi, lvi), (1, 1), (1, 1)]
        else:
            comp_planes = [_pad_blocks(p)[0] for p in planes]
            sampling = [(1, 1)] * len(planes)
        coefs = []
        for ci, cp in enumerate(comp_planes):
            qt = qt_l if ci == 0 else qt_c
            gby, gbx = cp.shape[0] // 8, cp.shape[1] // 8
            arr = np.zeros((gby, gbx, 64), dtype=np.int64)
            for by in range(gby):
                for bx in range(gbx):
                    q = _quantize_block(
                        cp[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0, qt, C
                    )
                    arr[by, bx] = [int(q.flat[ZIGZAG[i]]) for i in range(64)]
            coefs.append(arr)
        return coefs, sampling, (qt_l, qt_c), gray, h, wd

    class _SymCounter:
        """Counting sink for the two-pass optimized-Huffman encode: pass
        1 records symbol frequencies with this, pass 2 replays the
        identical decisions into the _BitWriter."""

        def __init__(self):
            self.freq = {}

        def sym(self, s):
            self.freq[s] = self.freq.get(s, 0) + 1

        def bits(self, v, n):
            pass

        def restart(self):
            pass

    class _SymWriter:
        def __init__(self, writer, codes, on_restart=None):
            self.w, self.codes, self.on_restart = writer, codes, on_restart

        def sym(self, s):
            code, ln = self.codes[s]
            self.w.write(code, ln)

        def bits(self, v, n):
            if n:
                self.w.write(v, n)

        def restart(self):
            # flush to a byte boundary, emit RSTn, continue in a fresh
            # writer — the callback owns marker numbering + chunk list
            self.w = self.on_restart(self.w)

    def _ac_first_scan(blocks, ss, se, al, sink, ri=0):
        """G.1.2.2: spectral-selection first scan over one component's
        blocks — run/size coding with EOBn run accumulation. ``ri``:
        restart interval in blocks (non-interleaved MCU = 1 block) —
        EOB runs cannot span a restart, so they flush at the marker."""
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if eobrun:
                n = eobrun.bit_length() - 1
                sink.sym(n << 4)
                sink.bits(eobrun - (1 << n), n)
                eobrun = 0

        for bi, zz in enumerate(blocks):
            r = 0
            emitted = False
            for k in range(ss, se + 1):
                a = abs(int(zz[k])) >> al
                if a == 0:
                    r += 1
                    continue
                flush_eob()
                emitted = True
                while r > 15:
                    sink.sym(0xF0)
                    r -= 16
                s = a.bit_length()
                v = a if int(zz[k]) >= 0 else -a
                sink.sym((r << 4) | s)
                sink.bits(_magnitude_bits(v, s), s)
                r = 0
            if r > 0 or not emitted:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
            if ri and (bi + 1) % ri == 0 and bi + 1 < len(blocks):
                flush_eob()
                sink.restart()
        flush_eob()

    def _ac_refine_scan(blocks, ss, se, al, sink, ri=0):
        """G.1.2.3: successive-approximation refinement scan (Ah=Al+1):
        newly significant coefficients code as (run,1)+sign, history
        coefficients contribute appended correction bits, whole-block
        remainders fold into EOB runs with their bits."""
        eobrun = 0
        ebits: list = []

        def flush_eob():
            nonlocal eobrun, ebits
            if eobrun or ebits:
                n = max(eobrun, 1).bit_length() - 1 if eobrun else 0
                if eobrun == 0:
                    # correction bits with no pending EOB block cannot
                    # happen: bits only accumulate alongside eobrun
                    raise AssertionError("pending bits without EOB run")
                sink.sym(n << 4)
                sink.bits(eobrun - (1 << n), n)
                for b in ebits:
                    sink.bits(b, 1)
                eobrun, ebits = 0, []

        for bi, zz in enumerate(blocks):
            temps = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
            # last newly-significant position: ZRLs beyond it fold into
            # the EOB run instead (the `k <= EOB` condition of G.1.2.3)
            eobpos = -1
            for idx, t in enumerate(temps):
                if t == 1:
                    eobpos = idx
            r = 0
            br: list = []
            for idx, t in enumerate(temps):
                if t == 0:
                    r += 1
                    continue
                # ZRL check at EVERY nonzero coefficient (history too):
                # keeps every buffered correction bit ahead of the 16th
                # pending zero, exactly what the decoder's run
                # traversal consumes after each ZRL
                while r > 15 and idx <= eobpos:
                    flush_eob()
                    sink.sym(0xF0)
                    for b in br:
                        sink.bits(b, 1)
                    br = []
                    r -= 16
                if t > 1:
                    br.append(t & 1)
                    continue
                # newly significant at this precision
                flush_eob()
                sink.sym((r << 4) | 1)
                sink.bits(1 if int(zz[ss + idx]) > 0 else 0, 1)
                for b in br:
                    sink.bits(b, 1)
                br = []
                r = 0
            if r > 0 or br:
                eobrun += 1
                ebits.extend(br)
                if eobrun == 0x7FFF:
                    flush_eob()
            if ri and (bi + 1) % ri == 0 and bi + 1 < len(blocks):
                flush_eob()
                sink.restart()
        flush_eob()

    def jpeg_encode_progressive(
        pixels, quality: int = 90, subsampling: str = "444",
        restart_interval: int = 0,
    ) -> bytes:
        """(h, w) uint8 grayscale or (h, w, 3) uint8 RGB → progressive
        (SOF2) JFIF bytes — T.81 Annex G spectral selection + successive
        approximation: DC first scan (Al=1) then DC refinement, and per
        component AC bands 1-5 and 6-63 at Al=1 then their refinements
        to full precision. Quantization is bit-identical to
        ``jpeg_encode`` (same `_quantize_block` over the same padded
        planes), so progressive-decode(progressive-encode(px)) ==
        baseline-decode(baseline-encode(px)) exactly — pinned in tests.
        DC scans use the Annex K tables; every AC scan carries its own
        optimized Huffman table (`_opt_huffman`) because progressive
        EOBn symbols don't exist in the fixed baseline tables.
        ``restart_interval`` (round 7): RSTn every that many MCUs in DC
        scans / blocks in the non-interleaved AC scans, with EOB runs
        flushed at each marker per G.1.2.2."""
        import numpy as np

        if subsampling not in SUB_FACTORS:
            raise ValueError(
                f"subsampling must be one of {sorted(SUB_FACTORS)}, "
                f"got {subsampling!r}"
            )
        px = np.asarray(pixels)
        if px.dtype != np.uint8:
            raise ValueError(f"uint8 pixels required, got {px.dtype}")
        gray = px.ndim == 2
        if not gray and (px.ndim != 3 or px.shape[2] != 3):
            raise ValueError(f"expected (h,w) or (h,w,3), got {px.shape}")
        coefs, sampling, (qt_l, qt_c), gray, h, wd = _comp_coef_arrays(
            px, quality, subsampling if not gray else "444"
        )
        ncomp = len(coefs)
        hmax = max(hi for hi, _ in sampling)
        vmax = max(vi for _, vi in sampling)
        mcuy = coefs[0].shape[0] // sampling[0][1]
        mcux = coefs[0].shape[1] // sampling[0][0]

        def comp_grid(ci):
            """Non-interleaved block dims (T.81 A.2.2: ceil of the
            component's own size, NOT padded to the MCU grid)."""
            hi, vi = sampling[ci]
            ch = -(-h * vi // vmax)
            cw = -(-wd * hi // hmax)
            return -(-ch // 8), -(-cw // 8)

        dc_l = _canonical_codes(DC_L_BITS, DC_L_VALS)
        dc_c = _canonical_codes(DC_C_BITS, DC_C_VALS)

        out = bytearray(b"\xff\xd8")
        out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        dqt = bytes([0x00]) + bytes(int(qt_l.flat[ZIGZAG[i]]) for i in range(64))
        if not gray:
            dqt += bytes([0x01]) + bytes(int(qt_c.flat[ZIGZAG[i]]) for i in range(64))
        out += _seg(0xDB, dqt)
        sof = bytes([8]) + h.to_bytes(2, "big") + wd.to_bytes(2, "big") + bytes([ncomp])
        for ci in range(ncomp):
            hi, vi = sampling[ci]
            sof += bytes([ci + 1, (hi << 4) | vi, 0 if ci == 0 else 1])
        out += _seg(0xC2, sof)
        dht = bytes([0x00]) + bytes(DC_L_BITS) + bytes(DC_L_VALS)
        if not gray:
            dht += bytes([0x01]) + bytes(DC_C_BITS) + bytes(DC_C_VALS)
        out += _seg(0xC4, dht)
        if restart_interval:
            out += _seg(0xDD, restart_interval.to_bytes(2, "big"))

        def sos_header(comps, ss, se, ah, al):
            p = bytes([len(comps)])
            for cid, td, ta in comps:
                p += bytes([cid, (td << 4) | ta])
            return _seg(0xDA, p + bytes([ss, se, (ah << 4) | al]))

        def dc_scan(al, refine):
            w = _BitWriter()
            chunks: list = []
            prev = [0] * ncomp
            done, mk = 0, 0
            for my in range(mcuy):
                for mx in range(mcux):
                    for ci in range(ncomp):
                        hi, vi = sampling[ci]
                        for v in range(vi):
                            for hh in range(hi):
                                dc = int(coefs[ci][my * vi + v, mx * hi + hh, 0])
                                if refine:
                                    w.write((dc >> al) & 1, 1)
                                    continue
                                val = dc >> al
                                diff = val - prev[ci]
                                prev[ci] = val
                                s = _category(diff)
                                code, ln = (dc_l if ci == 0 else dc_c)[s]
                                w.write(code, ln)
                                if s:
                                    w.write(_magnitude_bits(diff, s), s)
                    done += 1
                    if (restart_interval
                            and done % restart_interval == 0
                            and done < mcuy * mcux):
                        chunks.append(w.flush())
                        chunks.append(bytes([0xFF, 0xD0 + mk % 8]))
                        mk += 1
                        w = _BitWriter()
                        prev = [0] * ncomp
            return b"".join(chunks) + w.flush()

        # scan 1+2: DC first (Al=1) + refinement, all components interleaved
        comps_hdr = [(ci + 1, 0 if ci == 0 else 1, 0) for ci in range(ncomp)]
        out += sos_header(comps_hdr, 0, 0, 0, 1) + dc_scan(1, False)
        out += sos_header(comps_hdr, 0, 0, 1, 0) + dc_scan(0, True)

        def ac_scan(ci, ss, se, ah, al):
            nby, nbx = comp_grid(ci)
            blocks = [coefs[ci][by, bx]
                      for by in range(nby) for bx in range(nbx)]
            walk = _ac_refine_scan if ah else _ac_first_scan
            counter = _SymCounter()
            walk(blocks, ss, se, al, counter, restart_interval)
            bits, vals = _opt_huffman(counter.freq)
            tid = 0 if ci == 0 else 1
            seg = _seg(0xC4, bytes([0x10 | tid]) + bytes(bits) + bytes(vals))
            chunks: list = []
            mk = [0]

            def on_restart(wr):
                chunks.append(wr.flush())
                chunks.append(bytes([0xFF, 0xD0 + mk[0] % 8]))
                mk[0] += 1
                return _BitWriter()

            sw = _SymWriter(
                _BitWriter(), _canonical_codes(bits, vals), on_restart
            )
            walk(blocks, ss, se, al, sw, restart_interval)
            return (seg + sos_header([(ci + 1, 0, tid)], ss, se, ah, al)
                    + b"".join(chunks) + sw.w.flush())

        for ci in range(ncomp):
            out += ac_scan(ci, 1, 5, 0, 1)
            out += ac_scan(ci, 6, 63, 0, 1)
        for ci in range(ncomp):
            out += ac_scan(ci, 1, 5, 1, 0)
            out += ac_scan(ci, 6, 63, 1, 0)
        out += b"\xff\xd9"
        return bytes(out)

    def _skip_entropy(data: bytes, pos: int) -> int:
        """Advance past an entropy-coded segment: stop at the first real
        marker (0xFF followed by neither a stuffed 0x00 nor RSTn)."""
        n = len(data)
        while pos + 1 < n:
            if data[pos] == 0xFF:
                nxt = data[pos + 1]
                if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                    pos += 2
                    continue
                return pos
            pos += 1
        raise ValueError("entropy stream ran off the end (no trailing marker)")

    def _parse_segments(data: bytes, all_scans: bool = False):
        """Marker walk; returns (meta dict, entropy offset) at the first
        SOS by default. ``all_scans=True`` (the progressive path) walks
        to EOI instead, collecting every scan as {comps, ss, se, ah,
        al, epos, huff-snapshot} — tables may be redefined between
        scans, so each scan pins the Huffman state as of its SOS."""
        if len(data) < 4 or data[0:2] != b"\xff\xd8":
            raise ValueError("not a JPEG (missing SOI)")
        qtables, huff, sof, sos = {}, {}, None, None
        dri = 0
        scans: list = []
        pos = 2
        while pos + 4 <= len(data):
            if data[pos] != 0xFF:
                raise ValueError(f"bad marker alignment at {pos}")
            marker = data[pos + 1]
            if marker == 0xD9:
                break
            ln = int.from_bytes(data[pos + 2:pos + 4], "big")
            seg = data[pos + 4:pos + 2 + ln]
            if len(seg) != ln - 2:
                raise ValueError("truncated segment")
            if marker == 0xDB:
                i = 0
                while i < len(seg):
                    pq, tq = seg[i] >> 4, seg[i] & 15
                    if pq != 0:
                        raise ValueError("16-bit quant tables unsupported")
                    qtables[tq] = list(seg[i + 1:i + 65])
                    i += 65
            elif marker == 0xC4:
                i = 0
                while i < len(seg):
                    tc, th = seg[i] >> 4, seg[i] & 15
                    bits = list(seg[i + 1:i + 17])
                    nv = sum(bits)
                    vals = list(seg[i + 17:i + 17 + nv])
                    huff[(tc, th)] = (bits, vals)
                    i += 17 + nv
            elif marker in (0xC0, 0xC2):
                # SOF2 (progressive) shares SOF0's segment layout
                # (T.81 B.2.2), so the METADATA path parses it too;
                # jpeg_decode rejects on the progressive flag — real
                # corpora contain progressive files and dimension
                # extraction must not die on them (round 7)
                comps = []
                nc = seg[5]
                for c in range(nc):
                    cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                    comps.append((cid, tq, hv >> 4, hv & 15))
                sof = {
                    "precision": seg[0],
                    "height": int.from_bytes(seg[1:3], "big"),
                    "width": int.from_bytes(seg[3:5], "big"),
                    "components": comps,
                    "progressive": marker == 0xC2,
                }
            elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                raise ValueError(
                    f"only baseline sequential (SOF0) supported, got SOF marker {marker:#x}"
                )
            elif marker == 0xDD:
                dri = int.from_bytes(seg[0:2], "big")
            elif marker == 0xDA:
                nc = seg[0]
                sos = [(seg[1 + 2 * c], seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15)
                       for c in range(nc)]
                if not all_scans:
                    return {"qt": qtables, "huff": huff, "sof": sof,
                            "sos": sos, "dri": dri}, pos + 2 + ln
                ss, se, ahal = seg[1 + 2 * nc], seg[2 + 2 * nc], seg[3 + 2 * nc]
                epos = pos + 2 + ln
                scans.append({
                    "comps": sos, "ss": ss, "se": se,
                    "ah": ahal >> 4, "al": ahal & 15,
                    "epos": epos, "huff": dict(huff),
                })
                pos = _skip_entropy(data, epos)
                continue
            pos += 2 + ln
        if all_scans:
            if sof is None or not scans:
                raise ValueError("no SOF/SOS segments (truncated stream)")
            return {"qt": qtables, "sof": sof, "dri": dri}, scans
        raise ValueError("no SOS segment (truncated or not baseline)")

    class _BitReader:
        def __init__(self, data: bytes, pos: int):
            self.data, self.pos, self.bit = data, pos, 0

        def read_bit(self) -> int:
            d = self.data
            if self.pos >= len(d):
                raise ValueError("entropy stream truncated")
            byte = d[self.pos]
            if byte == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
                if nxt == 0xD9 and self.bit == 0:
                    raise ValueError("entropy stream truncated (hit EOI)")
            b = (byte >> (7 - self.bit)) & 1
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.pos += 1
                if byte == 0xFF:
                    if self.pos >= len(d) or d[self.pos] != 0x00:
                        raise ValueError("bad byte stuffing in entropy stream")
                    self.pos += 1
            return b

        def read(self, n: int) -> int:
            v = 0
            for _ in range(n):
                v = (v << 1) | self.read_bit()
            return v

    def _huff_decoder(bits, vals):
        table = {}
        code, i = 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                table[(ln, code)] = vals[i]
                code += 1
                i += 1
            code <<= 1
        return table

    def _read_symbol(r, table):
        code, ln = 0, 0
        while ln < 16:
            code = (code << 1) | r.read_bit()
            ln += 1
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in entropy stream")

    def _restart_sync(r) -> int:
        """Align the bit reader past the next RSTn marker (tolerant
        forward scan — stuffed FF00 pairs can't match). Returns the
        marker index 0-7."""
        d = r.data
        pos = r.pos if r.bit == 0 else r.pos + 1
        while pos + 1 < len(d):
            if d[pos] == 0xFF and 0xD0 <= d[pos + 1] <= 0xD7:
                r.pos, r.bit = pos + 2, 0
                return d[pos + 1] - 0xD0
            pos += 1
        raise ValueError("missing restart marker (DRI)")

    def _extend(bits_val: int, s: int) -> int:
        if s == 0:
            return 0
        return bits_val if bits_val >= (1 << (s - 1)) else bits_val - (1 << s) + 1

    _SUBSAMPLING_NAMES = {(1, 1): "4:4:4", (2, 2): "4:2:0",
                          (2, 1): "4:2:2", (1, 2): "4:4:0"}

    def _sampling_factors(sof) -> list:
        """[(Hi, Vi)] per component, validated to the supported layouts:
        grayscale (a single-component scan is non-interleaved, so its MCU
        is one block regardless of declared factors — T.81 A.2.2) and
        YCbCr with chroma 1×1 and luma 1×1 / 2×2 / 2×1 / 1×2. Other
        factor combinations get a named rejection."""
        comps = sof["components"]
        if len(comps) == 1:
            return [(1, 1)]
        luma = (comps[0][2], comps[0][3])
        if luma not in _SUBSAMPLING_NAMES:
            raise ValueError(
                f"unsupported luma sampling factors {luma[0]}x{luma[1]} "
                "(4:4:4 / 4:2:0 / 4:2:2 / 4:4:0 only)"
            )
        for cid, _, hi, vi in comps[1:]:
            if (hi, vi) != (1, 1):
                raise ValueError(
                    f"unsupported chroma sampling factors {hi}x{vi} for "
                    f"component {cid} (chroma must be 1x1)"
                )
        return [luma, (1, 1), (1, 1)]

    def _subsampling_name(sof) -> str:
        if len(sof["components"]) == 1:
            return "gray"
        return _SUBSAMPLING_NAMES[_sampling_factors(sof)[0]]

    def _decode_progressive(data: bytes):
        """Full progressive (SOF2) entropy decode — T.81 Annex G: walk
        every scan, accumulating quantized coefficients per component
        (DC first/refinement, AC spectral-band first scans with EOBn
        runs, AC successive-approximation refinement with correction
        bits), then dequantize + IDCT + upsample exactly like the
        baseline tier. Handles per-scan Huffman redefinition and the
        non-interleaved component grids of AC scans (ceil of the
        component's own size, not the MCU-padded grid)."""
        import numpy as np

        meta, scans = _parse_segments(data, all_scans=True)
        dri = meta.get("dri", 0)
        sof = meta["sof"]
        h, wd = sof["height"], sof["width"]
        comps = sof["components"]
        ncomp = len(comps)
        if ncomp not in (1, 3):
            raise ValueError(f"1 or 3 components supported, got {ncomp}")
        sampling = _sampling_factors(sof)
        hmax = max(hi for hi, _ in sampling)
        vmax = max(vi for _, vi in sampling)
        mcuy, mcux = -(-h // (8 * vmax)), -(-wd // (8 * hmax))
        cid_to_ci = {c[0]: i for i, c in enumerate(comps)}
        coef = [
            np.zeros((mcuy * vi, mcux * hi, 64), dtype=np.int64)
            for hi, vi in sampling
        ]

        def comp_grid(ci):
            hi, vi = sampling[ci]
            return -(-(-(-h * vi // vmax)) // 8), -(-(-(-wd * hi // hmax)) // 8)

        for scan in scans:
            r = _BitReader(data, scan["epos"])
            dec = {k: _huff_decoder(*v) for k, v in scan["huff"].items()}
            ss, se = scan["ss"], scan["se"]
            ah, al = scan["ah"], scan["al"]
            scomps = scan["comps"]
            if ss == 0:
                if se != 0:
                    raise ValueError(
                        "progressive scan mixing DC and AC bands (Ss=0, Se≠0)"
                    )
                # DC scan: interleaved over the listed components (the
                # single-component case degenerates to its own grid)
                prev = {cid: 0 for cid, _, _ in scomps}
                mcus = []  # list of MCUs, each a list of (cid, td, by, bx)
                if len(scomps) > 1:
                    for my in range(mcuy):
                        for mx in range(mcux):
                            mcu = []
                            for cid, td, _ in scomps:
                                ci = cid_to_ci[cid]
                                hi, vi = sampling[ci]
                                for v in range(vi):
                                    for hh in range(hi):
                                        mcu.append(
                                            (cid, td, my * vi + v, mx * hi + hh)
                                        )
                            mcus.append(mcu)
                else:
                    cid, td, _ = scomps[0]
                    nby, nbx = comp_grid(cid_to_ci[cid])
                    mcus = [[(cid, td, by, bx)]
                            for by in range(nby) for bx in range(nbx)]
                for mi, mcu in enumerate(mcus):
                    for cid, td, by, bx in mcu:
                        ci = cid_to_ci[cid]
                        if ah == 0:
                            dct = dec.get((0, td))
                            if dct is None:
                                raise ValueError(
                                    "missing DC Huffman table for scan"
                                )
                            s = _read_symbol(r, dct)
                            prev[cid] += _extend(r.read(s), s)
                            coef[ci][by, bx, 0] = prev[cid] << al
                        else:
                            if r.read_bit():
                                coef[ci][by, bx, 0] |= 1 << al
                    if (dri and (mi + 1) % dri == 0
                            and mi + 1 < len(mcus)):
                        _restart_sync(r)
                        prev = {cid: 0 for cid, _, _ in scomps}
                continue
            # AC scan: exactly one component, non-interleaved
            if len(scomps) != 1:
                raise ValueError("progressive AC scan must cover one component")
            cid, _, ta = scomps[0]
            ci = cid_to_ci[cid]
            act = dec.get((1, ta))
            if act is None:
                raise ValueError("missing AC Huffman table for scan")
            nby, nbx = comp_grid(ci)
            eobrun = 0
            p1 = 1 << al
            bdone = 0
            for by in range(nby):
                for bx in range(nbx):
                    blk = coef[ci][by, bx]
                    if (dri and bdone and bdone % dri == 0
                            and bdone < nby * nbx):
                        _restart_sync(r)
                        eobrun = 0
                    bdone += 1
                    if ah == 0:
                        if eobrun:
                            eobrun -= 1
                            continue
                        k = ss
                        while k <= se:
                            sym = _read_symbol(r, act)
                            rr, s = sym >> 4, sym & 15
                            if s == 0:
                                if rr == 15:
                                    k += 16
                                    continue
                                eobrun = (1 << rr) - 1
                                if rr:
                                    eobrun += r.read(rr)
                                break
                            k += rr
                            if k > se:
                                raise ValueError("AC run past band end")
                            blk[k] = _extend(r.read(s), s) << al
                            k += 1
                        continue
                    # refinement scan (G.2): correction bits interleave
                    # with newly-significant placements and EOB runs
                    def correct(kk):
                        if r.read_bit():
                            if (int(blk[kk]) & p1) == 0:
                                blk[kk] += p1 if blk[kk] > 0 else -p1

                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            sym = _read_symbol(r, act)
                            rr, s = sym >> 4, sym & 15
                            newval = 0
                            if s == 0:
                                if rr != 15:
                                    eobrun = 1 << rr
                                    if rr:
                                        eobrun += r.read(rr)
                                    break
                                # ZRL: pass 16 zero-history positions
                            elif s == 1:
                                newval = p1 if r.read_bit() else -p1
                            else:
                                raise ValueError(
                                    "refinement coefficient must be ±1"
                                )
                            while k <= se:
                                if blk[k] != 0:
                                    correct(k)
                                else:
                                    rr -= 1
                                    if rr < 0:
                                        break
                                k += 1
                            if newval and k <= se:
                                blk[k] = newval
                            k += 1
                    if eobrun > 0:
                        while k <= se:
                            if blk[k] != 0:
                                correct(k)
                            k += 1
                        eobrun -= 1

        # dequantize + IDCT + upsample — identical tail to baseline
        C = _dct_basis()
        planes = []
        for ci, (cid, tq, _, _) in enumerate(comps):
            q = meta["qt"].get(tq)
            if q is None:
                raise ValueError(f"missing quant table {tq}")
            hi, vi = sampling[ci]
            gby, gbx = mcuy * vi, mcux * hi
            plane = np.zeros((gby * 8, gbx * 8))
            for by in range(gby):
                for bx in range(gbx):
                    cf = np.zeros(64)
                    zz = coef[ci][by, bx]
                    for i in range(64):
                        cf[ZIGZAG[i]] = int(zz[i]) * q[i]
                    plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = (
                        C.T @ cf.reshape(8, 8) @ C + 128.0
                    )
            planes.append(plane)
        planes = [
            np.repeat(np.repeat(p, vmax // vi, axis=0), hmax // hi, axis=1)[:h, :wd]
            for p, (hi, vi) in zip(planes, sampling)
        ]
        if ncomp == 1:
            return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        y, cb, cr = planes
        r_ = y + 1.402 * (cr - 128.0)
        g_ = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b_ = y + 1.772 * (cb - 128.0)
        rgb = np.stack([r_, g_, b_], axis=-1)
        return np.clip(np.round(rgb), 0, 255).astype(np.uint8)

    def jpeg_decode(payload: bytes):
        """JFIF bytes → (h, w) uint8 grayscale or (h, w, 3) uint8 RGB.
        Baseline (SOF0) streams entropy-decode directly; progressive
        (SOF2) streams dispatch to the Annex G multi-scan decoder
        (round 7 — the last common real-world variant)."""
        import numpy as np

        data = bytes(payload)
        meta, epos = _parse_segments(data)
        sof = meta["sof"]
        if sof is None:
            raise ValueError("missing SOF0 segment")
        if sof.get("progressive"):
            return _decode_progressive(data)
        h, wd = sof["height"], sof["width"]
        comps = sof["components"]
        ncomp = len(comps)
        if ncomp not in (1, 3):
            raise ValueError(f"1 or 3 components supported, got {ncomp}")
        sampling = _sampling_factors(sof)
        hmax = max(hi for hi, _ in sampling)
        vmax = max(vi for _, vi in sampling)
        dec = {k: _huff_decoder(*v) for k, v in meta["huff"].items()}
        C = _dct_basis()
        inv_zz = ZIGZAG  # zz[i] lands at flat position ZIGZAG[i]
        # T.81 A.2.3: one interleaved MCU covers (8·Hmax)×(8·Vmax) image
        # pixels and carries Hi×Vi raster-ordered blocks per component
        mcuy, mcux = -(-h // (8 * vmax)), -(-wd // (8 * hmax))
        planes = [
            np.zeros((mcuy * 8 * vi, mcux * 8 * hi)) for hi, vi in sampling
        ]
        r = _BitReader(data, epos)
        prev = [0] * ncomp

        def read_block(ci, tq):
            td, ta = meta["sos"][ci][1], meta["sos"][ci][2]
            dct = dec.get((0, td))
            act = dec.get((1, ta))
            if dct is None or act is None:
                raise ValueError("missing Huffman table for scan")
            zz = [0] * 64
            s = _read_symbol(r, dct)
            prev[ci] += _extend(r.read(s), s)
            zz[0] = prev[ci]
            k = 1
            while k < 64:
                sym = _read_symbol(r, act)
                if sym == 0x00:
                    break
                if sym == 0xF0:
                    k += 16
                    continue
                k += sym >> 4
                if k > 63:
                    raise ValueError("AC run past end of block")
                zz[k] = _extend(r.read(sym & 15), sym & 15)
                k += 1
            qt = meta["qt"].get(tq)
            if qt is None:
                raise ValueError(f"missing quant table {tq}")
            coef = np.zeros(64)
            for i in range(64):
                coef[inv_zz[i]] = zz[i] * qt[i]
            return C.T @ coef.reshape(8, 8) @ C + 128.0

        dri = meta.get("dri", 0)
        mcus_done = 0
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (cid, tq, _, _) in enumerate(comps):
                    hi, vi = sampling[ci]
                    for v in range(vi):
                        for hh in range(hi):
                            y0 = (my * vi + v) * 8
                            x0 = (mx * hi + hh) * 8
                            planes[ci][y0:y0 + 8, x0:x0 + 8] = read_block(ci, tq)
                mcus_done += 1
                if (dri and mcus_done % dri == 0
                        and mcus_done < mcuy * mcux):
                    _restart_sync(r)
                    prev[:] = [0] * ncomp
        # upsample subsampled components by pixel replication (nearest),
        # then crop the MCU padding
        planes = [
            np.repeat(np.repeat(p, vmax // vi, axis=0), hmax // hi, axis=1)[:h, :wd]
            for p, (hi, vi) in zip(planes, sampling)
        ]
        if ncomp == 1:
            return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        y, cb, cr = planes
        r_ = y + 1.402 * (cr - 128.0)
        g_ = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b_ = y + 1.772 * (cb - 128.0)
        rgb = np.stack([r_, g_, b_], axis=-1)
        return np.clip(np.round(rgb), 0, 255).astype(np.uint8)

    def jpeg_meta(payload: bytes) -> dict:
        """Header-only parse (no entropy decode): width, height,
        n_components, precision, subsampling ('gray' / '4:4:4' /
        '4:2:0' / '4:2:2' / '4:4:0'), progressive — the cheap metadata
        path. Parses baseline (SOF0) AND progressive (SOF2) headers —
        dimension extraction works on any real-corpus JPEG even though
        progressive entropy decode stays rejected."""
        meta, _ = _parse_segments(bytes(payload))
        sof = meta["sof"]
        if sof is None:
            raise ValueError("missing SOF0 segment")
        return {
            "width": int(sof["width"]),
            "height": int(sof["height"]),
            "n_components": len(sof["components"]),
            "precision": int(sof["precision"]),
            "subsampling": _subsampling_name(sof),
            "progressive": bool(sof.get("progressive")),
        }

    def jpeg_resize(payload: bytes, new_w: int, new_h: int,
                    quality: int = 90) -> bytes:
        """Decode → nearest-neighbor resample → re-encode (the same
        resize contract as the PPM/GIF tiers; lossy like any JPEG
        re-encode)."""
        import numpy as np

        px = jpeg_decode(payload)
        h, wd = px.shape[:2]
        ys = np.minimum((np.arange(new_h) * h) // new_h, h - 1)
        xs = np.minimum((np.arange(new_w) * wd) // new_w, wd - 1)
        return jpeg_encode(px[np.ix_(ys, xs)], quality=quality)

    return (jpeg_encode, jpeg_decode, jpeg_meta, jpeg_resize,
            jpeg_encode_progressive,
            _quantize_block, _quality_tables, _canonical_codes,
            AC_L_BITS, AC_L_VALS, QT_LUMA, ZIGZAG)


(jpeg_encode, jpeg_decode, jpeg_meta, jpeg_resize,
 jpeg_encode_progressive,
 _jpeg_quantize_block, _jpeg_quality_tables, _jpeg_canonical_codes,
 _JPEG_AC_L_BITS, _JPEG_AC_L_VALS, _JPEG_QT_LUMA,
 _JPEG_ZIGZAG) = _make_jpeg_codec()

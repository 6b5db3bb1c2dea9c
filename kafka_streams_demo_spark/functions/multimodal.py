"""Multimodal column support: opaque binary payloads + typed metadata.

Image/audio/video payloads travel as ``binary`` columns beside a metadata
struct (modality, byte_len, checksum). Decode / feature-extraction runs as
Arrow-batched pandas iterators over ``mapInPandas`` — the only sanctioned
Python boundary, sized by batch not by row.

Decode status, by format family:

- REAL: WAV-PCM audio, PPM-P6 images, LZW-compressed GIF (incl.
  multi-frame animation as the compressed video container), and
  baseline-DCT JPEG (round 5 — the entropy-coded tier) decode for real
  via the pure-Python codecs in functions/codecs.py — no external codec
  library involved.
- STUBBED: perceptual-model formats (MP3/H.264 …) need codec libraries
  this container does not ship. The generic ``decode_features``/
  ``resize_images``/``frame_sample`` paths raise ``NotImplementedError``
  unless ``fake=True``, which computes deterministic stand-ins — the
  Spark-side plumbing (schema, batching, partitioning) is real and
  tested either way.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 16

MULTIMODAL_SCHEMA = (
    "doc_id long, modality string, byte_len long, checksum string"
)


def attach_binary(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  modality: str = "image") -> DataFrame:
    """Wrap a source column as an opaque binary payload + metadata struct
    (stand-in for real image/audio bytes; schema identical to production)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.struct(
            F.lit(modality).alias("modality"),
            F.octet_length(payload).cast("long").alias("byte_len"),
            F.sha2(payload, 256).alias("checksum"),
        ).alias("meta"),
    )


def decode_features(multimodal: DataFrame, fake: bool = False) -> DataFrame:
    """Decode payloads → feature vectors via mapInPandas (Arrow batches).

    Real decode requires codec libraries absent here → NotImplementedError.
    ``fake=True`` switches to the deterministic byte-histogram stub so the
    distributed plumbing (batch iteration, schema, output shape) is
    exercised end-to-end.
    """
    if not fake:
        raise NotImplementedError(
            "real image/audio decode requires codec libs not in this container; "
            "pass fake=True for the deterministic stub"
        )

    # self-contained closure: no references to this module's globals, so
    # cloudpickle ships it fully by value and workers never need to import
    # kafka_streams_demo_spark (which may not be on their PYTHONPATH)
    feature_dim = FEATURE_DIM

    def batches(it):
        import pandas as _pd

        def fake_features(payload):
            hist = [0] * feature_dim
            for byte in payload[:4096]:
                hist[byte % feature_dim] += 1
            total = float(sum(hist)) or 1.0
            return [h / total for h in hist]

        for pdf in it:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": [m["modality"] for m in pdf["meta"]],
                    "features": [fake_features(p) for p in pdf["payload"]],
                }
            )

    return multimodal.mapInPandas(
        batches, schema="doc_id long, modality string, features array<double>"
    )


def resize_images(
    multimodal: DataFrame, target_w: int = 224, target_h: int = 224, fake: bool = False
) -> DataFrame:
    """Image resize stub (decode → scale → re-encode in production): emits
    per-image original and target dimensions plus the scale factor. Real
    resize needs an image codec → NotImplementedError unless fake=True,
    which derives deterministic fake source dims from the payload bytes —
    the Spark-side contract (Arrow batching, schema, one-row-per-image) is
    the part under test."""
    if not fake:
        raise NotImplementedError(
            "real image resize requires codec libs; pass fake=True for the stub"
        )
    tw, th = target_w, target_h

    def batches(it):
        import pandas as _pd

        for pdf in it:
            rows = {"doc_id": [], "orig_w": [], "orig_h": [],
                    "new_w": [], "new_h": [], "scale": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                # deterministic fake dims from payload bytes (stand-in for
                # the decoded header)
                ow = 64 + (payload[0] if len(payload) else 0) * 8
                oh = 64 + (payload[-1] if len(payload) else 0) * 8
                rows["doc_id"].append(doc_id)
                rows["orig_w"].append(ow)
                rows["orig_h"].append(oh)
                rows["new_w"].append(tw)
                rows["new_h"].append(th)
                rows["scale"].append(round(min(tw / ow, th / oh), 6))
            yield _pd.DataFrame(rows)

    return multimodal.mapInPandas(
        batches,
        schema="doc_id long, orig_w int, orig_h int, new_w int, new_h int, scale double",
    )


def frame_sample(multimodal: DataFrame, every_n_bytes: int = 1024, fake: bool = False) -> DataFrame:
    """Frame-sampling stub (video → every-Nth-frame): emits one row per
    sampled 'frame' offset with a checksum slice. Real frame extraction
    needs a video codec → NotImplementedError unless fake=True."""
    if not fake:
        raise NotImplementedError(
            "real frame sampling requires a video codec; pass fake=True for the stub"
        )

    def batches(it):
        import pandas as _pd

        for pdf in it:
            rows = {"doc_id": [], "frame_no": [], "frame_bytes": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for fno, off in enumerate(range(0, len(payload), every_n_bytes)):
                    rows["doc_id"].append(doc_id)
                    rows["frame_no"].append(fno)
                    rows["frame_bytes"].append(len(payload[off:off + every_n_bytes]))
            yield _pd.DataFrame(rows)

    return multimodal.mapInPandas(
        batches, schema="doc_id long, frame_no int, frame_bytes int"
    )


# --- REAL decode paths (WAV-PCM / PPM-P6, functions/codecs.py) ----------

def attach_synthetic_wav(docs: DataFrame, id_col: str = "doc_id",
                         rate: int = 8000) -> DataFrame:
    """(doc_id, payload, meta) with a REAL mono 16-bit PCM WAV per doc:
    a sine whose frequency/length derive deterministically from doc_id.
    Generation runs distributed in mapInPandas — the driver never holds
    payloads."""
    from kafka_streams_demo_spark.functions.codecs import wav_encode

    ids = docs.select(F.col(id_col).alias("doc_id"))

    def batches(it):
        import hashlib

        import numpy as np
        import pandas as _pd

        for pdf in it:
            payloads = []
            for doc_id in pdf["doc_id"]:
                freq = 100.0 + (int(doc_id) % 50) * 20.0
                n = 800 + (int(doc_id) % 5) * 80
                t = np.arange(n) / rate
                payloads.append(wav_encode(0.5 * np.sin(2 * np.pi * freq * t), rate))
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": payloads,
                "modality": ["audio"] * len(pdf),
                "byte_len": [len(p) for p in payloads],
                "checksum": [hashlib.sha256(p).hexdigest() for p in payloads],
            })

    return ids.mapInPandas(
        batches,
        schema="doc_id long, payload binary, modality string, byte_len long, checksum string",
    )


def wav_feature_extract(multimodal: DataFrame) -> DataFrame:
    """REAL audio decode: RIFF/WAVE parse + PCM stats per payload
    (sample_rate, duration, rms, peak) over Arrow batches. No fake flag —
    this path genuinely decodes (functions/codecs.py:wav_decode)."""
    from kafka_streams_demo_spark.functions.codecs import wav_decode

    def batches(it):
        import pandas as _pd

        for pdf in it:
            feats = [wav_decode(p) for p in pdf["payload"]]
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "sample_rate": [f["sample_rate"] for f in feats],
                "channels": [f["channels"] for f in feats],
                "n_samples": [f["n_samples"] for f in feats],
                "duration_s": [round(f["duration_s"], 6) for f in feats],
                "rms": [round(f["rms"], 6) for f in feats],
                "peak": [round(f["peak"], 6) for f in feats],
            })

    return multimodal.mapInPandas(
        batches,
        schema="doc_id long, sample_rate int, channels int, n_samples long, "
               "duration_s double, rms double, peak double",
    )


def attach_synthetic_ppm(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload, …) with a REAL P6 PPM image per doc: a gradient
    pattern whose dimensions derive deterministically from doc_id."""
    from kafka_streams_demo_spark.functions.codecs import ppm_encode

    ids = docs.select(F.col(id_col).alias("doc_id"))

    def batches(it):
        import hashlib

        import numpy as np
        import pandas as _pd

        for pdf in it:
            payloads = []
            for doc_id in pdf["doc_id"]:
                w = 8 + (int(doc_id) % 8) * 4
                h = 8 + (int(doc_id) % 5) * 4
                yy, xx = np.mgrid[0:h, 0:w]
                px = np.stack(
                    [(xx * 255 // max(w - 1, 1)),
                     (yy * 255 // max(h - 1, 1)),
                     np.full((h, w), int(doc_id) % 256)],
                    axis=-1,
                ).astype(np.uint8)
                payloads.append(ppm_encode(px))
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": payloads,
                "modality": ["image"] * len(pdf),
                "byte_len": [len(p) for p in payloads],
                "checksum": [hashlib.sha256(p).hexdigest() for p in payloads],
            })

    return ids.mapInPandas(
        batches,
        schema="doc_id long, payload binary, modality string, byte_len long, checksum string",
    )


def attach_synthetic_ppm_video(docs: DataFrame, id_col: str = "doc_id",
                               w: int = 16, h: int = 12) -> DataFrame:
    """(doc_id, payload, …) with a REAL multi-frame payload per doc:
    3–10 concatenated P6 frames (count and per-frame shading derive
    deterministically from doc_id) — the uncompressed video stand-in."""
    from kafka_streams_demo_spark.functions.codecs import ppm_video_encode

    ids = docs.select(F.col(id_col).alias("doc_id"))

    def batches(it):
        import hashlib

        import numpy as np
        import pandas as _pd

        for pdf in it:
            payloads, n_frames = [], []
            for doc_id in pdf["doc_id"]:
                k = 3 + int(doc_id) % 8
                frames = [
                    np.full((h, w, 3), (int(doc_id) + 17 * f) % 256, dtype=np.uint8)
                    for f in range(k)
                ]
                payloads.append(ppm_video_encode(frames))
                n_frames.append(k)
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": payloads,
                "modality": ["video"] * len(pdf),
                "n_frames": n_frames,
                "byte_len": [len(p) for p in payloads],
                "checksum": [hashlib.sha256(p).hexdigest() for p in payloads],
            })

    return ids.mapInPandas(
        batches,
        schema="doc_id long, payload binary, modality string, n_frames int, "
               "byte_len long, checksum string",
    )


def ppm_frame_sample(multimodal: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL frame sampling: walk the concatenated-P6 container's frame
    index (header parse per frame — functions/codecs.py:ppm_video_frames)
    and emit every ``every_n``-th frame as its own standalone P6 payload.
    One input row fans out to ceil(n_frames/every_n) rows, each carrying
    decoded dims + the frame bytes."""
    from kafka_streams_demo_spark.functions.codecs import ppm_video_frames

    def batches(it):
        import pandas as _pd

        for pdf in it:
            rows = {"doc_id": [], "frame_no": [], "w": [], "h": [], "frame": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                for fno, off, length, fw, fh in ppm_video_frames(data):
                    if fno % every_n:
                        continue
                    rows["doc_id"].append(doc_id)
                    rows["frame_no"].append(fno)
                    rows["w"].append(fw)
                    rows["h"].append(fh)
                    rows["frame"].append(data[off:off + length])
            yield _pd.DataFrame(rows)

    return multimodal.mapInPandas(
        batches, schema="doc_id long, frame_no int, w int, h int, frame binary"
    )


def ppm_resize_images(multimodal: DataFrame, target_w: int = 32,
                      target_h: int = 32) -> DataFrame:
    """REAL image resize: P6 decode → nearest-neighbor scale → P6
    re-encode (functions/codecs.py). Output carries the resized payload,
    so downstream stages consume actual pixels, not metadata."""
    from kafka_streams_demo_spark.functions.codecs import ppm_decode, ppm_resize

    tw, th = target_w, target_h

    def batches(it):
        import pandas as _pd

        for pdf in it:
            rows = {"doc_id": [], "orig_w": [], "orig_h": [],
                    "new_w": [], "new_h": [], "resized": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = ppm_decode(payload)
                h, w, _ = px.shape
                rows["doc_id"].append(doc_id)
                rows["orig_w"].append(w)
                rows["orig_h"].append(h)
                rows["new_w"].append(tw)
                rows["new_h"].append(th)
                rows["resized"].append(ppm_resize(payload, tw, th))
            yield _pd.DataFrame(rows)

    return multimodal.mapInPandas(
        batches,
        schema="doc_id long, orig_w int, orig_h int, new_w int, new_h int, resized binary",
    )


def attach_synthetic_gif(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload, …) with a REAL LZW-compressed GIF per doc
    (functions/codecs.py gif codec): dimensions and palette size derive
    deterministically from doc_id, and the pixel pattern cycles through
    the whole palette so the decoded color count is closed-form too —
    the compressed-image sibling of ``attach_synthetic_ppm``."""
    from kafka_streams_demo_spark.functions.codecs import gif_encode

    ids = docs.select(F.col(id_col).alias("doc_id"))

    def batches(it):
        import hashlib

        import numpy as np
        import pandas as _pd

        for pdf in it:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = 8 + (d % 5) * 4
                h = 6 + (d % 3) * 2
                n_colors = 2 + d % 3
                palette = np.array(
                    [[(i * 41) % 256, (i * 83) % 256, (i * 127) % 256]
                     for i in range(n_colors)],
                    dtype=np.uint8,
                )
                idx = (np.arange(h * w).reshape(h, w)) % n_colors
                payloads.append(gif_encode(palette[idx]))
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": payloads,
                "modality": ["image_gif"] * len(pdf),
                "byte_len": [len(p) for p in payloads],
                "checksum": [hashlib.sha256(p).hexdigest() for p in payloads],
            })

    return ids.mapInPandas(
        batches,
        schema="doc_id long, payload binary, modality string, byte_len long, checksum string",
    )


def gif_meta_extract(multimodal: DataFrame) -> DataFrame:
    """REAL compressed-image decode: parse the GIF container and LZW
    stream per row (Arrow batches) → (doc_id, width, height, n_colors)."""
    from kafka_streams_demo_spark.functions.codecs import gif_meta

    def batches(it):
        import pandas as _pd

        for pdf in it:
            metas = [gif_meta(bytes(p)) for p in pdf["payload"]]
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "width": [m["width"] for m in metas],
                "height": [m["height"] for m in metas],
                "n_colors": [m["n_colors"] for m in metas],
            })

    return multimodal.select("doc_id", "payload").mapInPandas(
        batches, schema="doc_id long, width int, height int, n_colors int"
    )


def attach_synthetic_gif_video(docs: DataFrame, id_col: str = "doc_id",
                               w: int = 12, h: int = 8) -> DataFrame:
    """(doc_id, payload, …) with a REAL multi-frame LZW-compressed GIF per
    doc (3 + doc_id%4 full-canvas frames, rotating a small palette) — the
    compressed sibling of ``attach_synthetic_ppm_video``."""
    from kafka_streams_demo_spark.functions.codecs import gif_encode_animation

    ids = docs.select(F.col(id_col).alias("doc_id"))

    def batches(it):
        import hashlib

        import numpy as np
        import pandas as _pd

        for pdf in it:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n_frames = 3 + d % 4
                palette = np.array(
                    [[0, 0, 0], [255, 255, 255], [(d * 37) % 256, 128, 64]],
                    dtype=np.uint8,
                )
                frames = [
                    palette[(np.arange(h * w).reshape(h, w) + k) % 3]
                    for k in range(n_frames)
                ]
                payloads.append(gif_encode_animation(frames))
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": payloads,
                "modality": ["video_gif"] * len(pdf),
                "byte_len": [len(p) for p in payloads],
                "checksum": [hashlib.sha256(p).hexdigest() for p in payloads],
            })

    return ids.mapInPandas(
        batches,
        schema="doc_id long, payload binary, modality string, byte_len long, checksum string",
    )


def gif_frame_sample(multimodal: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling over the COMPRESSED video container: decode the GIF
    (full LZW), keep every ``every_n``-th frame → (doc_id, frame_no, w, h)."""
    from kafka_streams_demo_spark.functions.codecs import gif_frames

    def batches(it):
        import pandas as _pd

        for pdf in it:
            rows = {"doc_id": [], "frame_no": [], "w": [], "h": []}
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                frames = gif_frames(bytes(p))
                for i in range(0, len(frames), every_n):
                    fh, fw, _ = frames[i].shape
                    rows["doc_id"].append(doc_id)
                    rows["frame_no"].append(i)
                    rows["w"].append(fw)
                    rows["h"].append(fh)
            yield _pd.DataFrame(rows)

    return multimodal.select("doc_id", "payload").mapInPandas(
        batches, schema="doc_id long, frame_no int, w int, h int"
    )


def attach_synthetic_jpeg(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload, …) with a REAL baseline-DCT JPEG per doc
    (functions/codecs.py jpeg codec): dimensions and component count
    derive deterministically from doc_id (grayscale for even ids, YCbCr
    4:4:4 color for odd), pixel content a closed-form gradient — the
    entropy-coded sibling of ``attach_synthetic_gif``."""
    from kafka_streams_demo_spark.functions.codecs import jpeg_encode

    ids = docs.select(F.col(id_col).alias("doc_id"))

    def batches(it):
        import hashlib

        import numpy as np
        import pandas as _pd

        for pdf in it:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = 8 * (1 + d % 3)
                h = 8 * (1 + d % 2)
                base = (np.add.outer(np.arange(h) * 3, np.arange(w) * 5) + d) % 256
                if d % 2 == 0:
                    px = base.astype(np.uint8)
                else:
                    px = np.stack(
                        [base, (base * 2) % 256, (255 - base) % 256], axis=-1
                    ).astype(np.uint8)
                payloads.append(jpeg_encode(px, quality=90))
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": payloads,
                "modality": ["image_jpeg"] * len(pdf),
                "byte_len": [len(p) for p in payloads],
                "checksum": [hashlib.sha256(p).hexdigest() for p in payloads],
            })

    return ids.mapInPandas(
        batches,
        schema="doc_id long, payload binary, modality string, byte_len long, checksum string",
    )


def jpeg_meta_extract(multimodal: DataFrame) -> DataFrame:
    """REAL entropy-coded-image metadata: parse the JFIF marker grammar
    per row (Arrow batches, header-only — no entropy decode) →
    (doc_id, width, height, n_components)."""
    from kafka_streams_demo_spark.functions.codecs import jpeg_meta

    def batches(it):
        import pandas as _pd

        for pdf in it:
            metas = [jpeg_meta(bytes(p)) for p in pdf["payload"]]
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "width": [m["width"] for m in metas],
                "height": [m["height"] for m in metas],
                "n_components": [m["n_components"] for m in metas],
            })

    return multimodal.select("doc_id", "payload").mapInPandas(
        batches, schema="doc_id long, width int, height int, n_components int"
    )


def attach_synthetic_jpeg_mixed(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Mixed-layout JPEG fixture (round 6): doc_id%3 selects grayscale /
    YCbCr 4:4:4 / YCbCr 4:2:0 — the three layouts a real crawl corpus
    actually contains (4:2:0 dominates in the wild). Same closed-form
    dimensions as ``attach_synthetic_jpeg``."""
    from kafka_streams_demo_spark.functions.codecs import jpeg_encode

    ids = docs.select(F.col(id_col).alias("doc_id"))

    def batches(it):
        import hashlib

        import numpy as np
        import pandas as _pd

        for pdf in it:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = 8 * (1 + d % 3)
                h = 8 * (1 + d % 2)
                base = (np.add.outer(np.arange(h) * 3, np.arange(w) * 5) + d) % 256
                kind = d % 3
                if kind == 0:
                    payloads.append(jpeg_encode(base.astype(np.uint8), quality=90))
                else:
                    px = np.stack(
                        [base, (base * 2) % 256, (255 - base) % 256], axis=-1
                    ).astype(np.uint8)
                    payloads.append(jpeg_encode(
                        px, quality=90,
                        subsampling="444" if kind == 1 else "420",
                    ))
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": payloads,
                "modality": ["image_jpeg"] * len(pdf),
                "byte_len": [len(p) for p in payloads],
                "checksum": [hashlib.sha256(p).hexdigest() for p in payloads],
            })

    return ids.mapInPandas(
        batches,
        schema="doc_id long, payload binary, modality string, byte_len long, checksum string",
    )


def attach_synthetic_jpeg_progressive_mix(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Mixed baseline/progressive JPEG fixture (round 7): even doc_ids
    carry the grayscale baseline stream from ``attach_synthetic_jpeg``'s
    recipe; odd doc_ids carry the color stream as a REAL progressive
    (SOF2) encoding — multi-scan spectral selection + successive
    approximation from ``jpeg_encode_progressive``, same pixels and
    quality, so the decoded output must be bit-identical to what the
    baseline stream of the same image decodes to."""
    from kafka_streams_demo_spark.functions.codecs import (
        jpeg_encode,
        jpeg_encode_progressive,
    )

    ids = docs.select(F.col(id_col).alias("doc_id"))

    def batches(it):
        import hashlib

        import numpy as np
        import pandas as _pd

        for pdf in it:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = 8 * (1 + d % 3)
                h = 8 * (1 + d % 2)
                base = (np.add.outer(np.arange(h) * 3, np.arange(w) * 5) + d) % 256
                if d % 2 == 0:
                    payloads.append(jpeg_encode(base.astype(np.uint8), quality=90))
                else:
                    px = np.stack(
                        [base, (base * 2) % 256, (255 - base) % 256], axis=-1
                    ).astype(np.uint8)
                    payloads.append(jpeg_encode_progressive(px, quality=90))
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": payloads,
                "modality": ["image_jpeg"] * len(pdf),
                "byte_len": [len(p) for p in payloads],
                "checksum": [hashlib.sha256(p).hexdigest() for p in payloads],
            })

    return ids.mapInPandas(
        batches,
        schema="doc_id long, payload binary, modality string, byte_len long, checksum string",
    )


def jpeg_meta_tolerant(multimodal: DataFrame) -> DataFrame:
    """Crawl-corpus metadata + decode pass: per row, parse the header
    (baseline AND progressive) and ATTEMPT the full decode —
    undecodable rows keep their metadata and report decode_ok=false
    instead of failing the task (round 7; VERDICT r6 #8). With the
    Annex G tier, progressive rows now decode too, so decode_ok also
    verifies the multi-scan path produced the header-declared pixel
    shape; malformed streams (wrong scan structure, truncation) still
    degrade to metadata-only rows."""
    from kafka_streams_demo_spark.functions.codecs import jpeg_decode, jpeg_meta

    def batches(it):
        import pandas as _pd

        for pdf in it:
            rows = {"doc_id": [], "width": [], "height": [],
                    "n_components": [], "progressive": [], "decode_ok": []}
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                m = jpeg_meta(bytes(p))
                try:
                    px = jpeg_decode(bytes(p))
                    want = (m["height"], m["width"]) if m["n_components"] == 1 \
                        else (m["height"], m["width"], 3)
                    ok = px.shape == want
                except ValueError:
                    ok = False
                rows["doc_id"].append(doc_id)
                rows["width"].append(m["width"])
                rows["height"].append(m["height"])
                rows["n_components"].append(m["n_components"])
                rows["progressive"].append(m["progressive"])
                rows["decode_ok"].append(ok)
            yield _pd.DataFrame(rows)

    return multimodal.select("doc_id", "payload").mapInPandas(
        batches,
        schema="doc_id long, width int, height int, n_components int, "
               "progressive boolean, decode_ok boolean",
    )


def attach_synthetic_jpeg_all_layouts(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Five-way layout fixture (round 7): doc_id%5 selects gray / 4:4:4 /
    4:2:0 / 4:2:2 / 4:4:0 — the complete baseline layout set the codec
    now encodes, same closed-form dimension recipe as the other JPEG
    fixtures."""
    from kafka_streams_demo_spark.functions.codecs import jpeg_encode

    ids = docs.select(F.col(id_col).alias("doc_id"))

    def batches(it):
        import hashlib

        import numpy as np
        import pandas as _pd

        subs = {1: "444", 2: "420", 3: "422", 4: "440"}
        for pdf in it:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = 8 * (1 + d % 3)
                h = 8 * (1 + d % 2)
                base = (np.add.outer(np.arange(h) * 3, np.arange(w) * 5) + d) % 256
                kind = d % 5
                if kind == 0:
                    payloads.append(jpeg_encode(base.astype(np.uint8), quality=90))
                else:
                    px = np.stack(
                        [base, (base * 2) % 256, (255 - base) % 256], axis=-1
                    ).astype(np.uint8)
                    payloads.append(
                        jpeg_encode(px, quality=90, subsampling=subs[kind])
                    )
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": payloads,
                "modality": ["image_jpeg"] * len(pdf),
                "byte_len": [len(p) for p in payloads],
                "checksum": [hashlib.sha256(p).hexdigest() for p in payloads],
            })

    return ids.mapInPandas(
        batches,
        schema="doc_id long, payload binary, modality string, byte_len long, checksum string",
    )


def attach_synthetic_jpeg_restart(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Restart-marker JPEG fixture (round 7): the same closed-form
    mixed-layout recipe as ``attach_synthetic_jpeg_mixed``, but every
    stream carries a DRI segment with restart interval 1 + doc_id % 4 —
    so RSTn resync and DC-predictor reset run on every row, at varying
    marker densities, under the driver's hash gate."""
    from kafka_streams_demo_spark.functions.codecs import jpeg_encode

    ids = docs.select(F.col(id_col).alias("doc_id"))

    def batches(it):
        import hashlib

        import numpy as np
        import pandas as _pd

        for pdf in it:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = 8 * (1 + d % 3)
                h = 8 * (1 + d % 2)
                ri = 1 + d % 4
                base = (np.add.outer(np.arange(h) * 3, np.arange(w) * 5) + d) % 256
                kind = d % 3
                if kind == 0:
                    payloads.append(jpeg_encode(
                        base.astype(np.uint8), quality=90, restart_interval=ri
                    ))
                else:
                    px = np.stack(
                        [base, (base * 2) % 256, (255 - base) % 256], axis=-1
                    ).astype(np.uint8)
                    payloads.append(jpeg_encode(
                        px, quality=90,
                        subsampling="444" if kind == 1 else "420",
                        restart_interval=ri,
                    ))
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": payloads,
                "modality": ["image_jpeg"] * len(pdf),
                "byte_len": [len(p) for p in payloads],
                "checksum": [hashlib.sha256(p).hexdigest() for p in payloads],
            })

    return ids.mapInPandas(
        batches,
        schema="doc_id long, payload binary, modality string, byte_len long, checksum string",
    )


def jpeg_decode_check(multimodal: DataFrame) -> DataFrame:
    """Metadata + FULL entropy decode per row: (doc_id, width, height,
    n_components, subsampling, decode_ok) where decode_ok verifies the
    decoded pixel array has exactly the header-declared shape — the
    row-level proof that the subsampled MCU walk really ran (the cheap
    path ``jpeg_meta_extract`` stops at the markers)."""
    from kafka_streams_demo_spark.functions.codecs import jpeg_decode, jpeg_meta

    def batches(it):
        import pandas as _pd

        for pdf in it:
            rows = {"doc_id": [], "width": [], "height": [],
                    "n_components": [], "subsampling": [], "decode_ok": []}
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                m = jpeg_meta(bytes(p))
                px = jpeg_decode(bytes(p))
                want = (m["height"], m["width"]) if m["n_components"] == 1 \
                    else (m["height"], m["width"], 3)
                rows["doc_id"].append(doc_id)
                rows["width"].append(m["width"])
                rows["height"].append(m["height"])
                rows["n_components"].append(m["n_components"])
                rows["subsampling"].append(m["subsampling"])
                rows["decode_ok"].append(px.shape == want)
            yield _pd.DataFrame(rows)

    return multimodal.select("doc_id", "payload").mapInPandas(
        batches,
        schema="doc_id long, width int, height int, n_components int, "
               "subsampling string, decode_ok boolean",
    )

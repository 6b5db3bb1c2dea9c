"""Multimodal column support: opaque binary payloads + typed metadata.

Image/audio/video payloads travel as ``binary`` columns beside a metadata
struct (modality, byte_len, checksum). Decode / feature-extraction runs as
Arrow-batched pandas iterators over ``mapInPandas`` — the only sanctioned
Python boundary, sized by batch not by row. That boundary is written
twice: ``_attach`` generates every synthetic fixture (payload =
``encode(doc_id)``) and ``_per_row`` runs every decode / extract / sample
function (tuples from ``rows(doc_id, payload)``). Each public function
only states its per-document ``encode`` or ``rows`` closure.

Decode status, by format family:

- REAL: WAV-PCM audio, PPM-P6 images, LZW-compressed GIF (incl.
  multi-frame animation as the compressed video container), and
  baseline-DCT JPEG (round 5 — the entropy-coded tier) decode for real
  via the pure-Python codecs in functions/codecs.py — no external codec
  library involved.
- STAND-INS: perceptual-model formats (MP3/H.264 …) need codec libraries
  this container does not ship. ``decode_features``/``resize_images``/
  ``frame_sample`` compute deterministic stand-ins from the payload
  bytes — the Spark-side plumbing (schema, batching, partitioning) is
  real and tested.

Worker safety: every closure shipped to ``mapInPandas`` is nested (or
comes from a ``_make_*`` factory in codecs.py), so cloudpickle ships it
by value and workers never import this package.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 16

_ATTACH_SCHEMA = (
    "doc_id long, payload binary, modality string, byte_len long, checksum string"
)


def _attach(docs: DataFrame, id_col: str, modality: str, encode) -> DataFrame:
    """(doc_id, payload, modality, byte_len, checksum) with payload =
    ``encode(doc_id)``, generated distributed in mapInPandas — the driver
    never holds payloads."""

    def batches(it):
        import hashlib

        import pandas as pd

        for pdf in it:
            payloads = [encode(int(doc_id)) for doc_id in pdf["doc_id"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": payloads,
                "modality": [modality] * len(pdf),
                "byte_len": [len(p) for p in payloads],
                "checksum": [hashlib.sha256(p).hexdigest() for p in payloads],
            })

    return docs.select(F.col(id_col).alias("doc_id")).mapInPandas(
        batches, _ATTACH_SCHEMA
    )


def _per_row(multimodal: DataFrame, schema: str, rows, carry=()) -> DataFrame:
    """Select doc_id and payload (then any ``carry`` columns) and emit the
    tuples ``rows(doc_id, payload, *carried)`` yields, one output row per
    tuple in ``schema``'s (flat) column order."""
    names = [field.split()[0] for field in schema.split(",")]

    def batches(it):
        import pandas as pd

        for pdf in it:
            out = [t for vals in zip(*(pdf[c] for c in pdf.columns))
                   for t in rows(*vals)]
            cols = list(zip(*out)) or [()] * len(names)
            yield pd.DataFrame({n: list(c) for n, c in zip(names, cols)})

    return multimodal.select("doc_id", "payload", *carry).mapInPandas(batches, schema)


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


def decode_features(multimodal: DataFrame) -> DataFrame:
    """Payloads → feature vectors via mapInPandas (Arrow batches): the
    deterministic byte-histogram stand-in for a real image/audio decode
    (whose codec libraries this container lacks), L1-normalized over the
    first 4096 bytes. ``meta.modality`` carries through."""
    feature_dim = FEATURE_DIM

    def rows(doc_id, payload, modality):
        hist = [0] * feature_dim
        for byte in payload[:4096]:
            hist[byte % feature_dim] += 1
        total = float(sum(hist)) or 1.0
        yield doc_id, modality, [h / total for h in hist]

    return _per_row(
        multimodal, "doc_id long, modality string, features array<double>", rows,
        carry=("meta.modality",),
    )


def resize_images(
    multimodal: DataFrame, target_w: int = 224, target_h: int = 224
) -> DataFrame:
    """Image resize stand-in (decode → scale → re-encode in production):
    emits per-image original and target dimensions plus the scale factor,
    with source dims derived deterministically from the payload's first
    and last bytes — the Spark-side contract (Arrow batching, schema,
    one-row-per-image) is the part under test."""
    tw, th = target_w, target_h

    def rows(doc_id, payload):
        ow = 64 + (payload[0] if len(payload) else 0) * 8
        oh = 64 + (payload[-1] if len(payload) else 0) * 8
        yield doc_id, ow, oh, tw, th, round(min(tw / ow, th / oh), 6)

    return _per_row(
        multimodal,
        "doc_id long, orig_w int, orig_h int, new_w int, new_h int, scale double",
        rows,
    )


def frame_sample(multimodal: DataFrame, every_n_bytes: int = 1024) -> DataFrame:
    """Frame-sampling stand-in (video → every-Nth-frame): one row per
    ``every_n_bytes`` slice of the payload with the slice's length."""

    def rows(doc_id, payload):
        for fno, off in enumerate(range(0, len(payload), every_n_bytes)):
            yield doc_id, fno, len(payload[off:off + every_n_bytes])

    return _per_row(multimodal, "doc_id long, frame_no int, frame_bytes int", rows)


# --- REAL decode paths (WAV-PCM / PPM-P6, functions/codecs.py) ----------

def attach_synthetic_wav(docs: DataFrame, id_col: str = "doc_id",
                         rate: int = 8000) -> DataFrame:
    """(doc_id, payload, …) with a REAL mono 16-bit PCM WAV per doc: a
    sine whose frequency/length derive deterministically from doc_id."""
    from kafka_streams_demo_spark.functions.codecs import wav_encode

    def encode(d):
        import numpy as np

        freq = 100.0 + (d % 50) * 20.0
        t = np.arange(800 + (d % 5) * 80) / rate
        return wav_encode(0.5 * np.sin(2 * np.pi * freq * t), rate)

    return _attach(docs, id_col, "audio", encode)


def wav_feature_extract(multimodal: DataFrame) -> DataFrame:
    """REAL audio decode: RIFF/WAVE parse + PCM stats per payload
    (sample_rate, duration, rms, peak) over Arrow batches
    (functions/codecs.py:wav_decode)."""
    from kafka_streams_demo_spark.functions.codecs import wav_decode

    def rows(doc_id, payload):
        f = wav_decode(payload)
        yield (doc_id, f["sample_rate"], f["channels"], f["n_samples"],
               round(f["duration_s"], 6), round(f["rms"], 6), round(f["peak"], 6))

    return _per_row(
        multimodal,
        "doc_id long, sample_rate int, channels int, n_samples long, "
        "duration_s double, rms double, peak double",
        rows,
    )


def attach_synthetic_ppm(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload, …) with a REAL P6 PPM image per doc: a gradient
    pattern whose dimensions derive deterministically from doc_id."""
    from kafka_streams_demo_spark.functions.codecs import ppm_encode

    def encode(d):
        import numpy as np

        w = 8 + (d % 8) * 4
        h = 8 + (d % 5) * 4
        yy, xx = np.mgrid[0:h, 0:w]
        return ppm_encode(np.stack(
            [(xx * 255 // max(w - 1, 1)),
             (yy * 255 // max(h - 1, 1)),
             np.full((h, w), d % 256)],
            axis=-1,
        ).astype(np.uint8))

    return _attach(docs, id_col, "image", encode)


def attach_synthetic_ppm_video(docs: DataFrame, id_col: str = "doc_id",
                               w: int = 16, h: int = 12) -> DataFrame:
    """(doc_id, payload, modality, n_frames, …) with a REAL multi-frame
    payload per doc: 3–10 concatenated P6 frames (count and per-frame
    shading derive deterministically from doc_id) — the uncompressed
    video stand-in."""
    from kafka_streams_demo_spark.functions.codecs import ppm_video_encode

    def encode(d):
        import numpy as np

        return ppm_video_encode([
            np.full((h, w, 3), (d + 17 * f) % 256, dtype=np.uint8)
            for f in range(3 + d % 8)
        ])

    return _attach(docs, id_col, "video", encode).select(
        "doc_id", "payload", "modality",
        (F.pmod("doc_id", F.lit(8)) + 3).cast("int").alias("n_frames"),  # encode's count
        "byte_len", "checksum",
    )


def ppm_frame_sample(multimodal: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL frame sampling: walk the concatenated-P6 container's frame
    index (header parse per frame — functions/codecs.py:ppm_video_frames)
    and emit every ``every_n``-th frame as its own standalone P6 payload.
    One input row fans out to ceil(n_frames/every_n) rows, each carrying
    decoded dims + the frame bytes."""
    from kafka_streams_demo_spark.functions.codecs import ppm_video_frames

    def rows(doc_id, payload):
        data = bytes(payload)
        for fno, off, length, fw, fh in ppm_video_frames(data):
            if fno % every_n == 0:
                yield doc_id, fno, fw, fh, data[off:off + length]

    return _per_row(
        multimodal, "doc_id long, frame_no int, w int, h int, frame binary", rows
    )


def ppm_resize_images(multimodal: DataFrame, target_w: int = 32,
                      target_h: int = 32) -> DataFrame:
    """REAL image resize: P6 decode → nearest-neighbor scale → P6
    re-encode (functions/codecs.py). Output carries the resized payload,
    so downstream stages consume actual pixels, not metadata."""
    from kafka_streams_demo_spark.functions.codecs import ppm_decode, ppm_resize

    tw, th = target_w, target_h

    def rows(doc_id, payload):
        h, w, _ = ppm_decode(payload).shape
        yield doc_id, w, h, tw, th, ppm_resize(payload, tw, th)

    return _per_row(
        multimodal,
        "doc_id long, orig_w int, orig_h int, new_w int, new_h int, resized binary",
        rows,
    )


def attach_synthetic_gif(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload, …) with a REAL LZW-compressed GIF per doc
    (functions/codecs.py gif codec): dimensions and palette size derive
    deterministically from doc_id, and the pixel pattern cycles through
    the whole palette so the decoded color count is closed-form too —
    the compressed-image sibling of ``attach_synthetic_ppm``."""
    from kafka_streams_demo_spark.functions.codecs import gif_encode

    def encode(d):
        import numpy as np

        w = 8 + (d % 5) * 4
        h = 6 + (d % 3) * 2
        n_colors = 2 + d % 3
        palette = np.array(
            [[(i * 41) % 256, (i * 83) % 256, (i * 127) % 256]
             for i in range(n_colors)],
            dtype=np.uint8,
        )
        return gif_encode(palette[np.arange(h * w).reshape(h, w) % n_colors])

    return _attach(docs, id_col, "image_gif", encode)


def gif_meta_extract(multimodal: DataFrame) -> DataFrame:
    """REAL compressed-image decode: parse the GIF container and LZW
    stream per row (Arrow batches) → (doc_id, width, height, n_colors)."""
    from kafka_streams_demo_spark.functions.codecs import gif_meta

    def rows(doc_id, payload):
        m = gif_meta(bytes(payload))
        yield doc_id, m["width"], m["height"], m["n_colors"]

    return _per_row(
        multimodal, "doc_id long, width int, height int, n_colors int", rows
    )


def attach_synthetic_gif_video(docs: DataFrame, id_col: str = "doc_id",
                               w: int = 12, h: int = 8) -> DataFrame:
    """(doc_id, payload, …) with a REAL multi-frame LZW-compressed GIF per
    doc (3 + doc_id%4 full-canvas frames, rotating a small palette) — the
    compressed sibling of ``attach_synthetic_ppm_video``."""
    from kafka_streams_demo_spark.functions.codecs import gif_encode_animation

    def encode(d):
        import numpy as np

        palette = np.array(
            [[0, 0, 0], [255, 255, 255], [(d * 37) % 256, 128, 64]], dtype=np.uint8
        )
        return gif_encode_animation([
            palette[(np.arange(h * w).reshape(h, w) + k) % 3]
            for k in range(3 + d % 4)
        ])

    return _attach(docs, id_col, "video_gif", encode)


def gif_frame_sample(multimodal: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling over the COMPRESSED video container: decode the GIF
    (full LZW), keep every ``every_n``-th frame → (doc_id, frame_no, w, h)."""
    from kafka_streams_demo_spark.functions.codecs import gif_frames

    def rows(doc_id, payload):
        frames = gif_frames(bytes(payload))
        for i in range(0, len(frames), every_n):
            fh, fw, _ = frames[i].shape
            yield doc_id, i, fw, fh

    return _per_row(multimodal, "doc_id long, frame_no int, w int, h int", rows)


def _attach_jpeg(docs: DataFrame, id_col: str, pick) -> DataFrame:
    """The JPEG fixtures' one recipe: a (8·(1 + d%3)) × (8·(1 + d%2))
    closed-form gradient, stored gray or as a three-channel color stack,
    encoded at quality 90. ``pick(d)`` returns the per-document choice
    ``(layout, encoder, restart_interval)``; layout is ``"gray"`` or the
    color subsampling ('444' / '420' / '422' / '440')."""

    def encode(d):
        import numpy as np

        layout, encoder, ri = pick(d)
        w = 8 * (1 + d % 3)
        h = 8 * (1 + d % 2)
        base = (np.add.outer(np.arange(h) * 3, np.arange(w) * 5) + d) % 256
        if layout == "gray":
            return encoder(base.astype(np.uint8), quality=90, restart_interval=ri)
        px = np.stack(
            [base, (base * 2) % 256, (255 - base) % 256], axis=-1
        ).astype(np.uint8)
        return encoder(px, quality=90, subsampling=layout, restart_interval=ri)

    return _attach(docs, id_col, "image_jpeg", encode)


def attach_synthetic_jpeg(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload, …) with a REAL baseline-DCT JPEG per doc
    (functions/codecs.py jpeg codec): grayscale for even ids, YCbCr
    4:4:4 color for odd — the entropy-coded sibling of
    ``attach_synthetic_gif``."""
    from kafka_streams_demo_spark.functions.codecs import jpeg_encode

    return _attach_jpeg(
        docs, id_col, lambda d: ("444" if d % 2 else "gray", jpeg_encode, 0)
    )


def jpeg_meta_extract(multimodal: DataFrame) -> DataFrame:
    """REAL entropy-coded-image metadata: parse the JFIF marker grammar
    per row (Arrow batches, header-only — no entropy decode) →
    (doc_id, width, height, n_components)."""
    from kafka_streams_demo_spark.functions.codecs import jpeg_meta

    def rows(doc_id, payload):
        m = jpeg_meta(bytes(payload))
        yield doc_id, m["width"], m["height"], m["n_components"]

    return _per_row(
        multimodal, "doc_id long, width int, height int, n_components int", rows
    )


def attach_synthetic_jpeg_mixed(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Mixed-layout JPEG fixture (round 6): doc_id%3 selects grayscale /
    YCbCr 4:4:4 / YCbCr 4:2:0 — the three layouts a real crawl corpus
    actually contains (4:2:0 dominates in the wild)."""
    from kafka_streams_demo_spark.functions.codecs import jpeg_encode

    return _attach_jpeg(
        docs, id_col, lambda d: (("gray", "444", "420")[d % 3], jpeg_encode, 0)
    )


def attach_synthetic_jpeg_progressive_mix(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Mixed baseline/progressive JPEG fixture (round 7): even doc_ids
    carry the grayscale baseline stream; odd doc_ids carry the color
    stream as a REAL progressive (SOF2) encoding — multi-scan spectral
    selection + successive approximation from
    ``jpeg_encode_progressive``, same pixels and quality, so the decoded
    output must be bit-identical to what the baseline stream of the same
    image decodes to."""
    from kafka_streams_demo_spark.functions.codecs import (
        jpeg_encode,
        jpeg_encode_progressive,
    )

    return _attach_jpeg(
        docs, id_col,
        lambda d: ("444", jpeg_encode_progressive, 0) if d % 2
        else ("gray", jpeg_encode, 0),
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

    def rows(doc_id, payload):
        m = jpeg_meta(bytes(payload))
        try:
            px = jpeg_decode(bytes(payload))
            want = (m["height"], m["width"]) if m["n_components"] == 1 \
                else (m["height"], m["width"], 3)
            ok = px.shape == want
        except ValueError:
            ok = False
        yield (doc_id, m["width"], m["height"], m["n_components"],
               m["progressive"], ok)

    return _per_row(
        multimodal,
        "doc_id long, width int, height int, n_components int, "
        "progressive boolean, decode_ok boolean",
        rows,
    )


def attach_synthetic_jpeg_all_layouts(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Five-way layout fixture (round 7): doc_id%5 selects gray / 4:4:4 /
    4:2:0 / 4:2:2 / 4:4:0 — the complete baseline layout set the codec
    now encodes."""
    from kafka_streams_demo_spark.functions.codecs import jpeg_encode

    return _attach_jpeg(
        docs, id_col,
        lambda d: (("gray", "444", "420", "422", "440")[d % 5], jpeg_encode, 0),
    )


def attach_synthetic_jpeg_restart(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Restart-marker JPEG fixture: the mixed-layout choice of
    ``attach_synthetic_jpeg_mixed``, but every stream carries a DRI
    segment with restart interval 1 + doc_id % 4 — so RSTn resync and
    DC-predictor reset run on every row, at varying marker densities."""
    from kafka_streams_demo_spark.functions.codecs import jpeg_encode

    return _attach_jpeg(
        docs, id_col,
        lambda d: (("gray", "444", "420")[d % 3], jpeg_encode, 1 + d % 4),
    )


def jpeg_decode_check(multimodal: DataFrame) -> DataFrame:
    """Metadata + FULL entropy decode per row: (doc_id, width, height,
    n_components, subsampling, decode_ok) where decode_ok verifies the
    decoded pixel array has exactly the header-declared shape — the
    row-level proof that the subsampled MCU walk really ran (the cheap
    path ``jpeg_meta_extract`` stops at the markers)."""
    from kafka_streams_demo_spark.functions.codecs import jpeg_decode, jpeg_meta

    def rows(doc_id, payload):
        m = jpeg_meta(bytes(payload))
        px = jpeg_decode(bytes(payload))
        want = (m["height"], m["width"]) if m["n_components"] == 1 \
            else (m["height"], m["width"], 3)
        yield (doc_id, m["width"], m["height"], m["n_components"],
               m["subsampling"], px.shape == want)

    return _per_row(
        multimodal,
        "doc_id long, width int, height int, n_components int, "
        "subsampling string, decode_ok boolean",
        rows,
    )

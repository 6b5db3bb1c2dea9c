"""Avro value serde: from_avro / to_avro projection helpers.

Parity target: the reference declares Avro serde deps (pom.xml:46-60) and
an empty DataTypesSerializationExample.scala:3-5 — Kafka Streams users
pair topics with Avro serdes. Spark's native answer is the spark-avro
module (`pyspark.sql.avro.functions.from_avro/to_avro`, JVM-side), whose
jar this container does not ship, so there is one codec: a from-scratch
implementation of the Avro BINARY ENCODING
(https://avro.apache.org/docs/++current++/specification/ — zigzag varint
ints/longs, little-endian IEEE float/double, length-prefixed
bytes/strings, records as field concatenation, union-index-prefixed
nullable fields) over Arrow-batched mapInPandas. Supported schema
subset: records of primitives plus ["null", T] unions — the shapes the
reference's Kafka examples use.

The codec is byte-compatible with Avro binary encoding for the
supported subset (golden-bytes tests pin spec examples: zigzag(1)=0x02,
zigzag(-2)=0x03, strings length-prefixed).
"""

from __future__ import annotations

import json
import struct
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}

_SPARK_TYPE = {
    "boolean": "boolean", "int": "int", "long": "bigint",
    "float": "float", "double": "double", "bytes": "binary", "string": "string",
}


def _make_schema_parser():
    """Schema parsing/resolution as by-value closures — OCF schema
    resolution parses the EMBEDDED writer schema inside mapInPandas
    workers, so these must pickle by value like the codec closures."""

    _prims = {"boolean", "int", "long", "float", "double", "string", "bytes"}

    def parse_fields(schema_json: str) -> list[tuple[str, str, int | None]]:
        import json as _json

        sch = _json.loads(schema_json)
        if not isinstance(sch, dict) or sch.get("type") != "record" or "fields" not in sch:
            raise ValueError("only top-level Avro record schemas are supported")
        out = []
        for f in sch["fields"]:
            name, t = f["name"], f["type"]
            null_idx = None
            if isinstance(t, list):
                if len(t) != 2 or "null" not in t:
                    raise ValueError(f"field {name}: only 2-branch null unions supported")
                null_idx = t.index("null")
                t = t[1 - null_idx]
            if not isinstance(t, str) or t not in _prims:
                raise ValueError(f"field {name}: unsupported Avro type {t!r}")
            out.append((name, t, null_idx))
        return out

    def check_resolution(writer_fields, reader_fields) -> None:
        """Avro schema-resolution SUBSET (spec "Schema Resolution",
        matched by field NAME): writer-only fields are decoded and
        dropped; reader-only fields must be nullable (read as null — the
        only default this engine supports); matched fields must agree on
        the primitive type (no promotions). Raises on anything else."""
        writer_by_name = {n: (t, wni) for n, t, wni in writer_fields}
        for n, t, ni in reader_fields:
            if n not in writer_by_name:
                if ni is None:
                    raise ValueError(
                        f"reader field {n!r} missing from writer schema and "
                        "not nullable (no default to fill)"
                    )
                continue
            wt, wni = writer_by_name[n]
            if wt != t:
                raise ValueError(
                    f"field {n!r}: writer type {wt!r} != "
                    f"reader type {t!r} (type promotions unsupported)"
                )
            if wni is not None and ni is None:
                # a nullable writer can emit null; the reader declares the
                # field non-nullable and has no null branch to read it into
                # (spec resolution fails such reads at runtime — refuse up
                # front instead of leaking nulls into a non-nullable column)
                raise ValueError(
                    f"field {n!r}: writer is nullable but reader is not — "
                    "null values would have no branch to resolve into"
                )

    return parse_fields, check_resolution


_parse_fields, check_resolution = _make_schema_parser()


def parse_record_schema(schema_json: str) -> list[tuple[str, str, int | None]]:
    """Validate + flatten an Avro record schema into (field,
    primitive_type, null_branch_index) triples — null_branch_index is the
    union position of "null" (0 for ["null","T"], 1 for ["T","null"]),
    or None for non-nullable fields; the binary encoding prefixes union
    values with their branch index, so position matters for
    byte-compatibility. Rejects anything outside the supported subset
    loudly."""
    return _parse_fields(schema_json)


# --- Avro binary primitives (spec: zigzag varint, little-endian IEEE) ----
#
# Defined inside a factory and exported as closures: cloudpickle pickles
# nested functions BY VALUE, so mapInPandas stages referencing them run on
# workers that do NOT have this package on PYTHONPATH (the correctness
# driver builds its own SparkSession without get_spark's path setup —
# same pattern as functions/codecs.py).

def _make_binary_codec():
    def _zigzag_encode(n: int) -> bytes:
        z = (n << 1) ^ (n >> 63)
        buf = bytearray()
        while True:
            b = z & 0x7F
            z >>= 7
            if z:
                buf.append(b | 0x80)
            else:
                buf.append(b)
                return bytes(buf)

    def _zigzag_decode(data: bytes, pos: int) -> tuple[int, int]:
        z, shift = 0, 0
        while True:
            b = data[pos]
            pos += 1
            z |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (z >> 1) ^ -(z & 1), pos

    def _encode_value(t: str, v) -> bytes:
        import struct as _struct

        if t in ("int", "long"):
            return _zigzag_encode(int(v))
        if t == "boolean":
            return b"\x01" if v else b"\x00"
        if t == "float":
            return _struct.pack("<f", float(v))
        if t == "double":
            return _struct.pack("<d", float(v))
        if t == "string":
            b = str(v).encode("utf-8")
            return _zigzag_encode(len(b)) + b
        if t == "bytes":
            b = bytes(v)
            return _zigzag_encode(len(b)) + b
        raise ValueError(f"unsupported type {t}")

    def _decode_value(t: str, data: bytes, pos: int):
        import struct as _struct

        if t in ("int", "long"):
            return _zigzag_decode(data, pos)
        if t == "boolean":
            return data[pos] == 1, pos + 1
        if t == "float":
            return _struct.unpack_from("<f", data, pos)[0], pos + 4
        if t == "double":
            return _struct.unpack_from("<d", data, pos)[0], pos + 8
        if t == "string":
            n, pos = _zigzag_decode(data, pos)
            return data[pos:pos + n].decode("utf-8"), pos + n
        if t == "bytes":
            n, pos = _zigzag_decode(data, pos)
            return bytes(data[pos:pos + n]), pos + n
        raise ValueError(f"unsupported type {t}")

    def encode_record(fields, row: dict) -> bytes:
        """One Avro-binary record: concatenated fields; nullable fields
        carry their union branch index first (spec: a union value is the
        zigzag branch index followed by the branch's encoding; null's own
        encoding is empty)."""
        out = bytearray()
        for name, t, null_idx in fields:
            v = row.get(name)
            if null_idx is not None:
                if v is None:
                    out += _zigzag_encode(null_idx)
                    continue
                out += _zigzag_encode(1 - null_idx)
            elif v is None:
                raise ValueError(f"null in non-nullable field {name}")
            out += _encode_value(t, v)
        return bytes(out)

    def decode_record(fields, data: bytes) -> dict:
        pos, row = 0, {}
        for name, t, null_idx in fields:
            if null_idx is not None:
                branch, pos = _zigzag_decode(data, pos)
                if branch == null_idx:
                    row[name] = None
                    continue
            row[name], pos = _decode_value(t, data, pos)
        return row

    return (_zigzag_encode, _zigzag_decode, _encode_value, _decode_value,
            encode_record, decode_record)


(_zigzag_encode, _zigzag_decode, _encode_value, _decode_value,
 encode_record, decode_record) = _make_binary_codec()


# --- DataFrame projections ----------------------------------------------

def to_avro_df(df: DataFrame, schema_json: str, out_col: str = "value") -> DataFrame:
    """Project df's schema fields into one Avro-binary column (other
    columns pass through). Arrow-batched mapInPandas — one Python stage,
    never per-row overhead outside the batch loop."""
    fields = parse_record_schema(schema_json)
    passthrough = [c for c in df.columns if c not in {f[0] for f in fields}]
    out_schema = ", ".join(
        [f"{c} {t}" for c, t in zip(passthrough, _spark_types(df, passthrough))]
        + [f"{out_col} binary"]
    )
    field_spec = list(fields)

    def batches(it):
        import pandas as pd

        for pdf in it:
            # Schema-aware column conversion: Arrow→pandas renders a
            # NULLABLE int/long/boolean column as float64 with NaN, so
            # per-field we map NaN→None and coerce 3.0→3 for integer
            # types. (For float/double fields NaN stays a VALUE — pandas
            # cannot distinguish a null double from NaN; the integer/
            # string/bytes types, where it matters, are unambiguous.)
            cols = {
                n: _column_values(pdf[n], t, null_idx is not None)
                for n, t, null_idx in field_spec
            }
            vals = [
                encode_record(field_spec, {n: cols[n][i] for n, _, _ in field_spec})
                for i in range(len(pdf))
            ]
            out = pdf[passthrough].copy() if passthrough else pd.DataFrame(index=pdf.index)
            out[out_col] = vals
            yield out

    return df.mapInPandas(batches, out_schema)


def from_avro_df(
    df: DataFrame,
    schema_json: str,
    bin_col: str = "value",
    writer_schema_json: str | None = None,
) -> DataFrame:
    """Decode an Avro-binary column back into its record fields (other
    columns pass through; the binary column is consumed).

    ``writer_schema_json``: when the data was written under an OLDER (or
    newer) compatible schema, pass it here and ``schema_json`` acts as
    the READER schema — fields resolve by name per the Avro spec subset
    (writer-only fields decoded and dropped, reader-only nullable fields
    filled with null)."""
    fields = parse_record_schema(schema_json)
    writer_fields = None
    if writer_schema_json is not None:
        writer_fields = parse_record_schema(writer_schema_json)
        check_resolution(writer_fields, fields)
        if writer_fields == fields:
            writer_fields = None  # identical schemas: plain decode
    passthrough = [c for c in df.columns if c != bin_col]
    out_schema = ", ".join(
        [f"{c} {t}" for c, t in zip(passthrough, _spark_types(df, passthrough))]
        + [f"{n} {_SPARK_TYPE[t]}" for n, t, _ in fields]
    )
    field_spec = list(fields)

    decode_spec = writer_fields if writer_fields is not None else field_spec

    def batches(it):
        import pandas as pd

        # A NULL payload (Kafka tombstone shape) decodes to an all-None
        # record, as spark-avro's from_avro yields a null struct whose
        # flattened fields are null. Resolution: decode per the WRITER
        # spec (byte positions follow the writer), project by reader
        # field name (missing → None, extra → dropped).
        none_rec = {n: None for n, _, _ in field_spec}
        for pdf in it:
            recs = [
                none_rec if b is None else decode_record(decode_spec, bytes(b))
                for b in pdf[bin_col].values
            ]
            out = pdf[passthrough].copy() if passthrough else pd.DataFrame(index=pdf.index)
            for n, _, _ in field_spec:
                out[n] = [r.get(n) for r in recs]
            yield out

    return df.mapInPandas(batches, out_schema)


# --- Avro Object Container Files (the .avro FILE format) ----------------
#
# Spec (same public document as the binary encoding): magic "Obj\x01",
# file-metadata map (avro.schema + optional avro.codec), 16-byte sync
# marker, then data blocks of (record-count, byte-size, records, sync).
# Codecs supported here: null, deflate (raw RFC-1951 — stdlib zlib),
# snappy (pyarrow provides the codec; Avro's snappy blocks carry a
# 4-byte big-endian CRC32 of the uncompressed data), and bzip2/xz
# (stdlib bz2/lzma) — 5 of the spec's 6 codecs; zstandard remains
# unsupported.

_OCF_MAGIC = b"Obj\x01"


def _encode_map(meta: dict[str, bytes]) -> bytes:
    out = bytearray()
    if meta:
        out += _zigzag_encode(len(meta))
        for k, v in meta.items():
            kb = k.encode()
            out += _zigzag_encode(len(kb)) + kb
            out += _zigzag_encode(len(v)) + v
    out += _zigzag_encode(0)
    return bytes(out)


def _make_pyarrow_snappy():
    """Snappy (de)compression through ``pyarrow.Codec("snappy")``, as
    by-value closures (worker-safe, same rationale as _make_binary_codec).
    The decoder checks the stream's varint length before pyarrow allocates
    it: a 3-byte copy element yields at most 64 bytes, so a declared length
    above 22x the input cannot be produced."""

    def snappy_decompress(data: bytes) -> bytes:
        import pyarrow as pa

        data = bytes(data)  # little-endian varint (≤ 5 bytes): uncompressed length
        end = next((i for i, b in enumerate(data[:5]) if b < 0x80), None)
        if end is None:
            raise ValueError("corrupt snappy stream: bad length header")
        n = sum((b & 0x7F) << (7 * i) for i, b in enumerate(data[:end + 1]))
        if n > 22 * len(data):
            raise ValueError(f"corrupt snappy stream: declared {n} bytes from {len(data)}")
        try:
            return pa.Codec("snappy").decompress(data, decompressed_size=n, asbytes=True)
        except (OSError, pa.ArrowInvalid) as exc:
            raise ValueError(f"corrupt snappy stream: {exc}") from exc

    def snappy_compress(data: bytes) -> bytes:
        import pyarrow as pa

        return pa.Codec("snappy").compress(bytes(data), asbytes=True)

    return snappy_compress, snappy_decompress


_snappy_compress, _snappy_decompress = _make_pyarrow_snappy()


def _make_ocf_codec():
    """OCF block/metadata parsing as by-value closures (worker-safe, same
    rationale as _make_binary_codec; the nested functions capture the
    binary-codec closures transitively)."""

    def _decode_map(data: bytes, pos: int):
        meta: dict[str, bytes] = {}
        while True:
            n, pos = _zigzag_decode(data, pos)
            if n == 0:
                return meta, pos
            if n < 0:  # negative count is followed by the block's byte size
                n = -n
                _, pos = _zigzag_decode(data, pos)
            for _ in range(n):
                kl, pos = _zigzag_decode(data, pos)
                k = data[pos:pos + kl].decode()
                pos += kl
                vl, pos = _zigzag_decode(data, pos)
                meta[k] = data[pos:pos + vl]
                pos += vl

    def ocf_decode_records(payload: bytes, fields,
                           expect_json: str | None = None,
                           resolve: bool = False) -> tuple[str, list[dict]]:
        """Parse one OCF payload with CALLER-supplied reader fields →
        (embedded schema JSON, records). ``expect_json``: when the
        embedded writer schema differs, refuse with a clear error
        (``resolve=False``, BEFORE decoding any record) or apply the
        name-matched schema-resolution subset (``resolve=True``: decode
        per the writer, drop writer-only fields, null-fill reader-only
        nullable fields)."""
        import json as _json
        import zlib

        data = bytes(payload)
        if data[:4] != b"Obj\x01":
            raise ValueError("not an Avro object container file (bad magic)")
        meta, pos = _decode_map(data, 4)
        schema_json = meta["avro.schema"].decode()
        reader_fields = fields
        if expect_json is not None and _json.loads(schema_json) != _json.loads(expect_json):
            if not resolve:
                raise ValueError(
                    f"OCF writer schema {schema_json!r} != reader schema"
                )
            fields = _parse_fields(schema_json)  # decode per the WRITER
            check_resolution(fields, reader_fields)
        codec = meta.get("avro.codec", b"null").decode()
        sync = data[pos:pos + 16]
        pos += 16
        rows: list[dict] = []
        while pos < len(data):
            n, pos = _zigzag_decode(data, pos)
            size, pos = _zigzag_decode(data, pos)
            body = data[pos:pos + size]
            pos += size
            if data[pos:pos + 16] != sync:
                raise ValueError(f"sync marker mismatch at offset {pos}")
            pos += 16
            if codec == "deflate":
                body = zlib.decompress(body, -15)
            elif codec == "snappy":
                # Avro snappy block = snappy(data) + 4-byte BE CRC32 of data
                crc = int.from_bytes(body[-4:], "big")
                body = _snappy_decompress(body[:-4])
                if zlib.crc32(body) & 0xFFFFFFFF != crc:
                    raise ValueError("snappy block CRC32 mismatch")
            elif codec == "bzip2":
                import bz2 as _bz2
                body = _bz2.decompress(body)
            elif codec == "xz":
                import lzma as _lzma
                body = _lzma.decompress(body, format=_lzma.FORMAT_XZ)
            elif codec != "null":
                raise ValueError(f"unsupported OCF codec {codec!r}")
            bpos = 0
            for _ in range(n):
                row: dict = {}
                for name, t, null_idx in fields:
                    if null_idx is not None:
                        branch, bpos = _zigzag_decode(body, bpos)
                        if branch == null_idx:
                            row[name] = None
                            continue
                    row[name], bpos = _decode_value(t, body, bpos)
                rows.append(row)
        if fields is not reader_fields:  # resolution: project to the reader
            rows = [{n: r.get(n) for n, _, _ in reader_fields} for r in rows]
        return schema_json, rows

    return _decode_map, ocf_decode_records


_decode_map, _ocf_decode_records = _make_ocf_codec()


def ocf_encode(schema_json: str, rows: list[dict], codec: str = "null",
               sync: bytes = b"\x00" * 16, block_records: int = 1000) -> bytes:
    """Serialize rows as one Avro Object Container File payload."""
    import zlib

    fields = parse_record_schema(schema_json)
    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    out = bytearray(_OCF_MAGIC + _encode_map(meta) + sync)
    for i in range(0, len(rows), block_records):
        chunk = rows[i:i + block_records]
        body = b"".join(encode_record(fields, r) for r in chunk)
        if codec == "deflate":
            body = zlib.compress(body)[2:-4]  # strip zlib header/adler: raw DEFLATE
        elif codec == "snappy":
            crc = (zlib.crc32(body) & 0xFFFFFFFF).to_bytes(4, "big")
            body = _snappy_compress(body) + crc
        elif codec == "bzip2":
            import bz2 as _bz2
            body = _bz2.compress(body)
        elif codec == "xz":
            import lzma as _lzma
            body = _lzma.compress(body, format=_lzma.FORMAT_XZ)
        elif codec != "null":
            raise ValueError(f"unsupported OCF codec {codec!r}")
        out += _zigzag_encode(len(chunk)) + _zigzag_encode(len(body)) + body + sync
    return bytes(out)


def ocf_decode(payload: bytes) -> tuple[str, list[dict]]:
    """Parse one OCF payload → (embedded schema JSON, records). Driver-
    side convenience: trusts the embedded writer schema (subset-validated
    by parse_record_schema)."""
    data = bytes(payload)
    if data[:4] != _OCF_MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta, _ = _decode_map(data, 4)
    fields = parse_record_schema(meta["avro.schema"].decode())
    return _ocf_decode_records(data, fields)


def read_avro_ocf(
    spark: SparkSession, path: str, schema_json: str, resolve: bool = False
) -> DataFrame:
    """Read a directory/glob of .avro container files into a DataFrame.

    Spark-side shape: ``binaryFile`` scan (one row per file — the
    many-files layout standard at scale; a single monolithic OCF will not
    split) → Arrow-batched mapInPandas decode. The embedded writer schema
    must match ``schema_json`` — mismatches raise rather than mis-decode —
    unless ``resolve=True``, which applies the name-matched
    schema-resolution subset per FILE (a directory of mixed schema
    versions reads under one reader schema: writer-only fields dropped,
    reader-only nullable fields null-filled)."""
    raw = spark.read.format("binaryFile").option("pathGlobFilter", "*.avro").load(path)
    return _ocf_decode_files(raw, schema_json, resolve=resolve)


def read_avro_ocf_stream(
    spark: SparkSession, path: str, schema_json: str, resolve: bool = False
) -> DataFrame:
    """Streaming ingestion of a growing directory of .avro container
    files: the binaryFile source tracks arrivals, each new file decodes
    once in its micro-batch (file-granularity exactly-once via the
    source's processed-files log + checkpoint). Same decode stage as the
    batch reader."""
    raw = (
        spark.readStream.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .load(path)
    )
    return _ocf_decode_files(raw, schema_json, resolve=resolve)


def _ocf_decode_files(
    raw: DataFrame, schema_json: str, resolve: bool = False
) -> DataFrame:
    """(… content binary) → decoded record rows; shared by the batch and
    streaming OCF readers. The closure captures only by-value codec
    closures + plain data (worker-safe without the package on
    PYTHONPATH); the embedded writer schema is verified against the
    reader's by JSON equality — no schema resolution."""
    fields = parse_record_schema(schema_json)
    out_schema = ", ".join(f"{n} {_SPARK_TYPE[t]}" for n, t, _ in fields)
    want = schema_json
    decode_records = _ocf_decode_records
    field_spec = list(fields)
    do_resolve = resolve

    def batches(it):
        import pandas as _pd

        for pdf in it:
            rows: list[dict] = []
            for payload in pdf["content"]:
                _, recs = decode_records(
                    bytes(payload), field_spec, expect_json=want, resolve=do_resolve
                )
                rows.extend(recs)
            yield _pd.DataFrame(
                {n: [r[n] for r in rows] for n, _, _ in field_spec}
                if rows else {n: [] for n, _, _ in field_spec}
            )

    return raw.select("content").mapInPandas(batches, out_schema)


def _spark_types(df: DataFrame, cols: list[str]) -> list[str]:
    m = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return [m[c] for c in cols]


def _make_pandas_bridge():
    """Column-conversion helpers as by-value closures (they run inside the
    mapInPandas stages — same worker-safety rationale as the codecs)."""

    def _py(v):
        """numpy scalar → python scalar."""
        return v.item() if hasattr(v, "item") else v

    def _column_values(series, avro_type: str, nullable: bool) -> list:
        """pandas column → python values matching the Avro field type.

        Handles the Arrow→pandas null dance: a nullable int/long/boolean
        column arrives as float64/object with NaN for nulls — NaN becomes
        None and surviving floats are coerced back to int/bool. Float
        fields keep NaN as a value (IEEE NaN is encodable; only if the
        field is nullable AND the value is NaN do we prefer null,
        documenting the pandas ambiguity)."""
        import pandas as pd

        out = []
        for v in series:
            if v is None or (not isinstance(v, (str, bytes)) and pd.isna(v)):
                out.append(None if nullable or avro_type not in ("float", "double")
                           else float("nan"))
                continue
            v = _py(v)
            if avro_type in ("int", "long") and isinstance(v, float):
                # The float64 came from the Arrow→pandas null dance; at or
                # above 2**53 that representation already lost bits, so
                # int(v) would silently corrupt the long — refuse instead.
                if not v.is_integer() or abs(v) >= 2**53:
                    raise ValueError(
                        f"cannot losslessly encode {v!r} as Avro {avro_type}: "
                        "nullable integer column materialized as float64, "
                        "which cannot represent this value exactly; keep "
                        "the column non-nullable"
                    )
                v = int(v)
            elif avro_type == "boolean" and not isinstance(v, bool):
                v = bool(v)
            out.append(v)
        return out

    return _py, _column_values


_py, _column_values = _make_pandas_bridge()

"""Avro serde helpers: spec golden bytes, Spark round-trip, gating."""

import json

import pytest
from pyspark.sql import functions as F

from kafka_streams_demo_spark.sources.avro import (
    decode_record,
    encode_record,
    from_avro_df,
    parse_record_schema,
    to_avro_df,
)

SCHEMA = json.dumps({
    "type": "record", "name": "Event", "fields": [
        {"name": "user_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"},
        {"name": "note", "type": ["null", "string"]},
    ],
})


def test_golden_bytes_match_avro_spec():
    """Spec pins (avro.apache.org specification, Binary Encoding):
    zigzag(1)=0x02, zigzag(-2)=0x03, zigzag(64)=0x80 0x01; strings are
    length-prefixed utf-8; ["null","T"] null = branch 0 = byte 0x00."""
    f_long = parse_record_schema(json.dumps(
        {"type": "record", "name": "r", "fields": [{"name": "x", "type": "long"}]}
    ))
    assert encode_record(f_long, {"x": 1}) == b"\x02"
    assert encode_record(f_long, {"x": -2}) == b"\x03"
    assert encode_record(f_long, {"x": 64}) == b"\x80\x01"
    f_str = parse_record_schema(json.dumps(
        {"type": "record", "name": "r", "fields": [{"name": "s", "type": "string"}]}
    ))
    assert encode_record(f_str, {"s": "foo"}) == b"\x06foo"
    f_null = parse_record_schema(json.dumps(
        {"type": "record", "name": "r",
         "fields": [{"name": "n", "type": ["null", "long"]}]}
    ))
    assert encode_record(f_null, {"n": None}) == b"\x00"
    assert encode_record(f_null, {"n": 3}) == b"\x02\x06"  # branch 1, zigzag(3)


def test_union_branch_index_respects_declaration_order():
    """["T","null"] puts null at branch 1 — encoding must differ from
    ["null","T"] (branch indexes are positional in the spec)."""
    rev = parse_record_schema(json.dumps(
        {"type": "record", "name": "r",
         "fields": [{"name": "n", "type": ["long", "null"]}]}
    ))
    assert encode_record(rev, {"n": None}) == b"\x02"   # zigzag(1)
    assert encode_record(rev, {"n": 3}) == b"\x00\x06"  # branch 0, zigzag(3)
    assert decode_record(rev, b"\x02") == {"n": None}
    assert decode_record(rev, b"\x00\x06") == {"n": 3}


def test_codec_roundtrip_all_primitives():
    schema = json.dumps({
        "type": "record", "name": "r", "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "y", "type": "bytes"},
        ],
    })
    fields = parse_record_schema(schema)
    row = {"b": True, "i": -123, "l": 2**40, "f": 0.5, "d": -2.25,
           "s": "héllo", "y": b"\x00\xff"}
    assert decode_record(fields, encode_record(fields, row)) == row


def test_unsupported_schemas_rejected():
    with pytest.raises(ValueError, match="record"):
        parse_record_schema('"long"')
    with pytest.raises(ValueError, match="unsupported"):
        parse_record_schema(json.dumps(
            {"type": "record", "name": "r",
             "fields": [{"name": "a", "type": {"type": "array", "items": "long"}}]}
        ))
    with pytest.raises(ValueError, match="union"):
        parse_record_schema(json.dumps(
            {"type": "record", "name": "r",
             "fields": [{"name": "u", "type": ["long", "string"]}]}
        ))


def test_spark_roundtrip_with_passthrough_key(spark):
    """to_avro → from_avro through real Spark stages: the key column
    passes through both projections; record fields round-trip exactly
    (the kafka sink shape: (key, value-binary))."""
    df = spark.createDataFrame(
        [(1, 100, "click", 1.5, "hi"), (2, 200, "view", -0.25, None)],
        "key int, user_id long, event_type string, value double, note string",
    )
    enc = to_avro_df(df, SCHEMA, out_col="value_bin")
    assert set(enc.columns) == {"key", "value_bin"}
    dec = from_avro_df(enc, SCHEMA, bin_col="value_bin")
    got = {r["key"]: (r["user_id"], r["event_type"], r["value"], r["note"])
           for r in dec.collect()}
    assert got == {1: (100, "click", 1.5, "hi"), 2: (200, "view", -0.25, None)}


def test_spark_roundtrip_via_kstream_value(spark):
    """Serde round-trip on the events fixture columns — 100 rows through
    the Arrow batch path."""
    ev = spark.range(100).selectExpr(
        "id AS user_id",
        "concat('t', cast(id % 3 AS string)) AS event_type",
        "cast(id AS double) / 8 AS value",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE concat('n', id) END AS note",
    )
    back = from_avro_df(to_avro_df(ev, SCHEMA), SCHEMA)
    assert back.count() == 100
    assert back.filter(F.col("note").isNull()).count() == 20
    orig = sorted(map(tuple, ev.collect()))
    rt = sorted(map(tuple, back.select("user_id", "event_type", "value", "note").collect()))
    assert rt == orig


def test_ocf_roundtrip_null_and_deflate_codecs():
    from kafka_streams_demo_spark.sources.avro import ocf_decode, ocf_encode

    rows = [{"user_id": i, "event_type": f"t{i % 3}", "value": i / 8,
             "note": None if i % 5 == 0 else f"n{i}"} for i in range(2500)]
    for codec in ("null", "deflate"):
        payload = ocf_encode(SCHEMA, rows, codec=codec, block_records=1000)
        assert payload[:4] == b"Obj\x01"
        got_schema, got = ocf_decode(payload)
        assert json.loads(got_schema) == json.loads(SCHEMA)
        assert got == rows
    # deflate should actually compress this repetitive payload
    assert len(ocf_encode(SCHEMA, rows, codec="deflate")) < \
        0.8 * len(ocf_encode(SCHEMA, rows, codec="null"))


def test_read_avro_ocf_directory(spark, tmp_path):
    """A directory of .avro container files reads into a DataFrame through
    the binaryFile + mapInPandas path; per-file decode parallelizes."""
    from kafka_streams_demo_spark.sources.avro import ocf_encode, read_avro_ocf

    rows = [{"user_id": i, "event_type": f"t{i % 3}", "value": float(i),
             "note": None} for i in range(300)]
    for part in range(3):
        chunk = rows[part * 100:(part + 1) * 100]
        (tmp_path / f"part-{part}.avro").write_bytes(
            ocf_encode(SCHEMA, chunk, codec="deflate")
        )
    (tmp_path / "ignored.txt").write_text("not avro")
    df = read_avro_ocf(spark, str(tmp_path), SCHEMA)
    got = sorted(r["user_id"] for r in df.collect())
    assert got == list(range(300))
    assert df.filter(F.col("event_type") == "t0").count() == 100


def test_read_avro_ocf_schema_mismatch_raises(spark, tmp_path):
    import pytest

    from kafka_streams_demo_spark.sources.avro import ocf_encode, read_avro_ocf

    other = json.dumps({
        "type": "record", "name": "Other",
        "fields": [{"name": "user_id", "type": "long"}],
    })
    (tmp_path / "a.avro").write_bytes(
        ocf_encode(other, [{"user_id": 1}])
    )
    with pytest.raises(Exception, match="writer schema"):
        read_avro_ocf(spark, str(tmp_path), SCHEMA).collect()


def test_read_avro_ocf_stream(spark, tmp_path):
    """Streaming OCF ingestion: files written across two 'arrivals' all
    land exactly once through availableNow."""
    from kafka_streams_demo_spark.sources.avro import (
        ocf_encode,
        read_avro_ocf_stream,
    )
    from kafka_streams_demo_spark.streaming.lifecycle import run_available_now

    rows = [{"user_id": i, "event_type": f"t{i % 3}", "value": float(i),
             "note": None} for i in range(100)]
    (tmp_path / "a.avro").write_bytes(ocf_encode(SCHEMA, rows[:60]))
    (tmp_path / "b.avro").write_bytes(ocf_encode(SCHEMA, rows[60:], codec="deflate"))
    out = read_avro_ocf_stream(spark, str(tmp_path), SCHEMA)
    got = run_available_now(out, output_mode="append").collect()
    assert sorted(r["user_id"] for r in got) == list(range(100))


def test_nullable_long_roundtrip_through_pandas_nan():
    """Arrow→pandas renders nullable int64 as float64+NaN; the encoder
    must map NaN back to Avro null and 3.0 back to long 3 (a raw
    pass-through would encode garbage)."""
    schema = json.dumps({
        "type": "record", "name": "r", "fields": [
            {"name": "k", "type": "long"},
            {"name": "opt", "type": ["null", "long"]},
        ],
    })

    import pandas as pd

    from kafka_streams_demo_spark.sources.avro import (
        _column_values,
        decode_record,
        encode_record,
        parse_record_schema,
    )

    fields = parse_record_schema(schema)
    s = pd.Series([1.0, float("nan"), 3.0])  # what Arrow hands over
    assert _column_values(s, "long", True) == [1, None, 3]
    row = {"k": 7, "opt": None}
    assert decode_record(fields, encode_record(fields, row)) == row


def test_spark_roundtrip_nullable_long_column(spark):
    schema = json.dumps({
        "type": "record", "name": "r", "fields": [
            {"name": "k", "type": "long"},
            {"name": "opt", "type": ["null", "long"]},
        ],
    })
    from kafka_streams_demo_spark.sources.avro import from_avro_df, to_avro_df

    df = spark.range(50).selectExpr(
        "id AS k", "CASE WHEN id % 3 = 0 THEN NULL ELSE id * 10 END AS opt"
    )
    back = from_avro_df(to_avro_df(df, schema), schema)
    got = {r["k"]: r["opt"] for r in back.collect()}
    assert got == {i: (None if i % 3 == 0 else i * 10) for i in range(50)}


def test_from_avro_null_payload_yields_null_fields(spark):
    """A NULL binary payload (Kafka tombstone shape) must decode to
    all-None record fields, as spark-avro's from_avro yields a null
    struct."""
    df = spark.createDataFrame(
        [("k1", encode_record(parse_record_schema(SCHEMA),
                              {"user_id": 1, "event_type": "c", "value": 2.0,
                               "note": None})),
         ("k2", None)],
        "key string, value binary",
    )
    got = {r["key"]: (r["user_id"], r["event_type"])
           for r in from_avro_df(df, SCHEMA).collect()}
    assert got["k1"] == (1, "c")
    assert got["k2"] == (None, None)


def test_nullable_long_beyond_2_53_refused_not_corrupted():
    """float64 cannot represent longs at/above 2**53; the encoder must
    refuse rather than silently round-trip a corrupted value (ADVICE r3)."""
    import pandas as pd

    from kafka_streams_demo_spark.sources.avro import _column_values

    big = float(2**53 + 2)  # 9007199254740994.0 — representable but suspect
    s = pd.Series([1.0, big])
    with pytest.raises(ValueError, match="losslessly"):
        _column_values(s, "long", True)
    with pytest.raises(ValueError, match="losslessly"):
        _column_values(pd.Series([2.5]), "long", True)


def test_snappy_decompress_golden_streams():
    """Hand-built streams per the public snappy format description —
    exercises the copy element types, so real-world snappy OCF blocks
    decode correctly."""
    from kafka_streams_demo_spark.sources.avro import _snappy_decompress

    # literal "abcd" + copy-1 (len 4, offset 4) → "abcdabcd"
    assert _snappy_decompress(b"\x08\x0cabcd\x01\x04") == b"abcdabcd"
    # literal "a" + overlapping copy-1 (len 9, offset 1) → RLE "a"*10
    assert _snappy_decompress(b"\x0a\x00a\x15\x01") == b"a" * 10
    # literal "xyz" + copy-2 (len 3, offset 3 little-endian) → "xyzxyz"
    assert _snappy_decompress(b"\x06\x08xyz\x0a\x03\x00") == b"xyzxyz"
    # corrupt: declared length not met
    with pytest.raises(ValueError, match="snappy"):
        _snappy_decompress(b"\x09\x0cabcd\x01\x04")
    # corrupt: copy offset beyond produced output
    with pytest.raises(ValueError, match="snappy"):
        _snappy_decompress(b"\x08\x00a\x15\x09")
    # corrupt: length header truncated, or larger than the input can produce
    with pytest.raises(ValueError, match="snappy"):
        _snappy_decompress(b"\xff\xff")
    with pytest.raises(ValueError, match="snappy"):
        _snappy_decompress(b"\xff\xff\xff\x7f\x00")


def test_snappy_compress_roundtrip_various_sizes():
    from kafka_streams_demo_spark.sources.avro import (
        _snappy_compress,
        _snappy_decompress,
    )

    for payload in (b"", b"x", b"hello world" * 10, bytes(range(256)) * 300):
        assert _snappy_decompress(_snappy_compress(payload)) == payload


def test_ocf_snappy_compresses_repetitive_blocks():
    """A repetitive ~10 KB block must come out smaller under snappy than
    under the null codec: the compressor emits copy elements, not only
    literals."""
    from kafka_streams_demo_spark.sources.avro import ocf_decode, ocf_encode

    rows = [{"user_id": i % 4, "event_type": "click", "value": 1.0, "note": "same"}
            for i in range(500)]
    plain = ocf_encode(SCHEMA, rows, codec="null")
    packed = ocf_encode(SCHEMA, rows, codec="snappy")
    assert len(plain) > 10_000
    assert len(packed) < len(plain)
    assert ocf_decode(packed)[1] == rows


def test_ocf_snappy_codec_roundtrip_and_crc():
    """Avro OCF snappy blocks = snappy(data) + 4-byte big-endian CRC32 of
    the UNCOMPRESSED data (VERDICT r3 task #5 — snappy read tolerance)."""
    from kafka_streams_demo_spark.sources.avro import ocf_decode, ocf_encode

    rows = [{"user_id": i, "event_type": f"e{i % 3}", "value": i / 2.0,
             "note": None if i % 2 else f"n{i}"} for i in range(100)]
    payload = ocf_encode(SCHEMA, rows, codec="snappy", block_records=32)
    schema_back, got = ocf_decode(payload)
    assert json.loads(schema_back) == json.loads(SCHEMA)
    assert got == rows
    # flip one byte inside a data block: CRC (or the snappy grammar) must
    # catch it rather than silently mis-decode
    corrupt = bytearray(payload)
    corrupt[-20] ^= 0xFF
    with pytest.raises(ValueError):
        ocf_decode(bytes(corrupt))


def test_read_avro_ocf_snappy_via_spark(spark, tmp_path):
    from kafka_streams_demo_spark.sources.avro import ocf_encode, read_avro_ocf

    rows = [{"user_id": i, "event_type": "c", "value": float(i), "note": None}
            for i in range(50)]
    (tmp_path / "part-0.avro").write_bytes(ocf_encode(SCHEMA, rows[:25], codec="snappy"))
    (tmp_path / "part-1.avro").write_bytes(ocf_encode(SCHEMA, rows[25:], codec="snappy"))
    df = read_avro_ocf(spark, str(tmp_path), SCHEMA)
    assert df.count() == 50
    assert sorted(r["user_id"] for r in df.collect()) == list(range(50))


def test_snappy_decoder_never_leaks_index_errors():
    """Malformed/truncated streams (the wild-file case) must raise
    ValueError, never IndexError — plus a hypothesis round-trip."""
    import random

    from kafka_streams_demo_spark.sources.avro import (
        _snappy_compress,
        _snappy_decompress,
    )

    rng = random.Random(7)
    for _ in range(3000):
        blob = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 48)))
        try:
            _snappy_decompress(blob)
        except ValueError:
            pass  # the only acceptable failure mode

    try:
        from hypothesis import given, settings
        from hypothesis import strategies as st
    except ImportError:
        return

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=4096))
    def roundtrip(payload):
        assert _snappy_decompress(_snappy_compress(payload)) == payload

    roundtrip()


SCHEMA_V1 = json.dumps({
    "type": "record", "name": "Ev", "fields": [
        {"name": "k", "type": "long"},
        {"name": "name", "type": "string"},
    ],
})
SCHEMA_V2 = json.dumps({
    "type": "record", "name": "Ev", "fields": [
        {"name": "k", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "tag", "type": ["null", "string"]},
    ],
})


def test_schema_resolution_added_nullable_field(spark):
    """v1 payloads read under the v2 reader: new nullable field nulls in;
    v2 payloads read under the v1 reader: extra field decoded and dropped
    (byte positions stay correct). The spec's name-matched subset."""
    from kafka_streams_demo_spark.sources.avro import from_avro_df, to_avro_df

    v1 = spark.range(10).selectExpr("id AS k", "concat('n', id) AS name")
    enc1 = to_avro_df(v1, SCHEMA_V1)
    up = from_avro_df(enc1, SCHEMA_V2, writer_schema_json=SCHEMA_V1)
    rows = {r["k"]: (r["name"], r["tag"]) for r in up.collect()}
    assert rows == {i: (f"n{i}", None) for i in range(10)}

    v2 = spark.range(10).selectExpr(
        "id AS k", "concat('n', id) AS name", "concat('t', id) AS tag"
    )
    enc2 = to_avro_df(v2, SCHEMA_V2)
    down = from_avro_df(enc2, SCHEMA_V1, writer_schema_json=SCHEMA_V2)
    assert {r["k"]: r["name"] for r in down.collect()} == {i: f"n{i}" for i in range(10)}
    assert "tag" not in down.columns


def test_schema_resolution_incompatible_raises():
    from kafka_streams_demo_spark.sources.avro import check_resolution, parse_record_schema

    w = parse_record_schema(SCHEMA_V1)
    bad_extra = parse_record_schema(json.dumps({
        "type": "record", "name": "Ev", "fields": [
            {"name": "k", "type": "long"},
            {"name": "required_new", "type": "string"},  # non-nullable, absent
        ],
    }))
    with pytest.raises(ValueError, match="not nullable"):
        check_resolution(w, bad_extra)
    bad_type = parse_record_schema(json.dumps({
        "type": "record", "name": "Ev", "fields": [
            {"name": "k", "type": "string"},  # type flip
        ],
    }))
    with pytest.raises(ValueError, match="writer type"):
        check_resolution(w, bad_type)


def test_read_avro_ocf_resolves_mixed_versions(spark, tmp_path):
    """A directory holding files written under BOTH schema versions reads
    under the v2 reader with resolve=True; without it, the old file
    raises the strict-mismatch error."""
    from kafka_streams_demo_spark.sources.avro import ocf_encode, read_avro_ocf

    (tmp_path / "old.avro").write_bytes(ocf_encode(
        SCHEMA_V1, [{"k": i, "name": f"o{i}"} for i in range(5)]))
    (tmp_path / "new.avro").write_bytes(ocf_encode(
        SCHEMA_V2, [{"k": 100 + i, "name": f"n{i}", "tag": f"t{i}"} for i in range(5)],
        codec="snappy"))
    df = read_avro_ocf(spark, str(tmp_path), SCHEMA_V2, resolve=True)
    rows = {r["k"]: (r["name"], r["tag"]) for r in df.collect()}
    assert rows[0] == ("o0", None) and rows[100] == ("n0", "t0")
    assert len(rows) == 10
    with pytest.raises(Exception, match="writer schema"):
        read_avro_ocf(spark, str(tmp_path), SCHEMA_V2).collect()


def test_schema_resolution_property_random_field_sets():
    """Property: for random writer/reader field subsets, resolution decode
    equals {reader fields: writer value if shared else None} whenever
    check_resolution accepts — and acceptance matches the spec subset
    rule (reader-only fields must be nullable, shared types equal)."""
    try:
        from hypothesis import given, settings
        from hypothesis import strategies as st
    except ImportError:
        return

    from kafka_streams_demo_spark.sources.avro import (
        check_resolution,
        decode_record,
        encode_record,
        parse_record_schema,
    )

    types = ["long", "string", "double", "boolean"]
    vals = {"long": 7, "string": "s", "double": 1.5, "boolean": True}

    field_st = st.lists(
        st.tuples(st.sampled_from("abcdefgh"), st.sampled_from(types),
                  st.booleans()),
        min_size=1, max_size=6, unique_by=lambda f: f[0],
    )

    @settings(max_examples=150, deadline=None)
    @given(field_st, field_st)
    def prop(writer, reader):
        def mk(fields):
            return json.dumps({"type": "record", "name": "r", "fields": [
                {"name": n, "type": ["null", t] if nullable else t}
                for n, t, nullable in fields
            ]})
        wf = parse_record_schema(mk(writer))
        rf = parse_record_schema(mk(reader))
        wtypes = {n: (t, nullable) for n, t, nullable in writer}
        should_accept = all(
            (n in wtypes and wtypes[n][0] == t
             and not (wtypes[n][1] and not nullable))  # writer-nullable needs a reader null branch
            or (n not in wtypes and nullable)
            for n, t, nullable in reader
        )
        try:
            check_resolution(wf, rf)
            accepted = True
        except ValueError:
            accepted = False
        assert accepted == should_accept
        if accepted:
            row = {n: vals[t] for n, t, _ in wf}
            dec = decode_record(wf, encode_record(wf, row))
            resolved = {n: dec.get(n) for n, _, _ in rf}
            assert resolved == {n: (vals[t] if n in wtypes else None)
                                for n, t, _ in rf}

    prop()


def test_ocf_bzip2_and_xz_codecs_roundtrip(spark, tmp_path):
    """5 of the spec's 6 codecs now round-trip (zstandard has no stdlib
    implementation); bzip2/xz ride the stdlib and read through Spark."""
    from kafka_streams_demo_spark.sources.avro import (
        ocf_decode,
        ocf_encode,
        read_avro_ocf,
    )

    rows = [{"user_id": i, "event_type": f"e{i % 3}", "value": i / 4.0,
             "note": None if i % 2 else f"n{i}"} for i in range(200)]
    for codec in ("bzip2", "xz"):
        payload = ocf_encode(SCHEMA, rows, codec=codec, block_records=64)
        _, got = ocf_decode(payload)
        assert got == rows
        (tmp_path / f"{codec}.avro").write_bytes(payload)
    df = read_avro_ocf(spark, str(tmp_path), SCHEMA)
    assert df.count() == 400  # both files


def test_schema_resolution_refuses_nullable_writer_nonnullable_reader():
    """Review r4: a nullable writer field can emit null, which a
    non-nullable reader field has no branch for — must refuse up front."""
    from kafka_streams_demo_spark.sources.avro import check_resolution, parse_record_schema

    w = parse_record_schema(json.dumps({
        "type": "record", "name": "r", "fields": [
            {"name": "x", "type": ["null", "long"]}]}))
    r = parse_record_schema(json.dumps({
        "type": "record", "name": "r", "fields": [
            {"name": "x", "type": "long"}]}))
    with pytest.raises(ValueError, match="nullable"):
        check_resolution(w, r)
    check_resolution(r, w)  # the reverse direction is fine


def test_read_avro_ocf_stream_resolves_mixed_versions(spark, tmp_path):
    """The streaming OCF reader must accept evolving directories like the
    batch reader (review r4: resolve wasn't threaded through)."""
    from kafka_streams_demo_spark.sources.avro import ocf_encode, read_avro_ocf_stream
    from kafka_streams_demo_spark.streaming.lifecycle import run_available_now

    src = tmp_path / "evolving"
    src.mkdir()
    (src / "old.avro").write_bytes(ocf_encode(
        SCHEMA_V1, [{"k": i, "name": f"o{i}"} for i in range(5)]))
    (src / "new.avro").write_bytes(ocf_encode(
        SCHEMA_V2, [{"k": 10 + i, "name": f"n{i}", "tag": "t"} for i in range(5)]))
    stream = read_avro_ocf_stream(spark, str(src), SCHEMA_V2, resolve=True)
    out = run_available_now(stream, output_mode="append")
    rows = {r["k"]: r["tag"] for r in out.collect()}
    assert len(rows) == 10 and rows[0] is None and rows[10] == "t"

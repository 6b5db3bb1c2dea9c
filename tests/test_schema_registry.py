"""Schema-registry serde: wire-format golden bytes, registry semantics,
REST request contract, Spark round-trip + dead-letter split.

Closes the reference's declared-but-unused Confluent serde surface
(pom.xml:46-60; DataTypesSerializationExample.scala:3-5 is an empty
stub) — everything here is built from the public wire-format/REST docs.
"""

import json

import pytest
from pyspark.sql import functions as F

from kafka_streams_demo_spark.sources.schema_registry import (
    HttpSchemaRegistry,
    InMemorySchemaRegistry,
    from_avro_wire_df,
    to_avro_wire_df,
    topic_subject,
    wire_decode,
    wire_encode,
    wire_header,
)

SCHEMA = json.dumps({
    "type": "record", "name": "Click", "fields": [
        {"name": "user", "type": "string"},
        {"name": "n", "type": "long"},
    ],
})
SCHEMA_V2 = json.dumps({
    "type": "record", "name": "Click", "fields": [
        {"name": "user", "type": "string"},
        {"name": "n", "type": "long"},
        {"name": "note", "type": ["null", "string"]},
    ],
})


def test_wire_format_golden_bytes():
    """Public wire format: 0x00 magic + big-endian int32 id + payload."""
    assert wire_header(7) == b"\x00\x00\x00\x00\x07"
    assert wire_header(0x01020304) == b"\x00\x01\x02\x03\x04"
    assert wire_encode(7, b"\x06foo") == b"\x00\x00\x00\x00\x07\x06foo"
    assert wire_decode(b"\x00\x00\x00\x00\x07\x06foo") == (7, b"\x06foo")
    with pytest.raises(ValueError, match="magic"):
        wire_decode(b"\x01\x00\x00\x00\x07x")
    with pytest.raises(ValueError, match="magic|short"):
        wire_decode(b"\x00\x00")
    with pytest.raises(ValueError, match="int32"):
        wire_header(1 << 31)


def test_in_memory_registry_ids_and_lineage():
    reg = InMemorySchemaRegistry()
    id1 = reg.register("clicks-value", SCHEMA)
    # JSON-equivalent schema (reordered keys) must NOT mint a new id
    reordered = json.dumps(json.loads(SCHEMA))
    assert reg.register("clicks-value", reordered) == id1
    # same schema under another subject shares the global id
    assert reg.register("other-value", SCHEMA) == id1
    id2 = reg.register("clicks-value", SCHEMA_V2)
    assert id2 != id1
    assert reg.versions("clicks-value") == [id1, id2]
    assert reg.latest("clicks-value")[0] == id2
    assert json.loads(reg.get_by_id(id1)) == json.loads(SCHEMA)
    with pytest.raises(KeyError):
        reg.latest("nope-value")
    with pytest.raises(ValueError):
        reg.register("bad-value", json.dumps({"type": "enum"}))


def test_http_registry_pins_rest_contract():
    """No live registry in this container: a fake opener records the
    requests, pinning paths, method, content type, and payload shape."""
    calls = []

    class FakeResp:
        def __init__(self, body): self._b = json.dumps(body).encode()
        def read(self): return self._b
        def __enter__(self): return self
        def __exit__(self, *a): return False

    def opener(req):
        calls.append((req.get_method(), req.full_url,
                      req.data, req.get_header("Content-type")))
        if "/versions/latest" in req.full_url:
            return FakeResp({"id": 3, "schema": SCHEMA, "version": 2})
        if "/schemas/ids/" in req.full_url:
            return FakeResp({"schema": SCHEMA})
        return FakeResp({"id": 3})

    reg = HttpSchemaRegistry("http://sr:8081/", opener=opener)
    assert reg.register("clicks-value", SCHEMA) == 3
    assert json.loads(reg.get_by_id(3)) == json.loads(SCHEMA)
    assert reg.latest("clicks-value") == (3, SCHEMA)

    m, url, data, ctype = calls[0]
    assert (m, url) == ("POST", "http://sr:8081/subjects/clicks-value/versions")
    assert json.loads(data.decode()) == {"schema": SCHEMA}
    assert ctype == "application/vnd.schemaregistry.v1+json"
    assert calls[1][:2] == ("GET", "http://sr:8081/schemas/ids/3")
    assert calls[2][:2] == ("GET", "http://sr:8081/subjects/clicks-value/versions/latest")


def test_http_registry_percent_encodes_subjects():
    """Subjects containing '/', '?', '%', or spaces must not restructure
    the URL path (ADVICE r5): every path builder goes through quote(safe='')."""
    calls = []

    class FakeResp:
        def __init__(self, body): self._b = json.dumps(body).encode()
        def read(self): return self._b
        def __enter__(self): return self
        def __exit__(self, *a): return False

    def opener(req, timeout=None):
        calls.append((req.get_method(), req.full_url))
        if "%2Fversions%2Flatest" in req.full_url:  # must never happen
            raise AssertionError("over-encoded fixed path segment")
        if "/config/" in req.full_url:
            return FakeResp({"compatibility": "FULL",
                             "compatibilityLevel": "FULL"})
        if "/compatibility/" in req.full_url:
            return FakeResp({"is_compatible": True})
        if "/versions/latest" in req.full_url:
            return FakeResp({"id": 1, "schema": SCHEMA, "version": 1})
        return FakeResp({"id": 1})

    reg = HttpSchemaRegistry("http://sr:8081", opener=opener)
    nasty = "a/b c?x=1%"
    enc = "a%2Fb%20c%3Fx%3D1%25"
    assert reg.register(nasty, SCHEMA) == 1
    reg.latest(nasty)
    reg.set_compatibility("FULL", nasty)
    reg.get_compatibility(nasty)
    reg.test_compatibility(nasty, SCHEMA)
    assert [u for _, u in calls] == [
        f"http://sr:8081/subjects/{enc}/versions",
        f"http://sr:8081/subjects/{enc}/versions/latest",
        f"http://sr:8081/config/{enc}",
        f"http://sr:8081/config/{enc}?defaultToGlobal=true",
        f"http://sr:8081/compatibility/subjects/{enc}/versions/latest",
    ]


def test_http_registry_timeout_and_error_body():
    """ADVICE r4: requests carry a bounded timeout (a hung registry must
    not block the driver forever) and HTTP error bodies (the registry's
    error_code + message JSON) surface in the raised exception."""
    import urllib.error

    seen = {}

    class FakeResp:
        def __init__(self, body): self._b = json.dumps(body).encode()
        def read(self): return self._b
        def __enter__(self): return self
        def __exit__(self, *a): return False

    def opener(req, timeout=None):
        seen["timeout"] = timeout
        return FakeResp({"id": 1})

    reg = HttpSchemaRegistry("http://sr:8081", opener=opener, timeout=3.5)
    assert reg.register("t-value", SCHEMA) == 1
    assert seen["timeout"] == 3.5

    def failing_opener(req, timeout=None):
        raise urllib.error.HTTPError(
            req.full_url, 409, "Conflict", hdrs=None,
            fp=__import__("io").BytesIO(
                b'{"error_code": 409, "message": "incompatible schema"}'
            ),
        )

    reg2 = HttpSchemaRegistry("http://sr:8081", opener=failing_opener)
    with pytest.raises(RuntimeError, match="HTTP 409.*incompatible schema"):
        reg2.register("t-value", SCHEMA)


def test_spark_wire_roundtrip_and_header_is_jvm_side(spark):
    reg = InMemorySchemaRegistry()
    df = spark.range(200).selectExpr(
        "concat('u', id % 7) AS user", "id AS n", "id AS event_id"
    )
    wired = to_avro_wire_df(df, SCHEMA, topic_subject("clicks"), reg)
    # every payload leads with the registered header
    sid = reg.latest("clicks-value")[0]
    heads = {bytes(r["value"])[:5] for r in wired.select("value").limit(20).collect()}
    assert heads == {wire_header(sid)}
    back = from_avro_wire_df(wired, "clicks-value", reg)
    got = {r["event_id"]: (r["user"], r["n"]) for r in back.collect()}
    assert got == {i: (f"u{i % 7}", i) for i in range(200)}


def test_spark_wire_dead_letter_split_and_tombstones(spark):
    reg = InMemorySchemaRegistry()
    reg.register("clicks-value", SCHEMA)
    sid = reg.latest("clicks-value")[0]
    from kafka_streams_demo_spark.sources.avro import encode_record, parse_record_schema

    fields = parse_record_schema(SCHEMA)
    good = wire_encode(sid, encode_record(fields, {"user": "a", "n": 1}))
    foreign = wire_encode(sid + 99, encode_record(fields, {"user": "b", "n": 2}))
    garbage = b"\x7fnot-wire"
    df = spark.createDataFrame(
        [(1, good), (2, foreign), (3, garbage), (4, None)],
        "k long, value binary",
    )
    decoded, rejects = from_avro_wire_df(
        df, "clicks-value", reg, dead_letter=True
    )
    ok = {r["k"]: (r["user"], r["n"]) for r in decoded.collect()}
    assert ok == {1: ("a", 1), 4: (None, None)}  # tombstone -> null fields
    assert sorted(r["k"] for r in rejects.collect()) == [2, 3]


def test_wire_serde_works_in_structured_streaming(spark, tmp_path):
    """The wire serde must compose with readStream (its production home):
    encode a batch to parquet, stream it, decode against the registry,
    aggregate — all inside one availableNow run."""
    from kafka_streams_demo_spark.streaming.lifecycle import run_available_now

    reg = InMemorySchemaRegistry()
    src = spark.range(60).selectExpr("concat('u', id % 4) AS user", "id AS n")
    wired = to_avro_wire_df(src, SCHEMA, "clicks-value", reg)
    p = tmp_path / "wire"
    wired.select("value").write.parquet(str(p))

    stream = spark.readStream.schema("value binary").parquet(str(p))
    decoded = from_avro_wire_df(stream, "clicks-value", reg)
    agg = decoded.groupBy("user").agg(F.sum("n").alias("total"))
    got = {r["user"]: r["total"] for r in
           run_available_now(agg, output_mode="update").collect()}
    assert got == {f"u{k}": sum(i for i in range(60) if i % 4 == k) for k in range(4)}


def test_wire_decode_all_versions_mixed_payloads(spark):
    """The registry evolution story: one topic carrying v1 AND v2 payloads
    decodes under the latest reader — v1 rows null-fill the added field —
    while unknown ids still dead-letter."""
    from kafka_streams_demo_spark.sources.avro import encode_record, parse_record_schema

    reg = InMemorySchemaRegistry()
    id1 = reg.register("clicks-value", SCHEMA)
    id2 = reg.register("clicks-value", SCHEMA_V2)
    f1, f2 = parse_record_schema(SCHEMA), parse_record_schema(SCHEMA_V2)
    rows = [
        (1, wire_encode(id1, encode_record(f1, {"user": "a", "n": 1}))),
        (2, wire_encode(id2, encode_record(f2, {"user": "b", "n": 2, "note": "x"}))),
        (3, wire_encode(id2 + 99, b"\x02zz")),  # unknown id
        (4, None),                              # tombstone
    ]
    df = spark.createDataFrame(rows, "rid long, value binary")
    decoded, rejects = from_avro_wire_df(
        df, "clicks-value", reg, all_versions=True, dead_letter=True
    )
    got = {r["rid"]: (r["user"], r["n"], r["note"]) for r in decoded.collect()}
    assert got == {1: ("a", 1, None), 2: ("b", 2, "x"), 4: (None, None, None)}
    assert [r["rid"] for r in rejects.collect()] == [3]


def test_wire_all_versions_refuses_incompatible_lineage(spark):
    import pytest as _pytest

    # a NONE-level registry legally accumulates an incompatible lineage
    # (Confluent allows it when compatibility checking is off) — the
    # DECODER must still refuse to resolve it
    reg = InMemorySchemaRegistry(compatibility="NONE")
    reg.register("t-value", SCHEMA)
    reg.register("t-value", json.dumps({
        "type": "record", "name": "Click", "fields": [
            {"name": "user", "type": "long"},  # type flip vs v1
        ],
    }))
    df = spark.createDataFrame([(1, None)], "rid long, value binary")
    with _pytest.raises(ValueError, match="writer type|not nullable"):
        from_avro_wire_df(df, "t-value", reg, all_versions=True)


def _schema(*fields):
    return json.dumps({
        "type": "record", "name": "Click",
        "fields": [
            {"name": n, "type": t} for n, t in fields
        ],
    })


def test_compatibility_pair_semantics():
    """Public Confluent compatibility types over the Avro resolution rule:
    BACKWARD = new reads old, FORWARD = old reads new, FULL = both."""
    from kafka_streams_demo_spark.sources.schema_registry import (
        check_compatibility,
    )

    v1 = _schema(("a", "string"))
    add_nullable = _schema(("a", "string"), ("b", ["null", "string"]))
    add_required = _schema(("a", "string"), ("b", "string"))
    drop_required = _schema(("b", ["null", "string"]))
    type_flip = _schema(("a", "long"))

    # BACKWARD: new reader must read v1 writers
    assert check_compatibility(add_nullable, [v1], "BACKWARD")
    assert check_compatibility(drop_required, [v1], "BACKWARD")  # a dropped
    assert not check_compatibility(add_required, [v1], "BACKWARD")
    assert not check_compatibility(type_flip, [v1], "BACKWARD")
    # FORWARD: v1 readers must read the new writer
    assert check_compatibility(add_required, [v1], "FORWARD")  # b dropped
    assert not check_compatibility(drop_required, [v1], "FORWARD")  # a gone
    # FULL: both directions
    assert check_compatibility(add_nullable, [v1], "FULL")
    assert not check_compatibility(add_required, [v1], "FULL")
    # NONE: anything goes
    assert check_compatibility(type_flip, [v1], "NONE")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown compatibility"):
        check_compatibility(v1, [v1], "SIDEWAYS")


def test_compatibility_transitive_checks_whole_lineage():
    """_TRANSITIVE levels check every prior version, not just latest: a
    lineage built under NONE can hold a v2 incompatible with v1; a v3
    readable against v2 but not v1 passes BACKWARD yet fails
    BACKWARD_TRANSITIVE."""
    from kafka_streams_demo_spark.sources.schema_registry import (
        check_compatibility,
    )

    v1 = _schema(("a", "string"))
    v2 = _schema(("a", "string"), ("b", "string"))       # b required
    v3 = _schema(("a", "string"), ("b", "string"),
                 ("c", ["null", "string"]))
    assert check_compatibility(v3, [v1, v2], "BACKWARD")
    assert not check_compatibility(v3, [v1, v2], "BACKWARD_TRANSITIVE")


def test_compatibility_property_random_lineages():
    """Property over random schema lineages (reusing the avro resolution
    strategy): FULL == BACKWARD ∧ FORWARD; every level against the
    independently-computed spec subset rule; _TRANSITIVE == conjunction
    over all priors; NONE always accepts."""
    try:
        from hypothesis import given, settings
        from hypothesis import strategies as st
    except ImportError:
        return

    from kafka_streams_demo_spark.sources.schema_registry import (
        check_compatibility,
    )

    types = ["long", "string", "double", "boolean"]
    field_st = st.lists(
        st.tuples(st.sampled_from("abcdefgh"), st.sampled_from(types),
                  st.booleans()),
        min_size=1, max_size=5, unique_by=lambda f: f[0],
    )

    def mk(fields):
        return json.dumps({"type": "record", "name": "r", "fields": [
            {"name": n, "type": ["null", t] if nullable else t}
            for n, t, nullable in fields
        ]})

    def reads(writer, reader):
        """The spec subset rule, computed independently of the impl."""
        w = {n: (t, nullable) for n, t, nullable in writer}
        return all(
            (n in w and w[n][0] == t and not (w[n][1] and not nullable))
            or (n not in w and nullable)
            for n, t, nullable in reader
        )

    @settings(max_examples=120, deadline=None)
    @given(field_st, field_st, field_st)
    def prop(v1, v2, new):
        priors = [mk(v1), mk(v2)]
        nj = mk(new)
        b = check_compatibility(nj, priors, "BACKWARD")
        f = check_compatibility(nj, priors, "FORWARD")
        assert b == reads(v2, new)           # latest-only, writer=old
        assert f == reads(new, v2)           # latest-only, reader=old
        assert check_compatibility(nj, priors, "FULL") == (b and f)
        assert check_compatibility(nj, priors, "BACKWARD_TRANSITIVE") == (
            reads(v1, new) and reads(v2, new)
        )
        assert check_compatibility(nj, priors, "FULL_TRANSITIVE") == all(
            reads(old, new) and reads(new, old) for old in (v1, v2)
        )
        assert check_compatibility(nj, priors, "NONE")
        assert check_compatibility(nj, [], "FULL")  # empty lineage accepts

    prop()


def test_in_memory_registry_enforces_compatibility_on_register():
    """register() gates NEW versions on the subject's effective level
    (default BACKWARD, per-subject override); test_compatibility never
    mutates; failed registers leave the lineage untouched."""
    reg = InMemorySchemaRegistry()  # Confluent default: BACKWARD
    assert reg.get_compatibility() == "BACKWARD"
    id1 = reg.register("clicks-value", SCHEMA)
    assert reg.test_compatibility("clicks-value", SCHEMA_V2) is True
    id2 = reg.register("clicks-value", SCHEMA_V2)  # adds nullable: ok

    type_flip = _schema(("user", "long"), ("n", "long"))
    assert reg.test_compatibility("clicks-value", type_flip) is False
    with pytest.raises(ValueError, match="incompatible.*BACKWARD"):
        reg.register("clicks-value", type_flip)
    assert reg.versions("clicks-value") == [id1, id2]  # lineage untouched
    # re-registering an EXISTING version is never gated
    assert reg.register("clicks-value", SCHEMA) == id1

    # per-subject override: NONE lets the flip through on that subject only
    reg.set_compatibility("NONE", subject="wild-value")
    reg.register("wild-value", SCHEMA)
    reg.register("wild-value", type_flip)  # no raise
    assert reg.get_compatibility("wild-value") == "NONE"
    assert reg.get_compatibility("clicks-value") == "BACKWARD"
    with pytest.raises(ValueError, match="unknown compatibility"):
        reg.set_compatibility("SIDEWAYS")


def test_http_registry_pins_compatibility_rest_contract():
    """PUT/GET /config[/subject] + POST /compatibility/... — the requests
    a real pipeline issues on schema evolution, pinned against a fake."""
    calls = []

    class FakeResp:
        def __init__(self, body): self._b = json.dumps(body).encode()
        def read(self): return self._b
        def __enter__(self): return self
        def __exit__(self, *a): return False

    def opener(req, timeout=None):
        calls.append((req.get_method(), req.full_url, req.data))
        if "/compatibility/" in req.full_url:
            return FakeResp({"is_compatible": True})
        if req.get_method() == "PUT":
            return FakeResp({"compatibility": "FULL"})
        return FakeResp({"compatibilityLevel": "FULL"})

    reg = HttpSchemaRegistry("http://sr:8081", opener=opener)
    assert reg.set_compatibility("FULL") == "FULL"
    assert reg.set_compatibility("FULL", subject="clicks-value") == "FULL"
    assert reg.get_compatibility() == "FULL"
    assert reg.get_compatibility("clicks-value") == "FULL"
    assert reg.test_compatibility("clicks-value", SCHEMA) is True

    assert calls[0][:2] == ("PUT", "http://sr:8081/config")
    assert json.loads(calls[0][2].decode()) == {"compatibility": "FULL"}
    assert calls[1][:2] == ("PUT", "http://sr:8081/config/clicks-value")
    assert calls[2][:2] == ("GET", "http://sr:8081/config")
    assert calls[3][:2] == (
        "GET", "http://sr:8081/config/clicks-value?defaultToGlobal=true"
    )
    assert calls[4][:2] == (
        "POST",
        "http://sr:8081/compatibility/subjects/clicks-value/versions/latest",
    )
    assert json.loads(calls[4][2].decode()) == {"schema": SCHEMA}
    with pytest.raises(ValueError, match="unknown compatibility"):
        reg.set_compatibility("SIDEWAYS")

"""Windowed aggregation parity (SURVEY §2e) on fixture #6 timestamps
(4-minute spacing from 2024-01-01T00:00, offsets 0..9)."""

import datetime as dt

from pyspark.sql import functions as F

from kafka_streams_demo_spark import KStream
from kafka_streams_demo_spark.operators.grouped import windowed_key_string
from kafka_streams_demo_spark.operators.windows import SessionWindows, TimeWindows
from kafka_streams_demo_spark.sources import fixtures

T0 = dt.datetime(2024, 1, 1)


def test_tumbling_window_count(spark):
    """DSLStatefulTransformation.scala:79-81: 5-min tumbling count.
    Records at minutes 0,4,8,...,36; window [0,5) holds offsets 0,1;
    [5,10) holds offset 2; etc."""
    s = KStream(fixtures.stateful_input(spark))
    out = s.group_by_key().windowed_by(TimeWindows.of("5 minutes", "3 minutes")).count()
    rows = {(r["key"], r["window_start"]): r["value"] for r in out.collect()}
    # total records preserved
    assert sum(rows.values()) == 10
    # offsets 0 (key "1", t=0min) and 1 (key "2", t=4min) both in window [0,5)
    assert rows[("1", T0)] == 1
    assert rows[("2", T0)] == 1
    # every count is 1 except none share (key, 5-min window) — check all 1s
    assert all(v == 1 for v in rows.values())


def test_tumbling_window_multiple_per_window(spark):
    """Coarser window so keys repeat within one window: 15-min windows over
    4-min-spaced records → window [0,15) holds offsets 0,1,2,3."""
    s = KStream(fixtures.stateful_input(spark))
    out = s.group_by_key().windowed_by(TimeWindows.of("15 minutes")).count()
    rows = {(r["key"], r["window_start"]): r["value"] for r in out.collect()}
    assert rows[("1", T0)] == 2  # offsets 0 (v=1) and 3 (v=4) both key "1"
    assert sum(rows.values()) == 10


def test_hopping_window(spark):
    """TimeWindows.advanceBy equivalent (not exercised by reference —
    SURVEY §2e marks it as an extension): 10-min window, 5-min hop →
    every record lands in exactly 2 windows."""
    s = KStream(fixtures.stateful_input(spark))
    out = s.group_by_key().windowed_by(TimeWindows.of("10 minutes").advance("5 minutes")).count()
    assert sum(r["value"] for r in out.collect()) == 20


def test_session_window_count(spark):
    """DSLStatefulTransformation.scala:84-86: session window, 5-s gap.
    4-min spacing ≫ 5-s gap → every record is its own session."""
    s = KStream(fixtures.stateful_input(spark))
    out = s.group_by_key().windowed_by(SessionWindows.with_gap("5 seconds")).count()
    rows = out.collect()
    assert len(rows) == 10 and all(r["value"] == 1 for r in rows)


def test_session_window_merging(spark):
    """Sessions actually merge when records are within the gap: 10-min gap
    merges each key's 12-min-spaced records into one session per key...
    except key '1' whose 4 records span 36 min of 12-min steps — still one
    session (each consecutive pair is 12 min apart ≤ gap? no: 12 > 10).
    Use 15-min gap → one session per key."""
    s = KStream(fixtures.stateful_input(spark))
    out = s.group_by_key().windowed_by(SessionWindows.with_gap("15 minutes")).count()
    rows = {r["key"]: r["value"] for r in out.collect()}
    assert rows == {"0": 3, "1": 4, "2": 3}  # one merged session per key


def test_windowed_key_rendering(spark):
    """DSLStatefulTransformation.scala:117-123: key@[start : end] format."""
    s = KStream(fixtures.stateful_input(spark))
    out = windowed_key_string(
        s.group_by_key().windowed_by(TimeWindows.of("5 minutes")).count()
    )
    one = out.filter(F.col("key").startswith("1@[")).first()
    assert one is not None
    assert " : " in one["key"] and one["key"].endswith("]")


def test_sliding_windows_record_anchored_counts(spark):
    """SlidingWindows: each record sees the trailing-window count per key;
    identical timestamps dedupe to one result row; windows are anchored at
    record times, not a grid."""
    import datetime as dt

    from pyspark.sql import functions as F

    from kafka_streams_demo_spark import KStream
    from kafka_streams_demo_spark.operators.windows import SlidingWindows, interval_ms

    assert interval_ms("2 hours") == 7_200_000
    assert interval_ms("30 seconds") == 30_000
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unit"):
        interval_ms("3 fortnights")

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [("a", 0), ("a", 30), ("a", 61), ("a", 61), ("b", 0)]
    df = spark.createDataFrame(
        [(k, "x", t0 + dt.timedelta(seconds=s)) for k, s in rows],
        "key string, value string, timestamp timestamp",
    )
    out = (
        KStream(df).group_by_key()
        .windowed_by(SlidingWindows.with_size("60 seconds"))
        .count()
    )
    got = {(r["key"], r["window_end"].second): r["value"] for r in out.collect()}
    # a@0s sees 1; a@30s sees 2; a@61s sees 3 (both 61s dups + 30s; 0s
    # fell out of the 60s window... 61-60=1 > 0 so 0s excluded); one row
    # for the duplicated timestamp
    assert got[("a", 0)] == 1
    assert got[("a", 30)] == 2
    assert got[("a", 1)] == 3
    assert got[("b", 0)] == 1
    assert len(got) == 4


def test_sliding_windows_bucketed_identical_to_global(spark):
    """Boundary-context replication must be bit-identical to the per-key
    global frame — including records whose window crosses a bucket edge —
    while partitioning by (key, bucket) for hot-key parallelism."""
    import datetime as dt
    import random

    from kafka_streams_demo_spark import KStream
    from kafka_streams_demo_spark.operators.windows import SlidingWindows

    rng = random.Random(11)
    t0 = dt.datetime(2024, 1, 1)
    # cluster timestamps around bucket boundaries (60s buckets, 30s window)
    secs = sorted(rng.choice([b * 60 + d for b in range(5) for d in
                              (-2, -1, 0, 1, 2, 15, 29, 30, 31, 58, 59)])
                  for _ in range(120))
    df = spark.createDataFrame(
        [(f"k{i % 2}", "x", t0 + dt.timedelta(seconds=max(0, s)))
         for i, s in enumerate(secs)],
        "key string, value string, timestamp timestamp",
    )
    base = SlidingWindows.with_size("30 seconds")
    plain = {(r["key"], r["window_end"], r["value"]) for r in
             KStream(df).group_by_key().windowed_by(base).count().collect()}
    bucketed = {(r["key"], r["window_end"], r["value"]) for r in
                KStream(df).group_by_key()
                .windowed_by(base.bucketed_by("60 seconds")).count().collect()}
    assert plain == bucketed

    import pytest as _pytest
    with _pytest.raises(ValueError, match="bucket"):
        base.bucketed_by("10 seconds")


def test_sliding_windows_full_set_matches_kafka_model(spark):
    """with_expiry_windows(): the KIP-450 window set. Records A@0s, B@5s,
    size 10s → three windows: [A-10,A]={A}, [B-10,B]={A,B}, and the
    expiry-opened [A+1ms, A+10s+1ms]={B}; B's expiry window is empty and
    must NOT be emitted. C@30s is isolated: only its trailing window."""
    import datetime as dt

    from pyspark.sql import functions as F

    from kafka_streams_demo_spark import KStream
    from kafka_streams_demo_spark.operators.windows import SlidingWindows

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [("u", "A", t0), ("u", "B", t0 + dt.timedelta(seconds=5)),
         ("u", "C", t0 + dt.timedelta(seconds=30))],
        "key string, value string, timestamp timestamp",
    )
    w = SlidingWindows.with_size("10 seconds").with_expiry_windows()
    out = KStream(df).group_by_key().windowed_by(w).count().select(
        "key", F.unix_millis("window_start").alias("s"),
        F.unix_millis("window_end").alias("e"), "value",
    )
    ms0 = int(t0.timestamp() * 1000)
    got = {(r["s"] - ms0, r["e"] - ms0): r["value"] for r in out.collect()}
    # B's expiry window (5.001s, 15.001s] and C's are EMPTY → not emitted
    assert got == {
        (-10_000, 0): 1,          # A's trailing window {A}
        (-5_000, 5_000): 2,       # B's trailing window {A, B}
        (1, 10_001): 1,           # A's expiry window {B}
        (20_000, 30_000): 1,      # C's trailing window {C}
    }


def test_sliding_windows_full_bucketed_identical_to_global(spark):
    """Full window set under (key, bucket) partitioning with head+tail
    context replication == the global formulation, on boundary-clustered
    timestamps."""
    import datetime as dt
    import random

    from pyspark.sql import functions as F

    from kafka_streams_demo_spark import KStream
    from kafka_streams_demo_spark.operators.windows import SlidingWindows

    rng = random.Random(23)
    t0 = dt.datetime(2024, 1, 1)
    secs = sorted(rng.choice([b * 60 + d for b in range(5) for d in
                              (-2, -1, 0, 1, 2, 15, 29, 30, 31, 58, 59)])
                  for _ in range(120))
    df = spark.createDataFrame(
        [(f"k{i % 2}", "x", t0 + dt.timedelta(seconds=max(0, s)))
         for i, s in enumerate(secs)],
        "key string, value string, timestamp timestamp",
    )
    base = SlidingWindows.with_size("30 seconds").with_expiry_windows()

    def run(win):
        return {(r["key"], r["s"], r["e"], r["value"]) for r in
                KStream(df).group_by_key().windowed_by(win).count().select(
                    "key", F.unix_millis("window_start").alias("s"),
                    F.unix_millis("window_end").alias("e"), "value",
                ).collect()}

    plain, bucketed = run(base), run(base.bucketed_by("60 seconds"))
    assert plain == bucketed
    # the full set strictly extends the record-anchored set
    record_only = run(SlidingWindows.with_size("30 seconds"))
    assert record_only < plain


def test_sliding_full_rejects_bucket_equal_to_size(spark):
    """Review r5: a leading frame spans size+1 ms, so at bucket == size an
    anchor at a bucket's last ms reaches exactly into the bucket AFTER
    next — one-deep head replication can't deliver it and the bucketed
    window set would diverge (phantom undercounted window). Both builder
    orders and the execution path must reject equality; bucket = size+1s
    with the adversarial reach-two-buckets timestamp pattern must equal
    the global formulation."""
    import datetime as dt

    import pytest as _pytest
    from pyspark.sql import functions as F

    from kafka_streams_demo_spark import KStream
    from kafka_streams_demo_spark.operators.windows import SlidingWindows

    with _pytest.raises(ValueError, match="strictly greater"):
        SlidingWindows.with_size("10 seconds").with_expiry_windows() \
            .bucketed_by("10 seconds")
    with _pytest.raises(ValueError, match="strictly greater"):
        SlidingWindows.with_size("10 seconds").bucketed_by("10 seconds") \
            .with_expiry_windows()

    # the reviewer's divergence shape: A at a bucket's last ms, matches in
    # the two following buckets — legal again at bucket = size + 1s
    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("u", "A", t0 + dt.timedelta(milliseconds=9999)),
         ("u", "Y", t0 + dt.timedelta(milliseconds=15000)),
         ("u", "X", t0 + dt.timedelta(milliseconds=20000)),
         ("u", "Z", t0 + dt.timedelta(milliseconds=31000))],
        "key string, value string, timestamp timestamp",
    )
    base = SlidingWindows.with_size("10 seconds").with_expiry_windows()

    def run(win):
        return {(r["key"], r["s"], r["e"], r["value"]) for r in
                KStream(df).group_by_key().windowed_by(win).count().select(
                    "key", F.unix_millis("window_start").alias("s"),
                    F.unix_millis("window_end").alias("e"), "value",
                ).collect()}

    assert run(base) == run(base.bucketed_by("11 seconds"))


def test_sliding_windows_direct_construction_validates():
    """The bucket checks live in the descriptor itself: a directly
    constructed SlidingWindows with bucket < size would silently drop rows
    from windows spanning two bucket boundaries, so it must not build."""
    import pytest as _pytest

    from kafka_streams_demo_spark.operators.windows import SlidingWindows

    with _pytest.raises(ValueError, match="must be >= window size"):
        SlidingWindows("30 seconds", "10 seconds")
    with _pytest.raises(ValueError, match="strictly greater"):
        SlidingWindows("10 seconds", "10 seconds", full=True)
    assert SlidingWindows("10 seconds", "10 seconds").bucket == "10 seconds"

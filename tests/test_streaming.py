"""Streaming-mode parity: the same operator layer driven through
Structured Streaming with trigger(availableNow) — PySpark's
TopologyTestDriver equivalent (SURVEY §3 EP3).
"""

import functools
import os
import time
import uuid

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_demo_spark import KStream
from kafka_streams_demo_spark.operators.windows import JoinWindows, TimeWindows
from kafka_streams_demo_spark.sources import fixtures
from kafka_streams_demo_spark.streaming.lifecycle import (
    CollectingListener,
    clean_up,
    idempotent_parquet_sink,
    materialize_ktable,
    read_committed,
    run_available_now,
    run_foreach_batch,
    run_punctuated_until_settled,
)
from kafka_streams_demo_spark.streaming.processor import running_count_processor


def _as_stream(spark, df, tmp_path, name):
    """Batch fixture → file-source stream with identical schema."""
    path = str(tmp_path / f"{name}_{uuid.uuid4().hex[:6]}")
    df.write.parquet(path)
    return spark.readStream.schema(df.schema).parquet(path)


def _batch_dirs(base_dir):
    """The ``batch_id=N`` directory names under ``base_dir`` (none when
    it does not exist yet)."""
    if not os.path.isdir(base_dir):
        return []
    return [d for d in os.listdir(base_dir) if d.startswith("batch_id=")]


def _newest_version(root, below=None):
    """Newest ``v<batch_id>`` version under ``root`` (below ``below``
    when given), or None."""
    vs = [int(d[1:]) for d in os.listdir(root) if d.startswith("v")]
    return max((v for v in vs if below is None or v < below), default=None)


def _read_committed_or_empty(spark, base_dir, empty_schema):
    """``read_committed``, or an empty frame before the first batch lands."""
    if _batch_dirs(base_dir):
        return read_committed(spark, base_dir)
    return spark.createDataFrame([], empty_schema)


def _committed_files(root):
    """mtime of every file in a directory holding a ``_COMMITTED`` marker."""
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, files in os.walk(root) if "_COMMITTED" in files
        for f in files
    }


def replay(spark, tmp_path, schema, batches, ingest):
    """Drive ``ingest`` as the foreachBatch of an availableNow file stream
    that receives ``batches`` (row lists in ``schema``, or DataFrames) one
    parquet file at a time, all on one checkpoint; returns their union.

    The first batch is driven, then retried: its ``commits/N`` entry is
    deleted, so the next drive re-delivers batch id N — the failure after
    the sink write and before the checkpoint commit. The retry must run
    ``ingest`` for exactly that id and leave every directory the
    idempotent sink marked committed untouched. Each later batch is driven
    once. A second call with the same ``tmp_path`` resumes the same
    source and checkpoint."""
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    delivered = []

    def counted(df, batch_id):
        delivered.append(batch_id)
        ingest(df, batch_id)

    def drive():
        run_foreach_batch(
            spark.readStream.schema(schema).parquet(in_dir), counted,
            output_mode="append", checkpoint=ckpt, timeout_s=180,
        )

    dfs = [b if isinstance(b, DataFrame) else spark.createDataFrame(b, schema)
           for b in batches]
    for i, df in enumerate(dfs):
        df.coalesce(1).write.mode("append").parquet(in_dir)
        drive()
        if i == 0:
            n = max(int(f) for f in os.listdir(f"{ckpt}/commits") if f.isdigit())
            for f in (str(n), f".{n}.crc"):
                os.remove(f"{ckpt}/commits/{f}")
            committed = _committed_files(str(tmp_path))
            delivered.clear()
            drive()
            assert delivered == [n], f"retry delivered {delivered}, not [{n}]"
            assert _committed_files(str(tmp_path)) == committed, \
                "the retried batch rewrote a committed directory"
    return functools.reduce(DataFrame.unionByName, dfs)


def test_streaming_word_count_update_mode(spark, tmp_path):
    """WordCount through a real streaming query (update output mode) —
    golden histogram (WordCountScalaExample.scala:82-92)."""
    lines = _as_stream(spark, fixtures.text_lines(spark), tmp_path, "lines")
    counts = (
        KStream(lines)
        .flat_map_values(lambda v: F.split(F.lower(v), r"\W+"))
        .group_by(lambda k, v: v)
        .count()
        .to_df()
    )
    out = run_available_now(counts, output_mode="update")
    got = {r["key"]: r["value"] for r in out.collect()}
    assert got == fixtures.EXPECTED_WORD_COUNTS


def test_streaming_tumbling_window_append_with_watermark(spark, tmp_path):
    """Windowed count with grace: watermark bounds lateness; append mode
    emits finalized windows (DSLStatefulTransformation.scala:79-81)."""
    src = _as_stream(spark, fixtures.stateful_input(spark), tmp_path, "stateful")
    out_df = (
        KStream(src)
        .with_watermark("3 minutes")
        .group_by_key()
        .windowed_by(TimeWindows.of("15 minutes", "3 minutes"))
        .count()
    )
    out = run_available_now(out_df, output_mode="append")
    rows = {(r["key"], r["window_start"]): r["value"] for r in out.collect()}
    # Append emits only watermark-finalized windows: max event time is 36 min,
    # watermark 33 min → [0,15) and [15,30) flush (8 records); [30,45) stays
    # open — the same expiry behavior as Kafka Streams' grace period.
    assert sum(rows.values()) == 8
    import datetime as dt

    assert rows[("1", dt.datetime(2024, 1, 1))] == 2
    assert not any(ws >= dt.datetime(2024, 1, 1, 0, 30) for _, ws in rows)


def test_streaming_stream_stream_join(spark, tmp_path):
    """Windowed stream-stream inner join as a streaming query with
    watermarks on both sides (StreamToStreamJoinExample.scala:92)."""
    s1 = KStream(_as_stream(spark, fixtures.join_input(spark, 1), tmp_path, "j1")).with_watermark("1 minute")
    s2 = KStream(_as_stream(spark, fixtures.join_input(spark, 2), tmp_path, "j2")).with_watermark("1 minute")
    joined = s1.join(s2, lambda v1, v2: v1 + v2, JoinWindows.of("1 second"))
    out = run_available_now(joined.to_df().select("key", "value"), output_mode="append")
    got = sorted((r["key"], r["value"]) for r in out.collect())
    assert got == [("a", 4), ("b", 2)]


def test_streaming_processor_with_state(spark, tmp_path):
    """Processor API parity (WordCountProcessorExample.scala:23-61): per-key
    state store counts via applyInPandasWithState — golden
    {kafka:5, streams:3, hello:2}."""
    src = _as_stream(spark, fixtures.wc_processor_input(spark), tmp_path, "wc")
    words = KStream(src).flat_map_values(lambda v: F.split(F.lower(v), r"\s")).select_key(lambda k, v: v)
    out_df = running_count_processor(words.to_df().select("key", "value"))
    out = run_available_now(out_df, output_mode="update")
    got = {r["key"]: r["value"] for r in out.collect()}
    assert got == fixtures.EXPECTED_PROCESSOR_COUNTS


def test_materialize_ktable_snapshot(spark, tmp_path):
    """Streaming KTable materialization via foreachBatch merge: the
    user_regions changelog resolves alice asia→europe in the snapshot.
    A NULL value deletes its key like the batch ``KTable`` does, and a
    later batch re-inserts it: x then NULL in batch 0, y in batch 1."""
    src = _as_stream(spark, fixtures.user_regions(spark), tmp_path, "regions")
    snap_dir = str(tmp_path / "snap")
    os.makedirs(snap_dir, exist_ok=True)
    snapshot = materialize_ktable(src, snap_dir)
    got = {r["key"]: r["value"] for r in snapshot.select("key", "value").collect()}
    assert got["alice"] == "europe"
    assert len(got) == 6

    import pyarrow as pa
    import pyarrow.parquet as pq

    log_dir = tmp_path / "changelog"
    log_dir.mkdir()
    for i, rows in enumerate([[("a", "x", 0), ("a", None, 1)], [("a", "y", 2)]]):
        k, v, o = zip(*rows)
        f = log_dir / f"b{i}.parquet"
        pq.write_table(pa.table({"key": k, "value": pa.array(v, pa.string()), "offset": o}), f)
        os.utime(f, (1_000_000 + i, 1_000_000 + i))  # file source orders by mtime
    changelog = (
        spark.readStream.schema("key string, value string, offset long")
        .option("maxFilesPerTrigger", 1).parquet(str(log_dir))
    )
    log_snap = str(tmp_path / "log_snap")
    final = materialize_ktable(changelog, log_snap)
    assert spark.read.parquet(f"{log_snap}/v0").count() == 0
    assert [tuple(r) for r in final.select("key", "value").collect()] == [("a", "y")]


@pytest.mark.parametrize("drive", ["available_now", "foreach_batch", "punctuated"])
def test_drive_past_timeout_stops_query_and_raises(spark, tmp_path, drive):
    """A drive that outlives its timeout (or deadline) must stop its
    query and raise TimeoutError naming the query and the timeout —
    never hand back a truncated result with the query still running."""
    src = _as_stream(spark, fixtures.kv_string_stream(spark), tmp_path, "kv")
    before = {q.id for q in spark.streams.active}
    with pytest.raises(TimeoutError, match=r"streaming query \S+ did not .* 0\.001s"):
        if drive == "available_now":
            run_available_now(src, output_mode="append", timeout_s=0.001)
        elif drive == "foreach_batch":
            run_foreach_batch(src, lambda df, bid: None, output_mode="append",
                              timeout_s=0.001)
        else:
            run_punctuated_until_settled(src, output_mode="append",
                                         deadline_s=0.001)
    assert {q.id for q in spark.streams.active} <= before


def test_listener_and_cleanup(spark, tmp_path):
    """StreamingQueryListener parity + cleanUp (checkpoint reset). The
    listener keeps each progress event whole: a watermarked 10-minute
    windowed count over events at 00:01, 00:02, 00:12 and 00:25 runs a
    data batch (three open windows in state, the initial watermark),
    then the no-data batch that advances the watermark to 00:25 minus
    the 5-minute delay and evicts the two closed windows."""
    listener = CollectingListener()
    spark.streams.addListener(listener)
    try:
        events = spark.createDataFrame(
            [("a", 1, f"2026-01-01 00:{m:02d}:00") for m in (1, 2, 12, 25)],
            "key string, value long, ts string",
        ).select("key", "value", F.col("ts").cast("timestamp").alias("timestamp"))
        counts = (
            KStream(_as_stream(spark, events, tmp_path, "events"))
            .with_watermark("5 minutes")
            .group_by_key()
            .windowed_by(TimeWindows.of("10 minutes"))
            .count()
        )
        ckpt = str(tmp_path / "ckpt_listener")
        name = f"wm_{uuid.uuid4().hex[:8]}"
        out = run_available_now(counts, output_mode="append", name=name, checkpoint=ckpt)
        assert out.count() == 2
        deadline = time.time() + 30
        while time.time() < deadline and not listener.terminated:
            time.sleep(0.5)
        assert listener.started and listener.terminated
        assert os.path.isdir(ckpt)
        clean_up(ckpt)
        assert not os.path.isdir(ckpt)
    finally:
        spark.streams.removeListener(listener)
    progress = {p["batchId"]: p for p in listener.progress if p["name"] == name}
    assert sorted(progress) == [0, 1]
    data, no_data = progress[0], progress[1]
    assert data["numInputRows"] == 4 and no_data["numInputRows"] == 0
    assert data["durationMs"]["addBatch"] > 0
    assert data["stateOperators"][0]["numRowsTotal"] == 3
    assert data["eventTime"]["watermark"] == "1970-01-01T00:00:00.000Z"
    assert no_data["stateOperators"][0]["numRowsTotal"] == 1
    assert no_data["eventTime"]["watermark"] == "2026-01-01T00:20:00.000Z"


def test_streaming_session_window_append(spark, tmp_path):
    """Session windows in a real streaming query
    (DSLStatefulTransformation.scala:84-86): 5-min gap over the 4-min-spaced
    stateful fixture means every record is its own session; append emits
    only sessions whose end precedes the final watermark (33 min) — 8 of 10."""
    from kafka_streams_demo_spark.operators.windows import SessionWindows

    src = _as_stream(spark, fixtures.stateful_input(spark), tmp_path, "sess")
    out_df = (
        KStream(src)
        .with_watermark("3 minutes")
        .group_by_key()
        .windowed_by(SessionWindows.with_gap("5 minutes"))
        .count()
    )
    out = run_available_now(out_df, output_mode="append")
    rows = out.collect()
    assert len(rows) == 8
    assert all(r["value"] == 1 for r in rows)
    assert sum(1 for r in rows if r["key"] == "1") == 3


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: bounded-state streaming dedup — the
    user_regions changelog (7 records, alice twice) dedups to 6 keys, and
    the state for each key expires at the watermark instead of growing
    forever (the 100 TB-stream requirement)."""
    src = _as_stream(spark, fixtures.user_regions(spark), tmp_path, "dd")
    deduped = KStream(src).with_watermark("1 minute").dedup_within_watermark(["key"])
    out = run_available_now(deduped.to_df().select("key", "value"), output_mode="append")
    got = {r["key"]: r["value"] for r in out.collect()}
    assert len(got) == 6
    # one survivor per key; within a single micro-batch arrival order is not
    # offset order, so either alice record may win
    assert got["alice"] in ("asia", "europe")


def test_punctuated_processor_event_time_timer(spark, tmp_path):
    """Punctuator parity (WordCountProcessorExample.scala:31-36): a key with
    NO new input re-forwards its count when its event-time timer fires as
    the watermark advances across micro-batches."""
    import time as _time

    from kafka_streams_demo_spark.streaming.processor import punctuated_count_processor

    path = str(tmp_path / "punct_src")
    batch1 = spark.createDataFrame(
        [("a", "x", "2026-01-01 00:00:00"), ("a", "y", "2026-01-01 00:00:01"),
         ("b", "z", "2026-01-01 00:00:02")],
        "key string, value string, ts_s string",
    ).select("key", "value", F.col("ts_s").cast("timestamp").alias("ts"))
    batch1.coalesce(1).write.parquet(path)
    _time.sleep(1.2)  # file-source orders batches by modification time
    spark.createDataFrame(
        [("b", "w", "2026-01-01 00:10:00")], "key string, value string, ts_s string"
    ).select("key", "value", F.col("ts_s").cast("timestamp").alias("ts")).coalesce(
        1
    ).write.mode("append").parquet(path)

    src = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .withWatermark("ts", "0 seconds")
    )
    out_df = punctuated_count_processor(src, punctuate_interval_ms=1000)
    rows = run_available_now(out_df, output_mode="update").collect()
    emissions = [(r["key"], r["value"]) for r in rows]
    # batch 1 emits (a,2),(b,1); batch 2 emits (b,2) plus the PUNCTUATED
    # re-forward of a's unchanged count as its timer fires
    assert emissions.count(("a", 2)) >= 2, emissions
    assert ("b", 2) in emissions, emissions


def test_streaming_left_join_emits_unmatched_at_watermark(spark, tmp_path):
    """Windowed LEFT stream-stream join in streaming mode
    (StreamToStreamJoinExample.scala:93): the unmatched left row must emit
    with a null right side — but only once the watermark passes its join
    window (Kafka Streams' grace-expiry semantics; SURVEY §7 calls out this
    edge). A second micro-batch advances the watermark to force emission."""
    import time as _time

    left_dir = str(tmp_path / "ljl")
    right_dir = str(tmp_path / "ljr")
    mk = lambda rows: spark.createDataFrame(
        rows, "key string, value long, ts_s string"
    ).select(
        "key", "value", F.col("ts_s").cast("timestamp").alias("timestamp")
    )
    # batch 1: 'a' matches within 1s; 'lonely' has no right-side partner
    mk([("a", 1, "2026-01-01 00:00:00"), ("lonely", 7, "2026-01-01 00:00:00")]).coalesce(
        1
    ).write.parquet(left_dir)
    mk([("a", 3, "2026-01-01 00:00:00")]).coalesce(1).write.parquet(right_dir)
    _time.sleep(1.2)
    # batch 2: far-future rows on BOTH sides push the watermark past
    # lonely's window (they match each other so append mode can finish them)
    mk([("zz", 100, "2026-01-01 01:00:00")]).coalesce(1).write.mode("append").parquet(left_dir)
    mk([("zz", 200, "2026-01-01 01:00:00")]).coalesce(1).write.mode("append").parquet(right_dir)

    schema = "key string, value long, timestamp timestamp"
    ls = KStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(left_dir)
    ).with_watermark("0 seconds")
    rs = KStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(right_dir)
    ).with_watermark("0 seconds")
    joined = ls.left_join(
        rs, lambda v1, v2: v1 + F.coalesce(v2, F.lit(0)), JoinWindows.of("1 second")
    )
    out = run_available_now(joined.to_df().select("key", "value"), output_mode="append")
    got = sorted((r["key"], r["value"]) for r in out.collect())
    assert ("a", 4) in got, got
    assert ("lonely", 7) in got, got  # null right → combiner saw coalesce(null,0)


def test_streaming_count_with_rocksdb_state_store(spark, tmp_path):
    """The large-state path (SURVEY §4: RocksDB provider for 100 TB-scale
    keyed state) actually runs here: same count-by-key pipeline, state
    backed by RocksDB, identical results to the default provider."""
    from kafka_streams_demo_spark.sources.registry import read_stream_table

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = read_stream_table(spark, "events", "/root/testdata/sf0.001")
        q = (
            ev.groupBy("event_type").count()
            .writeStream.format("memory").queryName("rocks_counts")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {r["event_type"]: r["count"] for r in spark.table("rocks_counts").collect()}
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    from kafka_streams_demo_spark.sources.registry import load_table

    expect = {
        r["event_type"]: r["count"]
        for r in load_table(spark, "events", "/root/testdata/sf0.001")
        .groupBy("event_type").count().collect()
    }
    assert got == expect and got


def test_streaming_table_table_join_via_foreachbatch_snapshots(spark, tmp_path):
    """§2f streaming mode for table-table joins (TableToTableJoinExample
    parity): both changelogs are materialized as latest-per-key snapshots
    per micro-batch; joining the final snapshots equals the batch KTable
    join — including an update overriding an earlier value."""
    import pyspark.sql.functions as F2

    left_rows = [("a", 1, 0), ("b", 2, 1), ("a", 10, 2)]   # a updates 1 -> 10
    right_rows = [("a", 100, 0), ("c", 300, 1), ("a", 111, 2)]  # a: 100 -> 111
    ldir, rdir = tmp_path / "left", tmp_path / "right"
    for rows, d in ((left_rows, ldir), (right_rows, rdir)):
        spark.createDataFrame(rows, "key string, value long, offset long") \
            .write.parquet(str(d / "data"))

    lsnap = materialize_ktable(
        spark.readStream.schema("key string, value long, offset long").parquet(str(ldir / "data")),
        str(ldir / "snap"), checkpoint=str(ldir / "ckpt"),
    )
    rsnap = materialize_ktable(
        spark.readStream.schema("key string, value long, offset long").parquet(str(rdir / "data")),
        str(rdir / "snap"), checkpoint=str(rdir / "ckpt"),
    )
    joined = {
        r["key"]: (r["lv"], r["rv"])
        for r in lsnap.select("key", F2.col("value").alias("lv"))
        .join(rsnap.select("key", F2.col("value").alias("rv")), "key")
        .collect()
    }
    assert joined == {"a": (10, 111)}  # inner join; both sides latest value
    outer = {
        r["key"]: (r["lv"], r["rv"])
        for r in lsnap.select("key", F2.col("value").alias("lv"))
        .join(rsnap.select("key", F2.col("value").alias("rv")), "key", "full_outer")
        .collect()
    }
    assert outer == {"a": (10, 111), "b": (2, None), "c": (None, 300)}


def test_checkpoint_resume_processes_only_new_data(spark, tmp_path):
    """Exactly-once source semantics across restarts (the flip side of
    §2i's application reset): a second availableNow run on the SAME
    checkpoint must process only files added since the first run — no
    reprocessing, no loss — while a FRESH checkpoint reprocesses all.
    This is the mechanism that lets a 100 TB backfill resume mid-way."""
    import glob

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    batch1 = spark.createDataFrame([("a", 1), ("b", 2)], "key string, value long")
    batch1.coalesce(1).write.mode("append").parquet(in_dir)

    def run():
        stream = spark.readStream.schema(batch1.schema).parquet(in_dir)
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert spark.read.parquet(sink).count() == 2

    batch2 = spark.createDataFrame([("c", 3)], "key string, value long")
    batch2.coalesce(1).write.mode("append").parquet(in_dir)
    run()
    # resumed run appended ONLY the new file's rows
    got = sorted((r["key"], r["value"]) for r in spark.read.parquet(sink).collect())
    assert got == [("a", 1), ("b", 2), ("c", 3)]

    # reset recipe: fresh checkpoint reprocesses everything
    sink2, ckpt2 = str(tmp_path / "sink2"), str(tmp_path / "ckpt2")
    stream = spark.readStream.schema(batch1.schema).parquet(in_dir)
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink2)
        .option("checkpointLocation", ckpt2)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(sink2).count() == 3
    assert len(glob.glob(f"{ckpt}/offsets/*")) >= 2, "two committed batches"


def test_streaming_stream_table_join_golden_clicks(spark, tmp_path):
    """§2f streaming mode for stream-table joins — the golden
    clicks-per-region pipeline (StreamToTableJoinTestData.scala:55-59)
    driven through REAL streaming on both sides: the regions changelog is
    materialized per-batch (alice's asia→europe update must win), then
    the clicks stream joins the snapshot per micro-batch. Totals must
    equal the golden {americas:101, europe:109, asia:124}."""
    import pyspark.sql.functions as F2

    from kafka_streams_demo_spark.sources import fixtures
    rdir, cdir = tmp_path / "regions", tmp_path / "clicks"
    fixtures.user_regions(spark).write.parquet(str(rdir / "data"))
    fixtures.user_clicks(spark).write.parquet(str(cdir / "data"))

    regions_schema = fixtures.user_regions(spark).schema
    snap = materialize_ktable(
        spark.readStream.schema(regions_schema).parquet(str(rdir / "data")),
        str(rdir / "snap"),
        checkpoint=str(rdir / "ckpt"),
    )

    clicks_schema = fixtures.user_clicks(spark).schema
    totals: dict[str, int] = {}

    def enrich_and_sum(batch, batch_id):
        joined = (
            batch.join(F2.broadcast(snap.select("key", F2.col("value").alias("region"))), "key")
            .groupBy("region")
            .agg(F2.sum("value").alias("clicks"))
        )
        for r in joined.collect():
            totals[r["region"]] = totals.get(r["region"], 0) + r["clicks"]

    run_foreach_batch(
        spark.readStream.schema(clicks_schema).parquet(str(cdir / "data")),
        enrich_and_sum, output_mode="append", checkpoint=str(cdir / "ckpt"),
    )
    assert totals == {"americas": 101, "europe": 109, "asia": 124}


def test_idempotent_sink_survives_batch_retry(spark, tmp_path):
    """Exactly-once sink: re-delivering an already-committed batch id must
    be a no-op (retry after failure-before-checkpoint-commit), a fresh
    batch id lands once, and read_committed sees exactly one copy of
    every row."""
    in_dir, sink = str(tmp_path / "in"), str(tmp_path / "sink")
    df = spark.createDataFrame([("a", 1), ("b", 2)], "key string, value long")
    df.coalesce(1).write.mode("append").parquet(in_dir)

    write = idempotent_parquet_sink(sink)
    stream = spark.readStream.schema(df.schema).parquet(in_dir)
    run_foreach_batch(stream, write, output_mode="append",
                      checkpoint=str(tmp_path / "ckpt"))
    assert read_committed(spark, sink).count() == 2

    # simulate the failure-retry: same batch id re-delivered
    write(df, 0)
    assert read_committed(spark, sink).count() == 2, "retry must not duplicate"

    # a genuinely new batch id lands
    write(spark.createDataFrame([("c", 3)], "key string, value long"), 1)
    got = sorted((r["key"], r["value"]) for r in read_committed(spark, sink).collect())
    assert got == [("a", 1), ("b", 2), ("c", 3)]


def test_idempotent_sink_on_file_uri(spark, tmp_path):
    """The sink, its _COMMITTED markers and read_committed go through
    Hadoop's FileSystem, so a ``file://`` base works like a local path."""
    in_dir, sink = str(tmp_path / "in"), (tmp_path / "sink").as_uri()
    df = spark.createDataFrame([("a", 1), ("b", 2)], "key string, value long")
    df.coalesce(1).write.parquet(in_dir)
    stream = spark.readStream.schema(df.schema).parquet(in_dir)
    run_foreach_batch(stream, idempotent_parquet_sink(sink), output_mode="append",
                      checkpoint=str(tmp_path / "ckpt"))
    assert (tmp_path / "sink" / "batch_id=0" / "_COMMITTED").exists()
    got = sorted((r["key"], r["value"]) for r in read_committed(spark, sink).collect())
    assert got == [("a", 1), ("b", 2)]


def test_wallclock_punctuated_processor(spark, tmp_path):
    """WALL_CLOCK_TIME punctuator analogue: a key with NO new input
    re-forwards its count on processing-time timeout in a later
    micro-batch — no watermark involved (wall-clock punctuation is
    independent of event time, as in the Kafka Streams API)."""
    import time as _time

    from kafka_streams_demo_spark.streaming.processor import (
        wallclock_punctuated_processor,
    )

    path = str(tmp_path / "wcp_src")
    batch1 = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "z")], "key string, value string"
    )
    batch1.coalesce(1).write.parquet(path)
    _time.sleep(1.2)  # file-source orders batches by modification time
    spark.createDataFrame([("b", "w")], "key string, value string").coalesce(
        1
    ).write.mode("append").parquet(path)

    src = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    # 1 ms interval: the second micro-batch always starts later than that,
    # so 'a' (absent from batch 2) must re-forward via its timer
    out_df = wallclock_punctuated_processor(src, punctuate_interval_ms=1)
    # settled drive (r12): stops after input drains + 2 pure timer
    # batches instead of waiting out awaitTermination(120)
    rows = run_punctuated_until_settled(out_df, output_mode="update").collect()
    emissions = [(r["key"], r["value"]) for r in rows]
    assert emissions.count(("a", 2)) >= 2, emissions
    assert ("b", 2) in emissions, emissions


def test_suppress_emits_final_window_results_only(spark, tmp_path):
    """suppress(untilWindowCloses) parity: the suppressed windowed count
    emits each closed window EXACTLY ONCE with its final value, while the
    unsuppressed (update-mode) run re-emits intermediate counts."""
    import time as _time

    from kafka_streams_demo_spark.operators.grouped import suppress

    path = str(tmp_path / "sup_src")
    mk = lambda rows: spark.createDataFrame(
        rows, "key string, ts_s string"
    ).select("key", F.col("ts_s").cast("timestamp").alias("ts"))
    # window [00:00, 00:05): two batches touch it; a far-future batch-2 row
    # closes it
    mk([("a", "2026-01-01 00:00:01"), ("a", "2026-01-01 00:00:02")]).coalesce(
        1
    ).write.parquet(path)
    _time.sleep(1.2)
    mk([("a", "2026-01-01 00:00:03"), ("a", "2026-01-01 01:00:00")]).coalesce(
        1
    ).write.mode("append").parquet(path)

    def windowed(src):
        return (
            src.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "5 minutes"), "key")
            .count()
            .select("key", F.col("window.start").alias("ws"), "count")
        )

    src1 = spark.readStream.schema("key string, ts timestamp").option(
        "maxFilesPerTrigger", 1
    ).parquet(path)
    final_rows = run_available_now(suppress(windowed(src1))).collect()
    finals = [(r["key"], str(r["ws"]), r["count"]) for r in final_rows]
    # exactly one emission for the closed first window, with the FINAL count 3
    assert finals.count(("a", "2026-01-01 00:00:00", 3)) == 1, finals
    assert all(c == 3 for k, w, c in finals if w == "2026-01-01 00:00:00"), finals

    src2 = spark.readStream.schema("key string, ts timestamp").option(
        "maxFilesPerTrigger", 1
    ).parquet(path)
    update_rows = run_available_now(windowed(src2), output_mode="update").collect()
    updates = [(r["key"], str(r["ws"]), r["count"]) for r in update_rows]
    # unsuppressed: the first window appears more than once (intermediate 2,
    # then 3)
    w1 = [c for k, w, c in updates if w == "2026-01-01 00:00:00"]
    assert len(w1) >= 2 and 3 in w1, updates


def test_drop_duplicates_within_watermark_collapses_redelivery(spark, tmp_path):
    """At-least-once redelivery (same event_id, same ts) must collapse to
    one output row through the state-store-backed streaming dedup."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(i, f"u{i % 3}", t0 + dt.timedelta(seconds=i)) for i in range(30)]
    src = tmp_path / "dup"
    src.mkdir()
    spark.createDataFrame(
        rows + rows + rows[:10],  # every event twice, a third delivery for 10
        "event_id long, user string, ts timestamp",
    ).write.parquet(str(src / "batch0.parquet"))
    stream = spark.readStream.schema("event_id long, user string, ts timestamp") \
        .parquet(str(src / "batch0.parquet"))
    out = stream.withWatermark("ts", "5 minutes") \
        .dropDuplicatesWithinWatermark(["event_id"])
    got = run_available_now(out, output_mode="append").collect()
    assert sorted(r["event_id"] for r in got) == list(range(30))


def test_transform_with_state_builds_correct_topology(spark, tmp_path):
    """Spark 4 Processor-API backend (transformWithStateInPandas): the
    wiring must construct lazily with the declared output schema even in
    this container, where the TWS python worker protocol's protobuf
    dependency is absent (running it needs protobuf + the RocksDB
    provider — the parity test below gates on that)."""
    import datetime as dt

    from kafka_streams_demo_spark.streaming.processor import (
        running_count_processor_tws,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [(f"k{i % 5}", f"v{i}", t0 + dt.timedelta(seconds=i)) for i in range(20)]
    src = tmp_path / "tws_build"
    spark.createDataFrame(rows, "key string, value string, ts timestamp") \
        .write.parquet(str(src))
    stream = spark.readStream.schema("key string, value string, ts timestamp") \
        .parquet(str(src))
    out = running_count_processor_tws(stream)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("key", "string"), ("value", "bigint")]
    assert out.isStreaming


def test_transform_with_state_matches_apply_in_pandas_with_state(spark, tmp_path):
    """Spark 4 Processor-API backend parity: the same running-count
    topology through transformWithStateInPandas (RocksDB-backed, named
    state variables) must produce exactly applyInPandasWithState's output.

    Environment-gated XFAIL (VERDICT r7 task 7): the TWS python worker
    protocol speaks protobuf and this container ships none (no pip
    install allowed, no network to vendor a pure-Python wheel, and a
    hand-rolled runtime shim under ``google.protobuf`` would shadow the
    real dependency in actual deployments — worse than the gate). The
    guard below asserts the gate is PRECISELY the missing module — the
    TWS entry point itself must exist and the topology must build (the
    sibling test above pins that), so the moment an environment ships
    protobuf this test RUNS instead of xfailing."""
    import importlib.util

    try:
        # find_spec imports the PARENT package — absent `google` raises
        # instead of returning None
        pb_spec = importlib.util.find_spec("google.protobuf")
    except ModuleNotFoundError:
        pb_spec = None
    if pb_spec is None:
        # assert the gate reason: the API surface is present and wired —
        # ONLY the worker protocol dependency is absent
        from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin

        assert hasattr(PandasGroupedOpsMixin, "transformWithStateInPandas")
        pytest.xfail(
            "google.protobuf absent in-container: TWS worker protocol "
            "cannot execute (topology/schema pinned by "
            "test_transform_with_state_builds_correct_topology)"
        )
    import datetime as dt

    from kafka_streams_demo_spark.streaming.processor import (
        running_count_processor,
        running_count_processor_tws,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [(f"k{i % 5}", f"v{i}", t0 + dt.timedelta(seconds=i)) for i in range(200)]
    src = tmp_path / "src"
    spark.createDataFrame(rows, "key string, value string, ts timestamp") \
        .write.parquet(str(src))
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        def stream():
            return spark.readStream.schema("key string, value string, ts timestamp") \
                .parquet(str(src))

        tws = {r["key"]: r["value"] for r in
               run_available_now(running_count_processor_tws(stream())).collect()}
        base = {r["key"]: r["value"] for r in
                run_available_now(running_count_processor(stream())).collect()}
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    assert tws == base == {f"k{i}": 40 for i in range(5)}


def test_interactive_query_reads_aggregation_state(spark, tmp_path):
    """ReadOnlyKeyValueStore.all()/get() parity: a streaming count's state
    is queryable from its checkpoint — full scan matches the aggregation,
    point lookup filters to one key."""
    from kafka_streams_demo_spark.streaming.interactive import (
        state_get,
        state_metadata,
        state_store,
    )

    src = tmp_path / "iq_src"
    ck = str(tmp_path / "iq_ck")
    spark.range(100).selectExpr("concat('k', id % 5) AS key", "id AS value") \
        .write.parquet(str(src))
    stream = spark.readStream.schema("key string, value long").parquet(str(src))
    q = stream.groupBy("key").count().writeStream.format("noop") \
        .outputMode("update").option("checkpointLocation", ck) \
        .trigger(availableNow=True).start()
    q.awaitTermination(120)

    allrows = {r["key"]: r["count"] for r in state_store(spark, ck).collect()}
    assert allrows == {f"k{i}": 20 for i in range(5)}

    point = state_get(spark, ck, {"key": "k3"}).collect()
    assert len(point) == 1 and point[0]["count"] == 20

    # the lookup costs exactly the jobs of the filtered scan it is — no
    # metadata read or partition-hash probe of its own
    sc = spark.sparkContext

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    tag = uuid.uuid4().hex[:8]
    want = jobs(f"scan_{tag}", lambda: state_store(spark, ck)
                .filter(F.col("key") == "k3").collect())
    got = jobs(f"get_{tag}", lambda: state_get(spark, ck, {"key": "k3"}).collect())
    assert want >= 1 and got == want, (got, want)

    meta = state_metadata(spark, ck).collect()
    assert any(r["stateStoreName"] == "default" for r in meta)


def test_interactive_point_lookup_partition_math_and_plan(spark, tmp_path):
    """VERDICT r4 #8: store.get(key) must stay a LOOKUP at 100 TB state.
    Pins (a) the partition computation — pmod(F.hash(keys), n) equals the
    partition_id the state source reports for EVERY key, so
    state_get_point can route a single-partition read; (b) the plan
    shape — one codegen key Filter directly over the StateTable
    BatchScan, zero Exchange, zero join (the source has no filter
    pushdown today; the filter sits post-scan, and this test documents
    exactly that)."""
    from pyspark.sql import functions as F

    from kafka_streams_demo_spark.streaming.interactive import (
        state_get,
        state_partition,
        state_store,
    )

    src = tmp_path / "iq_pp_src"
    ck = str(tmp_path / "iq_pp_ck")
    spark.range(200).selectExpr("concat('k', id % 23) AS key", "id AS value") \
        .write.parquet(str(src))
    stream = spark.readStream.schema("key string, value long").parquet(str(src))
    q = stream.groupBy("key").count().writeStream.format("noop") \
        .outputMode("update").option("checkpointLocation", ck) \
        .trigger(availableNow=True).start()
    q.awaitTermination(120)

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # (a) the hash routing is exact for every key in the store
    for r in state_store(spark, ck).select("key", "partition_id").collect():
        assert state_partition(spark, {"key": r["key"]}, n) == r["partition_id"], r

    # (b) lookup result + plan shape
    got = state_get(spark, ck, {"key": "k7"}).collect()
    assert len(got) == 1 and got[0]["count"] == 200 // 23 + (1 if 7 < 200 % 23 else 0)
    plan = state_get(spark, ck, {"key": "k7"})._jdf.queryExecution() \
        .executedPlan().toString()
    assert "StateTable" in plan
    assert "Exchange" not in plan and "Join" not in plan
    # the key filter exists and is the codegen'd post-scan filter — the
    # source pushes nothing today; if PushedFilters ever appears here the
    # docstring's honesty note should flip to claim real pruning
    assert "Filter" in plan and "PushedFilters" not in plan


def test_interactive_point_lookup_int_key_types(spark, tmp_path):
    """Review r5: an IntegerType store key looked up with Python ints
    (inferred long) must find every key, not silently return nothing;
    the partition probe state_get_point routes by must hash with the
    STORE's key types (Murmur3 hashes int32 and int64 differently); a
    key dict that does not name the store's key fields must fail."""
    from kafka_streams_demo_spark.streaming.interactive import (
        state_get,
        state_metadata,
        state_partition,
        state_store,
    )

    src = tmp_path / "iq_int_src"
    ck = str(tmp_path / "iq_int_ck")
    spark.range(100).selectExpr("CAST(id % 23 AS INT) AS k", "id AS value") \
        .write.parquet(str(src))
    stream = spark.readStream.schema("k int, value long").parquet(str(src))
    q = stream.groupBy("k").count().writeStream.format("noop") \
        .outputMode("update").option("checkpointLocation", ck) \
        .trigger(availableNow=True).start()
    q.awaitTermination(120)

    for probe in range(23):
        got = state_get(spark, ck, {"k": probe}).collect()
        assert len(got) == 1, f"int-key lookup emptied for k={probe}"
    key_schema = state_store(spark, ck, flatten=False).schema["key"].dataType
    n = state_metadata(spark, ck).select("numPartitions").first()[0]
    for r in state_store(spark, ck).select("k", "partition_id").collect():
        assert state_partition(
            spark, {"k": r["k"]}, n, key_schema=key_schema
        ) == r["partition_id"], r
    # mismatched key-column names fail loudly, not silently empty
    import pytest as _pytest
    with _pytest.raises(ValueError, match="key fields"):
        state_get(spark, ck, {"wrong": 1})


def test_interactive_query_reads_processor_state(spark, tmp_path):
    """The Processor API's state store (applyInPandasWithState GroupState)
    is queryable the same way — the WordCountProcessor's per-key counts
    read back from the checkpoint (WordCountProcessorExample.scala:54-59's
    scan-all punctuator, as an offline query)."""
    from kafka_streams_demo_spark.streaming.interactive import state_store
    from kafka_streams_demo_spark.streaming.processor import running_count_processor

    src = tmp_path / "iq_proc"
    ck = str(tmp_path / "iq_proc_ck")
    spark.range(90).selectExpr(
        "concat('w', id % 3) AS key", "CAST(id AS STRING) AS value"
    ).write.parquet(str(src))
    stream = spark.readStream.schema("key string, value string").parquet(str(src))
    q = running_count_processor(stream).writeStream.format("noop") \
        .outputMode("update").option("checkpointLocation", ck) \
        .trigger(availableNow=True).start()
    q.awaitTermination(120)

    # applyInPandasWithState nests the state tuple under value.groupState
    got = {r["key"]: r["groupState"]["n"] for r in state_store(spark, ck).collect()}
    assert got == {"w0": 30, "w1": 30, "w2": 30}


def test_incremental_ingest_stream_index_grows_once_per_batch(spark, tmp_path):
    """The ingest-loop composition (VERDICT r5 #4): an availableNow file
    stream drives exact index+delta dedup per micro-batch; the keep-list
    hashes land through the idempotent-sink pair, and the committed
    directories ARE the growing index the next batch dedups against.
    Exactly-once both ways: a rerun on the same checkpoint adds nothing,
    a retried batch id overwrites instead of duplicating."""
    from kafka_streams_demo_spark.functions.dedup import exact_dedup_incremental
    index_dir = str(tmp_path / "index")
    schema = "doc_id long, text string"
    sink = idempotent_parquet_sink(index_dir)

    def ingest(batch, batch_id):
        seen = _read_committed_or_empty(spark, index_dir, "text_hash string")
        sink(exact_dedup_incremental(batch, seen), batch_id)

    b1 = replay(spark, tmp_path, schema,
                [[(1, "alpha body"), (2, "beta body"), (3, "alpha body")]], ingest)
    idx1 = {(r["doc_id"], r["text_hash"])
            for r in read_committed(spark, index_dir).collect()}
    assert {d for d, _ in idx1} == {1, 2}  # in-batch dup 3 collapsed
    # the retried batch left the index unchanged
    assert read_committed(spark, index_dir).count() == 2

    b2 = replay(spark, tmp_path, schema, [[(4, "beta body"), (5, "gamma body")]], ingest)
    idx2 = {(r["doc_id"], r["text_hash"])
            for r in read_committed(spark, index_dir).collect()}
    # batch 2 added ONLY the unseen hash: 4 deduped against batch 1's index
    assert {d for d, _ in idx2} == {1, 2, 5}
    # doc ids ascend across batches, so the streamed keep-list equals one
    # batch run over the union against an empty index
    want = exact_dedup_incremental(
        b1.unionByName(b2), spark.createDataFrame([], "text_hash string")
    )
    assert idx2 == {tuple(r) for r in want.collect()}

    # retried batch id overwrites its own directory — index stays put
    committed = sorted(_batch_dirs(index_dir))
    assert len(committed) == 2  # one dir per non-empty source batch
    last_id = int(committed[-1].split("=")[1])
    sink(spark.createDataFrame([(99, "dup attempt")], schema)
         .select("doc_id", F.md5(F.col("text").cast("binary")).alias("text_hash")),
         last_id)
    assert {d for d, _ in {(r["doc_id"], r["text_hash"])
            for r in read_committed(spark, index_dir).collect()}} == {1, 2, 5}


def _keeplist_ingest(spark, tmp_path, prepare, **gate):
    """An ingest running ``ingest_keeplist`` over ``prepare(batch)``
    against the committed hash index, minhash index and corpus, which it
    then extends through three idempotent sinks. Returns (ingest, dirs)."""
    from kafka_streams_demo_spark.functions.dedup import (
        ingest_keeplist,
        minhash_index,
    )
    dirs = {n: str(tmp_path / n) for n in ("hashes", "mhidx", "corpus")}
    sinks = {n: idempotent_parquet_sink(d) for n, d in dirs.items()}

    def ingest(batch, batch_id):
        docs = prepare(batch)
        seen = _read_committed_or_empty(spark, dirs["hashes"], "doc_id long, text_hash string")
        mh = _read_committed_or_empty(spark, dirs["mhidx"], "doc_id long, band int, bucket long")
        corpus_old = _read_committed_or_empty(spark, dirs["corpus"], "doc_id long, text string")
        keep = ingest_keeplist(
            docs, seen.select("text_hash"), corpus_old.select("doc_id"),
            index=mh.select("doc_id", "band", "bucket"),
            corpus=corpus_old.unionByName(docs), n=3, threshold=0.5, **gate,
        )
        kept_docs = docs.join(keep.select("doc_id"), ["doc_id"], "left_semi")
        sinks["hashes"](keep, batch_id)
        sinks["mhidx"](minhash_index(kept_docs, n=3), batch_id)
        sinks["corpus"](kept_docs, batch_id)

    return ingest, dirs


def test_ingest_keeplist_stream_full_pipeline(spark, tmp_path):
    """The COMPLETE ingest loop under availableNow streaming: each
    micro-batch runs ingest_keeplist (exact index+delta → minhash
    near-dup vs the committed LSH index → quality gate) and appends
    THREE committed artifacts through idempotent sinks — the hash index,
    the minhash index (kept docs only), and the kept corpus. Batch 2's
    exact dup dies on the hash index, its near-dup dies on the minhash
    index, its short doc dies on the gate, and only the genuinely new
    doc lands everywhere."""
    ingest, dirs = _keeplist_ingest(spark, tmp_path, lambda b: b, min_chars=10, min_words=5)
    schema = "doc_id long, text string"
    body = lambda tag: " ".join(f"{tag}{i}" for i in range(10))  # noqa: E731
    replay(spark, tmp_path, schema, [[(1, body("a")), (2, body("b")), (3, body("a"))]], ingest)
    assert {r["doc_id"] for r in read_committed(spark, dirs["corpus"]).collect()} == {1, 2}

    replay(spark, tmp_path, schema, [
        [(4, body("a")),                 # exact dup of committed 1
         (5, body("b") + " extra"),      # near-dup of committed 2
         (6, body("c")),                 # genuinely new → kept
         (7, "short")],                  # fails the quality gate
    ], ingest)
    kept = {r["doc_id"] for r in read_committed(spark, dirs["corpus"]).collect()}
    assert kept == {1, 2, 6}
    # each sink committed exactly one directory per batch
    for name, d in dirs.items():
        n = len(_batch_dirs(d))
        assert n == 2, f"{name}: {n} committed dirs"
    # the minhash index holds band rows ONLY for kept docs
    assert {r["doc_id"] for r in read_committed(spark, dirs["mhidx"]).collect()} == {1, 2, 6}
    # batch 2 was re-driven as a retry on the same checkpoint: nothing grew
    assert {r["doc_id"] for r in read_committed(spark, dirs["corpus"]).collect()} == {1, 2, 6}


def test_clean_then_ingest_stream_pipeline(spark, tmp_path):
    """VERDICT r6 #5 — the cleaning stack DRIVEN THROUGH STREAMING: each
    availableNow micro-batch runs C4 line rules → Gopher quality gate →
    ingest_keeplist (exact index+delta + near-dup vs the committed
    index) over the SURVIVORS' CLEANED text, committing hash index,
    minhash index, and kept corpus through idempotent sinks. Batch 2
    proves every stage discriminates across batches: a doc whose
    CLEANED text exactly matches a committed doc dies on the hash index
    (dedup runs post-cleaning), a near-dup dies on the minhash index, a
    '{'-page dies on C4, a 3-word doc dies on Gopher, and the genuinely
    new doc lands in all three artifacts exactly once."""
    from kafka_streams_demo_spark.functions.text import c4_line_clean, gopher_quality

    def clean(batch):
        """C4 → Gopher over the cleaned text; returns (doc_id, text)."""
        c4 = c4_line_clean(batch).filter(
            F.col("page_ok") & (F.col("n_kept") >= 1)
        )
        flat = c4.select(
            "doc_id", F.regexp_replace("new_text", "\n", " ").alias("text")
        )
        g = gopher_quality(
            flat, min_words=5, min_mean_word_len=1.0, max_mean_word_len=10.0,
            min_stopwords=0, min_alpha_frac=0.0, max_symbol_ratio=1e9,
            max_bullet_frac=1e9, max_ellipsis_frac=1e9,
        ).select("doc_id", "keep")
        return flat.join(g, ["doc_id"]).filter("keep").select("doc_id", "text")

    ingest, dirs = _keeplist_ingest(spark, tmp_path, clean, min_chars=1, min_words=1)
    schema = "doc_id long, text string"
    line = lambda tag: " ".join(f"{tag}{i}" for i in range(10)) + "."  # noqa: E731
    replay(spark, tmp_path, schema, [
        [(1, line("a")),
         (2, line("b")),
         (3, "junk line no punct\n" + line("a"))],  # cleans to doc 1's text
    ], ingest)
    kept1 = {r["doc_id"] for r in read_committed(spark, dirs["corpus"]).collect()}
    assert kept1 == {1, 2}  # 3's cleaned text == 1's → in-batch exact dup
    # the retried batch changed nothing
    assert read_committed(spark, dirs["corpus"]).count() == 2

    replay(spark, tmp_path, schema, [
        [(4, "nav menu garbage\n" + line("a")),       # cleans to committed 1 → exact dup
         (5, " ".join(f"b{i}" for i in range(10)) + " extra."),  # near-dup of 2
         (6, "this page has { code fence."),           # C4 page-level drop
         (7, "tiny words here."),                      # 3 words → Gopher drop
         (8, line("z"))],                              # genuinely new → kept
    ], ingest)
    kept2 = {r["doc_id"] for r in read_committed(spark, dirs["corpus"]).collect()}
    assert kept2 == {1, 2, 8}
    # exactly one committed dir per source batch in every artifact
    for name, d in dirs.items():
        n = len(_batch_dirs(d))
        assert n == 2, f"{name}: {n} committed dirs"
    # minhash index holds band rows only for kept docs
    idx_docs = {r["doc_id"] for r in read_committed(spark, dirs["mhidx"]).collect()}
    assert idx_docs == {1, 2, 8}
    # cleaned text (not raw) is what got committed
    texts = {r["doc_id"]: r["text"]
             for r in read_committed(spark, dirs["corpus"]).collect()}
    assert texts[1] == line("a") and "junk" not in " ".join(texts.values())


def test_ivf_delta_ingest_stream_index_grows_once(spark, tmp_path):
    """The dense-index ingest loop (round 7, completing the persisted-IVF
    tier): an availableNow vector stream delta-assigns each micro-batch
    against the STORED centroid table (no retraining) and appends the
    (n_id, cell) rows through the idempotent sink; the committed
    directories ARE the growing cell index. Rerun on the same
    checkpoint adds nothing, and the final index equals what a full
    batch rebuild with the same centroids would assign."""
    from kafka_streams_demo_spark.functions.similarity import (
        ivf_assign,
        ivf_assign_delta,
        ivf_centroids,
    )
    from kafka_streams_demo_spark.sources.registry import load_table
    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    cents = ivf_centroids(emb).persist()
    idx_dir = str(tmp_path / "cells")
    sink = idempotent_parquet_sink(idx_dir)
    schema = "vec_id long, embedding array<float>"

    def ingest(batch, batch_id):
        sink(ivf_assign_delta(batch, cents).select("n_id", "cell"), batch_id)

    replay(spark, tmp_path, schema,
           [emb.filter(F.col("vec_id") < 30).select("vec_id", "embedding")], ingest)
    assert read_committed(spark, idx_dir).count() == 30  # the retry added nothing
    replay(spark, tmp_path, schema, [emb.filter(
        (F.col("vec_id") >= 30) & (F.col("vec_id") < 80)
    ).select("vec_id", "embedding")], ingest)
    got = {(r["n_id"], r["cell"])
           for r in read_committed(spark, idx_dir).collect()}
    assert len(got) == 80
    want = {
        (r["vid"], r["cell"])
        for r in ivf_assign(
            emb.filter(F.col("vec_id") < 80), cents, n=1
        ).collect()
    }
    assert got == want
    cents.unpersist()


def test_lm_counts_stream_maintenance_exactly_once(spark, tmp_path):
    """The LM-model maintenance loop through streaming: each availableNow
    micro-batch contributes its lm_counts partials through the
    idempotent sink; compacting the committed partials (merge = union +
    re-sum) reproduces the one-shot model over everything ingested,
    BIT-EQUAL — and a checkpoint rerun adds nothing. The streaming
    sibling of ccnet_perplexity_incremental's same-oracle proof."""
    from kafka_streams_demo_spark.functions.lm import lm_counts, merge_lm_counts
    cb_dir, cu_dir = str(tmp_path / "cb"), str(tmp_path / "cu")
    cb_sink, cu_sink = idempotent_parquet_sink(cb_dir), idempotent_parquet_sink(cu_dir)

    def ingest(batch, batch_id):
        cb, cu = lm_counts(batch)
        cb_sink(cb, batch_id)
        cu_sink(cu, batch_id)

    union = replay(spark, tmp_path, "doc_id long, text string",
                   [[(1, "a b a b"), (2, "b c")], [(3, "a b x y")]], ingest)

    def compact():
        cb = read_committed(spark, cb_dir).groupBy("w1", "w2").agg(
            F.sum("cb").alias("cb")
        )
        cu = read_committed(spark, cu_dir).groupBy("w").agg(
            F.sum("cu").alias("cu")
        )
        return cb, cu

    got_cb, got_cu = compact()
    want_cb, want_cu = lm_counts(union)
    assert sorted(map(tuple, got_cb.select("w1", "w2", "cb").collect())) == \
        sorted(map(tuple, want_cb.select("w1", "w2", "cb").collect()))
    assert sorted(map(tuple, got_cu.select("w", "cu").collect())) == \
        sorted(map(tuple, want_cu.select("w", "cu").collect()))
    # two non-empty source batches → exactly two committed partials each
    assert len(_batch_dirs(cb_dir)) == 2
    # merge_lm_counts over the committed partials is the same compaction
    parts = [compact(), (want_cb.limit(0), want_cu.limit(0))]
    mcb, mcu = merge_lm_counts(parts)
    assert mcb.count() == want_cb.count() and mcu.count() == want_cu.count()


def test_hll_registers_stream_maintenance_exactly_once(spark, tmp_path):
    """Mergeable-sketch maintenance through streaming: each availableNow
    micro-batch commits its HLL register partial through the idempotent
    sink; hll_merge over the committed partials reproduces the one-shot
    registers over everything ingested BIT-EQUAL (the streaming sibling
    of hll_merge_incremental's same-oracle proof), and a checkpoint
    rerun adds nothing."""
    from kafka_streams_demo_spark.functions.sketches import hll_merge, hll_registers
    out_dir = str(tmp_path / "regs")
    sink = idempotent_parquet_sink(out_dir)

    def ingest(batch, batch_id):
        sink(hll_registers(batch, "user_id", p=7), batch_id)

    union = replay(spark, tmp_path, "user_id long",
                   [[(i,) for i in range(60)], [(i,) for i in range(40, 120)]], ingest)

    merged = hll_merge(read_committed(spark, out_dir).select("bucket", "register"))
    want = hll_registers(union, "user_id", p=7)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, want.collect()))
    assert len(_batch_dirs(out_dir)) == 2


def test_scd2_merge_stream_versions(spark, tmp_path):
    """SCD2 dimension maintenance through streaming: each availableNow
    batch folds into the current dimension via scd2_merge and commits a
    VERSIONED table (v<batch_id> — rerunning a batch overwrites the same
    version with the same content, so replays are idempotent). The final
    version equals scd2_snapshot over every change ingested, proving the
    merge loop end-to-end; the same-oracle catalog entry
    (scd2_merge_incremental) proves one fold externally."""
    import datetime as dt

    from kafka_streams_demo_spark.functions.scd import scd2_merge, scd2_snapshot

    dim_root = str(tmp_path / "dim")
    os.makedirs(dim_root)

    def ingest(batch, batch_id):
        # only versions from EARLIER batches are inputs (rerun safety)
        cur_v = _newest_version(dim_root, below=batch_id)
        if cur_v is None:
            merged = scd2_snapshot(batch, ["k"], ["v"], "ts", "eid")
        else:
            cur = spark.read.parquet(f"{dim_root}/v{cur_v}")
            merged = scd2_merge(cur, batch, ["k"], ["v"], "ts", "eid")
        merged.write.mode("overwrite").parquet(f"{dim_root}/v{batch_id}")

    def day(d):
        return dt.datetime(2024, 1, d)

    union = replay(spark, tmp_path, "k string, v long, ts timestamp, eid long", [
        [("a", 1, day(1), 1), ("b", 5, day(2), 2), ("a", 2, day(3), 3)],
        [("a", 3, day(10), 4), ("c", 9, day(11), 5)],
    ], ingest)

    final = spark.read.parquet(f"{dim_root}/v{_newest_version(dim_root)}")
    want = scd2_snapshot(union, ["k"], ["v"], "ts", "eid")
    assert sorted(map(tuple, final.collect())) == sorted(map(tuple, want.collect()))


def test_kmv_sketch_stream_maintenance_exactly_once(spark, tmp_path):
    """KMV maintenance through streaming (the last sketch family without
    a drive — VERDICT r7 task 4): each availableNow micro-batch commits
    its bottom-k partial through the idempotent sink; kmv_merge over the
    committed partials equals the one-shot sketch over everything
    ingested EXACTLY (the k smallest of the union are always within the
    union of each side's k smallest), and a checkpoint rerun commits no
    new partial."""
    from kafka_streams_demo_spark.functions.sketches import kmv_merge, kmv_sketch
    out_dir = str(tmp_path / "kmv")
    sink = idempotent_parquet_sink(out_dir)

    def ingest(batch, batch_id):
        sink(kmv_sketch(batch, "user_id", k=16), batch_id)

    union = replay(spark, tmp_path, "user_id long",
                   [[(i,) for i in range(80)], [(i,) for i in range(50, 160)]], ingest)

    merged = kmv_merge(16, read_committed(spark, out_dir).select("hv"))
    want = kmv_sketch(union, "user_id", k=16)
    assert sorted(r["hv"] for r in merged.collect()) == sorted(
        r["hv"] for r in want.collect()
    )
    assert len(_batch_dirs(out_dir)) == 2


def test_bm25_postings_stream_maintenance_exactly_once(spark, tmp_path):
    """Lexical-index maintenance through streaming (VERDICT r7 task 4):
    each availableNow batch tokenizes ONLY its own documents into
    posting rows and appends them through the idempotent sink — posting
    rows are row-local and deterministic, so append IS maintenance.
    Search over the committed postings equals search over a one-shot
    index of everything ingested (N/avgdl/df recovered from the combined
    postings, so corpus stats are always current); a checkpoint rerun
    appends nothing."""
    from kafka_streams_demo_spark.functions.text import (
        bm25_postings,
        bm25_search_queries,
    )
    out_dir = str(tmp_path / "postings")
    sink = idempotent_parquet_sink(out_dir)

    def ingest(batch, batch_id):
        sink(bm25_postings(batch), batch_id)

    union = replay(spark, tmp_path, "doc_id long, text string", [
        [(1, "the quick brown fox"), (2, "lazy dog sleeps"),
         (3, "quick dog runs fast")],
        [(4, "brown dog barks"), (5, "fox jumps over the dog")],
    ], ingest)

    qdf = spark.createDataFrame(
        [(1, "quick dog"), (2, "brown fox")], "query_id long, query_text string"
    )
    committed = read_committed(spark, out_dir).select("doc_id", "dl", "term", "tf")
    got = bm25_search_queries(None, qdf, k=3, postings=committed)
    want = bm25_search_queries(union, qdf, k=3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert len(_batch_dirs(out_dir)) == 2


def test_pq_codes_stream_maintenance_exactly_once(spark, tmp_path):
    """PQ-index maintenance through streaming (the newest index family
    gets the same drive as BM25/KMV/HLL): each availableNow batch
    encodes ONLY its own vectors against the FROZEN codebooks and
    appends codes through the idempotent sink; ADC search over the
    committed codes equals search over a one-shot encode of everything
    ingested, and a checkpoint rerun appends nothing."""
    from kafka_streams_demo_spark.functions.pq import (
        pq_adc_topk,
        pq_encode,
        pq_sample_codebooks,
    )
    from kafka_streams_demo_spark.sources import load_table
    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001").limit(100)
    emb.persist()
    cbs = pq_sample_codebooks(emb)
    cbs.persist().count()  # frozen codebooks — the production contract
    out_dir = str(tmp_path / "codes")
    sink = idempotent_parquet_sink(out_dir)

    def ingest(batch, batch_id):
        sink(pq_encode(batch, cbs), batch_id)

    replay(spark, tmp_path, "vec_id long, embedding array<float>", [
        emb.filter(F.col("vec_id") < 50).select("vec_id", "embedding"),
        emb.filter(F.col("vec_id") >= 50).select("vec_id", "embedding"),
    ], ingest)

    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    committed = read_committed(spark, out_dir).select("vec_id", "sub", "code")
    got = pq_adc_topk(committed, queries, cbs, topk=10)
    want = pq_adc_topk(pq_encode(emb, cbs), queries, cbs, topk=10)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert len(_batch_dirs(out_dir)) == 2
    emb.unpersist()
    cbs.unpersist()


def test_semdedup_verdict_stream_maintenance_exactly_once(spark, tmp_path):
    """Semantic-dedup verdict-table maintenance through streaming: the
    quantizer (centroids) and the seed batch's verdicts are the frozen
    index; each availableNow batch adjudicates ONLY its own vectors
    against the verdicts committed so far (read back inside
    foreachBatch) and appends its delta rows through the idempotent
    sink. The final committed table equals the sequential application
    of semdedup_cells_incremental over the batches, and a checkpoint
    rerun appends nothing."""
    from kafka_streams_demo_spark.functions.dedup import (
        semdedup_cells,
        semdedup_cells_incremental,
    )
    from kafka_streams_demo_spark.functions.similarity import ivf_centroids
    from kafka_streams_demo_spark.sources import load_table
    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001").limit(150)
    emb.persist().count()
    tau = 0.3
    seed = emb.filter(F.col("vec_id") < 50)
    cents = ivf_centroids(seed)
    cents.persist().count()  # frozen quantizer — the index contract
    v_seed = semdedup_cells(seed, threshold=tau, max_cell_size=None)

    out_dir = str(tmp_path / "verdicts")
    sink = idempotent_parquet_sink(out_dir)
    sink(v_seed, 0)  # seed verdicts = committed batch 0

    def ingest(batch, batch_id):
        committed = read_committed(spark, out_dir).select(
            "vec_id", "cell", "ccos", "kept"
        )
        sink(
            semdedup_cells_incremental(
                batch, cents, committed, emb,
                threshold=tau, max_cell_size=None,
            ),
            batch_id + 1,  # 0 is the seed
        )

    b2 = emb.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 100)).select(
        "vec_id", "embedding"
    )
    b3 = emb.filter(F.col("vec_id") >= 100).select("vec_id", "embedding")
    replay(spark, tmp_path, "vec_id long, embedding array<float>", [b2, b3], ingest)

    got = read_committed(spark, out_dir).select("vec_id", "cell", "ccos", "kept")
    v2 = semdedup_cells_incremental(
        b2, cents, v_seed, emb, threshold=tau, max_cell_size=None
    )
    v3 = semdedup_cells_incremental(
        b3, cents, v_seed.unionByName(v2), emb,
        threshold=tau, max_cell_size=None,
    )
    want = v_seed.unionByName(v2).unionByName(v3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert len(_batch_dirs(out_dir)) == 3
    emb.unpersist()
    cents.unpersist()


def test_pq_residual_codes_stream_maintenance_exactly_once(spark, tmp_path):
    """Residual-code index maintenance through streaming: centroids AND
    codebooks are frozen (both are the stored quantizer), each
    availableNow batch builds residual frames and codes for ONLY its own
    vectors and appends through the idempotent sink; the committed codes
    equal a one-shot residual encode of everything ingested, and a
    checkpoint rerun appends nothing."""
    from kafka_streams_demo_spark.functions.pq import (
        pq_encode,
        pq_residual_frame,
        pq_sample_codebooks,
    )
    from kafka_streams_demo_spark.functions.similarity import ivf_centroids
    from kafka_streams_demo_spark.sources import load_table
    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001").limit(100)
    emb.persist().count()
    cents = ivf_centroids(emb).localCheckpoint(eager=True)
    cbs = pq_sample_codebooks(
        pq_residual_frame(emb, cents), vec_col="rvec"
    )
    cbs.persist().count()  # frozen codebooks
    out_dir = str(tmp_path / "codes")
    sink = idempotent_parquet_sink(out_dir)

    def ingest(batch, batch_id):
        rv = pq_residual_frame(batch, cents)
        sink(pq_encode(rv, cbs, vec_col="rvec", keep_cols=("cell",)), batch_id)

    replay(spark, tmp_path, "vec_id long, embedding array<float>", [
        emb.filter(F.col("vec_id") < 50).select("vec_id", "embedding"),
        emb.filter(F.col("vec_id") >= 50).select("vec_id", "embedding"),
    ], ingest)

    got = read_committed(spark, out_dir).select("vec_id", "cell", "sub", "code")
    want = pq_encode(
        pq_residual_frame(emb, cents), cbs, vec_col="rvec", keep_cols=("cell",)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert len(_batch_dirs(out_dir)) == 2
    emb.unpersist()
    cbs.unpersist()


def test_cms_sketch_stream_maintenance_exactly_once(spark, tmp_path):
    """CMS maintenance through streaming (VERDICT r8 task 4 — the last
    sketch family without a drive): each availableNow micro-batch
    commits its (row, bucket, cnt) partial through the idempotent sink;
    cms_merge over the committed partials equals the one-shot sketch
    over everything ingested EXACTLY (counters are linear), and a
    checkpoint rerun commits no new partial."""
    from kafka_streams_demo_spark.functions.sketches import cms_merge, cms_sketch
    out_dir = str(tmp_path / "cms")
    sink = idempotent_parquet_sink(out_dir)

    def ingest(batch, batch_id):
        sink(cms_sketch(batch, "user_id", depth=3, width=64), batch_id)

    union = replay(spark, tmp_path, "user_id long", [
        [(i % 37,) for i in range(200)], [(i % 61,) for i in range(150)],
    ], ingest)

    merged = cms_merge(
        read_committed(spark, out_dir).select("row", "bucket", "cnt")
    )
    want = cms_sketch(union, "user_id", depth=3, width=64)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert len(_batch_dirs(out_dir)) == 2


def test_substring_index_stream_maintenance_exactly_once(spark, tmp_path):
    """Char-gram-index maintenance through streaming (VERDICT r8 task
    5): posting rows are row-local and deterministic per doc, so append
    IS maintenance — each availableNow batch indexes ONLY its own
    documents; substring search over the committed index equals search
    over a one-shot index of everything ingested, and a checkpoint
    rerun appends nothing."""
    from kafka_streams_demo_spark.functions.text import (
        char_gram_index,
        substring_find,
    )
    out_dir = str(tmp_path / "grams")
    sink = idempotent_parquet_sink(out_dir)

    def ingest(batch, batch_id):
        sink(char_gram_index(batch, n=4), batch_id)

    union = replay(spark, tmp_path, "doc_id long, text string", [
        [(1, "full table scan over parquet"), (2, "table scan with pruning")],
        [(3, "no scan here at all... table scan again"), (4, "unrelated text")],
    ], ingest)

    committed = read_committed(spark, out_dir).select("doc_id", "gram", "pos")
    got = substring_find(None, "table scan", n=4, index=committed)
    want = substring_find(union, "table scan", n=4)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert len(_batch_dirs(out_dir)) == 2


def _docs_before(spark, docs_root, batch_id, schema):
    """Union of doc batches committed by EARLIER batch ids (rerun-safe:
    the current batch's own prior half-write never feeds itself)."""
    dirs = [
        os.path.join(docs_root, d)
        for d in _batch_dirs(docs_root)
        if int(d.split("=")[1]) < batch_id
        and os.path.exists(os.path.join(docs_root, d, "_COMMITTED"))
    ]
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*dirs)


def test_ngram_jaccard_incremental_stream_drive_exactly_once(spark, tmp_path):
    """Exact-Jaccard pair maintenance through streaming (VERDICT r8 task
    5): each availableNow batch emits pairs TOUCHING ITS OWN DOCS
    against the corpus committed so far (the index+delta contract), and
    commits both the pairs and its docs through idempotent sinks. Every
    pair (i, j) is emitted by exactly the batch that ingested its
    later-arriving member, so the UNION of committed pair-batches
    equals the one-shot batch pairs over everything — and a checkpoint
    rerun commits nothing new."""
    from kafka_streams_demo_spark.functions.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_incremental,
    )
    pairs_dir, docs_dir = str(tmp_path / "pairs"), str(tmp_path / "docs")
    schema = "doc_id long, text string"
    pair_sink = idempotent_parquet_sink(pairs_dir)
    doc_sink = idempotent_parquet_sink(docs_dir)

    def ingest(batch, batch_id):
        corpus = _docs_before(spark, docs_dir, batch_id, schema).unionByName(batch)
        pair_sink(
            ngram_jaccard_pairs_incremental(
                batch, corpus, n=3, threshold=0.5, max_doc_freq=None
            ),
            batch_id,
        )
        doc_sink(batch, batch_id)

    union = replay(spark, tmp_path, schema, [
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (5, "something entirely different here")],
        [(3, "the quick brown fox jumps over the lazy dog"),
         (4, "something entirely different here too")],
    ], ingest)

    got = read_committed(spark, pairs_dir).select("i", "j", "jaccard")
    want = ngram_jaccard_pairs(union, n=3, threshold=0.5, max_doc_freq=None)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert len(want.collect()) > 0
    assert len(_batch_dirs(pairs_dir)) == 2


def test_embedding_cosine_incremental_stream_drive_exactly_once(spark, tmp_path):
    """Dense-vector near-dup maintenance through streaming (VERDICT r8
    task 5): each availableNow batch emits cosine pairs touching its
    own vectors against the committed index, then appends its vectors —
    the union of committed pair-batches equals the one-shot
    embedding_cosine_pairs over everything ingested (every pair is
    emitted by its later member's batch exactly once)."""
    from kafka_streams_demo_spark.functions.dedup import (
        embedding_cosine_pairs,
        embedding_cosine_pairs_incremental,
    )
    from kafka_streams_demo_spark.sources import load_table
    pairs_dir, vecs_dir = str(tmp_path / "pairs"), str(tmp_path / "vecs")
    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    schema = "vec_id long, embedding array<float>, label int"
    pair_sink = idempotent_parquet_sink(pairs_dir)
    vec_sink = idempotent_parquet_sink(vecs_dir)

    def ingest(batch, batch_id):
        index = _docs_before(spark, vecs_dir, batch_id, schema)
        pair_sink(
            embedding_cosine_pairs_incremental(batch, index, threshold=0.35),
            batch_id,
        )
        vec_sink(batch, batch_id)

    union = replay(spark, tmp_path, schema, [
        emb.filter(F.col("vec_id") < 60),
        emb.filter((F.col("vec_id") >= 60) & (F.col("vec_id") < 120)),
    ], ingest)

    got = read_committed(spark, pairs_dir).select("i", "j", "cos")
    want = embedding_cosine_pairs(union, threshold=0.35)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert len(want.collect()) > 0
    assert len(_batch_dirs(pairs_dir)) == 2


def test_dedup_clusters_incremental_stream_drive(spark, tmp_path):
    """Cluster-state maintenance through streaming (VERDICT r8 task 5):
    each availableNow batch folds its docs + the pairs that became
    visible with them into the VERSIONED assignment table via
    dedup_clusters_incremental (v<batch_id>, the scd2_merge drive
    pattern — reruns overwrite the same version with the same content).
    The final version equals one-shot dedup_clusters over all docs and
    all pairs, exercising root takeover and cross-batch bridging."""
    from kafka_streams_demo_spark.functions.dedup import (
        dedup_clusters,
        dedup_clusters_incremental,
    )

    asg_root = str(tmp_path / "asg")
    os.makedirs(asg_root)
    schema = "doc_id long"
    # the full pair stream: (1,2) in-batch, (2,3) bridges batches, (5,6)
    # arrives with 6, (4,7) in-batch-2, (0,9) gives batch-2 a root
    # takeover (new id 0 undercuts old cluster minimum 9)
    all_pairs = [(1, 2), (2, 3), (5, 6), (4, 7), (0, 9)]

    def ingest(batch, batch_id):
        cur_v = _newest_version(asg_root, below=batch_id)
        batch_ids = {r["doc_id"] for r in batch.collect()}
        if cur_v is None:
            seen: set = set()
            cur = spark.createDataFrame([], "doc_id long, cluster_id long")
        else:
            cur = spark.read.parquet(f"{asg_root}/v{cur_v}").select(
                "doc_id", "cluster_id"
            )
            seen = {r["doc_id"] for r in cur.select("doc_id").collect()}
        avail = seen | batch_ids
        new_pairs = spark.createDataFrame(
            [p for p in all_pairs
             if (p[0] in batch_ids or p[1] in batch_ids)
             and p[0] in avail and p[1] in avail],
            "i long, j long",
        )
        merged = dedup_clusters_incremental(batch, cur, new_pairs)
        merged.write.mode("overwrite").parquet(f"{asg_root}/v{batch_id}")

    b1 = replay(spark, tmp_path, schema, [[(1,), (2,), (5,), (9,)]], ingest)
    v_after_rerun = _newest_version(asg_root)  # the retry wrote no new version
    b2 = replay(spark, tmp_path, schema, [[(0,), (3,), (4,), (6,), (7,), (8,)]], ingest)

    all_docs = b1.unionByName(b2)
    pairs_df = spark.createDataFrame(all_pairs, "i long, j long")
    want = dedup_clusters(all_docs, pairs_df)
    final = spark.read.parquet(f"{asg_root}/v{_newest_version(asg_root)}")
    assert sorted(map(tuple, final.collect())) == sorted(map(tuple, want.collect()))
    # root takeover happened: 9's cluster is now rooted at 0
    assert [r["cluster_id"] for r in final.filter(F.col("doc_id") == 9).collect()] == [0]
    assert _newest_version(asg_root) > v_after_rerun


def test_compaction_apply_stream_maintenance(spark, tmp_path):
    """Lakehouse maintenance through streaming — the round-9 capstone
    wiring ingest to the OPTIMIZE rewrite: each availableNow batch
    lands as its own small file (file_id = batch_id, the real small-
    files problem), then compaction_apply executes the bin-pack plan
    over everything ingested. content_manifest proves the rewrite
    byte-preserving against the raw ingested rows, the output has
    exactly one data file per plan group, and re-running the compaction
    overwrites to the identical layout (idempotent maintenance)."""
    import glob

    from kafka_streams_demo_spark.functions.layout import (
        compaction_apply,
        compaction_plan,
        content_manifest,
    )

    raw_root = str(tmp_path / "raw")
    out = str(tmp_path / "compacted")
    sink = idempotent_parquet_sink(raw_root)

    def ingest(batch, batch_id):
        sink(batch.withColumn("file_id", F.lit(batch_id).cast("long")), batch_id)

    replay(spark, tmp_path, "part string, seq long, payload string", [
        [("a", 1, "x1"), ("a", 2, "x2"), ("b", 1, "y1")],
        [("a", 3, "x3"), ("b", 2, "y2")],
        [("a", 4, "x4"), ("b", 3, "y3"), ("b", 4, "y4")],
    ], ingest)

    data = read_committed(spark, raw_root)
    files = data.groupBy("part", "file_id").agg(
        (F.count(F.lit(1)) * 100).alias("bytes")
    )
    plan = compaction_plan(files, 250, ("part",))

    for _ in range(2):  # second pass: idempotent overwrite
        compaction_apply(
            data, plan, out, part_cols=("part",), file_col="file_id",
            sort_cols=("seq",),
        )

    back = spark.read.parquet(out)
    content = F.concat_ws("|", "file_id", "seq", "payload")
    before = {tuple(r) for r in content_manifest(data, ("part",), content).collect()}
    after = {tuple(r) for r in content_manifest(back, ("part",), content).collect()}
    assert before == after
    for p, g in {(r["part"], r["group_id"]) for r in plan.collect()}:
        part_files = [
            f for f in glob.glob(os.path.join(out, f"part={p}", f"group_id={g}", "*"))
            if os.path.basename(f).startswith("part-")
        ]
        assert len(part_files) == 1, (p, g, part_files)


def test_quantile_sketch_stream_maintenance_exactly_once(spark, tmp_path):
    """Quantile-sketch maintenance through streaming (the fourth sketch
    family gets the same drive as HLL/CMS/KMV): each availableNow batch
    commits its bottom-k (hv, v) partial through the idempotent sink;
    the merge over committed partials equals the one-shot sketch over
    everything ingested EXACTLY, and a checkpoint rerun commits no new
    partial."""
    from kafka_streams_demo_spark.functions.sketches import (
        quantile_sketch,
        quantile_sketch_merge,
    )
    out_dir = str(tmp_path / "qsk")
    sink = idempotent_parquet_sink(out_dir)

    def ingest(batch, batch_id):
        sink(quantile_sketch(batch, "value", "event_id", k=32), batch_id)

    union = replay(spark, tmp_path, "event_id long, value double", [
        [(i, float(i * 7 % 100)) for i in range(60)],
        [(i, float(i * 3 % 50)) for i in range(60, 150)],
    ], ingest)

    merged = quantile_sketch_merge(
        32, read_committed(spark, out_dir).select("hv", "v")
    )
    want = quantile_sketch(union, "value", "event_id", k=32)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, want.collect()))
    assert len(_batch_dirs(out_dir)) == 2


def test_session_window_suppress_stream_finals_once_and_late_expiry(spark, tmp_path):
    """VERDICT r9 task 6: the reference's session demo
    (DSLStatefulTransformation.scala:84-86) COMPOSED with
    suppress(untilWindowCloses) under real streaming, with the
    KStreamTest.scala-style adversarial ordering: batch 2 EXTENDS the
    open session across the gap (merge), its far-future row then closes
    it; a batch-3 record aimed INSIDE the closed session arrives after
    the watermark and must be expired. Through the idempotent sink the
    merged session commits EXACTLY ONCE with its final count — no
    intermediate (count-2) emission ever lands, the late record changes
    nothing, and a checkpoint rerun commits no new batch."""
    import os
    import time as _time

    from kafka_streams_demo_spark.operators.grouped import suppress
    from kafka_streams_demo_spark.operators.windows import SessionWindows
    src_dir = str(tmp_path / "sess_sup_src")
    out_dir = str(tmp_path / "sess_sup_out")
    ckpt = str(tmp_path / "sess_sup_ckpt")
    os.makedirs(out_dir)

    def mk(rows):
        return spark.createDataFrame(rows, "key string, value long, ts_s string") \
            .select("key", "value", F.col("ts_s").cast("timestamp").alias("timestamp"))

    # batch 1: session 'a' opens with two records 2 s apart (gap 5 s)
    mk([("a", 1, "2026-01-01 00:00:01"), ("a", 1, "2026-01-01 00:00:03")]) \
        .coalesce(1).write.parquet(src_dir)
    _time.sleep(1.2)  # file source orders batches by modification time
    # batch 2: a THIRD record 3 s after the last one merges into the open
    # session (within-gap extension -> [00:00:01, 00:00:11)); the
    # far-future 'z' row pushes the watermark past the session end
    mk([("a", 1, "2026-01-01 00:00:06"), ("z", 1, "2026-01-01 01:00:00")]) \
        .coalesce(1).write.mode("append").parquet(src_dir)

    def run():
        src = (
            spark.readStream.schema("key string, value long, timestamp timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        sup = suppress(
            KStream(src)
            .with_watermark("0 seconds")
            .group_by_key()
            .windowed_by(SessionWindows.with_gap("5 seconds"))
            .count()
        )
        run_foreach_batch(
            sup.df, idempotent_parquet_sink(out_dir),
            output_mode=sup.output_mode, checkpoint=ckpt,
        )

    run()
    committed = read_committed(spark, out_dir)
    a_rows = [
        (str(r["window_start"]), str(r["window_end"]), r["value"])
        for r in committed.filter(F.col("key") == "a").collect()
    ]
    # exactly ONE emission for the merged session, with the FINAL count 3 —
    # no intermediate count-2 [01, 08) row was ever committed
    assert a_rows == [("2026-01-01 00:00:01", "2026-01-01 00:00:11", 3)], a_rows
    # 'z' sessions are still open (watermark never passed them): no finals
    assert committed.filter(F.col("key") == "z").count() == 0
    n_batches = len([d for d in os.listdir(out_dir) if d.startswith("batch_id=")])

    # checkpoint rerun with no new data: nothing new commits (exactly-once)
    run()
    assert len([d for d in os.listdir(out_dir) if d.startswith("batch_id=")]) == n_batches

    # batch 3 (adversarial): a record INSIDE the closed session arrives
    # after the watermark (late by ~1 h) — expired, not re-aggregated, no
    # re-emission; the in-gap 'z' record merges into z's still-open session
    _time.sleep(1.2)
    mk([("a", 1, "2026-01-01 00:00:04"), ("z", 1, "2026-01-01 01:00:02")]) \
        .coalesce(1).write.mode("append").parquet(src_dir)
    run()
    committed2 = read_committed(spark, out_dir)
    a_rows2 = [
        (str(r["window_start"]), str(r["window_end"]), r["value"])
        for r in committed2.filter(F.col("key") == "a").collect()
    ]
    assert a_rows2 == a_rows, a_rows2          # late record changed NOTHING
    assert committed2.filter(F.col("key") == "z").count() == 0  # still open


def test_nb_classifier_stream_maintenance_exactly_once(spark, tmp_path):
    """NB-classifier model maintenance through streaming (the classifier
    gets the same drive as the LM-count and sketch families): each
    availableNow batch commits its (bucket, c_pos, c_neg) count partial
    + 1-row doc-count partial through the idempotent sink; the merged
    model scores docs bit-identically to a one-shot retrain over
    everything ingested, and a checkpoint rerun commits no new partial."""
    from kafka_streams_demo_spark.functions.lm import (
        nb_model_counts,
        nb_quality_scores,
    )
    bc_dir, dc_dir = str(tmp_path / "bc"), str(tmp_path / "dc")
    bc_sink, dc_sink = idempotent_parquet_sink(bc_dir), idempotent_parquet_sink(dc_dir)

    def ingest(batch, batch_id):
        bc, dc = nb_model_counts(batch, F.col("label") == 1)
        bc_sink(bc, batch_id)
        dc_sink(dc, batch_id)

    all_docs = replay(spark, tmp_path, "doc_id long, text string, label int", [
        [(i, "clean curated prose", 1) for i in range(10)]
        + [(i, "spam junk clicks", 0) for i in range(10, 30)],
        [(i, "curated clean text", 1) for i in range(30, 45)]
        + [(i, "junk spam noise", 0) for i in range(45, 60)],
    ], ingest)

    # compact the committed partials by re-sum (merge_nb_counts'
    # union+re-sum applied to the sink's accumulated rows)
    merged_bc = (
        read_committed(spark, bc_dir)
        .groupBy("bucket")
        .agg(F.sum("c_pos").alias("c_pos"), F.sum("c_neg").alias("c_neg"))
    )
    merged_dc = read_committed(spark, dc_dir).agg(
        F.sum("d_pos").alias("d_pos"), F.sum("d_neg").alias("d_neg")
    )
    via_stream = nb_quality_scores(all_docs, counts=(merged_bc, merged_dc))
    retrain = nb_quality_scores(all_docs, F.col("label") == 1)
    assert sorted(map(tuple, via_stream.collect())) == sorted(
        map(tuple, retrain.collect())
    )
    assert len(_batch_dirs(bc_dir)) == 2


def test_wallclock_drive_punctuation_multiplicity(spark):
    """The catalog's wallclock_punctuated_drive hash-gates only the
    deterministic per-batch prefix counts; THIS pins the punctuation
    itself: the gap injection ((user_id + k) % 3 == 0 batches dropped
    per user) guarantees every key a data-less batch after its first
    appearance, so with a 1 ms ProcessingTimeTimeout the raw update-mode
    sink must carry strictly more rows than the distinct set — the
    surplus IS the wall-clock fires."""
    from pyspark.sql import functions as F

    from kafka_streams_demo_spark.catalog.parity import (
        _batched_events_stream_dir,
    )
    from kafka_streams_demo_spark.streaming.processor import (
        wallclock_punctuated_processor,
    )

    sf = "/root/testdata/sf0.001"
    path = _batched_events_stream_dir(spark, sf, n_batches=4)
    stream = (
        spark.readStream.schema("key string, value string")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    raw = run_punctuated_until_settled(
        wallclock_punctuated_processor(stream, punctuate_interval_ms=1),
        output_mode="update",
    ).select("key", "value")
    n_raw = raw.count()
    n_distinct = raw.distinct().count()
    assert n_raw > n_distinct, (n_raw, n_distinct)
    # every key must have re-fired at least once: per-key raw emissions
    # exceed its distinct prefix values
    per_key = (
        raw.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("raw_n"),
            F.countDistinct("value").alias("dist_n"),
        )
        .collect()
    )
    assert all(r["raw_n"] > r["dist_n"] for r in per_key), [
        r for r in per_key if r["raw_n"] <= r["dist_n"]
    ][:5]


def _state_partitions(spark, ck):
    """The state partition count recorded in the checkpoint (the session
    sizes it from the core count when the query first runs)."""
    from kafka_streams_demo_spark.streaming.interactive import state_metadata

    return int(
        state_metadata(spark, ck).filter(F.col("operatorId") == 0)
        .select("numPartitions").first()[0]
    )


def test_state_get_point_single_partition_read(spark, tmp_path):
    """VERDICT r11 task 8: store.get(key) as a TRUE single-partition read.
    Drives enough micro-batches (maxFilesPerTrigger=1 over 8 files,
    minDeltasForSnapshot=2, 1s maintenance) for the async maintenance
    thread to write partition snapshots, then pins:
    (a) state_get_point's scan has EXACTLY ONE input partition
        (snapshotPartitionId scopes the read to one partition's
        snapshot + trailing deltas),
    (b) values match the partition-filtered full scan (state_get) for
        every key,
    (c) with no snapshot available the helper falls back to the full
        scan (correctness never depends on maintenance timing)."""
    import os
    import time as _time

    from kafka_streams_demo_spark.streaming.interactive import (
        latest_partition_snapshot,
        state_get,
        state_get_point,
        state_partition,
    )

    src = tmp_path / "pt_src"
    ck = str(tmp_path / "pt_ck")
    os.makedirs(src)
    for b in range(8):
        spark.range(b * 25, (b + 1) * 25).selectExpr(
            "concat('k', id % 5) AS key", "id AS value"
        ).coalesce(1).write.parquet(str(src / f"b{b}"))

    prev_deltas = spark.conf.get(
        "spark.sql.streaming.stateStore.minDeltasForSnapshot", None
    )
    spark.conf.set("spark.sql.streaming.stateStore.minDeltasForSnapshot", "2")
    try:
        stream = (
            spark.readStream.schema("key string, value long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        q = (
            stream.groupBy("key").count().writeStream.format("noop")
            .outputMode("update").option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)

        # maintenance is async: poll for a snapshot in k3's partition
        p3 = state_partition(spark, {"key": "k3"}, _state_partitions(spark, ck))
        deadline = _time.monotonic() + 60
        while (
            latest_partition_snapshot(ck, p3) is None
            and _time.monotonic() < deadline
        ):
            _time.sleep(1)
        have_snapshot = latest_partition_snapshot(ck, p3) is not None

        point = state_get_point(spark, ck, {"key": "k3"})
        rows = point.collect()
        full = state_get(spark, ck, {"key": "k3"}).collect()
        assert [(r["key"], r["count"]) for r in rows] == [
            (r["key"], r["count"]) for r in full
        ]
        assert rows and rows[0]["count"] == 40  # 8 batches x 5 per key
        if have_snapshot:
            # the single-partition contract this test exists for
            assert point.rdd.getNumPartitions() == 1, "not a point read"
        else:
            # documented fallback: partition-filtered full scan
            assert point.rdd.getNumPartitions() > 1
        # every key answers identically through both paths
        for i in range(5):
            a = {r["key"]: r["count"]
                 for r in state_get_point(spark, ck, {"key": f"k{i}"}).collect()}
            b = {r["key"]: r["count"]
                 for r in state_get(spark, ck, {"key": f"k{i}"}).collect()}
            assert a == b == {f"k{i}": 40}
    finally:
        if prev_deltas is None:
            spark.conf.unset("spark.sql.streaming.stateStore.minDeltasForSnapshot")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.minDeltasForSnapshot", prev_deltas
            )


def test_state_get_point_snapshot_deterministic(spark, tmp_path):
    """VERDICT r12 task 4: the single-partition point read is reached
    DETERMINISTICALLY on a freshly-driven checkpoint — no sleeps, no
    have-a-snapshot branch. snapshot_eager pins minDeltasForSnapshot=1 +
    100ms maintenance for the drive; await_partition_snapshot is a
    bounded event-wait on the snapshot file (written at latest by the
    final on-unload maintenance pass, SPARK-40492); the 1-partition
    plan is then asserted UNCONDITIONALLY for every key."""
    import os

    from kafka_streams_demo_spark.streaming.interactive import (
        await_partition_snapshot,
        snapshot_eager,
        state_get,
        state_get_point,
        state_partition,
    )

    src = tmp_path / "det_src"
    ck = str(tmp_path / "det_ck")
    os.makedirs(src)
    for b in range(3):
        spark.range(b * 20, (b + 1) * 20).selectExpr(
            "concat('k', id % 4) AS key", "id AS value"
        ).coalesce(1).write.parquet(str(src / f"b{b}"))

    with snapshot_eager(spark):
        stream = (
            spark.readStream.schema("key string, value long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        q = (
            stream.groupBy("key").count().writeStream.format("noop")
            .outputMode("update").option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)
        # bounded event-wait (not a sleep): every key's partition must
        # produce a snapshot under the eager confs
        n_parts = _state_partitions(spark, ck)
        for i in range(4):
            p = state_partition(spark, {"key": f"k{i}"}, n_parts)
            assert await_partition_snapshot(ck, p, timeout_s=30) >= 1

    for i in range(4):
        point = state_get_point(spark, ck, {"key": f"k{i}"})
        assert point.rdd.getNumPartitions() == 1, f"k{i}: not a point read"
        got = [(r["key"], r["count"]) for r in point.collect()]
        want = [
            (r["key"], r["count"])
            for r in state_get(spark, ck, {"key": f"k{i}"}).collect()
        ]
        assert got == want and got == [(f"k{i}", 15)]


def test_await_partition_snapshot_times_out_with_guidance(tmp_path):
    """The bounded wait fails loudly (with the configs to pin) instead of
    hanging when no maintenance will ever write a snapshot."""
    import pytest

    from kafka_streams_demo_spark.streaming.interactive import (
        await_partition_snapshot,
    )

    with pytest.raises(TimeoutError, match="snapshot_eager"):
        await_partition_snapshot(str(tmp_path), 0, timeout_s=0.2)

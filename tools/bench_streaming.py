"""End-to-end streaming throughput (BASELINE.md): run the word-count and
clicks-per-region pipeline shapes through Structured Streaming with
trigger(availableNow) over the driver tables and report rows/s.

Each suite runs once per state-store provider: the HDFS-backed default
(state lives on the executor heap + checkpoint files) and RocksDB
(off-heap, spill-to-disk — the provider a 100 TB-state deployment needs,
since hot state no longer has to fit in executor memory). Same queries,
same results; only the state backend changes.

Usage: python tools/bench_streaming.py [sf_dir] [--provider default|rocksdb|both]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kafka_streams_demo_spark import KStream  # noqa: E402
from kafka_streams_demo_spark.session import get_spark  # noqa: E402
from kafka_streams_demo_spark.sources.registry import load_table, read_stream_table  # noqa: E402
from kafka_streams_demo_spark.streaming.lifecycle import (  # noqa: E402
    _await_or_stop,
    _start_available_now,
)

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def run_noop(out, output_mode: str = "update") -> None:
    q = _start_available_now(
        out, "noop", output_mode, tempfile.mkdtemp(prefix="ckpt_bench_")
    )
    _await_or_stop(q, 600)


def run_suite(spark, sf_dir: str) -> dict[str, dict[str, float]]:
    results: dict[str, dict[str, float]] = {}

    # word count over streaming events (flatMap -> groupBy -> count, update)
    n_events = load_table(spark, "events", sf_dir).count()
    ev = read_stream_table(spark, "events", sf_dir)
    s = KStream.from_df(ev, key="user_id", value="value", timestamp="ts", offset="event_id")
    t0 = time.monotonic()
    run_noop(s.group_by_key().count().to_df())
    dt = time.monotonic() - t0
    results["events_count_by_key"] = {"rows": n_events, "sec": round(dt, 2),
                                      "rows_per_sec": round(n_events / dt)}

    # clicks-per-region shape on streaming orders joined to a broadcast dim
    n_orders = load_table(spark, "orders", sf_dir).count()
    o = read_stream_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    enriched = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("total_c"))
    )
    t0 = time.monotonic()
    run_noop(enriched)
    dt = time.monotonic() - t0
    results["orders_per_nation_stream"] = {"rows": n_orders, "sec": round(dt, 2),
                                           "rows_per_sec": round(n_orders / dt)}

    # tumbling-window count with watermark (the stateful window path)
    ev2 = read_stream_table(spark, "events", sf_dir)
    windowed = (
        ev2.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .count()
    )
    t0 = time.monotonic()
    run_noop(windowed, output_mode="append")
    dt = time.monotonic() - t0
    results["windowed_count_stream"] = {"rows": n_events, "sec": round(dt, 2),
                                        "rows_per_sec": round(n_events / dt)}

    # stateful processor (applyInPandasWithState running count — the
    # Processor API parity path, JVM<->Python Arrow boundary included)
    from kafka_streams_demo_spark.streaming.processor import running_count_processor

    ev3 = read_stream_table(spark, "events", sf_dir)
    s3 = KStream.from_df(ev3, key="event_type", value="value", timestamp="ts", offset="event_id")
    t0 = time.monotonic()
    run_noop(running_count_processor(s3.to_df()))
    dt = time.monotonic() - t0
    results["processor_running_count_stream"] = {"rows": n_events, "sec": round(dt, 2),
                                                 "rows_per_sec": round(n_events / dt)}

    # Avro serde round-trip in-stream (the Kafka value-serde shape:
    # project → to_avro binary → from_avro → aggregate), python codec path
    from kafka_streams_demo_spark.sources.avro import from_avro_df, to_avro_df

    schema_json = (
        '{"type": "record", "name": "Event", "fields": ['
        '{"name": "user_id", "type": "long"},'
        '{"name": "event_type", "type": "string"},'
        '{"name": "value", "type": "double"}]}'
    )
    ev4 = read_stream_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    rt = from_avro_df(
        to_avro_df(ev4, schema_json), schema_json
    ).groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    t0 = time.monotonic()
    run_noop(rt)
    dt = time.monotonic() - t0
    results["avro_roundtrip_stream"] = {"rows": n_events, "sec": round(dt, 2),
                                        "rows_per_sec": round(n_events / dt)}

    # schema-registry wire serde in-stream (header prepend/strip is JVM
    # column math; the Avro payload rides the same python codec)
    from kafka_streams_demo_spark.sources.schema_registry import (
        InMemorySchemaRegistry,
        from_avro_wire_df,
        to_avro_wire_df,
    )

    reg = InMemorySchemaRegistry()
    ev5 = read_stream_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    wired = to_avro_wire_df(ev5, schema_json, "events-value", reg)
    wrt = from_avro_wire_df(wired, "events-value", reg) \
        .groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    t0 = time.monotonic()
    run_noop(wrt)
    dt = time.monotonic() - t0
    results["wire_roundtrip_stream"] = {"rows": n_events, "sec": round(dt, 2),
                                        "rows_per_sec": round(n_events / dt)}

    # wall-clock punctuator drive (r12 — the ProcessingTimeTimeout path
    # changed in r11; this times the full 4-batch maxFilesPerTrigger=1
    # replay incl. timer re-fires). Input rows = the gap-injected subset
    # ((user_id + event_id % 4) % 3 != 0 — see _batched_events_stream_dir);
    # the stream dir is built once per session, warmed before timing.
    from kafka_streams_demo_spark.catalog import QUERIES

    n_drive = (
        load_table(spark, "events", sf_dir)
        .filter((F.col("user_id") + F.col("event_id") % 4) % 3 != 0)
        .count()
    )
    QUERIES["wallclock_punctuated_drive"](spark, sf_dir)  # warm: builds batch files
    t0 = time.monotonic()
    QUERIES["wallclock_punctuated_drive"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    dt = time.monotonic() - t0
    results["wallclock_punctuator_drive"] = {"rows": n_drive, "sec": round(dt, 2),
                                             "rows_per_sec": round(n_drive / dt)}
    return results


def main() -> None:
    args = [a for a in sys.argv[1:]]
    provider = "both"
    if "--provider" in args:
        i = args.index("--provider")
        if i + 1 >= len(args) or args[i + 1] not in ("default", "rocksdb", "both"):
            raise SystemExit("usage: --provider default|rocksdb|both")
        provider = args[i + 1]
        del args[i:i + 2]
    sf_dir = args[0] if args else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark(app_name="bench-streaming")
    spark.sparkContext.setLogLevel("ERROR")

    providers = {"default": None, "rocksdb": ROCKSDB_PROVIDER}
    if provider != "both":
        providers = {provider: providers[provider]}

    all_results: dict[str, dict] = {}
    for pname, pclass in providers.items():
        if pclass:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", pclass)
        else:
            try:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            except Exception:
                pass
        all_results[pname] = run_suite(spark, sf_dir)

    print(json.dumps({"metric": "streaming_throughput", "sf_dir": sf_dir,
                      "providers": list(all_results), "results": all_results}))
    spark.stop()


if __name__ == "__main__":
    main()

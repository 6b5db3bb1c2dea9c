"""Big-state streaming drive (VERDICT r12 task 3).

The streaming tier's suites carry ~100k rows of toy state; RocksDB's
actual argument is CAPACITY — state that no longer sits comfortably on
the executor heap. This tool drives the applyInPandasWithState
processor at a ladder of key counts (default 1M and 5M keys, each key
holding a count + a ~200-byte payload — the sessionization-state shape)
and the wall-clock punctuator at a bounded key count, under BOTH state
providers, and measures what the r12 verdict asked to stop asserting:

- rows/s end-to-end (2 micro-batches: full build + 20% update),
- the state operator's own memory report (stateOperators[0]
  .memoryUsedBytes — loaded-map heap estimate for the HDFS provider,
  block-cache+memtable+SST for RocksDB, plus provider customMetrics),
- JVM heap in use after the drive (System.gc() then Runtime delta) —
  the number that bounds the HDFS provider at scale: its maps LIVE on
  the executor heap, RocksDB's live off-heap and on disk.

At 5M keys x ~500B the HDFS provider holds multi-GB of heap maps (vs
the 8g default driver heap) while RocksDB's heap stays flat — the
measured crossover BASELINE.md records.

Usage: python tools/bench_bigstate.py [--keys 1000000,5000000]
           [--punctuator-keys 250000] [--provider default|rocksdb|both]
Prints one JSON line per (suite, provider, n_keys) plus a summary LAST.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kafka_streams_demo_spark.session import get_spark  # noqa: E402
from kafka_streams_demo_spark.streaming.lifecycle import (  # noqa: E402
    _await_or_stop,
    _await_settled,
    _start_available_now,
)
from kafka_streams_demo_spark.streaming.processor import (  # noqa: E402
    process_with_state,
    wallclock_punctuated_processor,
)

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
PAYLOAD_CHARS = 200


def payload_count_processor(stream):
    """Per-key running count PLUS a ~200-byte per-key payload — the
    realistic stateful-session shape (the toy suites keep 8 bytes/key,
    which understates the HDFS provider's heap story ~25x)."""
    import pandas as pd

    def fn(key, pdfs, state):
        if state.exists:
            n, payload = state.get
        else:
            n, payload = 0, (key[0] * (PAYLOAD_CHARS // max(len(key[0]), 1) + 1))[:PAYLOAD_CHARS]
        for pdf in pdfs:
            n += len(pdf)
        state.update((n, payload))
        yield pd.DataFrame({"key": [key[0]], "value": [n]})

    return process_with_state(
        stream,
        ["key"],
        fn,
        output_schema="key string, value long",
        state_schema="n long, payload string",
    )


def build_fixture(spark, root: str, n_keys: int) -> tuple[str, int]:
    """2 batch files: b0 = one row per key, b1 = updates for 20% of keys.
    Returns (dir, total_rows)."""
    d = os.path.join(root, f"keys_{n_keys}")
    if not os.path.isdir(os.path.join(d, "b1")):
        # ONE file per batch dir: maxFilesPerTrigger=1 must mean one
        # micro-batch per dir (32 part-files made 64 micro-batches and
        # the drive measured trigger overhead, not state throughput)
        spark.range(n_keys).selectExpr(
            "concat('k', id) AS key", "id AS value"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "b0"))
        spark.range(n_keys // 5).selectExpr(
            "concat('k', id * 5) AS key", "id AS value"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "b1"))
    return d, n_keys + n_keys // 5


def jvm_heap_used(spark) -> int:
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return int(rt.totalMemory() - rt.freeMemory())


def state_metrics(progress) -> dict:
    ops = (progress or {}).get("stateOperators") or []
    if not ops:
        return {}
    op = ops[0]
    keep = {
        k: op.get(k)
        for k in ("numRowsTotal", "numRowsUpdated", "memoryUsedBytes")
    }
    cm = op.get("customMetrics") or {}
    keep["customMetrics"] = {
        k: v
        for k, v in cm.items()
        if k
        in (
            "loadedMapCacheHitCount",
            "loadedMapCacheMissCount",
            "stateOnCurrentVersionSizeBytes",
            "rocksdbTotalMemoryUsage",
            "rocksdbSstFileSize",
            "rocksdbPinnedBlocksMemoryUsage",
        )
    }
    return keep


def run_drive(spark, src_dir: str, total_rows: int, make_out, suite: str,
              provider: str, n_keys: int, settle: bool) -> dict:
    ck = tempfile.mkdtemp(prefix=f"ckpt_bigstate_{suite}_")
    stream = (
        spark.readStream.schema("key string, value long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/*")
    )
    out = make_out(stream)
    t0 = time.monotonic()
    q = _start_available_now(out, "noop", "update", ck)
    if settle:
        _await_settled(q, deadline_s=1800)
    else:
        _await_or_stop(q, 1800)
    last = q.lastProgress
    wall = time.monotonic() - t0
    heap = jvm_heap_used(spark)
    rec = {
        "suite": suite,
        "provider": provider,
        "n_keys": n_keys,
        "rows": total_rows,
        "sec": round(wall, 2),
        "rows_per_sec": round(total_rows / wall),
        "jvm_heap_used_mb": round(heap / 2**20),
        "state": state_metrics(last),
    }
    shutil.rmtree(ck, ignore_errors=True)
    return rec


def main() -> None:
    args = sys.argv[1:]

    def opt(name, default):
        if name in args:
            i = args.index(name)
            v = args[i + 1]
            del args[i:i + 2]
            return v
        return default

    keys = [int(x) for x in opt("--keys", "1000000,5000000").split(",")]
    punct_keys = int(opt("--punctuator-keys", "250000"))
    provider = opt("--provider", "both")
    providers = {"default": None, "rocksdb": ROCKSDB_PROVIDER}
    if provider != "both":
        providers = {provider: providers[provider]}

    spark = get_spark(app_name="bench-bigstate")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="bigstate_fixture_")
    results = []
    try:
        for pname, pclass in providers.items():
            if pclass:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", pclass
                )
            else:
                try:
                    spark.conf.unset(
                        "spark.sql.streaming.stateStore.providerClass"
                    )
                except Exception:
                    pass
            for n in keys:
                d, rows = build_fixture(spark, root, n)
                rec = run_drive(
                    spark, d, rows, payload_count_processor,
                    "payload_count_processor", pname, n, settle=False,
                )
                results.append(rec)
                print(json.dumps(rec), flush=True)
            # punctuator: EVERY key's 1ms timer fires EVERY batch — the
            # full-state Python iteration is the semantic under test, so
            # its key count is bounded separately.
            d, rows = build_fixture(spark, root, punct_keys)
            rec = run_drive(
                spark, d, rows,
                lambda s: wallclock_punctuated_processor(
                    s, punctuate_interval_ms=1
                ),
                "wallclock_punctuator", pname, punct_keys, settle=True,
            )
            results.append(rec)
            print(json.dumps(rec), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"metric": "bigstate_streaming", "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()

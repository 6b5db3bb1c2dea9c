"""Interactive queries — the Kafka Streams ReadOnlyKeyValueStore surface.

Kafka Streams exposes running state stores for reads:
``KafkaStreams.store(name, QueryableStoreTypes.keyValueStore())`` then
``store.all()`` / ``store.get(key)`` / ``store.approximateNumEntries()``
(the API family the reference's store-backed processors
(WordCountProcessorExample.scala:25,83-85) would be queried through).

Spark's idiomatic equivalent is the state data source reader (Spark 4):
ANY streaming query's state store is queryable from its checkpoint as a
DataFrame — no side-channel server inside the stream job, the same
Catalyst scan path as every other table, and it works offline (after the
query stopped) or between micro-batches of a live query. ``state_get``
is a plain filter over that scan; ``state_get_point`` routes a key to
its one state partition and reads only that partition's files.

Scale: the reader maps state-store partitions to scan tasks — a 100 TB
RocksDB state reads like any partitioned table. No driver materialization
anywhere here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def state_store(
    spark: SparkSession,
    checkpoint: str,
    operator_id: int = 0,
    store_name: str | None = None,
    batch_id: int | None = None,
    flatten: bool = True,
) -> DataFrame:
    """``store.all()``: the full contents of one streaming state store.

    ``operator_id``/``store_name`` address a store when the query has
    several stateful operators; ``batch_id`` time-travels to an earlier
    micro-batch's state (Kafka Streams has no equivalent — checkpointed
    state versions come free with Spark's incremental checkpoint).
    ``flatten`` unnests the (key struct, value struct) shape into plain
    columns."""
    reader = spark.read.format("statestore").option("operatorId", operator_id)
    if store_name is not None:
        reader = reader.option("storeName", store_name)
    if batch_id is not None:
        reader = reader.option("batchId", batch_id)
    df = reader.load(checkpoint)
    if not flatten:
        return df
    return df.select("key.*", "value.*", "partition_id")


def _check_key_fields(key: dict[str, object], key_schema) -> None:
    """Raise ``ValueError`` unless ``key`` names exactly the store's key
    fields (``key_schema``, the store's key StructType)."""
    names = [f.name for f in key_schema.fields]
    if sorted(key) != sorted(names):
        raise ValueError(
            f"key columns {sorted(key)} do not match the store's key "
            f"fields {names}"
        )


def state_partition(
    spark: SparkSession,
    key: dict[str, object],
    num_partitions: int,
    key_schema=None,
) -> int:
    """The state-store partition holding ``key``: streaming state is laid
    out by ``HashPartitioning(grouping_keys, n)`` = ``pmod(murmur3_hash(
    keys), n)``, which is exactly ``F.hash`` — pinned against the
    ``partition_id`` column the state source reports
    (tests/test_streaming.py). One 1-row JVM job (the hash must be
    Spark's own, not Python's).

    ``key_schema`` (the store's key StructType) is REQUIRED for a correct
    hash whenever the store's key types differ from what Python literals
    infer: Murmur3 hashes int32 and int64 encodings differently, so a
    probe hashed as LongType against an IntegerType store key routes to
    the wrong partition (review r5). When given, it also fixes the hash
    ORDER to the store's field order, so the ``key`` dict's own ordering
    stops mattering."""
    probe = spark.createDataFrame([tuple(key.values())], list(key.keys()))
    if key_schema is not None:
        _check_key_fields(key, key_schema)
        cols = [
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in key_schema.fields
        ]
    else:
        cols = [F.col(c) for c in key.keys()]
    row = probe.select(
        F.pmod(F.hash(*cols), F.lit(num_partitions)).alias("p")
    ).first()
    return int(row["p"])


def state_get(
    spark: SparkSession,
    checkpoint: str,
    key: dict[str, object],
    **kwargs,
) -> DataFrame:
    """``store.get(key)``: point lookup — ``key`` maps key-column name →
    value (composite keys supported, any order). A key dict whose names
    do not match the store's key fields raises ``ValueError`` up front
    (schema only, no job) instead of silently returning nothing.

    The lookup is a filter over the :func:`state_store` scan and runs
    no job of its own. The state source evaluates the filter AFTER the
    scan (no SupportsPushDownFilters — the plan shows a codegen Filter
    directly over the BatchScan, pinned in tests), so every partition is
    opened. For the single-partition read — one input partition, one
    partition's snapshot+delta files — use :func:`state_get_point`,
    which falls back to this function while no snapshot exists."""
    kwargs.pop("flatten", None)  # lookups always flatten (filters need it)
    raw = state_store(spark, checkpoint, flatten=False, **kwargs)
    _check_key_fields(key, raw.schema["key"].dataType)
    df = raw.select("key.*", "value.*", "partition_id")
    for col, val in key.items():
        df = df.filter(F.col(col) == F.lit(val))
    return df


def latest_partition_snapshot(
    checkpoint: str, partition: int, operator_id: int = 0,
    store_name: str | None = None,
) -> int | None:
    """The newest state VERSION with a ``.snapshot`` file in ONE
    partition's checkpoint directory (``state/<op>/<p>[/<store>]/``), or
    None if maintenance hasn't produced one yet. Local-FS listing (this
    repo's deployment); an HDFS/S3 deployment swaps in its FileSystem
    listing — the layout is identical."""
    import os

    d = os.path.join(checkpoint, "state", str(operator_id), str(partition))
    if store_name is not None and store_name != "default":
        d = os.path.join(d, store_name)
    try:
        versions = [
            int(f[: -len(".snapshot")])
            for f in os.listdir(d)
            if f.endswith(".snapshot")
        ]
    except OSError:
        return None
    return max(versions) if versions else None


# The two configs that make partition snapshots PROMPT instead of
# eventual (VERDICT r12 task 4): snapshot after every delta, and a
# maintenance thread that runs ~immediately rather than every 60 s.
# Spark 3.4+ also runs maintenance once more on provider unload
# (SPARK-40492), so after an availableNow drive under these confs the
# snapshot lands within one maintenance cycle of query termination.
SNAPSHOT_EAGER_CONFS = {
    "spark.sql.streaming.stateStore.minDeltasForSnapshot": "1",
    "spark.sql.streaming.stateStore.maintenanceInterval": "100ms",
}


def snapshot_eager(spark: SparkSession):
    """Context manager pinning SNAPSHOT_EAGER_CONFS for a drive, restoring
    prior values on exit — use around the availableNow drive that builds a
    checkpoint :func:`state_get_point` will serve point reads from, so the
    single-partition path is reached deterministically instead of
    depending on the default 60 s maintenance timing."""
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        prior: dict[str, str | None] = {}
        for k, v in SNAPSHOT_EAGER_CONFS.items():
            prior[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
        # The state-store maintenance task is a JVM-global singleton whose
        # interval is FIXED when the first stateful query loads a store —
        # in a long-lived session that already ran one, the 100 ms conf
        # above never reaches the running thread and the old (default
        # 60 s) cadence stays, so the bounded snapshot wait times out
        # (r13: reproduced — eager drive after any plain stateful drive
        # never snapshots within 8 s; the full-suite failure of
        # test_state_get_point_snapshot_deterministic). StateStore.stop()
        # unloads idle providers and kills that thread; the drive's first
        # store load then restarts maintenance WITH the pinned interval.
        # Safe between queries (providers reload on demand); local-mode
        # scope — on a cluster each executor owns its singleton, so pin
        # the confs before the FIRST stateful query instead.
        try:
            jvm = spark._jvm  # type: ignore[attr-defined]
            jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        except Exception:  # pragma: no cover — non-local sessions
            pass
        try:
            yield
        finally:
            for k, old in prior.items():
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)

    return _cm()


def await_partition_snapshot(
    checkpoint: str,
    partition: int,
    operator_id: int = 0,
    store_name: str | None = None,
    timeout_s: float = 30.0,
    poll_s: float = 0.05,
) -> int:
    """Block (bounded) until ``partition`` has a ``.snapshot`` file and
    return its version. Event-driven wait on the thing the point read
    actually needs — not a blind sleep: under :func:`snapshot_eager`
    confs the snapshot is written by the next ~100 ms maintenance cycle
    (including the final on-unload maintenance pass after an
    availableNow drive terminates), so this returns almost immediately;
    the timeout only trips if maintenance is misconfigured, and the
    error says which configs to pin."""
    import time

    deadline = time.monotonic() + timeout_s
    while True:
        ver = latest_partition_snapshot(
            checkpoint, partition, operator_id, store_name
        )
        if ver is not None:
            return ver
        if time.monotonic() >= deadline:
            raise TimeoutError(
                f"no .snapshot for partition {partition} under {checkpoint} "
                f"within {timeout_s}s — drive the query under "
                f"snapshot_eager(spark) (pins {sorted(SNAPSHOT_EAGER_CONFS)}) "
                f"or raise timeout_s; without a snapshot state_get_point "
                f"serves the full-scan fallback"
            )
        time.sleep(poll_s)


def state_get_point(
    spark: SparkSession,
    checkpoint: str,
    key: dict[str, object],
    operator_id: int = 0,
    store_name: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """``store.get(key)`` as a TRUE single-partition read (VERDICT r11
    task 8): computes the key's state partition, finds that partition's
    newest ``.snapshot`` version, and drives the state source with
    ``snapshotPartitionId`` + ``snapshotStartBatchId`` — the Spark 4
    options that scope the scan to ONE partition's snapshot + trailing
    deltas (SPARK-45833 family). The returned scan has exactly one
    input partition (``rdd.getNumPartitions() == 1``, test-pinned), so
    a 100 TB state store answers a point lookup by opening one
    partition's files instead of scanning all of them.

    Availability contract: the HDFS-backed provider writes snapshots
    asynchronously (maintenance thread, every
    ``minDeltasForSnapshot`` deltas), so a young store may have only
    deltas — the source REFUSES a snapshot read it cannot serve
    (CANNOT_READ_MISSING_SNAPSHOT_FILE, verified empirically), it never
    silently widens. When no snapshot exists yet this helper falls back
    to :func:`state_get` (filtered full scan) — correct, just not
    single-partition; the fallback is visible in the plan (one scan
    partition per state partition vs 1)."""
    raw = state_store(
        spark, checkpoint, operator_id=operator_id,
        store_name=store_name, flatten=False,
    )
    if num_partitions is None:
        meta = state_metadata(spark, checkpoint)
        num_partitions = int(
            meta.filter(F.col("operatorId") == operator_id)
            .select("numPartitions").first()[0]
        )
    p = state_partition(
        spark, key, num_partitions, key_schema=raw.schema["key"].dataType
    )
    ver = latest_partition_snapshot(checkpoint, p, operator_id, store_name)
    if ver is None:
        return state_get(
            spark, checkpoint, key, operator_id=operator_id,
            **({"store_name": store_name} if store_name else {}),
        )
    reader = (
        spark.read.format("statestore")
        .option("operatorId", operator_id)
        # state version v is written by batch v-1: replay starts at the
        # snapshot and applies trailing deltas up to the last commit
        .option("snapshotStartBatchId", ver - 1)
        .option("snapshotPartitionId", p)
    )
    if store_name is not None:
        reader = reader.option("storeName", store_name)
    df = reader.load(checkpoint).select("key.*", "value.*", "partition_id")
    for col, val in key.items():
        df = df.filter(F.col(col) == F.lit(val))
    return df


def state_metadata(spark: SparkSession, checkpoint: str) -> DataFrame:
    """The store catalog for a checkpoint: operator ids/names, store
    names, partition counts, batch range — Kafka Streams'
    ``KafkaStreams.metadataForAllStreamsClients()`` role, minus the
    cluster (state lives in the checkpoint, not on stream instances)."""
    return spark.read.format("state-metadata").load(checkpoint)

"""Query lifecycle — the KafkaStreams.start()/close()/cleanUp() surface.

Reference mapping (SURVEY §2i):
- ``KafkaStreams.start`` / ``close(timeout)``
  (WordCountScalaExample.scala:175,189,193) → ``writeStream.start()`` /
  ``query.stop()`` / ``awaitTermination``
- ``streams.cleanUp()`` (WordCountScalaExample.scala:187) → delete the
  checkpoint directory
- application reset (README.md:25-33) → fresh checkpoint +
  ``startingOffsets=earliest``
- 1 s commit interval (StreamToTableJoinScalaIntegrationTestBase.scala:65)
  → ``trigger(processingTime='1 second')``
- state listener sketch (ConfluentKStreamsDemo.java:80-89) →
  ``StreamingQueryListener``

The availableNow harness is PySpark's TopologyTestDriver equivalent
(SURVEY §3 EP3): file source → transform → memory sink, synchronously
drained. Every drive (here and in tools/) starts through
``_start_available_now`` and finishes in one of two waits:
``_await_or_stop`` for a query that drains and terminates by itself, and
``_await_settled`` for a wall-clock punctuator plan, which never does.
"""

from __future__ import annotations

import json
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener


def _unsuppress(out, output_mode: str) -> tuple[DataFrame, str]:
    """A ``Suppressed`` wrapper (operators/grouped.py) runs in the append
    mode it mandates (emit-final-only windows), overriding ``output_mode``."""
    if hasattr(out, "output_mode") and hasattr(out, "df"):
        return out.df, out.output_mode
    return out, output_mode


def _start_available_now(
    out: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    output_mode: str = "update",
    checkpoint: str | None = None,
    name: str | None = None,
) -> StreamingQuery:
    """Start ``out`` under ``trigger(availableNow)``. ``sink`` is a
    foreachBatch function or a sink format ("memory", "noop"); ``name``
    names the query (and so the memory sink's table)."""
    writer = out.writeStream
    writer = writer.foreachBatch(sink) if callable(sink) else writer.format(sink)
    if name:
        writer = writer.queryName(name)
    return (
        writer.outputMode(output_mode)
        .option("checkpointLocation", checkpoint or tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )


def _await_or_stop(q: StreamingQuery, timeout_s: float) -> None:
    """Wait for an availableNow drive to finish; on timeout stop it and
    raise ``TimeoutError`` — a drive cut short would otherwise hand back
    a truncated result and leave its query running."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not finish within "
            f"{timeout_s}s; it was stopped"
        )


def _await_settled(q: StreamingQuery, settle_batches: int = 2,
                   deadline_s: float = 300) -> None:
    """Wait until a drive has settled, then stop it between micro-batches.

    Under a processing-time punctuator ``trigger(availableNow)`` never
    terminates: every timer fire re-registers the timer, so the query
    spins no-data batches until something stops it. Settled means
    ``settle_batches`` CONSECUTIVE progress events with zero input rows:
    every source file was consumed (so every data batch committed) and
    at least that many pure timer batches ran after the last data batch
    (so every live key's timer fired). Progress is read from
    ``q.recentProgress`` keyed by batchId, so every batch is observed
    exactly, however fast it runs. The stop waits for
    ``status["isTriggerActive"]`` to read false, so it lands between
    micro-batches rather than inside one that is writing state or a
    broadcast; availableNow starts the next trigger at once, so it can
    still catch that trigger's first step. A drive that has not settled within
    ``deadline_s`` is stopped and raises ``TimeoutError`` rather than
    returning a truncated prefix; a query that failed re-raises its
    error."""
    deadline = time.monotonic() + deadline_s
    seen: set[int] = set()
    idle = 0
    while q.isActive:
        if time.monotonic() >= deadline:
            q.stop()
            raise TimeoutError(
                f"streaming query {q.name or q.id} did not settle within "
                f"{deadline_s}s; it was stopped"
            )
        if idle < settle_batches:
            for p in q.recentProgress:
                if p.get("batchId") is None or p["batchId"] in seen:
                    continue
                seen.add(p["batchId"])
                idle = idle + 1 if not p.get("numInputRows") else 0
            time.sleep(0.05)
        elif not q.status["isTriggerActive"]:
            break
    q.stop()
    q.awaitTermination()


def run_available_now(
    out: DataFrame,
    output_mode: str = "update",
    name: str | None = None,
    checkpoint: str | None = None,
    timeout_s: float = 120,
) -> DataFrame:
    """Run a streaming DataFrame to a memory sink with
    ``trigger(availableNow)`` and return the result table — the synchronous
    pipe-records-through-the-DAG test path. Raises ``TimeoutError`` (after
    stopping the query) if the drive outlives ``timeout_s``. Accepts a
    ``Suppressed`` wrapper."""
    out, output_mode = _unsuppress(out, output_mode)
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    _await_or_stop(_start_available_now(out, "memory", output_mode, checkpoint, name), timeout_s)
    return out.sparkSession.table(name)


def run_punctuated_until_settled(
    out: DataFrame,
    output_mode: str = "update",
    name: str | None = None,
    checkpoint: str | None = None,
    settle_batches: int = 2,
    deadline_s: float = 300,
) -> DataFrame:
    """Drive a ProcessingTimeTimeout (wall-clock punctuator) plan to a
    memory sink and stop it once it has settled (see ``_await_settled``);
    returns the result table. Termination is event-driven (~the cost of
    the real batches), and ``deadline_s`` is only the safety backstop."""
    out, output_mode = _unsuppress(out, output_mode)
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = _start_available_now(out, "memory", output_mode, checkpoint, name)
    _await_settled(q, settle_batches, deadline_s)
    return out.sparkSession.table(name)


def run_foreach_batch(
    out: DataFrame,
    fn: Callable[[DataFrame, int], None],
    output_mode: str = "update",
    checkpoint: str | None = None,
    timeout_s: float = 120,
) -> None:
    """availableNow foreachBatch run — the KTable-materialization and
    arbitrary-sink path (stream-table join timing per SURVEY §2f).
    Raises ``TimeoutError`` (after stopping the query) if the drive
    outlives ``timeout_s``."""
    _await_or_stop(_start_available_now(out, fn, output_mode, checkpoint), timeout_s)


def clean_up(checkpoint_dir: str) -> None:
    """streams.cleanUp() parity: reset local state so the app reprocesses
    from scratch on next start."""
    shutil.rmtree(checkpoint_dir, ignore_errors=True)


class CollectingListener(StreamingQueryListener):
    """StreamingQueryListener parity with the reference's state-listener
    sketch (ConfluentKStreamsDemo.java:80-89): collects each progress
    event whole, as the dict of its JSON (``batchId``, ``durationMs``,
    ``stateOperators``, ``eventTime``, ``sources``, ...)."""

    def __init__(self):
        self.started: list[str] = []
        self.progress: list[dict] = []
        self.terminated: list[str] = []

    def onQueryStarted(self, event):
        self.started.append(str(event.id))

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.append(str(event.id))


def _hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path``: the helpers below list, test
    and create files through it, so a ``file://`` or ``s3a://`` URI works
    like a plain local path."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf()), p


def materialize_ktable(
    stream: DataFrame,
    snapshot_dir: str,
    checkpoint: str | None = None,
    timeout_s: float = 120,
) -> DataFrame:
    """Streaming KTable materialization: maintain a latest-per-key parquet
    snapshot via foreachBatch merge (SURVEY §1 design (b)).

    Each micro-batch: the batch ∪ the previous snapshot, resolved by
    ``KTable.from_stream`` (latest per key by ``offset``, else
    ``timestamp``; a key whose latest value is NULL is deleted) → write a
    NEW versioned snapshot dir ``v{batch_id}`` (atomic swap via directory
    rename is impossible on object stores; versioned dirs are the portable
    pattern). A rerun on the same checkpoint resumes from the newest
    version. Returns the final snapshot DataFrame.
    """
    from kafka_streams_demo_spark.operators.kstream import KStream
    from kafka_streams_demo_spark.operators.ktable import KTable

    spark = stream.sparkSession
    fs, pattern = _hadoop_fs(spark, f"{snapshot_dir}/v*")
    versions = [int(st.getPath().getName()[1:]) for st in fs.globStatus(pattern) or []]
    latest = f"{snapshot_dir}/v{max(versions)}" if versions else None

    def merge(batch: DataFrame, batch_id: int) -> None:
        nonlocal latest
        rows = KStream(batch).df
        if latest is not None:
            rows = rows.unionByName(spark.read.parquet(latest))
        path = f"{snapshot_dir}/v{batch_id}"
        KTable.from_stream(KStream(rows)).to_df().write.mode("overwrite").parquet(path)
        latest = path

    run_foreach_batch(stream, merge, output_mode="append", checkpoint=checkpoint, timeout_s=timeout_s)
    return spark.read.parquet(latest)


def idempotent_parquet_sink(base_dir: str) -> Callable[[DataFrame, int], None]:
    """Exactly-once SINK half (the source half is the checkpoint, see
    tests/test_streaming.py::test_checkpoint_resume_processes_only_new_data):
    a foreachBatch writer that lands each micro-batch under
    ``base_dir/batch_id=N`` and SKIPS batch ids already marked committed —
    so a retried batch (failure after write, before checkpoint commit)
    overwrites its own directory instead of duplicating rows. This is the
    portable transactional-sink pattern (Kafka Streams' EOS transactions →
    per-batch-id idempotent writes + atomic _COMMITTED marker); readers
    take only marked directories.
    """

    def write(batch: DataFrame, batch_id: int) -> None:
        dest = f"{base_dir}/batch_id={batch_id}"
        fs, marker = _hadoop_fs(batch.sparkSession, f"{dest}/_COMMITTED")
        if fs.exists(marker):
            return
        batch.write.mode("overwrite").parquet(dest)
        fs.create(marker, True).close()

    return write


def read_committed(spark: SparkSession, base_dir: str) -> DataFrame:
    """Read only the batches the idempotent sink marked committed."""
    fs, markers = _hadoop_fs(spark, f"{base_dir}/batch_id=*/_COMMITTED")
    dirs = sorted(str(st.getPath().getParent()) for st in fs.globStatus(markers) or [])
    return spark.read.parquet(*dirs)

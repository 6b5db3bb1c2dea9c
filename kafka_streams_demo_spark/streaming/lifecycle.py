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
drained.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener


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
    stopping the query) if the drive outlives ``timeout_s``.

    Accepts a ``Suppressed`` wrapper (operators/grouped.py): the wrapped
    plan runs in the append mode it mandates (emit-final-only windows),
    overriding ``output_mode``."""
    if hasattr(out, "output_mode") and hasattr(out, "df"):
        output_mode = out.output_mode
        out = out.df
    spark = out.sparkSession
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    checkpoint = checkpoint or tempfile.mkdtemp(prefix="ckpt_")
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    _await_or_stop(q, timeout_s)
    return spark.table(name)


def run_punctuated_until_settled(
    out: DataFrame,
    output_mode: str = "update",
    name: str | None = None,
    checkpoint: str | None = None,
    settle_batches: int = 2,
    deadline_s: float = 300,
) -> DataFrame:
    """Drive a ProcessingTimeTimeout (wall-clock punctuator) plan and
    STOP it deterministically (r12).

    ``trigger(availableNow)`` never self-terminates under a short
    punctuation interval: every timer fire re-registers the timer, so
    "available work" never drains and the query spins no-data batches
    until something external stops it. The previous path leaned on
    ``awaitTermination(120)`` expiring — 120 s of wall time PER DRIVE
    regardless of data (found while profiling the 122 s streaming-tier
    row), and a latent liveness hazard: had the DATA batches ever taken
    longer than the timeout under load, the drive would have returned a
    truncated prefix.

    This helper watches query progress instead: once ``settle_batches``
    CONSECUTIVE progress events carry zero input rows (all source files
    consumed — so every data batch committed — and ≥ that many pure
    timer batches ran, so every live key's timer fired after the last
    data batch), the query stops. Termination is event-driven (~the
    cost of the real batches), the wall-clock-timer semantics under
    test are fully exercised, and ``deadline_s`` is only the safety
    backstop: a drive that has not settled by then is stopped and
    raises ``TimeoutError`` rather than returning a truncated prefix.

    Progress is read from ``q.recentProgress`` (retains ~100 events)
    keyed by batchId, so EVERY batch's numInputRows is observed exactly
    — sampling ``lastProgress`` on a 50 ms poll could skip events for
    batches faster than the poll, making the consecutive-zero count
    approximate (under availableNow that could only delay termination,
    never fabricate it, but exact observation positively verifies the
    source drained)."""
    import time as _time

    if hasattr(out, "output_mode") and hasattr(out, "df"):
        output_mode = out.output_mode
        out = out.df
    spark = out.sparkSession
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    checkpoint = checkpoint or tempfile.mkdtemp(prefix="ckpt_")
    deadline = _time.monotonic() + deadline_s
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    seen: set[int] = set()
    idle = 0
    while q.isActive:
        if _time.monotonic() >= deadline:
            q.stop()
            raise TimeoutError(
                f"streaming query {name} did not settle within "
                f"{deadline_s}s; it was stopped"
            )
        for p in q.recentProgress:
            bid = p.get("batchId")
            if bid is None or bid in seen:
                continue
            seen.add(bid)
            if int(p.get("numInputRows", 0) or 0) == 0:
                idle += 1
            else:
                idle = 0
        if idle >= settle_batches:
            break
        _time.sleep(0.05)
    if q.isActive:
        q.stop()
    q.awaitTermination(30)
    return spark.table(name)


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
    checkpoint = checkpoint or tempfile.mkdtemp(prefix="ckpt_")
    q = (
        out.writeStream.foreachBatch(fn)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    _await_or_stop(q, timeout_s)


def clean_up(checkpoint_dir: str) -> None:
    """streams.cleanUp() parity: reset local state so the app reprocesses
    from scratch on next start."""
    shutil.rmtree(checkpoint_dir, ignore_errors=True)


class CollectingListener(StreamingQueryListener):
    """StreamingQueryListener parity with the reference's state-listener
    sketch (ConfluentKStreamsDemo.java:80-89): collects progress events."""

    def __init__(self):
        self.started: list[str] = []
        self.progress: list[dict] = []
        self.terminated: list[str] = []

    def onQueryStarted(self, event):
        self.started.append(str(event.id))

    def onQueryProgress(self, event):
        self.progress.append({"id": str(event.progress.id), "numInputRows": event.progress.numInputRows})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.append(str(event.id))


def materialize_ktable(
    stream: DataFrame,
    snapshot_dir: str,
    key_col: str = "key",
    order_col: str = "offset",
    checkpoint: str | None = None,
    timeout_s: float = 120,
) -> DataFrame:
    """Streaming KTable materialization: maintain a latest-per-key parquet
    snapshot via foreachBatch merge (SURVEY §1 design (b)).

    Each micro-batch: new-batch latest ∪ previous snapshot → recompute
    latest-per-key → write a NEW versioned snapshot dir (atomic swap via
    directory rename impossible on object stores; versioned dirs + latest
    pointer is the portable pattern). Returns the final snapshot DataFrame.
    """
    import os

    from pyspark.sql import functions as F

    spark = stream.sparkSession
    payload_cols = None

    def merge(batch: DataFrame, batch_id: int) -> None:
        nonlocal payload_cols
        payload_cols = [c for c in batch.columns if c != key_col]
        versions = sorted(
            (d for d in os.listdir(snapshot_dir) if d.startswith("v")),
            key=lambda d: int(d[1:]),
        ) if os.path.isdir(snapshot_dir) else []
        if versions:
            prev = spark.read.parquet(os.path.join(snapshot_dir, versions[-1]))
            union = batch.unionByName(prev)
        else:
            union = batch
        latest = (
            union.groupBy(key_col)
            .agg(F.max_by(F.struct(*payload_cols), F.col(order_col)).alias("_l"))
            .select(key_col, *[F.col(f"_l.{c}").alias(c) for c in payload_cols])
        )
        latest.write.mode("overwrite").parquet(os.path.join(snapshot_dir, f"v{batch_id}"))

    run_foreach_batch(stream, merge, output_mode="append", checkpoint=checkpoint, timeout_s=timeout_s)
    import os as _os

    versions = sorted(
        (d for d in _os.listdir(snapshot_dir) if d.startswith("v")), key=lambda d: int(d[1:])
    )
    return spark.read.parquet(_os.path.join(snapshot_dir, versions[-1]))


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
    import os

    def write(batch: DataFrame, batch_id: int) -> None:
        dest = os.path.join(base_dir, f"batch_id={batch_id}")
        marker = os.path.join(dest, "_COMMITTED")
        if os.path.exists(marker):
            return
        batch.write.mode("overwrite").parquet(dest)
        with open(marker, "w") as fh:
            fh.write("")

    return write


def read_committed(spark: SparkSession, base_dir: str) -> DataFrame:
    """Read only the batches the idempotent sink marked committed."""
    import os

    dirs = [
        os.path.join(base_dir, d)
        for d in sorted(os.listdir(base_dir))
        if d.startswith("batch_id=")
        and os.path.exists(os.path.join(base_dir, d, "_COMMITTED"))
    ]
    return spark.read.parquet(*dirs)

"""Processor API surface — custom stateful operators with keyed state.

The reference's Processor API (SURVEY §2h) is arbitrary per-record code
with a keyed state store and punctuator timers
(WordCountProcessorExample.scala:23-61). The idiomatic PySpark equivalent is
``applyInPandasWithState``:

- ``context.getStateStore().get/put``  → ``GroupState.get/update``
- ``context.schedule(..., punctuator)``→ ``GroupStateTimeout`` + timed-out
  emission per key (per-key timers, not cross-key store scans — same output
  set, idiomatic Spark shape; SURVEY §7 'punctuator parity')
- ``context.forward(k, v)``            → yielding output rows
- ``context.commit()``                 → checkpointing (automatic)

This boundary crosses JVM⇄Python via Arrow batches — the one serialization
cost the reference doesn't have, which is why it's reserved for semantics
the native operators can't express.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame


def process_with_state(
    stream: DataFrame,
    group_cols: list[str],
    func: Callable[[Any, Iterator[pd.DataFrame], Any], Iterator[pd.DataFrame]],
    output_schema: str,
    state_schema: str,
    output_mode: str = "update",
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Topology.addProcessor equivalent: run ``func(key, batches, state)``
    per key group with persistent GroupState across micro-batches."""
    return stream.groupBy(*group_cols).applyInPandasWithState(
        func,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf=timeout,
    )


def _running_count(
    stream: DataFrame,
    group_cols,
    timeout: str = "NoTimeout",
    punctuate_interval_ms: int = 0,
) -> DataFrame:
    """The one running-count body behind the three processors below: a
    per-key count in the state store, forwarded on every update. On a
    timer fire (``timeout`` "EventTimeTimeout" or "ProcessingTimeTimeout")
    the key re-forwards its count without new input; either way the timer
    is re-armed ``punctuate_interval_ms`` past the watermark or wall clock."""

    def count_fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        n = state.get[0] if state.exists else 0
        if not state.hasTimedOut:
            for pdf in pdfs:
                n += len(pdf)
            state.update((n,))
        if timeout == "EventTimeTimeout":
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + punctuate_interval_ms)
        elif timeout == "ProcessingTimeTimeout":
            state.setTimeoutDuration(punctuate_interval_ms)
        yield _pd.DataFrame({"key": [key[0]], "value": [n]})

    return process_with_state(
        stream,
        list(group_cols),
        count_fn,
        output_schema="key string, value long",
        state_schema="n long",
        timeout=timeout,
    )


def running_count_processor(
    stream: DataFrame, group_cols: list[str] = ("key",)
) -> DataFrame:
    """WordCountProcessor parity (WordCountProcessorExample.scala:23-61):
    per-key running count held in a state store, updated counts forwarded
    downstream each commit. Input: already-tokenized keyed records."""
    return _running_count(stream, group_cols)


def punctuated_count_processor(
    stream: DataFrame,
    group_cols: list[str] = ("key",),
    punctuate_interval_ms: int = 1000,
) -> DataFrame:
    """Punctuator parity (WordCountProcessorExample.scala:31-36):
    ``context.schedule(interval, STREAM_TIME, punctuator)`` re-emits the
    store contents as stream time advances — here each key re-forwards its
    running count when its event-time timer fires, even with no new input.

    Per-key ``GroupStateTimeout.EventTimeTimeout`` timers replace the
    reference's cross-key store scan (SURVEY §7 'punctuator parity': same
    output set, idiomatic per-key shape). Requires ``withWatermark`` on the
    input — timers fire when the watermark passes them, and each fire
    re-arms relative to the advancing watermark (STREAM_TIME semantics).
    """
    return _running_count(stream, group_cols, "EventTimeTimeout", punctuate_interval_ms)


def wallclock_punctuated_processor(
    stream: DataFrame,
    group_cols: list[str] = ("key",),
    punctuate_interval_ms: int = 1000,
) -> DataFrame:
    """WALL_CLOCK_TIME punctuator (the other PunctuationType the Kafka
    Streams API offers; the reference only exercises STREAM_TIME —
    WordCountProcessorExample.scala:31). Per-key
    ``GroupStateTimeout.ProcessingTimeTimeout`` timers fire on processing
    time regardless of watermark progress: each key re-forwards its
    running count ``punctuate_interval_ms`` of wall time after its last
    activity. No watermark required — wall-clock punctuation is
    independent of event time, same as the reference API."""
    return _running_count(stream, group_cols, "ProcessingTimeTimeout", punctuate_interval_ms)


def _make_tws_running_count():
    """transformWithStateInPandas processor as a factory (worker-safe
    by-value pickling — same rationale as the avro codec closures)."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class RunningCount(StatefulProcessor):
        def init(self, handle) -> None:
            self._count = handle.getValueState("count", "n long")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as _pd

            n = self._count.get()[0] if self._count.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._count.update((n,))
            yield _pd.DataFrame({"key": [key[0]], "value": [n]})

        def close(self) -> None:
            pass

    return RunningCount


def running_count_processor_tws(
    stream: DataFrame, group_cols: list[str] = ("key",)
) -> DataFrame:
    """The running-count processor on Spark 4's ``transformWithStateInPandas``
    — the modern Processor-API backend (SPARK-40434 "arbitrary stateful
    v2"): named state variables (value/list/map state), per-key timers,
    TTL, and schema evolution, vs ``applyInPandasWithState``'s single
    state tuple. Output parity with ``running_count_processor`` is pinned
    by test; both express WordCountProcessorExample.scala:23-61.

    Requires the RocksDB state-store provider
    (``spark.sql.streaming.stateStore.providerClass`` →
    ``...state.RocksDBStateStoreProvider``) — transformWithState state
    lives in RocksDB only, which is also the 100 TB-state deployment
    choice (BASELINE.md provider comparison). EXECUTION additionally needs
    the ``protobuf`` package (the TWS python worker protocol), which this
    container does not ship — topology construction and the output schema
    are pinned by test here; the run-parity test gates on protobuf.
    """
    proc = _make_tws_running_count()()
    return stream.groupBy(*group_cols).transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType="key string, value long",
        outputMode="Update",
        timeMode="None",
    )

"""KGroupedStream — post-groupBy, pre-aggregation (reference §2c-2e).

Aggregations return KTables (changelog views), mirroring the reference where
``count/aggregate/reduce`` on a KGroupedStream yield KTable
(DSLStatefulTransformation.scala:63-95). Algebraic folds (count/sum/min/max)
compile to hash aggregations with map-side partial combine — the scalable
path. Arbitrary non-algebraic folds go through ``fold`` (applyInPandas,
Arrow-batched) — the explicit slow path, mirroring the reference's Processor
API escape hatch.

Windowed aggregation (``windowed_by``) compiles to ``F.window`` /
``F.session_window`` grouping (DSLStatefulTransformation.scala:79-86).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_streams_demo_spark.operators.windows import (
    SessionWindows,
    SlidingWindows,
    TimeWindows,
    interval_ms,
)

KEY, VALUE, TS = "key", "value", "timestamp"


class KGroupedStream:
    """Grouping handle; holds the (possibly re-keyed) canonical DataFrame."""

    def __init__(self, df: DataFrame):
        self.df = df

    # -- unwindowed aggregations (§2d) ------------------------------------
    def _agg(self, agg_col: Column) -> "KTable":
        from kafka_streams_demo_spark.operators.ktable import KTable

        return KTable(self.df.groupBy(KEY).agg(agg_col.alias(VALUE)))

    def count(self) -> "KTable":
        """Running count per key. Reference: WordCountScalaExample.scala:116,
        DSLStatefulTransformation.scala:63."""
        return self._agg(F.count(F.lit(1)))

    def reduce(self, reducer: Callable[[Column], Column]) -> "KTable":
        """reduce(adder): fold without initializer. For algebraic adders the
        reducer is an aggregate expression over the value column, e.g.
        ``lambda v: F.sum(v)``. Reference: DSLStatefulTransformation.scala:94-95."""
        return self._agg(reducer(F.col(VALUE)))

    def aggregate(self, aggregator: Callable[[Column], Column]) -> "KTable":
        """aggregate(initializer)(adder) for algebraic folds — in Spark the
        initializer is the aggregate's identity, so this equals ``reduce``.
        Reference: DSLStatefulTransformation.scala:70-71 (seed 0L, adder +)."""
        return self._agg(aggregator(F.col(VALUE)))

    def fold(
        self,
        func: Callable,
        schema: str,
    ) -> DataFrame:
        """General non-algebraic fold: ``applyInPandas`` over each key group.
        ``func(pdf) -> pdf`` receives all rows of one key (Arrow-batched).
        The escape hatch for folds Spark can't express algebraically —
        equivalent in role to the reference's Processor API state loop
        (WordCountProcessorExample.scala:41-51)."""
        return self.df.groupBy(KEY).applyInPandas(func, schema=schema)

    # -- windowing (§2e) ---------------------------------------------------
    def windowed_by(
        self, windows: TimeWindows | SessionWindows | SlidingWindows
    ) -> "WindowedKGroupedStream":
        return WindowedKGroupedStream(self.df, windows)


class WindowedKGroupedStream:
    """Grouping by (event-time window, key).

    Result schema: ``key, window_start, window_end, value`` — the flattened
    form of the reference's ``KTable[Windowed[K], V]``
    (DSLStatefulTransformation.scala:79-86, key rendering :117-123).
    """

    def __init__(self, df: DataFrame, windows: TimeWindows | SessionWindows, ts_col: str = TS):
        self.df = df
        self.windows = windows
        self.ts_col = ts_col

    def _window_col(self) -> Column:
        w = self.windows
        if isinstance(w, SessionWindows):
            return F.session_window(F.col(self.ts_col), w.gap)
        if w.advance_by is not None:
            return F.window(F.col(self.ts_col), w.size, w.advance_by)
        return F.window(F.col(self.ts_col), w.size)

    def _agg(self, agg_col: Column) -> DataFrame:
        if isinstance(self.windows, SlidingWindows):
            return self._sliding_agg(agg_col)
        win = self._window_col().alias("_w")
        out = self.df.groupBy(win, F.col(KEY)).agg(agg_col.alias(VALUE))
        return out.select(
            KEY,
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            VALUE,
        )

    def _sliding_agg(self, agg_col: Column) -> DataFrame:
        """SlidingWindows: per-record trailing window [ts - size, ts],
        compiled to a RANGE window frame over epoch-millis — no self-join.
        With ``with_expiry_windows()``, ALSO emits every non-empty
        expiry-opened window [ts + 1, ts + 1 + size] (a LEADING range
        frame anchored at each record) — together the exact Kafka Streams
        2.7 window set. Unbucketed: one shuffle on the key, per-KEY
        ordered scan (fine for bounded keys; a hot key serializes).
        Bucketed (``bucketed_by``): partition by (key, time-bucket),
        replicating each bucket's last ``size`` into the successor (and
        first ``size`` into the predecessor when expiry windows need
        lookahead) as non-emitting context rows — every record still sees
        its full window (it spans ≤1 boundary since bucket ≥ size),
        results are bit-identical (same-oracle catalog entries pin this),
        and a hot key parallelizes across its time span. Batch-view
        semantics; for streaming use hopping windows or a stateful
        processor. Identical windows (records sharing a timestamp)
        dedupe, matching Kafka's one-result-per-distinct-window
        contract."""
        from pyspark.sql.window import Window as _W

        size = interval_ms(self.windows.size)
        ts_ms = F.unix_millis(F.col(self.ts_col))
        out_cols = [
            KEY,
            (F.col(self.ts_col) - F.expr(f"INTERVAL {self.windows.size}")).alias(
                "window_start"
            ),
            F.col(self.ts_col).alias("window_end"),
        ]
        # expiry-opened window bounds: [ts + 1ms, ts + 1ms + size]
        left_cols = [
            KEY,
            F.timestamp_millis(ts_ms + 1).alias("window_start"),
            F.timestamp_millis(ts_ms + 1 + size).alias("window_end"),
        ]
        if self.windows.bucket is None:
            w = _W.partitionBy(KEY).orderBy(ts_ms)
            right = self.df.select(
                *out_cols, agg_col.over(w.rangeBetween(-size, 0)).alias(VALUE)
            )
            if not self.windows.full:
                return right.distinct()
            frame_l = w.rangeBetween(1, size + 1)
            left = (
                self.df.select(
                    *left_cols,
                    agg_col.over(frame_l).alias(VALUE),
                    F.count(F.lit(1)).over(frame_l).alias("_n"),
                )
                .filter(F.col("_n") > 0)  # only windows that hold a record
                .drop("_n")
            )
            return right.unionByName(left).distinct()

        bucket = interval_ms(self.windows.bucket)
        own = self.df.withColumn("_bkt", F.floor(ts_ms / bucket)).withColumn(
            "_ctx", F.lit(False)
        )
        tail = (
            self.df.filter(ts_ms % bucket >= bucket - size)
            .withColumn("_bkt", F.floor(ts_ms / bucket) + 1)
            .withColumn("_ctx", F.lit(True))
        )
        u = own.unionByName(tail)
        if self.windows.full:
            # lookahead context: each bucket's head rows (≤ size+1ms past
            # the boundary) replicated into the PREVIOUS bucket, so a
            # leading frame anchored late in a bucket sees its successors
            head = (
                self.df.filter(ts_ms % bucket <= size)
                .withColumn("_bkt", F.floor(ts_ms / bucket) - 1)
                .withColumn("_ctx", F.lit(True))
            )
            u = u.unionByName(head)
        w = _W.partitionBy(KEY, "_bkt").orderBy(ts_ms)
        right = (
            u.select(
                *out_cols, F.col("_ctx"),
                agg_col.over(w.rangeBetween(-size, 0)).alias(VALUE),
            )
            .filter(~F.col("_ctx"))
            .drop("_ctx")
        )
        if not self.windows.full:
            return right.distinct()
        frame_l = w.rangeBetween(1, size + 1)
        left = (
            u.select(
                *left_cols, F.col("_ctx"),
                agg_col.over(frame_l).alias(VALUE),
                F.count(F.lit(1)).over(frame_l).alias("_n"),
            )
            .filter(~F.col("_ctx") & (F.col("_n") > 0))
            .drop("_ctx", "_n")
        )
        return right.unionByName(left).distinct()

    def count(self) -> DataFrame:
        """Tumbling/session count. Reference: DSLStatefulTransformation.scala:79-86."""
        return self._agg(F.count(F.lit(1)))

    def reduce(self, reducer: Callable[[Column], Column]) -> DataFrame:
        return self._agg(reducer(F.col(VALUE)))

    def aggregate(self, aggregator: Callable[[Column], Column]) -> DataFrame:
        return self._agg(aggregator(F.col(VALUE)))


def cogroup(
    groups: list[tuple["KGroupedStream", Callable[[Column], Column]]],
    merge: Callable[[list[Column]], Column] | None = None,
) -> "KTable":
    """``KGroupedStream.cogroup(...).aggregate(...)`` parity — the Kafka
    Streams 2.5+ operator that folds SEVERAL same-keyed streams into one
    KTable, each stream contributing through its own adder (API surface
    the reference predates). For the algebraic adders this engine's
    aggregate() supports, the shared accumulator decomposes per stream:
    tag each input, union, and compute every stream's aggregate in ONE
    hash aggregation — a single shuffle over the union, with map-side
    combine, instead of N aggregations + an N-way join. ``merge``
    combines the per-stream aggregates into the final value (default:
    sum of null-coalesced parts, matching a shared numeric accumulator
    with commutative adders)."""
    from functools import reduce as _reduce

    from pyspark.sql import DataFrame as _DF

    from kafka_streams_demo_spark.operators.ktable import KTable

    # One value column PER stream (null off-stream) rather than a shared
    # column: each stream keeps its own value type through the union
    # (Kafka Streams cogroup allows per-stream value types too).
    n = len(groups)
    tagged = [
        g.df.select(
            KEY,
            *[
                (F.col(VALUE) if j == i else F.lit(None)).alias(f"_v{j}")
                for j in range(n)
            ],
        )
        for i, (g, _) in enumerate(groups)
    ]
    u = _reduce(_DF.unionByName, tagged)
    parts = [
        agg(F.col(f"_v{i}")).alias(f"_a{i}") for i, (_, agg) in enumerate(groups)
    ]
    agged = u.groupBy(KEY).agg(*parts)
    part_cols = [F.col(f"_a{i}") for i in range(len(groups))]
    if merge is None:
        merged = _reduce(
            lambda a, b: a + b, [F.coalesce(c, F.lit(0)) for c in part_cols]
        )
    else:
        merged = merge(part_cols)
    return KTable(agged.select(KEY, merged.alias(VALUE)))


class Suppressed:
    """``suppress(Suppressed.untilWindowCloses(...))`` parity — the Kafka
    Streams operator that holds a windowed aggregate's updates and emits
    ONLY the final result per window. Spark's native expression of the
    same contract is APPEND output mode on a watermarked windowed
    aggregation: each window emits exactly once, when the watermark
    passes its end. This wrapper carries that requirement with the plan
    so the lifecycle helper can't accidentally run the query in update
    mode (which would re-emit per micro-batch — the unsuppressed
    behavior). Use ``suppress(windowed_agg_df)``; requires
    ``withWatermark`` upstream, same as the reference requires a grace
    period for final results."""

    output_mode = "append"

    def __init__(self, df: DataFrame):
        self.df = df


def suppress(windowed_agg: DataFrame) -> Suppressed:
    """Emit-final-only marker for a windowed aggregate (see Suppressed)."""
    return Suppressed(windowed_agg)


def windowed_key_string(df: DataFrame) -> DataFrame:
    """Render the reference's windowed-key format ``key@[start : end]``
    (DSLStatefulTransformation.scala:117-123) over a windowed-agg result."""
    return df.select(
        F.concat(
            F.col(KEY).cast("string"),
            F.lit("@["),
            F.col("window_start").cast("string"),
            F.lit(" : "),
            F.col("window_end").cast("string"),
            F.lit("]"),
        ).alias(KEY),
        F.col(VALUE),
    )

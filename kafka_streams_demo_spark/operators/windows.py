"""Window descriptors — declarative equivalents of the reference's window types.

Reference usage (all in DSLStatefulTransformation.scala / StreamToStreamJoinExample.scala):
- ``TimeWindows.of(Duration.ofMinutes(5)).grace(Duration.ofMinutes(3))``
  (DSLStatefulTransformation.scala:79-81) → tumbling event-time window
- ``SessionWindows.with(Duration.ofSeconds(5))``
  (DSLStatefulTransformation.scala:84-86) → session window, inactivity gap
- ``JoinWindows.of(Duration.ofSeconds(1))``
  (StreamToStreamJoinExample.scala:92-95) → symmetric stream-stream join bound

These are pure descriptors; the grouped/join operators translate them to
``F.window`` / ``F.session_window`` / time-bound join predicates, and grace
to ``withWatermark`` in streaming mode (batch mode ignores grace — every
record is on time, identical final results).
"""

from __future__ import annotations

from dataclasses import dataclass


def _as_interval(spec: str | float | int) -> str:
    """Accept '5 minutes' or a number of seconds; return a SQL interval string."""
    if isinstance(spec, (int, float)):
        return f"{spec} seconds"
    return spec


@dataclass(frozen=True)
class TimeWindows:
    """Tumbling (or, with ``advance_by``, hopping) event-time windows."""

    size: str
    grace: str | None = None
    advance_by: str | None = None

    @classmethod
    def of(cls, size: str | float, grace: str | float | None = None) -> "TimeWindows":
        return cls(_as_interval(size), _as_interval(grace) if grace is not None else None)

    def advance(self, step: str | float) -> "TimeWindows":
        return TimeWindows(self.size, self.grace, _as_interval(step))


@dataclass(frozen=True)
class SessionWindows:
    """Session windows: events within ``gap`` of each other merge into one session."""

    gap: str

    @classmethod
    def with_gap(cls, gap: str | float) -> "SessionWindows":
        return cls(_as_interval(gap))


_INTERVAL_MS = {
    "second": 1_000, "seconds": 1_000,
    "minute": 60_000, "minutes": 60_000,
    "hour": 3_600_000, "hours": 3_600_000,
    "day": 86_400_000, "days": 86_400_000,
}


def interval_ms(spec: str) -> int:
    """'2 hours' → 7200000. Single-unit SQL interval strings only."""
    n, unit = spec.strip().split()
    if unit not in _INTERVAL_MS:
        raise ValueError(f"unsupported interval unit {unit!r} in {spec!r}")
    return int(float(n) * _INTERVAL_MS[unit])


@dataclass(frozen=True)
class SlidingWindows:
    """Sliding event-time windows (the Kafka Streams 2.7 ``SlidingWindows``
    surface, post-reference): for each record, the trailing window
    ``[ts - size, ts]`` aggregated per key. Unlike hopping windows there is
    no fixed grid — windows are anchored at record timestamps, so results
    track actual activity instead of grid alignment.

    API-parity note (ADVICE r4): upstream Kafka Streams ADDITIONALLY emits
    windows that OPEN when an earlier record falls out of range —
    ``[prev_ts + 1, prev_ts + 1 + size]`` — so its full window set is
    record-anchored + expiry-anchored. DEFAULT here: record-anchored
    (per-record trailing) windows only — one output row per input record,
    the rolling-aggregate reading. ``with_expiry_windows()`` opts into
    the FULL upstream window set: every non-empty expiry-opened window is
    emitted too, matching the Kafka Streams 2.7 semantics exactly
    (pinned against a hand-computed model and a SQL oracle).

    ``bucket``: the scale path. A plain RANGE frame partitions by key
    alone, so one hot key (10⁹ events) becomes a single sort task;
    ``bucketed_by`` re-partitions by (key, time-bucket) with each
    bucket's last ``size`` replicated into the successor (and, with
    expiry windows, its first ``size`` into the predecessor) as context
    rows — bit-identical results (each window spans at most one bucket
    boundary), parallelism ∝ key-span/bucket. Requires bucket ≥ size."""

    size: str
    bucket: str | None = None
    full: bool = False

    def __post_init__(self):
        if self.bucket is None:
            return
        bucket, size = interval_ms(self.bucket), interval_ms(self.size)
        if bucket < size:
            raise ValueError(
                f"bucket {self.bucket!r} must be >= window size {self.size!r} "
                "(a window may span at most one bucket boundary)"
            )
        # a leading (expiry) frame spans size+1 ms: at bucket == size an
        # anchor at a bucket's last ms reaches the first ms of the bucket
        # after next, which one-deep head replication never delivers
        if self.full and bucket <= size:
            raise ValueError(
                f"expiry windows need bucket {self.bucket!r} strictly greater "
                f"than window size {self.size!r} (leading frames span size+1 ms)"
            )

    @classmethod
    def with_size(cls, size: str | float) -> "SlidingWindows":
        return cls(_as_interval(size))

    def bucketed_by(self, bucket: str | float) -> "SlidingWindows":
        return SlidingWindows(self.size, _as_interval(bucket), self.full)

    def with_expiry_windows(self) -> "SlidingWindows":
        """Emit the FULL Kafka Streams 2.7 window set: record-anchored
        trailing windows plus every non-empty expiry-opened window
        ``[ts + 1, ts + 1 + size]``."""
        return SlidingWindows(self.size, self.bucket, True)


@dataclass(frozen=True)
class JoinWindows:
    """Stream-stream join time bound: pair iff same key and
    ``other.ts`` within ``[this.ts - before, this.ts + after]``.

    Asymmetric bounds mirror the Kafka Streams API
    (``JoinWindows.of(size).before(d)`` / ``.after(d)``): ``with_before``
    and ``with_after`` return a copy overriding one side — e.g.
    ``JoinWindows.of("1 minute").with_after(0)`` pairs only with earlier-
    or-equal right-side records (the "enrich with what already happened"
    shape)."""

    before: str
    after: str

    @classmethod
    def of(cls, size: str | float) -> "JoinWindows":
        iv = _as_interval(size)
        return cls(iv, iv)

    def with_before(self, d: str | float) -> "JoinWindows":
        return JoinWindows(_as_interval(d), self.after)

    def with_after(self, d: str | float) -> "JoinWindows":
        return JoinWindows(self.before, _as_interval(d))

"""The streaming workload, ``clicks_window_stream``.

Each run has two timed phases, both on one session:

1. open loop: pre-generated files are renamed into the source directory
   by one generator thread at a fixed rate, whether or not the engine
   keeps up. A file's latency runs from its scheduled due time to the end
   of the micro-batch that committed it. The file-to-batch map comes from
   the checkpoint's file-source log, and batch end times from whole
   progress events kept by the benchmark's own listener;
2. drain: the same pipeline drains a fixed backlog with ``availableNow``.

Every output is recomputed by DuckDB from the generated files.
"""

from __future__ import annotations

import json
import os
import threading
import time
from datetime import datetime, timedelta, timezone

import duckdb
import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import gen
from harness import SETUPS, Run, median, peak_rss_mb, percentile, set_up
from kafka_streams_demo_spark import KStream
from kafka_streams_demo_spark.operators.windows import TimeWindows

PERIOD_S = 0.04  # the open loop offers one file every 40 ms
# files due in the first WARM_S are not timed. They warm the JVM up on
# the open loop's own path (the first micro-batch pays code generation,
# then the JIT compiles): with 4 s untimed after a separate warm-up run,
# the latency of a 3 s segment fell by a fifth or more from the first to
# the third, and with 10 s by a tenth from the first to the fourth
WARM_S = 15.0
SEGMENTS = 4  # latency percentiles are taken per quarter of the timed files
SETTLE_S = 30.0  # how long the open loop may take to commit its last file
DRAINS = 2  # the drain runs twice; a traced run traces the second

WINDOW, WATERMARK, JITTER_S = "2 seconds", "2 seconds", 1.0
WINDOW_US = 2_000_000
N_USERS, USER_ZIPF = 2000, 1.1
CLICK_SCHEMA = "user_id long, clicks long, ts timestamp"


class ProgressLog(StreamingQueryListener):
    """Keeps every progress event whole (as its JSON text) for the life of
    the run."""

    def __init__(self):
        self.raw: list[str] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.raw.append(event.progress.json)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def events(self, query_id) -> list[dict]:
        qid = str(query_id)
        evs = [json.loads(r) for r in list(self.raw)]
        return sorted((e for e in evs if e["id"] == qid), key=lambda e: e["batchId"])


def _instant(iso: str) -> datetime:
    return datetime.fromisoformat(iso.replace("Z", "+00:00"))


def _epoch_us(ts: datetime) -> int:
    """Exact microseconds since the epoch; naive datetimes are UTC."""
    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc if ts.tzinfo else None)
    return (ts - epoch) // timedelta(microseconds=1)


def batch_start(event: dict) -> float:
    return _instant(event["timestamp"]).timestamp()


def batch_end(event: dict) -> float:
    """Epoch seconds at which a micro-batch finished: trigger start plus
    ``triggerExecution``."""
    return batch_start(event) + event["durationMs"].get("triggerExecution", 0) / 1000.0


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> batch id, read from the file source's log
    (``sources/0/N`` and the ``N.compact`` files that fold earlier ones)."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    try:
        names = os.listdir(log_dir)
    except FileNotFoundError:
        return out
    for name in names:
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        try:
            with open(os.path.join(log_dir, name)) as fh:
                lines = fh.read().splitlines()
        except FileNotFoundError:
            continue
        for line in lines[1:]:
            entry = json.loads(line)
            out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def watermark_us(events: list[dict]) -> int:
    """The highest watermark any batch ran with, in epoch microseconds."""
    marks = [e.get("eventTime", {}).get("watermark") for e in events]
    return max((_epoch_us(_instant(m)) for m in marks if m), default=0)


# -- workload definitions ------------------------------------------------------

class Clicks:
    """Click events joined to a static user->region KTable, re-keyed by
    region and summed in a watermarked tumbling window (append mode)."""

    rows_per_file = 100  # 2,500 rows/s offered
    drain_files, drain_rows, drain_max_files = 40, 1000, 10

    def __init__(self, run: Run, rng: np.random.Generator, n_files: int):
        self.run = run
        self.users = run.path("inputs", "users.parquet")
        gen.write_parquet(self.users, gen.click_users(N_USERS, rng))
        self.staging = run.dir("inputs", "staging")
        self.names = []
        for i, t in enumerate(gen.click_files(rng, n_files, self.rows_per_file, PERIOD_S, JITTER_S, N_USERS, USER_ZIPF)):
            self.names.append(f"part-{i:06d}.parquet")
            gen.write_parquet(os.path.join(self.staging, self.names[-1]), t)
        self.backlog = run.dir("inputs", "backlog")
        for i, t in enumerate(gen.click_files(rng, self.drain_files, self.drain_rows, 0.5, JITTER_S, N_USERS, USER_ZIPF)):
            gen.write_parquet(os.path.join(self.backlog, f"part-{i:06d}.parquet"), t)

    def pipeline(self, spark, src: str, max_files: int | None = None):
        with self.run.span("operators.build"):
            reader = spark.readStream.schema(CLICK_SCHEMA)
            if max_files:
                reader = reader.option("maxFilesPerTrigger", max_files)
            clicks = KStream.from_df(
                reader.parquet(src), key="user_id", value="clicks", timestamp="ts"
            ).with_watermark(WATERMARK)
            regions = KStream.from_df(
                spark.read.parquet(self.users), key="user_id", value="region", offset="user_id"
            ).to_table()
            return (
                clicks.join(regions, lambda c, r: F.struct(c.alias("clicks"), r.alias("region")))
                .group_by(lambda k, v: v["region"])
                .windowed_by(TimeWindows.of(WINDOW))
                .aggregate(lambda v: F.sum(v["clicks"]))
            )

    def check(self, spark, table: str, files: list[str], events: list[dict], what: str) -> None:
        """Every window the final watermark closed must be emitted once,
        with DuckDB's sum; no other window may be emitted."""
        mark = watermark_us(events)
        got, repeats = {}, 0
        for r in spark.table(table).collect():
            k = (r["key"], _epoch_us(r["window_start"]))
            repeats += k in got
            got[k] = r["value"]
        con = duckdb.connect()
        want = dict(
            ((region, bucket * WINDOW_US), total)
            for region, bucket, total in con.execute(
                "SELECT u.region, epoch_us(e.ts) // ? AS b, sum(e.clicks) "
                "FROM read_parquet(?) e JOIN read_parquet(?) u USING (user_id) "
                "GROUP BY 1, 2 HAVING (b + 1) * ? <= ?",
                [WINDOW_US, files, self.users, WINDOW_US, mark],
            ).fetchall()
        )
        con.close()
        self.run.check(bool(want) and got == want and not repeats,
                       f"{what}: {len(got)} windows emitted ({repeats} twice), {len(want)} expected, "
                       f"{sum(1 for k in want if got.get(k) != want[k])} differ")


# -- phases --------------------------------------------------------------------

def _start(out, qname: str, ckpt: str, available_now: bool = False):
    writer = (
        out.writeStream.format("memory").queryName(qname)
        .outputMode("append").option("checkpointLocation", ckpt)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def open_loop(run: Run, spark, log: ProgressLog, w, n_warm: int) -> dict:
    src = run.dir("src")
    ckpt = run.dir("ckpt", "open_loop")
    out = w.pipeline(spark, src)
    q = _start(out, "open_loop", ckpt)
    t0 = time.time() + 0.2
    due = [t0 + i * PERIOD_S for i in range(len(w.names))]
    moved: list[float] = []

    def feed():
        for name, d in zip(w.names, due):
            wait = d - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(os.path.join(w.staging, name), os.path.join(src, name))
            moved.append(time.time())

    feeder = threading.Thread(target=feed, name="generator")
    feeder.start()
    feeder.join()
    deadline = time.time() + SETTLE_S
    while time.time() < deadline and q.isActive:
        fb = file_batches(ckpt)
        done = {e["batchId"] for e in log.events(q.id)}
        if len(fb) == len(w.names) and all(b in done for b in fb.values()):
            break
        time.sleep(0.05)
    q.stop()
    events = log.events(q.id)
    if q.lastProgress is not None:
        events = events + [q.lastProgress]
    fb = file_batches(ckpt)
    ends = {e["batchId"]: batch_end(e) for e in events}
    latencies: list[float] = []
    segments: dict[int, list[float]] = {}
    for i, name in enumerate(w.names):
        b = fb.get(name)
        if run.check(b is not None and b in ends, f"open loop: {name} not committed") and i >= n_warm:
            latencies.append((ends[b] - due[i]) * 1000.0)
            seg = (i - n_warm) * SEGMENTS // (len(w.names) - n_warm)
            segments.setdefault(seg, []).append(latencies[-1])
    w.check(spark, "open_loop", [os.path.join(src, n) for n in w.names if n in fb],
            events, "open loop output")
    data = [e for e in log.events(q.id) if e["numInputRows"] > 0 and batch_start(e) >= due[n_warm] - 1]
    return {
        "latencies_ms": latencies,
        "segments_ms": list(segments.values()),
        "late_ms": [(m - d) * 1000.0 for m, d in zip(moved, due)],
        "events": data,
        "all_events": events,
        "backlog_max": _backlog_max(moved, fb, data),
    }


def _backlog_max(moved: list[float], fb: dict[str, int], events: list[dict]) -> int:
    """Most files waiting in the source directory when a batch started."""
    per_batch: dict[int, int] = {}
    for b in fb.values():
        per_batch[b] = per_batch.get(b, 0) + 1
    worst = 0
    for e in events:
        start = batch_start(e)
        arrived = sum(1 for m in moved if m <= start)
        taken = sum(n for b, n in per_batch.items() if b < e["batchId"])
        worst = max(worst, arrived - taken)
    return worst


def drain(run: Run, spark, log: ProgressLog, w, k: int) -> float:
    """Drain the fixed backlog once; returns the wall seconds."""
    ckpt = run.dir("ckpt", f"drain{k}")
    qname = f"drain{k}"
    with run.span("streaming.drain") as sp:
        out = w.pipeline(spark, w.backlog, max_files=w.drain_max_files)
        q = _start(out, qname, ckpt, available_now=True)
        q.awaitTermination(120)
    ok = run.check(q.exception() is None and not q.isActive, f"{qname}: did not finish")
    if not ok:
        q.stop()
        return sp["wall_s"]
    events = log.events(q.id) + ([q.lastProgress] if q.lastProgress else [])
    files = [os.path.join(w.backlog, f) for f in sorted(os.listdir(w.backlog))]
    w.check(spark, qname, files, events, qname)
    spark.sql(f"DROP VIEW IF EXISTS {qname}")
    return sp["wall_s"]


# -- the workload --------------------------------------------------------------

def run_workload(run: Run) -> dict:
    """Returns end-to-end metrics (untraced) or per-layer metrics (traced)."""
    rng = np.random.default_rng(run.seed)
    # the open loop is timed for the run length (250 timed files at 10 s,
    # four 2.5 s segments); the drains follow
    n_files = int(round((WARM_S + run.seconds) / PERIOD_S))
    with run.span("bench.generate"):
        w = Clicks(run, rng, n_files)

    spark, setup_walls = set_up(run, lambda spark: w.pipeline(spark, w.staging))
    log = ProgressLog()
    spark.streams.addListener(log)
    run.detail["order"] = ["open_loop", "drain"]
    try:
        ol = open_loop(run, spark, log, w, round(WARM_S / PERIOD_S))
        drain_walls, drain_traced = [], []
        for k in range(DRAINS):
            traced = run.trace and k == DRAINS - 1
            saved, run.trace = run.trace, traced
            (drain_traced if traced else drain_walls).append(drain(run, spark, log, w, k))
            run.trace = saved
        rss = peak_rss_mb()
    finally:
        spark.streams.removeListener(log)
        spark.stop()

    rows_drained = w.drain_files * w.drain_rows
    lat = ol["latencies_ms"]
    # each percentile is the median of its per-segment values, so one slow
    # spell of the host moves one segment, not the run's figure
    p50s = [percentile(s, 50) for s in ol["segments_ms"]]
    p95s = [percentile(s, 95) for s in ol["segments_ms"]]
    run.detail.update({
        "latency_samples": len(lat),
        "latency_p50_ms_segments": p50s,
        "latency_p50_ms_all": percentile(lat, 50),
        "latency_p95_ms_all": percentile(lat, 95),
        "open_loop_batches": len(ol["events"]),
        "open_loop_trigger_ms_p50": _p50(ol["events"], "triggerExecution"),
        "open_loop_rows_per_batch_p50": median([e["numInputRows"] for e in ol["events"]]),
        "drain_walls_s": drain_walls,
        "setup_walls_s": setup_walls,
        "generator_late_ms_p50": median(ol["late_ms"]),
        "rss_mb": rss,
    })
    if not run.trace:
        return {
            "setup_s": (median(setup_walls), "s"),
            "latency_p50_ms": (median(p50s), "ms"),
            "latency_p95_ms": (median(p95s), "ms"),
            "batch_total_s": (median(drain_walls), "s"),
        }
    return layer_metrics(run, ol, drain_walls, drain_traced, rows_drained, rss)


def _p50(events: list[dict], field: str) -> float:
    xs = [e["durationMs"].get(field, 0) for e in events]
    return median(xs) if xs else 0.0


def layer_metrics(run, ol, drain_walls, drain_traced, rows_drained, rss) -> dict:
    ev = ol["events"]
    ops = [e["stateOperators"][0] for e in ol["all_events"] if e.get("stateOperators")]
    build = run.span_walls("operators.build")[:SETUPS]  # the builds setup_s includes
    return {
        "session.get_spark_s": (median(run.span_walls("session.get_spark")), "s"),
        "session.peak_rss_mb": (rss["python_driver"] + rss["jvm"] + rss["python_workers"], "MB"),
        "operators.build_ms": (median(build) * 1000.0, "ms"),
        "sources.latest_offset_ms": (_p50(ev, "latestOffset"), "ms"),
        "sources.get_batch_ms": (_p50(ev, "getBatch"), "ms"),
        "sources.input_rows_per_batch": (median([e["numInputRows"] for e in ev]) if ev else 0.0, "rows"),
        "sources.backlog_files_max": (ol["backlog_max"], "count"),
        "sources.drain_rows_per_s": (rows_drained / median(drain_walls), "rows/s"),
        "streaming.batches": (len(ev), "count"),
        "streaming.trigger_ms": (_p50(ev, "triggerExecution"), "ms"),
        "streaming.add_batch_ms": (_p50(ev, "addBatch"), "ms"),
        "streaming.query_planning_ms": (_p50(ev, "queryPlanning"), "ms"),
        "streaming.wal_commit_ms": (_p50(ev, "walCommit"), "ms"),
        "streaming.commit_offsets_ms": (_p50(ev, "commitOffsets"), "ms"),
        "streaming.state_rows_total": (max((o["numRowsTotal"] for o in ops), default=0), "rows"),
        "streaming.state_memory_bytes": (max((o["memoryUsedBytes"] for o in ops), default=0), "bytes"),
        "streaming.state_commit_ms": (median([o["commitTimeMs"] for o in ops]) if ops else 0.0, "ms"),
        "streaming.state_rows_removed": (sum(o["numRowsRemoved"] for o in ops), "rows"),
        "streaming.rows_dropped_by_watermark": (sum(o.get("numRowsDroppedByWatermark", 0) for o in ops), "rows"),
        "bench.generator_late_ms": (max(ol["late_ms"]), "ms"),
        "trace.overhead_ratio": (median(drain_traced) / median(drain_walls), "ratio"),
    }

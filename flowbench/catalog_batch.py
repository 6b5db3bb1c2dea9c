"""The ``catalog_batch`` workload: a frozen list of catalog entries,
materialised in every pass in a seed-shuffled order, on the fixed 0.001
scale-factor driver tables in ``flowbench/tables``. A first, untimed pass
collects every entry and compares it to its ``oracle_sql()`` on DuckDB
with the repository's own digest (``tools/check_oracle.canonical``).

An entry is materialised by running its DataFrame's own planned query
once and consuming every row (a count over ``queryExecution.toRdd``). A
noop write would plan a second, write-wrapped copy of the query, which
the traced pass could not split into plan and exec.

A traced run does two untraced passes on one session, then one pass on a
session with the uncompressed event log enabled. That pass tags every
entry's jobs with ``setJobGroup(<entry>)``, so eager jobs run while the
builder executes are attributed too. It splits each entry's wall time
into build (the builder call), plan (analysis, optimization and planning
from the ``QueryPlanningTracker``) and exec (running the planned query),
and reads job, stage and task costs from the event log.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

from harness import Run, median, peak_rss_mb, percentile, set_up

# 7 of bench.py's 48 headline entries: a TPC-H aggregate, the batch form
# of the KStream-KTable join, a mergeable sketch, and the four entries
# whose construction cost dominates and which reach the text/dedup, graph
# and product-quantisation kernels. With three cheap entries and four
# dear ones, the p50 is the cheapest dear entry (about 1.5 s); a
# sub-second entry measured once spread by a quarter or more between runs.
ENTRIES = [
    "q1_pricing_summary",
    "stream_table_join_segment",
    "hll_merge_incremental",
    "pipeline_quality_curation",
    "pipeline_ingest_incremental",
    "pagerank_cust_supp_prod",
    "ann_ivf_pq_residual_topk",
]
TARGETS = ENTRIES[-4:]
# timed passes per run, at least: each entry's time is its median over
# the passes, so one slow pass (the JIT's, or the host's) does not move it
MIN_PASSES = 3
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")


def materialize(qe) -> None:
    """Run a planned ``QueryExecution`` once, consuming every row."""
    qe.toRdd().count()


def warm_session(spark, qs) -> None:
    """Run one small entry and one Python UDF on a fresh session."""
    def identity(batches):  # nested, so workers unpickle it by value
        yield from batches

    materialize(qs["count_by_key"](spark, TABLES_DIR)._jdf.queryExecution())
    materialize(spark.range(8).mapInPandas(identity, "id long")._jdf.queryExecution())


def untraced_pass(spark, qs, order: list[str], tables: str):
    """One pass; returns each entry's wall seconds."""
    walls = {}
    for name in order:
        t0 = time.monotonic()
        materialize(qs[name](spark, tables)._jdf.queryExecution())
        walls[name] = time.monotonic() - t0
    return walls


def traced_pass(run: Run, spark, qs, order: list[str], tables: str) -> dict[str, dict]:
    """One pass with every entry's time split into build, plan and exec."""
    sc = spark.sparkContext
    out = {}
    for name in order:
        sc.setJobGroup(name, name)
        with run.span("catalog.entry", entry=name) as entry:
            with run.span("catalog.build", entry=name) as build:
                df = qs[name](spark, tables)
            build_end_ms = time.time() * 1000.0
            with run.span("catalog.plan", entry=name):
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                plan_ms = in_build_ms = 0.0
                for phase in ("analysis", "optimization", "planning"):
                    opt = phases.get(phase)
                    if opt.isDefined():
                        plan_ms += opt.get().durationMs()
                        if opt.get().startTimeMs() < build_end_ms:
                            # the DataFrame is analysed eagerly, inside the
                            # builder call: count that time as plan only
                            in_build_ms += opt.get().durationMs()
            with run.span("catalog.exec", entry=name) as exe:
                materialize(qe)
        sc.setLocalProperty("spark.jobGroup.id", None)
        out[name] = {
            "build_s": build["wall_s"] - in_build_ms / 1000.0,
            "plan_s": plan_ms / 1000.0,
            "exec_s": exe["wall_s"],
            "wall_s": entry["wall_s"],
            "build_end_ms": build_end_ms,
        }
    return out


def check(run: Run, dfs: dict, tables: str) -> None:
    """Collect each DataFrame and compare its digest to its oracle's."""
    import duckdb
    from kafka_streams_demo_spark import catalog

    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    from check_oracle import canonical

    oracles = catalog.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    for name, sdf in dfs.items():
        try:
            s_rows = [tuple(r) for r in sdf.collect()]
            cur = con.execute(oracles[name])
            d_cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
            ok = (sorted(sdf.columns) == sorted(d_cols)
                  and canonical(s_rows, sdf.columns) == canonical(d_rows, d_cols))
        except Exception as e:  # a failed query is a failed operation
            ok, s_rows = False, [f"{type(e).__name__}: {e}"[:200]]
        run.check(ok, f"{name}: output differs from its oracle ({len(s_rows)} rows)")
    con.close()


def event_log_costs(events_dir: str, entries: dict[str, dict]) -> dict:
    """Job, stage and task totals per job group from the event log."""
    per = {n: {"jobs": 0, "eager_jobs": 0} for n in entries}
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "task_busy_s": 0.0, "task_cpu_s": 0.0,
           "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0}
    stage_group: dict[int, str] = {}
    logs = [os.path.join(d, f) for d, _, fs in os.walk(events_dir) for f in sorted(fs)
            if not f.startswith(("appstatus", ".")) and not f.endswith(".crc")]
    for path in logs:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group not in per:
                        continue
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                    tot["jobs"] += 1
                    per[group]["jobs"] += 1
                    if ev["Submission Time"] < entries[group]["build_end_ms"]:
                        per[group]["eager_jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    if ev["Stage Info"]["Stage ID"] in stage_group:
                        tot["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    if ev["Stage ID"] not in stage_group:
                        continue
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    tot["tasks"] += 1
                    tot["task_busy_s"] += (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    tot["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    tot["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    tot["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    tot["eager_jobs"] = sum(p["eager_jobs"] for p in per.values())
    return {"total": tot, "per_entry": per}


def run_workload(run: Run) -> dict:
    from kafka_streams_demo_spark import catalog

    tables = TABLES_DIR
    order = [str(n) for n in np.random.default_rng(run.seed).permutation(ENTRIES)]
    run.detail["order"] = order
    qs = catalog.queries()

    spark, setup_walls = set_up(run, lambda spark: qs["count_by_key"](spark, tables))
    # One untimed pass collects every entry and checks it against its
    # oracle; it also takes the one-time costs (code generation, class
    # loading, the first Python UDF). The JIT is still compiling during
    # the first timed pass, which runs 10-25 % slower than the next two;
    # the median over the passes sets it aside.
    t0 = time.monotonic()
    check(run, {name: qs[name](spark, tables) for name in order}, tables)
    run.detail["check_s"] = time.monotonic() - t0
    # timed passes until the time budget is spent, at least MIN_PASSES. A
    # traced run reports no end-to-end metric: it makes two untraced
    # passes and compares its traced pass with the second.
    passes: list[dict[str, float]] = []
    min_passes = 2 if run.trace else MIN_PASSES
    end = time.monotonic() + (0 if run.trace else run.seconds)
    while len(passes) < min_passes or time.monotonic() < end:
        passes.append(untraced_pass(spark, qs, order, tables))
    rss = peak_rss_mb()
    totals = [sum(p.values()) for p in passes]
    per_entry_ms = [median([p[n] for p in passes]) * 1000.0 for n in order]
    # every timed materialisation is one latency sample
    samples_ms = [p[n] * 1000.0 for p in passes for n in order]
    run.detail.update({"rss_mb": rss, "passes_s": totals, "setup_walls_s": setup_walls,
                       "per_entry_ms": dict(zip(order, per_entry_ms)),
                       "passes_ms": [[p[n] * 1000.0 for n in order] for p in passes]})
    if not run.trace:
        spark.stop()
        return {
            "setup_s": (median(setup_walls), "s"),
            "latency_p50_ms": (percentile(samples_ms, 50), "ms"),
            "latency_p95_ms": (percentile(samples_ms, 95), "ms"),
            "batch_total_s": (median(totals), "s"),
        }

    spark.stop()
    from kafka_streams_demo_spark import get_spark
    from harness import session_conf

    spark = get_spark(app_name="flowbench-catalog-traced", extra_conf=session_conf(run, event_log=True))
    spark.sparkContext.setLogLevel("ERROR")
    warm_session(spark, qs)
    traced = traced_pass(run, spark, qs, order, tables)
    spark.stop()
    costs = event_log_costs(run.dir("events"), traced)
    return layer_metrics(run, passes, traced, costs, rss)


def layer_metrics(run, passes, traced, costs, rss) -> dict:
    wall = sum(e["wall_s"] for e in traced.values())
    build = sum(e["build_s"] for e in traced.values())
    plan = sum(e["plan_s"] for e in traced.values())
    exe = sum(e["exec_s"] for e in traced.values())
    tot = costs["total"]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m = {
        "session.get_spark_s": (median(run.span_walls("session.get_spark")), "s"),
        "session.peak_rss_mb": (rss["python_driver"] + rss["jvm"] + rss["python_workers"], "MB"),
        "catalog.wall_s": (wall, "s"),
        "catalog.build_s": (build, "s"),
        "catalog.plan_s": (plan, "s"),
        "catalog.exec_s": (exe, "s"),
        "catalog.unattributed_s": (wall - build - plan - exe, "s"),
        "catalog.eager_jobs": (tot["eager_jobs"], "count"),
        "catalog.jobs": (tot["jobs"], "count"),
        "catalog.stages": (tot["stages"], "count"),
        "catalog.tasks": (tot["tasks"], "count"),
        "catalog.task_busy_s": (tot["task_busy_s"], "s"),
        "catalog.task_cpu_s": (tot["task_cpu_s"], "s"),
        "catalog.gc_s": (tot["gc_s"], "s"),
        "catalog.shuffle_bytes": (tot["shuffle_bytes"], "bytes"),
        "catalog.spill_bytes": (tot["spill_bytes"], "bytes"),
        "catalog.core_busy_ratio": (tot["task_busy_s"] / (wall * cores), "ratio"),
        "trace.overhead_ratio": (wall / sum(passes[-1].values()), "ratio"),
    }
    for name in TARGETS:
        e = traced[name]
        m[f"catalog.{name}.build_s"] = (e["build_s"], "s")
        m[f"catalog.{name}.plan_s"] = (e["plan_s"], "s")
        m[f"catalog.{name}.exec_s"] = (e["exec_s"], "s")
        m[f"catalog.{name}.jobs"] = (costs["per_entry"][name]["jobs"], "count")
    return m

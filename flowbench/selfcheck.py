"""Self-check for the benchmark itself.

    python3 flowbench/selfcheck.py [--seconds 2]

1. Runs every workload briefly, untraced and traced, and asserts that
   each prints every metric ``BENCHMARK.json`` names, with its unit, and
   that every output checked clean.
2. Perturbs one output of each kind of check (a catalog entry's rows, a
   streaming sink's rows) and asserts that the check counts a failure,
   so ``failed_ratio`` cannot stay 0 on a wrong answer.

The catalog tables are the 0.001 scale-factor fixtures in
``flowbench/tables``. Run from the repository root; takes a few minutes,
most of it Spark start-up.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def check_metrics(spec: dict, seconds: float) -> None:
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                 "--seed", "7", "--seconds", str(seconds), "--trace", str(trace)],
                capture_output=True, text=True, timeout=600,
            )
            if proc.returncode != 0:
                raise AssertionError(f"{w['name']} trace={trace} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
            assert result["correct"] and result["failed"] == 0, (w["name"], trace, proc.stdout[-2000:])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, (w["name"], trace, set(want) ^ set(got))
            print(f"ok   {w['name']} trace={trace}: {len(got)} metrics, {result['attempted']} checked")


def check_perturbation() -> None:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import run as bench_run

    work = os.path.join(ROOT, ".flowbench", "selfcheck")
    shutil.rmtree(work, ignore_errors=True)
    bench_run.prepare_env(work)
    import numpy as np
    from pyspark.sql import functions as F

    import catalog_batch
    import harness
    import streams
    from harness import Run, session_conf
    from kafka_streams_demo_spark import catalog, get_spark

    r = Run("selfcheck", 7, 2.0, False, work)
    spark = get_spark(app_name="flowbench-selfcheck", extra_conf=session_conf(r))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tables = catalog_batch.TABLES_DIR
        qs = catalog.queries()
        dfs = {name: qs[name](spark, tables) for name in catalog_batch.ENTRIES}
        victim = catalog_batch.ENTRIES[0]
        dfs[victim] = dfs[victim].withColumn(dfs[victim].columns[0], F.lit(None))
        catalog_batch.check(r, dfs, tables)
        assert r.failed == 1 and r.failures[0].startswith(victim), r.failures
        print(f"ok   catalog check caught a perturbed {victim}")

        rs = Run("selfcheck", 7, 2.0, False, os.path.join(work, "clicks_window_stream"))
        w = streams.Clicks(rs, np.random.default_rng(7), 4)
        log = streams.ProgressLog()
        spark.streams.addListener(log)
        out = w.pipeline(spark, w.backlog, max_files=w.drain_max_files)
        q = streams._start(out, "selfcheck_sink", rs.dir("ckpt"), available_now=True)
        q.awaitTermination(120)
        spark.streams.removeListener(log)
        events = log.events(q.id) + [q.lastProgress]
        files = [os.path.join(w.backlog, f) for f in sorted(os.listdir(w.backlog))]
        w.check(spark, "selfcheck_sink", files, events, "honest sink")
        assert rs.failed == 0, rs.failures
        spark.table("selfcheck_sink").withColumn("value", F.col("value") + 1) \
            .createOrReplaceTempView("perturbed")
        w.check(spark, "perturbed", files, events, "perturbed sink")
        assert rs.failed == 1, rs.failures
        print("ok   clicks_window_stream check caught a perturbed sink")
    finally:
        spark.stop()
        harness.stop_jvm()


def main() -> int:
    ap = argparse.ArgumentParser(description="Self-check for the benchmark.")
    ap.add_argument("--seconds", type=float, default=2.0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_perturbation()
    check_metrics(spec, args.seconds)
    print("selfcheck passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())

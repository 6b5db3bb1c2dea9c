"""pyflow benchmark: one command, every output checked.

    python3 flowbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ``clicks_window_stream`` (streaming, see streams.py) and
``catalog_batch`` (catalog entries, see catalog_batch.py). Run from the
repository root; the engine package is imported from there. Everything the run writes goes under
``.flowbench/<workload>/`` in that directory.

Standard output: a detail line (conditions, sample counts, failures),
then, last, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones. Any error exits non-zero without a result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("clicks_window_stream", "catalog_batch")


def prepare_env(work: str) -> None:
    """Point every scratch location the engine, Spark and Python use at
    the workspace, and size the engine to half of this machine's cores.
    The other half is left to the driver's own threads (planning, the
    listener bus, GC and JIT) and to the Python workers, so that tasks do
    not compete with them for cores and a busy host moves the timings
    less (see METRICS.md)."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TZ"] = "UTC"
    time.tzset()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".flowbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import harness

    try:
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        harness.stop_jvm()
    print(json.dumps(result))
    return 0


def run(args, work: str) -> dict:
    import harness

    r = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    cond = harness.conditions(r)
    steal0, total0 = harness.cpu_jiffies()
    t0 = time.monotonic()
    if args.workload == "catalog_batch":
        import catalog_batch

        metrics = catalog_batch.run_workload(r)
    else:
        import streams

        metrics = streams.run_workload(r)
    if r.attempted < 1:
        raise RuntimeError("no operation was attempted")
    steal1, total1 = harness.cpu_jiffies()
    cond["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    detail = {
        "conditions": {**cond, "order": r.detail.pop("order", [])},
        "wall_s": time.monotonic() - t0,
        "failed_ratio": r.failed / r.attempted,
        "failures": r.failures,
        **r.detail,
    }
    if r.trace:
        detail["spans_file"] = r.write_spans()
        # every per-layer metric, 0 where this workload does not reach the layer
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            layers = json.load(fh)["per_layer"]
        metrics = {m["name"]: metrics.get(m["name"], (0.0, m["unit"])) for m in layers}
    print(json.dumps({"detail": detail}, default=str))
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())

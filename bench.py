"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized with a noop sink (full pipeline execution, no
driver-side collect overhead). A warmup query first absorbs codegen/JIT
startup so timings reflect steady-state execution.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_streams_demo_spark import catalog  # noqa: E402
from kafka_streams_demo_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_orders",
    "asof_join_purchase",
    "running_sum_per_user",
    "word_count",
    "count_by_key",
    "aggregate_sum_cents",
    "ktable_latest",
    "tumbling_window_count",
    "session_window_count",
    "stream_stream_join_window",
    "stream_table_join_segment",
    "table_table_join_outer",
    "sliding_window_full_count_bucketed",
    # LLM-pipeline extension family (first-class: dedup / text / ANN)
    "dedup_exact",
    "paragraph_dedup_rebuild",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "contamination_check",
    "contamination_check_bloom",
    "token_counts",
    "sessionize_gap",
    "pack_sequences",
    "ann_topk_bruteforce",
    "ann_ivf_topk",
    "bm25_search",
    # round 6: multi-query retrieval, hybrid fusion, the ingest loop
    "bm25_search_multi",
    "hybrid_rrf_fusion",
    "pipeline_ingest_incremental",
    # round 7: persisted-IVF scoring, span dedup, the cleaning stack
    # (gopher_repetition_filter tracks the linearized counting pass),
    # deterministic shard shuffle
    "ann_ivf_index_topk",
    "ngram_span_dedup",
    "gopher_repetition_filter",
    "pipeline_clean_corpus",
    "shuffle_shards",
    # round 7 late additions: mergeable sketches, SCD2 merge, graph.
    # triangle_counts_coorder is measured out-of-set (BASELINE.md): the
    # synthetic co-purchase graph at sf0.1 is degenerately dense (random
    # part picks), so its wedge space — the algorithm's true cost — is
    # ~100x a real catalog graph's; the plan audit lives with the number.
    "hll_merge_incremental",
    "cms_point_queries",
    "scd2_merge_incremental",
    # round 8: the PRODUCTION PageRank plan (plain map-side-combined sum,
    # no per-node contribution list — the plan a power-law graph needs;
    # the sorted-fold gate variant stays registered for the hash oracle,
    # 6dp parity is test-pinned), plus the curation pipeline now that its
    # cross-stage recomputation is checkpointed away
    "pagerank_cust_supp_prod",
    "pipeline_quality_curation",
    # round 8 late additions: the full residual IVFADC chain (coarse
    # assign -> residual -> codebooks -> codes -> per-cell ADC — the
    # at-scale search plan; its sf0.1 number is dominated by fixed
    # serial costs: the eager centroid/codebook collects and literal
    # parses, not by data — BASELINE.md r8 decomposition), SemDeDup's
    # cluster-blocked verdict pass, and the manifest-sized compaction
    # planner
    "ann_ivf_pq_residual_topk",
    "semdedup_cells",
    "compaction_plan",
    # round 10: the NB quality classifier + derandomized Pareto keep
    # (one-pass train + broadcast-model scoring), and budgeted assembly
    # (best docs by score until a global token budget, via the
    # two-phase bucketed prefix scan)
    "quality_classifier_filter",
    "token_budget_select",
]

# The FIXED round-1 query set (BENCH_r01.json): reported as its own
# subtotal every round so the driver contract (≤2x the round-1 baseline
# at the same scale) is checkable from the artifact alone — the full-set
# total mixes real drift with set growth and reads like a regression
# until per-queried (VERDICT r7 task 8).
REFERENCE25 = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_regional_revenue",
    "q6_forecast_revenue", "q10_returned_items", "q18_large_orders",
    "asof_join_purchase", "running_sum_per_user", "word_count",
    "count_by_key", "aggregate_sum_cents", "ktable_latest",
    "tumbling_window_count", "session_window_count",
    "stream_stream_join_window", "stream_table_join_segment",
    "table_table_join_outer", "dedup_exact", "minhash_lsh_pairs",
    "simhash_pairs", "contamination_check", "token_counts",
    "sessionize_gap", "ann_topk_bruteforce", "ann_ivf_topk",
]

# Measured and reported but NOT in any total: the triangle census pair
# runs on a degenerately dense synthetic co-purchase graph at sf0.1
# (~100x a real catalog graph's wedge space — BASELINE.md), so its
# absolute number would drown the headline total; tracking it in the
# artifact makes a real regression visible r-over-r (VERDICT r7 task 6).
SECONDARY = [
    "triangle_counts_coorder",
    "triangle_counts_incremental",
    # round 11: the census pair on the graph shape it is designed for —
    # the seeded power-law fixture (wedge space ~1000x smaller than the
    # degenerate co-purchase graph at sf0.1; BASELINE.md r11). The
    # co-purchase pair stays for round-over-round continuity.
    "triangle_census_powerlaw",
    "triangle_census_powerlaw_incremental",
    # round 11 (VERDICT r10 task 4): the split now prices the PRODUCTION
    # path — one scan of the persisted assignment parquet + the
    # shuffle-free hash projection (pass 1 pays the one-time index
    # build; the reported min is the steady-state run). The recompute
    # variant (split_leakage_safe) stays catalog-registered for the
    # oracle-composition story but is no longer bench-priced — its cost
    # was ~all dedup-chain recomputation the headline set already
    # prices.
    "split_leakage_safe_indexed",
    # round 11 (VERDICT r10 task 7): the multi-thousand-query retrieval
    # load (one query per document — 5000 at sf0.1, top-5 each), direct
    # re-tokenize path vs the persisted postings index; the crossover is
    # documented in BASELINE.md r11.
    "bm25_bulk_direct",
    "bm25_bulk_postings",
    # the EXACT MaxScore-pruned path, priced on the Zipf-vocabulary
    # corpus where rare terms exist (10x|documents| generated docs,
    # every-100th-doc queries): pruned vs exhaustive on the same data.
    # On the driver documents table (31-word near-uniform vocab, no
    # rare terms) pruning degenerates to exhaustive + overhead —
    # bm25_bulk_pruned stays catalog-registered as the exactness proof
    # there but is not bench-priced (BASELINE.md r11).
    "bm25_zipf_direct",
    "bm25_zipf_pruned",
    # round 12: the power-law skewed-join pair (VERDICT r11 task 4) —
    # same-oracle strategy pair; the AQE-vs-salt crossover measurement
    # lives in tools/bench_skew.py + BASELINE.md r12, these rows keep
    # the two plans' costs visible round-over-round
    "skew_join_powerlaw",
    "skew_join_powerlaw_salted",
    # the recall harness recomputes all six approximate-ANN tiers plus
    # the exact baseline in one plan — a diagnostic you run after
    # retuning, not a throughput query; tracked here so tier regressions
    # stay visible r-over-r without drowning the headline total
    "ann_recall_report",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _single_core_probe() -> float:
    """Fixed pure-Python workload (~0.3 s on an idle core): a CPU-speed
    ruler that moves with ambient host load but not with this repo's
    code, so round-over-round artifacts self-document whether a slowdown
    is the code or the box (VERDICT r11 task 5 — the r9-r11 ambient-wear
    forensics lived in BASELINE.md prose; now the artifact carries it)."""
    t0 = time.monotonic()
    acc = 0
    for i in range(4_000_000):
        acc = (acc * 1103515245 + i) % 2_147_483_647
    return round(time.monotonic() - t0, 4)


def _parallel_probe() -> dict | None:
    """The single-core probe run across cpu_count() processes at once —
    measures the host's EFFECTIVE parallel capacity, which the per-core
    probe cannot see (r13 continuation: a sandbox respawn moved this box
    from ~32 to ~21.5 effective cores while the single-core probe got
    15% FASTER — parallel-stage-heavy entries read ~1.5-2.5x slower with
    every plan byte-identical). effective_cores = n · fastest_task /
    wall: the parallelism a fully-subscribed CPU-bound stage actually
    gets. Additive metadata only — no timing methodology changes."""
    try:
        from concurrent.futures import ProcessPoolExecutor

        n = os.cpu_count() or 1
        t0 = time.monotonic()
        with ProcessPoolExecutor(n) as ex:
            times = list(ex.map(_pp_task, range(n)))
        wall = time.monotonic() - t0
        return {
            "n": n,
            "wall_sec": round(wall, 3),
            "effective_cores": round(n * min(times) / wall, 1),
        }
    except Exception:
        return None


def _pp_task(_i: int) -> float:
    t0 = time.monotonic()
    acc = 0
    for i in range(4_000_000):
        acc = (acc * 1103515245 + i) % 2_147_483_647
    return time.monotonic() - t0


def _conditions() -> dict:
    """Ambient-host context for this bench run: load average (1/5/15 min),
    uptime, cpu count, the single-core probe time, and the parallel
    effective-capacity probe."""
    cond: dict = {"cpus": os.cpu_count()}
    try:
        cond["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        cond["loadavg"] = None
    try:
        with open("/proc/uptime") as fh:
            cond["uptime_sec"] = round(float(fh.read().split()[0]), 0)
    except OSError:
        cond["uptime_sec"] = None
    cond["single_core_probe_sec"] = _single_core_probe()
    cond["parallel_probe"] = _parallel_probe()
    return cond


# The bench reader keeps the last 2000 characters of stdout and parses
# the final line; a longer line loses its head and parses as nothing.
SUMMARY_LINE_MAX = 1900


def summary_lines(summary: dict) -> list[str]:
    """The compact summary as the LAST printed line, bounded to
    ``SUMMARY_LINE_MAX`` characters: when the per-query map would push it
    over, ``queries`` is dropped from it (the full-detail line above
    still carries it) and a one-line warning precedes it."""
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) <= SUMMARY_LINE_MAX:
        return [line]
    short = {k: v for k, v in summary.items() if k != "queries"}
    return [
        f"WARNING: summary line is {len(line)} chars (> {SUMMARY_LINE_MAX}); "
        "per-query timings dropped from it, see the full-detail line",
        json.dumps(short, separators=(",", ":")),
    ]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = catalog.queries()
    names = [n for n in HEADLINE if n in qs]

    # warmup: codegen + parquet footer caches, plus the Python worker
    # daemon + Arrow path (first pandas-UDF call pays ~1-2 s of process
    # startup that is not steady-state execution)
    materialize(qs["count_by_key"](spark, sf_dir))
    import pandas as pd

    def _noop(it):
        for pdf in it:
            yield pdf

    materialize(spark.range(32).mapInPandas(_noop, "id long"))

    # Two passes, per-query min: steady-state timing. A single pass is
    # hostage to transient load (a concurrent JVM inflates one-shot numbers
    # 2-6x on this box — BASELINE.md). The cache is cleared between passes
    # so persist() calls inside a query (minhash signatures, IVF centroids)
    # cannot leak into the next pass — every pass re-executes each full
    # pipeline from the parquet scan up. Both raw passes are reported
    # alongside the min so round-over-round comparisons stay honest.
    sec_names = [n for n in SECONDARY if n in qs]
    passes: list[dict[str, float]] = []
    sec_passes: list[dict[str, float]] = []
    conditions: list[dict] = []
    for _ in range(2):
        conditions.append(_conditions())
        spark.catalog.clearCache()
        run: dict[str, float] = {}
        for name in names:
            t0 = time.monotonic()
            materialize(qs[name](spark, sf_dir))
            run[name] = round(time.monotonic() - t0, 3)
        passes.append(run)
        # secondary tier last so its long census never warms/penalizes
        # the headline loop; same clear-cache-per-pass discipline
        spark.catalog.clearCache()
        sec_run: dict[str, float] = {}
        for name in sec_names:
            t0 = time.monotonic()
            materialize(qs[name](spark, sf_dir))
            sec_run[name] = round(time.monotonic() - t0, 3)
        sec_passes.append(sec_run)
    timings = {n: min(p[n] for p in passes) for n in names}
    sec_timings = {n: min(p[n] for p in sec_passes) for n in sec_names}

    total = round(sum(timings.values()), 3)
    ref25 = [n for n in REFERENCE25 if n in timings]
    ref25_total = round(sum(timings[n] for n in ref25), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full detail first (both raw passes — round-over-round honesty),
    # then short per-tier lines, then ONE compact summary line LAST: the
    # driver's tail-capture keeps only the final 2000 characters and
    # parses the last line (VERDICT r4 #2 — BENCH_r04 recorded
    # "parsed": null when that line was long), so everything the driver
    # must see lives in lines that fit the tail. r13's summary dropped
    # the per-query map to stay short, which cost the driver all
    # per-query round-over-round visibility (PERF_r13 per_query: {},
    # null geomean — VERDICT r13 issue 1 / task 2). Fix (r14,
    # measurement-output only — query lists, warmup, two-pass/min
    # methodology, clear-cache discipline and every timing are
    # unchanged): the summary line carries "queries" again (the original
    # round-1 contract shape) with compact separators — 48 entries
    # measure ~1.6 KB; summary_lines drops the map past SUMMARY_LINE_MAX —
    # and the secondary tier gets its own short line just before it.
    print(
        json.dumps(
            {
                "metric": "headline_queries_full_detail",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "passes": passes,
                "secondary": sec_timings,
                "secondary_passes": sec_passes,
                "conditions": conditions,
                "sf": sf_val,
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "secondary_queries_per_query",
                "queries": sec_timings,
                "sf": sf_val,
            },
            separators=(",", ":"),
        )
    )
    for line in summary_lines(
        {
            "metric": "headline_queries_total_sec",
            "value": total,
            "unit": "sec",
            "n_queries": len(timings),
            "reference25_total_sec": ref25_total,
            "reference25_n": len(ref25),
            "secondary_total_sec": round(sum(sec_timings.values()), 3),
            "probe_sec": min(c["single_core_probe_sec"] for c in conditions),
            "load1": conditions[0]["loadavg"][0] if conditions[0]["loadavg"] else None,
            "sf": sf_val,
            "queries": timings,
        }
    ):
        print(line)
    spark.stop()


if __name__ == "__main__":
    main()

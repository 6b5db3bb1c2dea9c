"""Plan audits — pin the physical-plan properties that matter at 100 TB.

Each test asserts the *plan we want*, not just correct rows: pushdown reaches
the scan, dimensions broadcast, aggregation is partial before the exchange,
hot paths stay JVM-side (no Python eval nodes), latest-per-key never sorts.
A change that silently de-optimizes a headline query fails here first.
"""

from __future__ import annotations

import re

import pytest

from kafka_streams_demo_spark import catalog
from kafka_streams_demo_spark.plans import audit
from kafka_streams_demo_spark.plans.explain import assert_scan_pruned

SF = "/root/testdata/sf0.001"


def _audit(spark, name):
    return audit(catalog.QUERIES[name](spark, SF))


def test_q1_pushdown_and_partial_agg(spark):
    """Q1: shipdate filter + column pruning reach the scan; one partial
    hash-agg before the single exchange; everything in codegen."""
    a = _audit(spark, "q1_pricing_summary")
    assert_scan_pruned(a, ["l_shipdate"], max_cols=7)
    assert a.partial_aggs >= 1
    assert a.python_evals == 0
    assert a.codegen_stages >= 1
    assert a.exchanges <= 2  # agg exchange (+ AQE read), nothing else


def test_q5_star_join_broadcasts(spark):
    """Q5: all four dimension joins broadcast; only the fact-fact join may
    shuffle. A plan where a dimension join shuffles the fact table would
    move ~100 TB instead of ~KBs."""
    a = _audit(spark, "q5_regional_revenue")
    assert a.broadcast_joins >= 4, a.plan
    assert a.sort_merge_joins + a.shuffled_hash_joins <= 1
    assert a.python_evals == 0


def test_q3_broadcast_dim_topk_no_global_sort(spark):
    """Q3: customer (filtered dim) broadcasts; top-10 compiles to
    TakeOrderedAndProject — per-partition heaps, never a full global sort."""
    a = _audit(spark, "q3_shipping_priority")
    assert a.broadcast_joins >= 1
    assert "TakeOrderedAndProject" in a.plan
    assert a.python_evals == 0


def test_ktable_latest_single_small_exchange(spark):
    """KTable materialization must be the max_by aggregate plan, never the
    row_number window (the oracle's formulation): a Window would shuffle and
    sort FULL changelog rows. max_by with a string value lands in partial
    SortAggregate (var-length agg buffers can't use HashAggregate) — the
    sort is per-partition CPU, while the exchange still carries only the
    map-side-combined latest-per-key rows. With fixed-width values Spark
    picks pure HashAggregate for the same API call."""
    a = _audit(spark, "ktable_latest")
    assert "Window" not in a.plan
    assert a.exchanges == 1, a.plan
    assert a.partial_aggs >= 1, a.plan
    assert a.python_evals == 0


def test_word_count_partial_count(spark):
    """Word count: explode stays in codegen; the count is partial before its
    exchange so the shuffle carries |distinct words| not |tokens|."""
    a = _audit(spark, "word_count")
    assert a.partial_aggs >= 1
    assert a.python_evals == 0
    assert a.codegen_stages >= 1


def test_stream_table_join_broadcasts(spark):
    """Clicks-per-region shape: the dimension (customer→segment KTable)
    broadcasts; the fact stream is never shuffled before aggregation."""
    a = _audit(spark, "stream_table_join_segment")
    assert a.broadcast_joins >= 1, a.plan
    assert a.python_evals == 0


def test_top_k_take_ordered(spark):
    a = _audit(spark, "top_k_spenders")
    assert "TakeOrderedAndProject" in a.plan
    assert a.python_evals == 0


def test_stateless_ops_no_shuffle(spark):
    """§2b stateless transforms are narrow: zero exchanges end to end."""
    for name in ["filter_events", "map_values_upper", "select_key_prefix", "branch_c"]:
        a = _audit(spark, name)
        assert a.exchanges == 0, f"{name} shuffles:\n{a.plan}"
        assert a.python_evals == 0, name


def test_multimodal_features_is_arrow_not_row_udf(spark):
    """The one sanctioned Python boundary (decode stub) must be Arrow-batched
    (MapInPandas), never row-at-a-time BatchEvalPython."""
    df = catalog.QUERIES["multimodal_features"](spark, SF)
    a = audit(df)
    assert "MapInPandas" in a.plan or "mapInPandas" in a.plan
    assert "BatchEvalPython" not in a.plan


def test_ann_ops_broadcast_never_shuffle_corpus(spark):
    """Similarity ops: queries/probes/centroids broadcast; the corpus side
    must never SortMergeJoin (a corpus shuffle at 100 TB)."""
    for name in ["ann_topk_bruteforce", "ann_lsh_topk", "ann_ivf_topk"]:
        a = _audit(spark, name)
        assert a.broadcast_joins >= 1, f"{name} has no broadcast join:\n{a.plan}"
        assert a.sort_merge_joins == 0, f"{name} sort-merge-joins the corpus:\n{a.plan}"
        assert a.python_evals == 0, f"{name} fell off the JVM path"


def test_dedup_family_stays_jvm_side(spark):
    """Exact, n-gram Jaccard and blocked-kNN dedup are pure column
    expressions — no Python eval nodes in those plans. The signature and
    repetition kernels are the sanctioned exceptions, each ONE numpy pass
    over Arrow batches (one implementation per kernel, tested against an
    independent reference in test_dedup.py / test_text.py): minhash's
    mapInPandas signature pass (twice in the plan because LSH candidates
    and verification both read the shingle sets), simhash's signature
    pass, the embedding-cosine applyInPandas block kernel, and gopher's
    single mapInPandas pass."""
    for name in ["dedup_exact", "ngram_jaccard_pairs", "embedding_knn_blocked"]:
        a = _audit(spark, name)
        assert a.python_evals == 0, f"{name} fell off the JVM path:\n{a.plan}"
    for name in ["minhash_lsh_pairs", "simhash_pairs", "dedup_embedding_cosine"]:
        a = _audit(spark, name)
        assert 1 <= a.python_evals <= 2, f"unexpected Python nodes:\n{a.plan}"
    a = _audit(spark, "gopher_repetition_filter")
    assert a.python_evals == 1, a.plan
    assert len(re.findall(r"^\(\d+\) MapInPandas", a.plan, re.M)) == 1, a.plan


def test_minhash_scan_prunes_to_needed_columns(spark):
    """The documents scan under minhash reads only (doc_id, text) — column
    pruning reached the parquet reader."""
    a = _audit(spark, "minhash_lsh_pairs")
    assert a.read_schemas, a.plan
    for rs in a.read_schemas:
        assert "lang" not in rs and "source" not in rs, rs


def test_analytics_family_no_nested_loops_bounded_exchanges(spark):
    """Every analytics/extension query plans without CartesianProduct and
    with at most 2 Exchanges — the properties that decide 100 TB viability."""
    for name in [
        "q4_late_ship_priority", "q14_promo_revenue", "q18_large_orders",
        "q19_disjunctive_revenue", "q17_small_quantity_revenue",
        "pivot_priority_by_nation", "rollup_revenue", "cube_status_priority",
        "contamination_check", "contamination_check_bloom", "sessionize_gap",
        "asof_join_purchase", "top3_orders_per_cust", "running_sum_per_user",
    ]:
        a = _audit(spark, name)
        assert a.nested_loop_joins == 0, f"{name} nested loop:\n{a.plan}"
        assert a.exchanges <= 2, f"{name} has {a.exchanges} exchanges:\n{a.plan}"


def test_new_tpch_shapes_plan_discipline(spark):
    """The adapted TPC-H shapes: no CartesianProduct, bounded Exchanges
    (q2/q21 pay for the bridge distinct / per-order stats; the rest stay
    within the broadcast-star budget)."""
    budget = {
        "q2_min_cost_supplier": 3, "q9_product_profit": 2,
        "q12_priority_by_class": 2, "q16_supplier_cnt": 3,
        "q20_excess_shippers": 2, "q21_waiting_supplier": 3,
        "q22_idle_balances": 3, "corr_qty_price": 1,
        "sample_per_source": 1, "vocab_token_freq": 2,
    }
    for name, max_ex in budget.items():
        a = _audit(spark, name)
        assert a.nested_loop_joins == 0, f"{name} nested loop:\n{a.plan}"
        assert a.exchanges <= max_ex, f"{name} has {a.exchanges} exchanges:\n{a.plan}"


def test_q11_reuses_lineitem_exchange_at_runtime(spark):
    """q11 consumes the per-part view twice (group rows + global total).
    AQE must reuse the one shuffle instead of scanning lineitem twice —
    pinned here because the static plan misleadingly shows two scans."""
    from kafka_streams_demo_spark import catalog

    df = catalog.queries()["q11_important_parts"](spark, "/root/testdata/sf0.001")
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final


def test_sample_per_source_pushes_group_limit(spark):
    """The k-per-group rank filter must compile to WindowGroupLimit (a
    bounded per-partition heap), not a full per-group sort+filter."""
    a = _audit(spark, "sample_per_source")
    assert "WindowGroupLimit" in a.plan, a.plan


def test_pack_sequences_shards_groups_with_one_broadcast(spark):
    """Sharded packing (VERDICT r3 #1): the plan must group the pandas
    stage by (grp, shard) — not grp alone — with the per-group stats
    joined back as a broadcast, so one giant source fans out across
    executors instead of serializing into a single task."""
    from kafka_streams_demo_spark.functions.packing import pack_sequences
    from kafka_streams_demo_spark.sources.registry import load_table

    docs = load_table(spark, "documents", SF)
    a = audit(pack_sequences(docs, capacity=256))
    assert "FlatMapGroupsInPandas" in a.plan
    # formatted detail block: "Arguments: [grp#5, shard#29L], pack(...)"
    m = re.search(
        r"\(\d+\) FlatMapGroupsInPandas\n(?:.+\n)*?Arguments: \[([^\]]*)\]", a.plan
    )
    assert m and "grp" in m.group(1) and "shard" in m.group(1), a.plan
    assert a.broadcast_joins >= 1, a.plan          # the stats join broadcasts
    assert a.sort_merge_joins == 0 and a.shuffled_hash_joins == 0, a.plan
    assert a.nested_loop_joins == 0, a.plan
    assert a.python_evals == 1, a.plan             # exactly the pack stage


def test_char_entropy_is_shuffle_free_jvm_math(spark):
    """The entropy signal must stay a narrow map stage: no exchange, no
    Python — the whole point of the run-length HOF formulation over the
    explode→groupBy alternative."""
    df = catalog.QUERIES["char_entropy"](spark, SF)
    a = audit(df)
    assert a.exchanges == 0, a.plan
    assert a.python_evals == 0, a.plan
    assert a.joins == 0, a.plan


def test_hot_key_parallel_formulations_partition_by_composite_keys(spark):
    """The round-4 scale variants must actually partition by (key, bucket/
    salt) — not key alone — or the hot-key parallelism claim is vacuous.
    (Exactness is separately proven by their same-oracle hash gates.)"""
    # sessionize_gap_bucketed is absent here by design: its session-level
    # intermediate is localCheckpoint'ed (review r4 leak fix), which
    # truncates the visible plan at a Scan ExistingRDD — its (key, bucket)
    # partitioning is instead proven by the long-chain convergence test
    # and the same-oracle hash gate.
    for name, token in [
        ("sliding_window_count_bucketed", "_bkt"),
        ("running_sum_per_user_bucketed", "_bkt"),
        ("top3_orders_per_cust_salted", "_salt"),
    ]:
        a = _audit(spark, name)
        assert re.search(rf"hashpartitioning\([^)]*{token}", a.plan), \
            f"{name} does not partition by {token}:\n{a.plan[:2000]}"


def test_join_counts_positional_cache_dedup(spark):
    """ADVICE r9: join counting must dedupe cached-subtree RE-PRINTS
    positionally, not by line text. (a) Two distinct join nodes over
    the same cached children count as TWO even when their printed lines
    coincide (text-set dedup undercounted this); (b) a join INSIDE a
    persisted subtree read by two InMemoryTableScans counts ONCE (it
    materializes once), not once per cache reader."""
    from pyspark.sql import functions as F

    base = (
        spark.range(100)
        .select(F.col("id"), (F.col("id") % 5).alias("k"))
        .persist()
    )
    base.count()
    dim = spark.range(5).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    j1 = base.join(F.broadcast(dim), "k")
    j2 = base.join(F.broadcast(dim), "k")
    a = audit(j1.unionByName(j2))
    assert a.broadcast_joins == 2, a.plan

    joined = base.join(F.broadcast(dim), "k").persist()
    joined.count()
    two_readers = joined.unionByName(joined.select(*joined.columns))
    a2 = audit(two_readers)
    assert a2.broadcast_joins == 1, a2.plan
    joined.unpersist()
    base.unpersist()


def test_pagerank_edge_build_single_pass(spark):
    """Round 10 (shape updated r13): the bidirectional edge list must
    come from ONE join pass — never a self-union that re-executes the
    subtree. r13 moved the join+dedup inside an eager adjacency
    checkpoint (collect_set per customer; degrees fall out as array
    sizes + one broadcast count), so the returned plan reads the
    checkpoint RDD instead of re-scanning parquet, carries the
    orientation explode, and needs NO src-keyed window — the edge-wide
    Exchange+Sort the window form paid."""
    from kafka_streams_demo_spark.catalog.parity import _pr_edges

    df = _pr_edges(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # parquet is scanned only inside the one eager adjacency checkpoint,
    # never by the returned plan (a second scan would mean re-execution)
    assert plan.count("lineitem.parquet") == 0
    assert plan.count("orders.parquet") == 0
    assert "Generate explode" in plan  # the one-pass orientation explode
    assert "Union" not in plan
    assert "Window" not in plan  # out-degree is precomputed, not windowed
    assert "_od" in df.columns  # the outdeg_col contract for pagerank()


def test_token_budget_select_bounded_exchanges(spark):
    """Round 10: the budget scan's input is materialized once — left
    lazy, the two prefix-scan branches (local window + band totals)
    re-run the whole NB scoring chain and the plan balloons (16
    exchanges observed pre-fix; 4 after). Pin the ceiling and the
    JVM-only property."""
    a = _audit(spark, "token_budget_select")
    assert a.exchanges <= 6, a.exchanges
    assert a.python_evals == 0
    assert a.nested_loop_joins == 0


def test_quality_classifier_model_broadcasts(spark):
    """The fitted NB model (B=256 rows) and the 1-row prior must ride
    broadcasts into the scoring join — a shuffled model join would put
    a 256-row table through an exchange keyed on the corpus side."""
    a = _audit(spark, "quality_classifier_filter")
    assert a.broadcast_joins >= 2
    assert a.python_evals == 0

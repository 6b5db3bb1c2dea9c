"""PageRank / triangle counting (functions/graph.py). The catalog pins
cross-engine bit-equality; these pin the math on known graphs."""

import pytest
from pyspark.sql import Row

from kafka_streams_demo_spark.functions.graph import (
    orient_edges,
    pagerank,
    triangle_counts,
)


def _edges(spark, pairs, cols=("src", "dst")):
    return spark.createDataFrame([Row(**{cols[0]: a, cols[1]: b}) for a, b in pairs])


def test_pagerank_mass_conserved(spark):
    # bidirectional triangle: symmetric, ranks equal and sum to 1
    pairs = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "a"), ("a", "c")]
    ranks = {r["node"]: r["rank"] for r in pagerank(_edges(spark, pairs), 3).collect()}
    assert ranks == {"a": pytest.approx(1 / 3, abs=1e-6),
                     "b": pytest.approx(1 / 3, abs=1e-6),
                     "c": pytest.approx(1 / 3, abs=1e-6)}


def test_pagerank_hub_ranks_higher(spark):
    # star with backlinks: hub h collects from 3 leaves
    pairs = [("h", x) for x in "abc"] + [(x, "h") for x in "abc"]
    ranks = {r["node"]: r["rank"] for r in pagerank(_edges(spark, pairs), 3).collect()}
    assert ranks["h"] > ranks["a"] == ranks["b"] == ranks["c"]
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-5)


def test_pagerank_two_node_exact(spark):
    # a<->b stays uniform at every iteration: 0.15/2 + 0.85*0.5 = 0.5
    ranks = {r["node"]: r["rank"]
             for r in pagerank(_edges(spark, [("a", "b"), ("b", "a")]), 4).collect()}
    assert ranks == {"a": 0.5, "b": 0.5}


def test_pagerank_checkpoint_path(spark):
    pairs = [("a", "b"), ("b", "a")]
    ranks = {r["node"]: r["rank"]
             for r in pagerank(_edges(spark, pairs), 6, checkpoint_every=2).collect()}
    assert ranks == {"a": 0.5, "b": 0.5}


def test_pagerank_validation():
    with pytest.raises(ValueError):
        pagerank(None, iterations=0)


def test_pagerank_outdeg_col_bit_equal(spark):
    """outdeg_col pass-through (r13): supplying the per-src out-degree
    as a column must be BIT-equal to the window-computed path — the
    iteration math sees identical (src, dst, _od) rows either way.
    Asymmetric multigraph-ish shape (repeated dst from one src is
    legal) so degrees differ per node; exact_folds both ways."""
    from pyspark.sql import functions as F

    pairs = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "a"),
             ("c", "a"), ("c", "b"), ("d", "a"), ("b", "d")]
    e = _edges(spark, pairs)
    deg = {s: sum(1 for p in pairs if p[0] == s) for s, _ in pairs}
    e_od = e.withColumn(
        "n_out",
        F.udf(lambda s: float(deg[s]), "double")(F.col("src")),
    )
    base = {r["node"]: r["rank"] for r in pagerank(e, 3).collect()}
    pre = {
        r["node"]: r["rank"]
        for r in pagerank(e_od, 3, outdeg_col="n_out").collect()
    }
    assert base == pre  # exact equality — same floats, same rounding


def test_pagerank_broadcast_gate_both_regimes(spark):
    """VERDICT r13 task 3: the per-iteration ranks/summed broadcasts are
    size-gated on the exact node count. Under the bound the plan keeps
    the broadcast hash joins (the r13 shape); over it (forced here with
    broadcast_max_nodes=0) no node-count-sized frame is broadcast — the
    loop joins become ShuffledHashJoins against pre-partitioned sides —
    and the results are BIT-equal (exact_folds sums contributions in
    sorted order regardless of join strategy)."""
    pairs = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "a"),
             ("c", "a"), ("c", "b"), ("d", "a"), ("b", "d")]
    e = _edges(spark, pairs)
    small_df = pagerank(e, 3)
    big_df = pagerank(e, 3, broadcast_max_nodes=0)
    assert {tuple(r) for r in small_df.collect()} == {
        tuple(r) for r in big_df.collect()
    }
    small_plan = small_df._jdf.queryExecution().executedPlan().toString()
    big_plan = big_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in small_plan
    assert "BroadcastHashJoin" not in big_plan
    assert "ShuffledHashJoin" in big_plan


def test_pr_edges_hub_cap_routes_hot_customers(spark, tmp_path):
    """VERDICT r13 task 4 (skew fixture): a customer whose degree upper
    bound exceeds hub_cap gets its supplier set split across salt
    buckets and its out-degree from the hub-rows-only window — the edge
    set and every _od must be IDENTICAL to the uncapped build, and the
    hub's _od must equal its true distinct-supplier count."""
    from pyspark.sql import functions as F

    from kafka_streams_demo_spark.catalog.parity import _pr_edges
    from kafka_streams_demo_spark.sources.registry import SCHEMAS

    # hub customer 1: 40 orders x 5 lineitems = 200-row bound, 30
    # distinct suppliers; cold customers 2..4: one order, 2 suppliers
    orders, lineitems = [], []
    ok = 0
    for o in range(40):
        ok += 1
        orders.append((ok, 1))
        for j in range(5):
            lineitems.append((ok, (o * 5 + j) % 30 + 100))
    for c in (2, 3, 4):
        ok += 1
        orders.append((ok, c))
        lineitems.append((ok, 200 + c))
        lineitems.append((ok, 201 + c))
    odf = spark.createDataFrame(
        [(k, c, "O", 1.0, None, "1-URGENT") for k, c in orders],
        SCHEMAS["orders"],
    )
    ldf = spark.createDataFrame(
        [
            (k, 1, s, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", None)
            for k, s in lineitems
        ],
        SCHEMAS["lineitem"],
    )
    odf.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    ldf.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    # |suppliers| must exceed hub_cap or the hierarchical trigger's
    # free bound (degree ≤ |supplier table|) proves no hub can exist
    sdf = spark.createDataFrame(
        [(100 + i, f"s{i}", 0, 0.0) for i in range(60)], SCHEMAS["supplier"]
    )
    sdf.write.mode("overwrite").parquet(str(tmp_path / "supplier.parquet"))

    capped = _pr_edges(spark, str(tmp_path), hub_cap=50)
    uncapped = _pr_edges(spark, str(tmp_path), hub_cap=10**9)
    assert capped.exceptAll(uncapped).count() == 0
    assert uncapped.exceptAll(capped).count() == 0
    hub_od = (
        capped.filter(F.col("src") == "c:1").select("_od").distinct().collect()
    )
    assert [r["_od"] for r in hub_od] == [30.0]


def test_orient_edges_total_order(spark):
    # path a-b-c: deg(b)=2 > deg(a)=deg(c)=1 — both edges point INTO b
    oe = orient_edges(_edges(spark, [("a", "b"), ("b", "c")], cols=("a", "b"))).collect()
    assert {(r["src"], r["dst"]) for r in oe} == {("a", "b"), ("c", "b")}
    assert all(r["src_deg"] <= r["dst_deg"] for r in oe)


def test_triangles_k4(spark):
    # K4: 4 triangles, each node in exactly 3
    nodes = "abcd"
    und = [(x, y) for i, x in enumerate(nodes) for y in nodes[i + 1:]]
    got = {r["node"]: r["triangles"]
           for r in triangle_counts(_edges(spark, und, cols=("a", "b"))).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_triangles_square_has_none(spark):
    und = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    assert triangle_counts(_edges(spark, und, cols=("a", "b"))).count() == 0


def test_triangles_counted_once(spark):
    # one triangle plus a pendant edge
    und = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    got = {r["node"]: r["triangles"]
           for r in triangle_counts(_edges(spark, und, cols=("a", "b"))).collect()}
    assert got == {"a": 1, "b": 1, "c": 1}


def test_triangle_incremental_equals_rebuild(spark):
    import random

    from kafka_streams_demo_spark.functions.graph import triangle_counts_incremental

    rng = random.Random(7)
    nodes = list(range(12))
    all_edges = sorted(
        {(a, b) for a in nodes for b in nodes if a < b and rng.random() < 0.35}
    )
    for frac in (0.0, 0.4, 0.8, 1.0):
        cut = int(len(all_edges) * frac)
        old = _edges(spark, all_edges[:cut] or [(-1, -2)], cols=("a", "b"))
        if not all_edges[:cut]:
            old = old.filter("a > 0")  # empty old graph
        delta = _edges(spark, all_edges[cut:] or [(-1, -2)], cols=("a", "b"))
        if not all_edges[cut:]:
            delta = delta.filter("a > 0")
        inc = sorted(
            map(tuple, triangle_counts_incremental(old, delta).filter("triangles > 0").collect())
        )
        full = sorted(
            map(tuple, triangle_counts(_edges(spark, all_edges, cols=("a", "b"))).collect())
        )
        assert inc == full, frac


def test_triangles_match_brute_force_count(spark):
    """Per-node triangle counts on a random graph equal a brute-force
    count over every node triple."""
    import itertools
    import random
    from collections import Counter

    rng = random.Random(11)
    und = sorted({(a, b) for a in range(15) for b in range(15)
                  if a < b and rng.random() < 0.3})
    edges = set(und)
    want = Counter()
    for x, y, z in itertools.combinations(range(15), 3):
        if {(x, y), (x, z), (y, z)} <= edges:
            want.update((x, y, z))
    got = dict(map(tuple, triangle_counts(_edges(spark, und, cols=("a", "b"))).collect()))
    assert got == dict(want) and got


def test_pagerank_plain_sum_parity_at_6dp(spark):
    import random

    rng = random.Random(3)
    nodes = [f"n{i}" for i in range(30)]
    pairs = sorted({(a, b) for a in nodes for b in nodes
                    if a != b and rng.random() < 0.15})
    # ensure no dangling nodes: add reverse edges
    pairs = sorted(set(pairs) | {(b, a) for a, b in pairs})
    df = _edges(spark, pairs)
    exact = sorted(map(tuple, pagerank(df, 4, exact_folds=True).collect()))
    plain = sorted(map(tuple, pagerank(df, 4, exact_folds=False).collect()))
    assert exact == plain  # 6dp rounding absorbs addition-order noise


def test_pagerank_source_only_node_retained(spark):
    """A node with out-edges but no in-edges (allowed by the precondition)
    must survive every iteration at the teleport floor 0.15/N and keep
    distributing its mass — the pre-fix rebuild from groupBy(dst) output
    dropped it after iteration 1, losing its outgoing rank mass and
    corrupting all downstream ranks (ADVICE r7). Pinned against a plain
    Python replay, on both fold paths."""
    pairs = [("s", "a"), ("a", "b"), ("b", "a")]

    def ref(iters):
        nodes = ["s", "a", "b"]
        out = {"s": ["a"], "a": ["b"], "b": ["a"]}
        r = {n: 1 / 3 for n in nodes}
        for _ in range(iters):
            c = {n: 0.0 for n in nodes}
            for u in nodes:
                for v in out[u]:
                    c[v] += r[u] / len(out[u])
            r = {n: 0.15 / 3 + 0.85 * c[n] for n in nodes}
        return r

    expected = ref(3)
    for exact in (True, False):
        got = {r["node"]: r["rank"]
               for r in pagerank(_edges(spark, pairs), 3, exact_folds=exact).collect()}
        assert set(got) == {"s", "a", "b"}
        assert got["s"] == pytest.approx(0.15 / 3, abs=1e-6)
        for n, v in expected.items():
            assert got[n] == pytest.approx(v, abs=1e-6)
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-5)


def test_pagerank_plain_sum_no_list_materialization(spark):
    """The production path (exact_folds=False) must aggregate hot-node
    contributions with a partial (map-side-combined) sum — never a
    collect_list that materializes a power-law node's full in-degree on
    one reducer (VERDICT r7 task 2). Pinned on a skewed star graph: one
    hub with every other node pointing at it."""
    n = 200
    pairs = [(f"n{i}", "hub") for i in range(n)] + [("hub", "n0"), ("n0", "hub")]
    df = pagerank(_edges(spark, pairs), iterations=2, exact_folds=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
    # partial_sum proves the map-side combine half of the aggregate pair
    assert "partial_sum" in plan
    # and the gate variant DOES use the sorted fold (the cross-engine
    # contract) — the two paths are deliberately different plans
    gated = pagerank(_edges(spark, pairs), iterations=2, exact_folds=True)
    assert "collect_list" in gated._jdf.queryExecution().executedPlan().toString()


def test_triangle_incremental_with_persisted_old_counts(spark):
    """The production path: passing the persisted per-node count table
    skips the old-graph batch recount entirely (the update is then
    delta-priced — probe rows only) and must emit exactly what the
    rebuild-from-old-edges path emits."""
    from kafka_streams_demo_spark.functions.graph import (
        triangle_counts,
        triangle_counts_incremental,
    )

    old = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5)], "a long, b long"
    )
    delta = spark.createDataFrame([(2, 4), (1, 5)], "a long, b long")
    want = sorted(
        map(tuple, triangle_counts_incremental(old, delta).collect())
    )
    persisted = triangle_counts(old)
    got = sorted(
        map(
            tuple,
            triangle_counts_incremental(old, delta, old_counts=persisted).collect(),
        )
    )
    assert got == want
    # sanity: equals the full rebuild too
    rebuild = sorted(
        map(tuple, triangle_counts(old.unionByName(delta)).collect())
    )
    assert got == rebuild


def test_triangle_incremental_flagged_union_parity(spark):
    """The r13 single-frame input: a caller whose old/delta split is a
    provenance column of one derivation passes (a, b, _new) directly —
    must emit exactly what the two-frame form emits (and therefore the
    full rebuild, by the test above)."""
    from pyspark.sql import functions as F

    from kafka_streams_demo_spark.functions.graph import (
        triangle_counts_incremental,
    )

    old = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5)], "a long, b long"
    )
    delta = spark.createDataFrame([(2, 4), (1, 5), (2, 5)], "a long, b long")
    want = sorted(
        map(tuple, triangle_counts_incremental(old, delta).collect())
    )
    flagged = old.withColumn("_new", F.lit(False)).unionByName(
        delta.withColumn("_new", F.lit(True))
    )
    got = sorted(
        map(
            tuple,
            triangle_counts_incremental(flagged_union=flagged).collect(),
        )
    )
    assert got == want


def test_triangle_closing_join_is_shuffle_hash(spark):
    """The census's adjacency joins hash the node-count-sized array
    table per partition while the m-row edge side streams unsorted —
    a sort-merge join would SORT the edges twice for nothing. The hint
    pins ShuffledHashJoin (same discipline as the r12 wedge-closing
    join this path replaced in r13)."""
    from kafka_streams_demo_spark.functions.graph import triangle_counts

    und = spark.createDataFrame(
        [(i % 40, (i * 7) % 40) for i in range(300) if i % 40 != (i * 7) % 40],
        "a long, b long",
    ).distinct()
    plan = (
        triangle_counts(und)._jdf.queryExecution().executedPlan().toString()
    )
    assert "ShuffledHashJoin" in plan


def test_powerlaw_edges_shape_and_determinism(spark):
    """The triangle-census grading fixture (VERDICT r10 task 5): seeded
    closed-form power-law graph — deterministic across builds, skewed
    (hub degree ≫ median — the property the co-purchase graph lacks),
    and the edge_factor=3 build is a true subset of edge_factor=4 (the
    incremental entry's old/delta split is a temporal prefix)."""
    from pyspark.sql import functions as F

    from kafka_streams_demo_spark.functions.graph import powerlaw_edges

    n = 500
    e1 = powerlaw_edges(spark, n, edge_factor=4)
    e2 = powerlaw_edges(spark, n, edge_factor=4)
    rows1 = {(r["a"], r["b"]) for r in e1.collect()}
    rows2 = {(r["a"], r["b"]) for r in e2.collect()}
    assert rows1 == rows2 and len(rows1) > n  # deterministic, non-trivial
    assert all(a < b for a, b in rows1)  # canonical, no self-loops
    assert all(0 <= a < n and 0 <= b < n for a, b in rows1)
    deg = (
        e1.select(F.col("a").alias("node"))
        .unionByName(e1.select(F.col("b").alias("node")))
        .groupBy("node")
        .count()
        .collect()
    )
    counts = sorted((r["count"] for r in deg), reverse=True)
    median = counts[len(counts) // 2]
    assert counts[0] >= 10 * max(1, median), (counts[0], median)  # heavy hub
    old = {(r["a"], r["b"]) for r in powerlaw_edges(spark, n, edge_factor=3).collect()}
    assert old < rows1  # strict prefix subset


def test_pagerank_prod_oracle_boundary_margin():
    """pagerank_cust_supp_prod is hash-gated against the same unrolled-CTE
    oracle as the sorted-fold sibling (VERDICT r11 task 2); the gate is
    sound only while no rank sits so close to a .5e-6 rounding boundary
    that the prod path's addition-order noise could flip the 6th
    decimal. The realistic noise of a ~100-term double sum of ~1e-3
    magnitude is n·eps·Σ ≈ 1e-16 per node per iteration (the sub-1e-12
    figure in the docstrings is already conservative). This canary
    computes the UNROUNDED oracle ranks on the gate fixtures and
    asserts every rank is ≥5e-11 from a boundary — ≥10^5x the noise
    floor (measured: 1.4e-10 worst at sf0.01, 'a few' e-10 at
    sf0.001). Pure DuckDB (no Spark session needed)."""
    import duckdb

    from kafka_streams_demo_spark.catalog.parity import _PR_EDGES_CTE
    from kafka_streams_demo_spark.functions.graph import pagerank_sql

    sql = pagerank_sql(_PR_EDGES_CTE, iterations=3, damping=0.85)
    # strip the final ROUND projection → raw double ranks
    body, tail = sql.rsplit("\nSELECT node, ROUND(rank, 6) AS rank", 1)
    assert tail.startswith(" FROM r3")
    raw_sql = body + "\nSELECT node, rank" + tail
    for sf in ("sf0.001", "sf0.01"):
        con = duckdb.connect()
        for t in ("orders", "lineitem"):
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('/root/testdata/{sf}/{t}.parquet')"
            )
        ranks = [r[1] for r in con.sql(raw_sql).fetchall()]
        margins = [abs((r * 1e6) % 1 - 0.5) for r in ranks]
        worst = min(margins)
        print(f"{sf}: {len(ranks)} nodes, worst boundary margin "
              f"{worst:.2e} (x1e-6 rank units)")
        # 5e-5 in scaled units = 5e-11 in rank units (≥10^5x noise)
        assert worst > 5e-5, (sf, worst)


def test_pagerank_prod_oracle_boundary_margin_scale_tiers():
    """FIXTURES.md regeneration checklist: the canary must also clear
    every scale tier the gate runs on. The 10x tier (r12's gated
    ceiling for pagerank) is checked here with a TIER-AWARE threshold:
    the worst min-over-n margin shrinks ~1/n_nodes as node count grows
    (measured 1.4e-10 rank units at 1.6k nodes -> 7.7e-12 at 160k —
    almost exactly the 100x node growth), while the addition-order
    noise stays ~1e-16 per rank, so the gate's safety factor at the
    10x tier is still ~10^4.9. The assertion demands >=10^4
    (1e-12 rank units = 1e-6 in scaled units).

    The 100x tier is deliberately ABSENT: its oracle replay (the
    distinct-pair edge build over 60M lineitem x 15M orders, then 3
    unrolled iterations) exceeds 30 min in DuckDB (measured r13), so
    sf10 is bench-only for pagerank — there is no sf10 hash gate for
    this canary to protect (SCALE_CORRECTNESS_sf10_r13.json documents
    the exclusion). Tiers are gitignored local artifacts — skip when
    absent."""
    import os

    import duckdb
    import pytest

    from kafka_streams_demo_spark.catalog.parity import _PR_EDGES_CTE
    from kafka_streams_demo_spark.functions.graph import pagerank_sql

    tier = "/root/repo/.scale/sf1"
    if not os.path.isdir(tier):
        pytest.skip("no local 10x tier generated (tools/gen_scale.py)")

    sql = pagerank_sql(_PR_EDGES_CTE, iterations=3, damping=0.85)
    body, tail = sql.rsplit("\nSELECT node, ROUND(rank, 6) AS rank", 1)
    assert tail.startswith(" FROM r3")
    raw_sql = body + "\nSELECT node, rank" + tail
    con = duckdb.connect()
    con.sql("SET threads = 8")
    for t in ("orders", "lineitem"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tier}/{t}.parquet/*.parquet')"
        )
    ranks = [r[1] for r in con.sql(raw_sql).fetchall()]
    margins = [abs((r * 1e6) % 1 - 0.5) for r in ranks]
    worst = min(margins)
    print(f"{tier}: {len(ranks)} nodes, worst boundary margin "
          f"{worst:.2e} (x1e-6 rank units)")
    # 1e-6 scaled = 1e-12 rank units = 10^4 x the ~1e-16 noise floor
    assert worst > 1e-6, (tier, worst)

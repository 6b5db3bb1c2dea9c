"""Remaining TPC-H shapes adapted to the driver schema.

Split from the single-module catalog in round 10 (VERDICT r9 task 7) —
entries and oracles are byte-identical to their pre-split form; the
registry lives in ``catalog._core`` and the driver contract in
``catalog/__init__.py``. Registration order is preserved by the
``__init__`` import sequence.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from kafka_streams_demo_spark.catalog._core import (  # noqa: F401
    ORACLES,
    QUERIES,
    _events_stream,
    cents,
    fixture_fingerprint,
    register,
    session_tmpdir,
)
from kafka_streams_demo_spark.operators.kstream import KStream  # noqa: F401
from kafka_streams_demo_spark.operators.ktable import KTable  # noqa: F401
from kafka_streams_demo_spark.operators.windows import (  # noqa: F401
    JoinWindows,
    SessionWindows,
    TimeWindows,
)
from kafka_streams_demo_spark.sources.registry import load_table  # noqa: F401

# ---------------------------------------------------------------------------
# Remaining TPC-H shapes, adapted to the driver schema (no partsupp /
# shipmode / phone columns — the part↔supplier bridge is the DISTINCT
# (l_partkey, l_suppkey) projection of lineitem, and categorical stand-ins
# replace the missing attributes). Shapes, not verbatim queries: each keeps
# the plan structure that makes the original interesting.
# ---------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    "WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem), "
    "eu AS (SELECT s.s_suppkey, s.s_name, "
    "CAST(ROUND(s.s_acctbal*100, 0) AS BIGINT) AS bal_c, n.n_name "
    "FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey "
    "JOIN region r ON n.n_regionkey = r.r_regionkey WHERE r.r_name = 'EUROPE'), "
    "cand AS (SELECT p.p_partkey, p.p_name, eu.s_suppkey, eu.s_name, eu.n_name, eu.bal_c "
    "FROM part p JOIN ps ON p.p_partkey = ps.l_partkey "
    "JOIN eu ON ps.l_suppkey = eu.s_suppkey WHERE p.p_size = 15), "
    "mn AS (SELECT p_partkey, min(bal_c) AS min_bal FROM cand GROUP BY 1) "
    "SELECT c.p_partkey, c.p_name, c.s_suppkey, c.s_name, c.n_name, c.bal_c "
    "FROM cand c JOIN mn ON c.p_partkey = mn.p_partkey AND c.bal_c = mn.min_bal",
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (correlated MIN subquery, decorrelated): per size-15
    part, the EUROPE supplier(s) with the minimum account balance among
    suppliers who shipped it. partsupp stand-in = DISTINCT
    (l_partkey, l_suppkey) — that distinct is the only wide op (keyed on
    partkey); part/supplier/nation/region are all broadcast dims, and the
    min-balance tie-break compares exact integer cents (double equality
    would be engine-dependent). At scale the same plan holds: the bridge
    distinct is a map-side-combined shuffle on the join key itself."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).filter(F.col("p_size") == 15)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "EUROPE")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    eu = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", cents(F.col("s_acctbal")).alias("bal_c"), "n_name")
    )
    cand = (
        ps.join(F.broadcast(p), ps["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(eu), ps["l_suppkey"] == eu["s_suppkey"])
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "n_name", "bal_c")
    )
    mn = cand.groupBy(F.col("p_partkey").alias("_pk")).agg(F.min("bal_c").alias("min_bal"))
    return cand.join(
        F.broadcast(mn),
        (cand["p_partkey"] == mn["_pk"]) & (cand["bal_c"] == mn["min_bal"]),
    ).select("p_partkey", "p_name", "s_suppkey", "s_name", "n_name", "bal_c")


@register(
    "q9_product_profit",
    "SELECT n.n_name AS nation, "
    "CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year, "
    "SUM(CAST(ROUND(l.l_extendedprice*(1-l.l_discount)*100, 0) AS BIGINT)) AS profit_c "
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
    "JOIN nation n ON s.s_nationkey = n.n_nationkey "
    "JOIN part p ON l.l_partkey = p.p_partkey "
    "WHERE p.p_name LIKE '%red%' GROUP BY 1, 2",
)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-line profit by supplier nation and year;
    supplycost omitted — no partsupp — so profit = discounted revenue).
    The part filter is applied BEFORE the broadcast so the fact-side join
    prunes ~90% of lineitem early; orders is the one fact-fact shuffle."""
    l = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    p = load_table(spark, "part", sf_dir).filter(F.col("p_name").like("%red%"))
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("profit_c"))
    )


@register(
    "q11_important_parts",
    "WITH pv AS (SELECT l_partkey, "
    "SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS val_c "
    "FROM lineitem GROUP BY 1) "
    "SELECT l_partkey, val_c FROM pv "
    "WHERE val_c > (SELECT 0.0007 * SUM(val_c) FROM pv)",
)
def q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape (group value vs global-total scalar subquery): parts
    whose total shipped value exceeds 0.07% of the whole corpus value. One
    shuffle builds the per-part view; the global total is a one-row
    broadcast back onto it. The threshold multiply happens once on the
    scalar side so the per-row comparison is long-vs-double with an exact
    integer left operand in both engines."""
    li = load_table(spark, "lineitem", sf_dir)
    pv = li.groupBy("l_partkey").agg(F.sum(cents(F.col("l_extendedprice"))).alias("val_c"))
    tot = pv.agg((F.sum("val_c") * 0.0007).alias("_thr"))
    return pv.join(F.broadcast(tot), pv["val_c"] > tot["_thr"]).select("l_partkey", "val_c")


@register(
    "q12_priority_by_class",
    "SELECT l.l_returnflag AS ship_class, "
    "SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS high_line_count, "
    "SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS low_line_count "
    "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
    "WHERE l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01' "
    "GROUP BY 1",
)
def q12_priority_by_class(spark, sf_dir):
    """TPC-H Q12 shape (two-class conditional count; return-flag stands in
    for the missing shipmode): urgent vs non-urgent line counts per class
    for one ship year. The date filter pushes to the lineitem scan; the
    grouped domain is 3 rows so the second agg is trivial — the cost is
    the one orders⋈lineitem shuffle."""
    o = load_table(spark, "orders", sf_dir)
    l = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q16_supplier_cnt",
    "WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) "
    "SELECT p.p_brand, p.p_type, p.p_size, "
    "count(DISTINCT ps.l_suppkey) AS supplier_cnt "
    "FROM ps JOIN part p ON p.p_partkey = ps.l_partkey "
    "WHERE p.p_brand <> 'Brand#11' AND p.p_size IN (1, 5, 15, 25, 35, 45) "
    "AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) "
    "GROUP BY 1, 2, 3",
)
def q16_supplier_cnt(spark, sf_dir):
    """TPC-H Q16 shape (COUNT DISTINCT per attribute group with a NOT-IN
    supplier exclusion): distinct supplier count per (brand, type, size)
    over the lineitem-derived bridge, excluding negative-balance suppliers.
    The NOT IN compiles to a broadcast anti-join (the exclusion list is
    tiny); count-distinct rides the same shuffle as the group-by."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#11") & F.col("p_size").isin(1, 5, 15, 25, 35, 45)
    )
    bad = load_table(spark, "supplier", sf_dir).filter(F.col("s_acctbal") < 0).select("s_suppkey")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    return (
        ps.join(F.broadcast(bad), ps["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(p), ps["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@register(
    "q20_excess_shippers",
    "SELECT s.s_suppkey, s.s_name FROM supplier s "
    "JOIN nation n ON s.s_nationkey = n.n_nationkey "
    "JOIN region r ON n.n_regionkey = r.r_regionkey "
    "WHERE r.r_name = 'EUROPE' AND s.s_suppkey IN ("
    "SELECT l_suppkey FROM lineitem "
    "WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%') "
    "AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' "
    "GROUP BY 1 HAVING SUM(l_quantity) > 300)",
)
def q20_excess_shippers(spark, sf_dir):
    """TPC-H Q20 shape (doubly-nested IN: semi-join into a grouped-HAVING
    derived table): EUROPE suppliers who shipped >300 units of 'small'
    parts in 1997. Inner IN = broadcast semi-join of lineitem vs the
    filtered part keys; the HAVING view groups on suppkey; the outer IN is
    a second semi-join against the 100-row supplier dim — every layer
    stays semi (no fact row ever duplicates)."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = load_table(spark, "part", sf_dir).filter(F.col("p_name").like("small%")).select("p_partkey")
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "EUROPE")
    heavy = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"], "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 300)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .join(F.broadcast(heavy), s["s_suppkey"] == heavy["l_suppkey"], "left_semi")
        .select("s_suppkey", "s_name")
    )


@register(
    "q21_waiting_supplier",
    "SELECT s.s_name, count(*) AS numwait FROM supplier s "
    "JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey "
    "JOIN orders o ON o.o_orderkey = l1.l_orderkey "
    "WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R' "
    "AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey "
    "AND l2.l_suppkey <> l1.l_suppkey) "
    "AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey "
    "AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R') "
    "GROUP BY 1",
)
def q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape (EXISTS + NOT-EXISTS self-joins on the fact table;
    return-flag 'R' stands in for the missing receipt-after-commit dates):
    suppliers who were the sole at-fault supplier on a multi-supplier
    finalized order. The two correlated subqueries decorrelate into ONE
    per-order aggregate (distinct suppliers / distinct at-fault suppliers)
    — one extra shuffle on orderkey instead of two self-join passes; the
    oracle keeps the EXISTS form so the gate checks the decorrelation is
    semantics-preserving, not just self-consistent."""
    s = load_table(spark, "supplier", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderstatus") == "F")
    ostats = li.groupBy(F.col("l_orderkey").alias("_ok")).agg(
        F.count_distinct("l_suppkey").alias("_n_supp"),
        F.count_distinct(F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))).alias(
            "_n_fault"
        ),
    )
    l1 = li.filter(F.col("l_returnflag") == "R")
    return (
        l1.join(o.select("o_orderkey"), l1["l_orderkey"] == F.col("o_orderkey"), "left_semi")
        .join(ostats, l1["l_orderkey"] == ostats["_ok"])
        .filter((F.col("_n_supp") > 1) & (F.col("_n_fault") == 1))
        .join(F.broadcast(s), l1["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "q22_idle_balances",
    "WITH pos AS (SELECT c_custkey, c_nationkey, "
    "CAST(ROUND(c_acctbal*100, 0) AS BIGINT) AS bal_c FROM customer), "
    "thr AS (SELECT AVG(bal_c) AS avg_c FROM pos WHERE bal_c > 0) "
    "SELECT c_nationkey, count(*) AS numcust, SUM(bal_c) AS totacctbal_c "
    "FROM pos WHERE bal_c > (SELECT avg_c FROM thr) "
    "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = pos.c_custkey "
    "AND o_orderdate >= TIMESTAMP '2000-01-01') "
    "GROUP BY 1",
)
def q22_idle_balances(spark, sf_dir):
    """TPC-H Q22 shape (global-average scalar subquery + anti-join;
    nationkey stands in for the missing phone country code): wealthy
    customers with no RECENT orders (every synthetic customer has some
    order, so recency replaces never-ordered), grouped by nation. The
    average is taken over exact integer cents so the single sum/count
    division is bitwise identical in both engines (averaging raw doubles
    would make boundary rows engine-dependent); the NOT EXISTS is a
    shuffle anti-join against only the filtered o_custkey projection."""
    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_nationkey", cents(F.col("c_acctbal")).alias("bal_c")
    )
    o = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    thr = c.filter(F.col("bal_c") > 0).agg(F.avg("bal_c").alias("avg_c"))
    return (
        c.join(F.broadcast(thr), c["bal_c"] > thr["avg_c"])
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("numcust"), F.sum("bal_c").alias("totacctbal_c"))
    )


_CC_ORACLE = """
WITH RECURSIVE
toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
idx AS (SELECT doc_id, w, unnest(range(1, len(w)-1)) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, w[i] || '_' || w[i+1] || '_' || w[i+2] AS s FROM idx),
d AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
cand AS (SELECT a.doc_id i, b.doc_id j, count(*) common
         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
pairs AS (SELECT p.i, p.j FROM cand p
          JOIN d d1 ON p.i = d1.doc_id JOIN d d2 ON p.j = d2.doc_id
          WHERE ROUND(p.common / (d1.n + d2.n - p.common), 6) >= 0.5),
edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
reach(node, r) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b
),
cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY 1)
SELECT doc.doc_id,
       COALESCE(cc.cluster_id, doc.doc_id) AS cluster_id,
       CASE WHEN COALESCE(cc.cluster_id, doc.doc_id) = doc.doc_id
            THEN 1 ELSE 0 END AS is_canonical
FROM documents doc LEFT JOIN cc ON doc.doc_id = cc.node
"""


@register("dedup_clusters", _CC_ORACLE)
def dedup_clusters_q(spark, sf_dir):
    """Pairs → clusters → canonical election: connected components over the
    exact 3-gram-Jaccard near-dup graph (threshold 0.5), every doc labeled
    with its component's min doc_id and an is_canonical keep flag — the
    final stage of the dedup pipeline (filter is_canonical=1 to get the
    deduplicated corpus). Engine side is iterative min-label propagation
    (functions/dedup.py:connected_components — one shuffle per round,
    O(cluster-diameter) rounds); the oracle computes the same fixpoint as
    a DuckDB recursive CTE, so the gate checks an iterative distributed
    algorithm against a declarative transitive closure."""
    from kafka_streams_demo_spark.functions.dedup import dedup_clusters, ngram_jaccard_pairs

    docs = load_table(spark, "documents", sf_dir)
    # exact mode to match the recursive-CTE oracle (see ngram_jaccard_pairs_q)
    pairs = ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, max_doc_freq=None
    ).select("i", "j")
    return dedup_clusters(docs, pairs)


@register("dedup_clusters_incremental", ORACLES["dedup_clusters"])
def dedup_clusters_incremental_q(spark, sf_dir):
    """Index+delta cluster maintenance (round 7 —
    functions/dedup.py:dedup_clusters_incremental): even doc_ids play
    the indexed corpus with their persisted (doc_id, cluster_id)
    assignment; odd ids are the ingest batch, whose pairs (everything
    touching an odd doc) map onto cluster representatives and re-run CC
    over the delta-sized rep graph only. Exercises cross-batch cluster
    MERGES (an odd doc bridging two even clusters) and root takeover
    (an odd id undercutting an even cluster's minimum). Registered
    against the SAME recursive-CTE oracle as dedup_clusters, so the
    hash gate proves batch ≡ incremental bit-for-bit."""
    from kafka_streams_demo_spark.functions.dedup import (
        dedup_clusters,
        dedup_clusters_incremental,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, "documents", sf_dir)
    pairs = ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, max_doc_freq=None
    ).select("i", "j")
    even = (F.col("i") % 2 == 0) & (F.col("j") % 2 == 0)
    assignments = dedup_clusters(
        docs.filter(F.col("doc_id") % 2 == 0), pairs.filter(even)
    ).select("doc_id", "cluster_id")
    return dedup_clusters_incremental(
        docs.filter(F.col("doc_id") % 2 == 1), assignments, pairs.filter(~even)
    )


@register(
    "sample_per_source",
    "WITH ranked AS (SELECT doc_id, source, "
    "row_number() OVER (PARTITION BY source "
    "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn "
    "FROM documents) "
    "SELECT source, doc_id, rn FROM ranked WHERE rn <= 20",
)
def sample_per_source(spark, sf_dir):
    """Deterministic balanced sampling: exactly k=20 docs per source,
    chosen by md5(doc_id) rank — the reproducible replacement for
    rand()-based sampleBy in training-data pipelines (same keep-set on
    every run, any engine, any partitioning). One shuffle on the group
    key; at 100 TB swap row_number for a bounded per-partition heap
    (top-k never needs a full sort — Spark's WindowGroupLimit pushes the
    k-limit into the sort for exactly this shape)."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    hid = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = Window.partitionBy("source").orderBy(hid, "doc_id")
    return (
        docs.select("source", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
    )


@register(
    "weighted_sample_quality",
    "WITH kd AS (SELECT doc_id, n_chars, "
    "pow((('0x' || substr(md5('42:' || doc_id), 1, 15))::BIGINT + 1) "
    "    / 1152921504606846976.0, "
    "    1.0 / greatest(CAST(n_chars AS DOUBLE), 1.0)) AS k "
    "FROM documents WHERE n_chars IS NOT NULL) "
    "SELECT doc_id, n_chars FROM kd ORDER BY k DESC, doc_id LIMIT 50",
)
def weighted_sample_quality(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (functions/packing.py:weighted_sample, Efraimidis & Spirakis 2006):
    longer documents are proportionally likelier — key = u^(1/w) with a
    hash-derived uniform, top-k by key. The uniform sibling of
    `sample_per_source` for quality/length-weighted data selection; the
    oracle replays the identical doubles, so the SAMPLED SET ITSELF is
    hash-gated, not just its size. Global top-k compiles to
    TakeOrderedAndProject: per-partition heaps, never a full sort."""
    from kafka_streams_demo_spark.functions.packing import weighted_sample

    docs = load_table(spark, "documents", sf_dir)
    return weighted_sample(docs, 50, "n_chars").select("doc_id", "n_chars")


@register(
    "weighted_sample_per_source",
    "WITH kd AS (SELECT doc_id, source, "
    "pow((('0x' || substr(md5('42:' || doc_id), 1, 15))::BIGINT + 1) "
    "    / 1152921504606846976.0, "
    "    1.0 / greatest(CAST(n_chars AS DOUBLE), 1.0)) AS k "
    "FROM documents WHERE n_chars IS NOT NULL), "
    "ranked AS (SELECT doc_id, source, "
    "row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rn "
    "FROM kd) SELECT doc_id, source FROM ranked WHERE rn <= 10",
)
def weighted_sample_per_source(spark, sf_dir):
    """Stratified weighted sampling: 10 length-weighted picks per source
    (the `by=` path — one window shuffle on the stratum; WindowGroupLimit
    keeps it a bounded heap per group). Composes the balanced
    `sample_per_source` contract with Efraimidis-Spirakis weights."""
    from kafka_streams_demo_spark.functions.packing import weighted_sample

    docs = load_table(spark, "documents", sf_dir)
    return weighted_sample(docs, 10, "n_chars", by="source").select(
        "doc_id", "source"
    )


@register(
    "vocab_token_freq",
    "WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents), "
    "freq AS (SELECT token, count(*) AS tf FROM tok WHERE token <> '' GROUP BY 1) "
    "SELECT token, tf, rank() OVER (ORDER BY tf DESC, token) AS rnk "
    "FROM freq QUALIFY rnk <= 100",
)
def vocab_token_freq(spark, sf_dir):
    """Vocabulary building: global token frequencies with Zipf rank, top
    100. The explode→count is map-side-combined (partial agg before the
    one shuffle on token); the rank window is over the already-tiny
    aggregated domain. At 100 TB the token domain (~millions) stays
    droplet-sized next to the corpus — the pattern never materializes
    un-aggregated tokens through a shuffle."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    freq = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.orderBy(F.desc("tf"), F.asc("token"))
    return freq.select("token", "tf", F.rank().over(w).alias("rnk")).filter(
        F.col("rnk") <= 100
    )


@register(
    "corr_qty_price",
    "WITH m AS (SELECT l_returnflag, count(*) AS n, "
    "SUM(CAST(l_quantity AS BIGINT)) AS sx, "
    "SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS sy, "
    "SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx, "
    "SUM(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT) * CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS syy, "
    "SUM(CAST(l_quantity AS BIGINT) * CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS sxy "
    "FROM lineitem GROUP BY 1) "
    "SELECT l_returnflag, n, "
    "ROUND((n*sxy - sx*sy) / (SQRT(CAST(n*sxx - sx*sx AS DOUBLE)) * SQRT(CAST(n*syy - sy*sy AS DOUBLE))), 6) AS corr_qp "
    "FROM m",
)
def corr_qty_price(spark, sf_dir):
    """Pearson correlation (quantity vs price) per return flag, computed
    from EXACT integer moments: built-in corr() sums doubles in partition
    order (non-deterministic across engines/partitionings), so the five
    moments are accumulated exactly — per-row products in long (they fit:
    y² ≤ 1e14), sums in decimal(38,0) because Σy² passes int64 around
    600k rows (DuckDB's SUM(BIGINT) promotes to int128 natively) — and
    only the final closed form touches floating point. One
    map-side-combined shuffle; the moment trick is how any
    order-sensitive statistic becomes cluster-deterministic."""
    li = load_table(spark, "lineitem", sf_dir)
    x = F.col("l_quantity").cast("long")
    y = cents(F.col("l_extendedprice"))
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d(x)).alias("sx"),
        F.sum(d(y)).alias("sy"),
        F.sum(d(x * x)).alias("sxx"),
        F.sum(d(y * y)).alias("syy"),
        F.sum(d(x * y)).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return m.select(
        "l_returnflag",
        "n",
        F.round(num / (F.sqrt(denx) * F.sqrt(deny)), 6).alias("corr_qp"),
    )


_WINNOW_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
idx AS (SELECT doc_id, tk, unnest(range(1, len(tk)-4+2)) AS i FROM toks),
kg AS (SELECT doc_id, i,
       substr(md5(array_to_string(tk[i:i+3], '_')), 1, 16) AS h FROM idx),
win AS (SELECT doc_id, i,
        min(h) OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS f,
        count(*) OVER (PARTITION BY doc_id) AS nk FROM kg)
SELECT DISTINCT doc_id, f AS fingerprint FROM win WHERE i <= nk - 4 + 1
"""


@register("winnow_fingerprints", _WINNOW_ORACLE)
def winnow_fingerprints_q(spark, sf_dir):
    """Winnowing (rolling-hash) document fingerprints, k=4-token grams,
    w=4 window: any two docs sharing a 7-token run share a fingerprint.
    Engine side is pure row-local HOF array math (no shuffle at all —
    fingerprinting is a map stage; the downstream join on fingerprint is
    where the shuffle lives). The oracle recomputes the same minima via
    window functions over exploded k-gram rows — structurally different
    formulation, same fixpoint, so the gate checks the HOF windowing
    logic itself."""
    from kafka_streams_demo_spark.functions.text import tokenize, winnow_fingerprints

    docs = load_table(spark, "documents", sf_dir)
    toked = docs.select("doc_id", tokenize(F.col("text")).alias("tk"))
    fp = toked.select("doc_id", winnow_fingerprints(F.col("tk")).alias("fps"))
    return fp.select("doc_id", F.explode("fps").alias("fingerprint"))


@register(
    "user_journey_paths",
    "WITH r AS (SELECT user_id, event_type, "
    "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events) "
    "SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path, "
    "max(rn) AS n_steps FROM r WHERE rn <= 5 GROUP BY 1",
)
def user_journey_paths(spark, sf_dir):
    """Ordered aggregation: each user's chronological first-5 event-type
    path as one '>'-joined string. collect_list is order-nondeterministic
    in a distributed engine, so order is rebuilt deterministically:
    collect (rn, type) structs, array_sort (sorts by rn — the struct's
    first field), then project the types. The rank filter compiles to
    WindowGroupLimit, and the window shuffle on user_id is reused by the
    groupBy (same key — one Exchange total)."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first5 = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 5)
    return first5.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
        ).alias("path"),
        F.max("rn").alias("n_steps"),
    )


@register(
    "daily_rollup_gapfill",
    "WITH daily AS (SELECT user_id, date_trunc('day', ts) AS day, "
    "SUM(CAST(ROUND(value*100, 0) AS BIGINT)) AS day_c, count(*) AS n_events "
    "FROM events GROUP BY 1, 2), "
    "b AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1), "
    "cal AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM b), "
    "j AS (SELECT c.user_id, c.day, d.day_c, COALESCE(d.n_events, 0) AS n_events, "
    "CASE WHEN d.day_c IS NULL THEN 1 ELSE 0 END AS is_gap "
    "FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day) "
    "SELECT user_id, epoch_us(day) AS day_us, n_events, is_gap, "
    "last_value(day_c IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_c FROM j",
)
def daily_rollup_gapfill(spark, sf_dir):
    """Time-series rollup with gap fill (the hypertable/downsample shape):
    per-user daily sums on a dense calendar — missing days synthesized by
    sequence()+explode between each user's first and last active day,
    then carry-forward via last(ignorenulls) over the day window. The
    daily agg, calendar join, and fill window all key on user_id(, day),
    so the whole pipeline rides ONE logical partitioning; the calendar
    explode generates O(users × days) rows — bounded, never event-scale."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(cents(F.col("value"))).alias("day_c"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bounds = daily.groupBy("user_id").agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = bounds.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day"),
    )
    j = cal.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        F.unix_micros("day").alias("day_us"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.when(F.col("day_c").isNull(), 1).otherwise(0).alias("is_gap"),
        F.last("day_c", ignorenulls=True).over(w).alias("filled_c"),
    )


_ANN_INT8_ORACLE = """
WITH e AS (SELECT vec_id, list_transform(embedding, x ->
       CAST(ROUND(CAST(x AS DOUBLE) /
            list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) * 127, 0)
            AS BIGINT)) AS qv FROM embeddings),
q AS (SELECT vec_id AS q_id, qv AS qa FROM e WHERE vec_id < 5),
c AS (SELECT vec_id AS n_id, qv AS qb FROM e),
el AS (SELECT q_id, n_id, qa[g.i] AS a, qb[g.i] AS b
       FROM q, c, generate_series(1, 64) g(i) WHERE n_id <> q_id),
s AS (SELECT q_id, n_id, SUM(a*b) AS dp, SUM(a*a) AS aa, SUM(b*b) AS bb
      FROM el GROUP BY 1, 2),
r AS (SELECT q_id, n_id, ROUND(dp/(SQRT(aa)*SQRT(bb)), 6) AS qcos,
      row_number() OVER (PARTITION BY q_id
        ORDER BY ROUND(dp/(SQRT(aa)*SQRT(bb)), 6) DESC, n_id) AS rank FROM s)
SELECT q_id, n_id, qcos, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10
"""


@register("ann_topk_int8", _ANN_INT8_ORACLE)
def ann_topk_int8_q(spark, sf_dir):
    """Quantized similarity search: cosine top-10 on int8 codes for the
    same 5 queries as the float baseline. All scoring is exact integer
    arithmetic until the final ratio — so this variant gets a FULL SQL
    oracle (float scoring is order-sensitive and only rows-only-checkable)
    while scanning 4× less vector I/O at scale. Queries broadcast; the
    corpus never shuffles."""
    from kafka_streams_demo_spark.functions.similarity import topk_quantized

    return topk_quantized(load_table(spark, "embeddings", sf_dir), k=10, n_queries=5)


@register(
    "cogroup_user_metrics",
    "SELECT user_id AS key, "
    "'clicks=' || CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS VARCHAR) "
    "|| '|cents=' || CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' "
    "THEN CAST(ROUND(value*100, 0) AS BIGINT) END), 0) AS VARCHAR) AS value "
    "FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1",
)
def cogroup_user_metrics(spark, sf_dir):
    """cogroup (Kafka Streams 2.5+ DSL): two same-keyed streams — click
    events and purchase spend — fold into ONE per-user KTable in a single
    hash aggregation over the tagged union (one shuffle, map-side combine;
    operators/grouped.py:cogroup), not N aggregations + an N-way join.
    The merged value renders both parts so the oracle checks each
    stream's adder."""
    from kafka_streams_demo_spark.operators.grouped import cogroup

    ev = load_table(spark, "events", sf_dir)
    clicks = KStream.from_df(
        ev.filter(F.col("event_type") == "click"), key="user_id", value="event_type"
    ).group_by_key()
    spend = KStream.from_df(
        ev.filter(F.col("event_type") == "purchase").withColumn(
            "cents", cents(F.col("value"))
        ),
        key="user_id", value="cents",
    ).group_by_key()
    merged = cogroup(
        [(clicks, lambda v: F.count(v)), (spend, lambda v: F.sum(v))],
        merge=lambda p: F.concat(
            F.lit("clicks="), F.coalesce(p[0], F.lit(0)).cast("string"),
            F.lit("|cents="), F.coalesce(p[1], F.lit(0)).cast("string"),
        ),
    )
    return merged.to_df().select("key", "value")


@register(
    "avro_roundtrip",
    "SELECT event_id, user_id, event_type, value FROM events",
)
def avro_roundtrip_q(spark, sf_dir):
    """Avro value-serde round-trip (sources/avro.py, python binary codec):
    project the event fields through to_avro → from_avro and get exactly
    the input back — the oracle is the identity projection, so the driver
    hash-verifies the whole encode/decode path (zigzag varints, IEEE
    doubles, length-prefixed strings) on 10k real rows. Kafka Streams
    pairs topics with Avro serdes (pom.xml:46-60); this is that surface on
    the engine's record model."""
    from kafka_streams_demo_spark.sources.avro import from_avro_df, to_avro_df

    schema_json = (
        '{"type": "record", "name": "Event", "fields": ['
        '{"name": "user_id", "type": "long"},'
        '{"name": "event_type", "type": "string"},'
        '{"name": "value", "type": "double"}]}'
    )
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    rt = from_avro_df(
        to_avro_df(ev, schema_json, out_col="_avro"),
        schema_json, bin_col="_avro",
    )
    return rt.select("event_id", "user_id", "event_type", "value")


@register(
    "avro_wire_roundtrip",
    "SELECT event_id, user_id, event_type, value FROM events",
)
def avro_wire_roundtrip_q(spark, sf_dir):
    """Schema-registry wire-format round-trip (sources/schema_registry.py):
    register the schema, encode each event as magic + schema-id + Avro
    binary (the public Confluent wire format), decode against the
    registry's latest subject version — identity oracle, so the driver
    hash-verifies header construction, the JVM-side strip, and the Avro
    payload on 10k real rows. This is the reference's declared-but-unused
    Confluent serde surface (pom.xml:46-60) made executable."""
    from kafka_streams_demo_spark.sources.schema_registry import (
        InMemorySchemaRegistry,
        from_avro_wire_df,
        to_avro_wire_df,
        topic_subject,
    )

    schema_json = (
        '{"type": "record", "name": "Event", "fields": ['
        '{"name": "user_id", "type": "long"},'
        '{"name": "event_type", "type": "string"},'
        '{"name": "value", "type": "double"}]}'
    )
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    reg = InMemorySchemaRegistry()
    wired = to_avro_wire_df(
        ev, schema_json, topic_subject("events"), reg, out_col="_wire"
    )
    rt = from_avro_wire_df(
        wired, topic_subject("events"), reg, bin_col="_wire"
    )
    return rt.select("event_id", "user_id", "event_type", "value")


@register(
    "dedup_stream_watermark",
    "SELECT event_id, user_id, event_type FROM events",
)
def dedup_stream_watermark_q(spark, sf_dir):
    """Streaming deduplication within the watermark
    (``KStream.dedup_within_watermark`` → ``dropDuplicatesWithinWatermark``):
    an at-least-once source's duplicate deliveries collapse to exactly-one
    output row through state-store-backed dedup (the classic Kafka-Streams
    event-dedup recipe — a transformer + WindowStore in the Confluent
    examples — as Spark's built-in operator; state is evicted once the
    watermark passes, so it stays bounded at any scale). The fixture
    stream is unioned with itself to synthesize the duplicate delivery;
    the oracle is one row per event."""
    from kafka_streams_demo_spark.operators.kstream import KStream
    from kafka_streams_demo_spark.sources.registry import read_stream_table
    from kafka_streams_demo_spark.streaming.lifecycle import run_available_now

    a = read_stream_table(spark, "events", sf_dir)
    b = read_stream_table(spark, "events", sf_dir)
    dup = a.unionByName(b).select("event_id", "user_id", "event_type", "ts")
    s = (
        KStream.from_df(
            dup,
            key="event_id",
            value=F.struct("user_id", "event_type"),
            timestamp="ts",
        )
        .with_watermark("10 minutes")
        .dedup_within_watermark(["key"])
    )
    return run_available_now(s.to_df(), output_mode="append").select(
        F.col("key").alias("event_id"),
        F.col("value.user_id").alias("user_id"),
        F.col("value.event_type").alias("event_type"),
    )


@register(
    "median_value_per_type",
    "SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS median_v, "
    "ROUND(quantile_cont(value, 0.9), 6) AS p90_v "
    "FROM events GROUP BY event_type",
)
def median_value_per_type_q(spark, sf_dir):
    """EXACT grouped percentiles (linear interpolation — Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``): the hash-verified
    counterpart of the `approx_percentile_value` scale path. Exact
    percentile sorts within each group, so at 100 TB the approx sketch is
    the default and this is the audit tool for bounded groups."""
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5D)"), 6).alias("median_v"),
        F.round(F.expr("percentile(value, 0.9D)"), 6).alias("p90_v"),
    )


_ENTROPY_ORACLE = """
WITH pos AS (
  SELECT doc_id, text, UNNEST(generate_series(1, length(text))) AS i
  FROM documents WHERE length(text) > 0),
cc AS (
  SELECT doc_id, substring(text, i, 1) AS c, COUNT(*)::DOUBLE AS k
  FROM pos GROUP BY doc_id, substring(text, i, 1)),
a AS (SELECT doc_id, SUM(k) AS n, SUM(k * LOG2(k)) AS s FROM cc GROUP BY doc_id)
SELECT doc_id, ROUND(LOG2(n) - s / n, 6) AS entropy_bits FROM a
"""


@register("char_entropy", _ENTROPY_ORACLE)
def char_entropy_q(spark, sf_dir):
    """Character-distribution Shannon entropy per document (perplexity-
    proxy quality signal, functions/text.py:char_entropy). Row-local
    run-length accumulation over a pre-projected sorted char array — zero
    shuffle, vs the oracle's explode→double-groupBy formulation; identical
    numbers, hash-verified."""
    from kafka_streams_demo_spark.functions.text import char_entropy

    docs = load_table(spark, "documents", sf_dir).filter(F.length("text") > 0)
    arr = docs.select(
        "doc_id", F.array_sort(F.split(F.col("text"), "")).alias("_cs")
    ).select("doc_id", "_cs", F.size("_cs").alias("_n"))
    return arr.select(
        "doc_id", char_entropy(F.col("_cs"), F.col("_n")).alias("entropy_bits")
    )


_IVF_INT8_ORACLE = """
WITH cent AS (
  SELECT label AS cell, g.i AS pos, AVG(CAST(embedding[g.i] AS DOUBLE)) AS m
  FROM embeddings, generate_series(1, 64) g(i) GROUP BY 1, 2),
ce AS (
  SELECT e.vec_id, c.cell,
         SUM(CAST(e.embedding[c.pos] AS DOUBLE) * c.m) AS dp,
         SUM(CAST(e.embedding[c.pos] AS DOUBLE) * CAST(e.embedding[c.pos] AS DOUBLE)) AS qq,
         SUM(c.m * c.m) AS nn
  FROM embeddings e, cent c GROUP BY 1, 2),
asg AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id
           ORDER BY ROUND(dp/(SQRT(qq)*SQRT(nn)), 6) DESC, cell) AS crn
  FROM ce),
corpus AS (SELECT vec_id AS n_id, cell FROM asg WHERE crn = 1),
probes AS (SELECT vec_id AS q_id, cell FROM asg WHERE crn <= 2 AND vec_id < 5),
cand AS (SELECT q_id, n_id FROM probes p JOIN corpus c USING (cell) WHERE n_id <> q_id),
qz AS (SELECT vec_id, list_transform(embedding, x ->
       CAST(ROUND(CAST(x AS DOUBLE) /
            list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) * 127, 0)
            AS BIGINT)) AS qv FROM embeddings),
el AS (SELECT q_id, n_id, a.qv[g.i] AS a, b.qv[g.i] AS b
       FROM cand
       JOIN qz a ON a.vec_id = q_id
       JOIN qz b ON b.vec_id = n_id, generate_series(1, 64) g(i)),
s AS (SELECT q_id, n_id, SUM(a*b) AS dp, SUM(a*a) AS aa, SUM(b*b) AS bb
      FROM el GROUP BY 1, 2),
r AS (SELECT q_id, n_id, ROUND(dp/(SQRT(aa)*SQRT(bb)), 6) AS qcos,
      row_number() OVER (PARTITION BY q_id
        ORDER BY ROUND(dp/(SQRT(aa)*SQRT(bb)), 6) DESC, n_id) AS rank FROM s)
SELECT q_id, n_id, qcos, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10
"""


@register("ann_ivf_int8_topk", _IVF_INT8_ORACLE)
def ann_ivf_int8_topk_q(spark, sf_dir):
    """The production ANN composition: IVF coarse probe (float centroid
    assignment, nprobe=2) + int8 scoring inside the probed cells — the
    quantized scan that touches the most data reads 4× less vector I/O,
    and the integer scoring keeps the composed pipeline fully SQL-oracle-
    checkable (float in-cell scoring is only rows-only-checkable). SCALE.md
    names this the production shape; rerank the k survivors with float
    vectors when the float metric is authoritative."""
    from kafka_streams_demo_spark.functions.similarity import ivf_topk_quantized

    emb = load_table(spark, "embeddings", sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return ivf_topk_quantized(emb, queries_df, k=10, nprobe=2)


_PROFILE_ORACLE = """
WITH d AS (SELECT lang, source, n_chars,
  len(string_split(text, ' ')) AS n_tok,
  len(list_filter(string_split(lower(text), ' '),
      t -> list_contains(['the','a','of','and','to','in','is','it','for','on'], t)))
    AS n_stop
  FROM documents)
SELECT lang, source, count(*) AS n_docs,
  SUM(n_chars) AS chars_total,
  ROUND(SUM(n_chars) / CAST(count(*) AS DOUBLE), 4) AS mean_chars,
  SUM(CAST(n_tok AS BIGINT)) AS tokens_total,
  ROUND(SUM(CAST(n_stop AS BIGINT)) / CAST(SUM(CAST(n_tok AS BIGINT)) AS DOUBLE), 6)
    AS stop_ratio,
  SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS n_short
FROM d GROUP BY 1, 2
"""


@register("corpus_profile", _PROFILE_ORACLE)
def corpus_profile(spark, sf_dir):
    """Corpus profiling report per (lang, source) — the monitoring query a
    training-data pipeline runs after every ingest: doc/char/token
    volumes, corpus-level stopword ratio, short-doc counts. Every ratio
    is a ratio of exact integer sums (one final division) — per-doc
    double ratios averaged would be partition-order-dependent. Row-local
    token math, then one map-side-combined shuffle on the tiny
    (lang, source) domain."""
    from kafka_streams_demo_spark.functions.text import EN_STOPWORDS, tokenize

    docs = load_table(spark, "documents", sf_dir)
    toks = tokenize(F.col("text"))
    low = tokenize(F.lower(F.col("text")))
    stops = F.size(F.filter(low, lambda t: t.isin(EN_STOPWORDS)))
    d = docs.select(
        "lang",
        "source",
        "n_chars",
        F.size(toks).alias("n_tok"),
        stops.alias("n_stop"),
    )
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars_total"),
        F.round(F.sum("n_chars") / F.count(F.lit(1)).cast("double"), 4).alias("mean_chars"),
        F.sum(F.col("n_tok").cast("long")).alias("tokens_total"),
        F.round(
            F.sum(F.col("n_stop").cast("long"))
            / F.sum(F.col("n_tok").cast("long")).cast("double"),
            6,
        ).alias("stop_ratio"),
        F.sum(F.when(F.col("n_chars") < 100, 1).otherwise(0)).alias("n_short"),
    )


@register(
    "pii_redact",
    "SELECT doc_id, "
    "regexp_replace(regexp_replace(text, "
    "'[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'), "
    "'[0-9]{7,}', '<NUM>', 'g') AS redacted, "
    "CAST(len(regexp_extract_all(text, "
    "'[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}|[0-9]{7,}')) AS BIGINT) AS n_redactions "
    "FROM documents",
)
def pii_redact(spark, sf_dir):
    """PII redaction (the action pii_scan is the precursor to): emails and
    7+-digit runs replaced with typed placeholder tokens, plus the
    redaction count for audit. Same RE2 ∩ Java-regex dialect-safe
    patterns; emails are replaced before digit runs so a digit-bearing
    address redacts as ONE <EMAIL>, not an email wrapped around <NUM> —
    order is part of the contract and the oracle enforces it. Pure
    row-local regexp_replace, a map stage at any scale."""
    docs = load_table(spark, "documents", sf_dir)
    email = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
    num = r"[0-9]{7,}"
    red = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, "<EMAIL>"), num, "<NUM>"
    )
    return docs.select(
        "doc_id",
        red.alias("redacted"),
        F.regexp_count(F.col("text"), F.lit(f"{email}|{num}")).cast("long").alias(
            "n_redactions"
        ),
    )


@register(
    "pipeline_keeplist",
    "WITH canon AS (SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text)), "
    "scored AS (SELECT d.doc_id, d.lang, "
    "substr(md5(d.text), 1, 1) AS split_h "
    "FROM documents d JOIN canon ON d.doc_id = canon.keep_id "
    "WHERE d.n_chars >= 100 AND len(string_split(d.text, ' ')) >= 20) "
    "SELECT doc_id, lang, "
    "CASE WHEN split_h < 'c' THEN 'train' ELSE 'val' END AS split "
    "FROM scored",
)
def pipeline_keeplist(spark, sf_dir):
    """The LLM data pipeline END-TO-END as one declarative plan: exact
    dedup (keep min doc per content hash) → quality gate (length and
    token floors) → deterministic content-hash train/val split. One
    shuffle (the dedup groupBy); the quality filter pushes to the scan;
    the split is row-local. This is the composition story: each stage is
    its own catalog op, and chaining them stays a single Catalyst plan —
    no materialization between stages."""
    docs = load_table(spark, "documents", sf_dir)
    canon = docs.groupBy(F.md5("text")).agg(F.min("doc_id").alias("keep_id"))
    kept = docs.join(
        canon, docs["doc_id"] == canon["keep_id"], "left_semi"
    ).filter((F.col("n_chars") >= 100) & (F.size(F.split(F.col("text"), " ")) >= 20))
    h = F.substring(F.md5(F.col("text").cast("binary")), 1, 1)
    return kept.select(
        "doc_id",
        "lang",
        F.when(h < "c", "train").otherwise("val").alias("split"),
    )


_JACCARD_INC_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
idx AS (SELECT doc_id, w, unnest(range(1, len(w)-1)) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, w[i] || '_' || w[i+1] || '_' || w[i+2] AS s FROM idx),
d AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
pairs AS (SELECT a.doc_id i, b.doc_id j, count(*) common
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          WHERE a.doc_id % 2 = 1 OR b.doc_id % 2 = 1
          GROUP BY 1, 2)
SELECT p.i, p.j, ROUND(p.common / (d1.n + d2.n - p.common), 6) AS jaccard
FROM pairs p JOIN d d1 ON p.i = d1.doc_id JOIN d d2 ON p.j = d2.doc_id
WHERE ROUND(p.common / (d1.n + d2.n - p.common), 6) >= 0.5
"""


@register("ngram_jaccard_incremental", _JACCARD_INC_ORACLE)
def ngram_jaccard_incremental_q(spark, sf_dir):
    """Index+delta EXACT Jaccard (round 6,
    functions/dedup.py:ngram_jaccard_pairs_incremental): odd-id docs
    play the new batch — delta shingles probe the corpus's shingle rows
    (the inverted-index probe, |delta| × matches, never corpus²),
    emitting exactly the batch pairs restricted to delta-touching ones.
    The exact tier of the incremental family now matches the minhash
    tier's delta pricing while staying fully SQL-oracle-checkable."""
    from kafka_streams_demo_spark.functions.dedup import (
        ngram_jaccard_pairs_incremental,
    )

    docs = load_table(spark, "documents", sf_dir)
    return ngram_jaccard_pairs_incremental(
        docs.filter(F.col("doc_id") % 2 == 1), docs,
        n=3, threshold=0.5, max_doc_freq=None,
    )


_INGEST_ORACLE = """
WITH newd AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
seen AS (SELECT DISTINCT md5(text) AS th FROM documents WHERE doc_id % 2 = 0),
k1 AS (SELECT md5(text) AS text_hash, min(doc_id) AS doc_id FROM newd GROUP BY 1),
k1u AS (SELECT k1.doc_id, k1.text_hash FROM k1
        LEFT JOIN seen ON k1.text_hash = seen.th WHERE seen.th IS NULL),
toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
idx AS (SELECT doc_id, w, unnest(range(1, len(w)-1)) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id, w[i] || '_' || w[i+1] || '_' || w[i+2] AS s FROM idx),
dcnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
prs AS (SELECT p.i, p.j FROM
        (SELECT a.doc_id i, b.doc_id j, count(*) common
         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) p
        JOIN dcnt d1 ON p.i = d1.doc_id JOIN dcnt d2 ON p.j = d2.doc_id
        WHERE ROUND(p.common / (d1.n + d2.n - p.common), 6) >= 0.5),
sides AS (SELECT i AS d, j AS o FROM prs UNION ALL SELECT j AS d, i AS o FROM prs),
drops AS (SELECT DISTINCT s.d AS doc_id FROM sides s
          JOIN k1u kd ON s.d = kd.doc_id
          LEFT JOIN (SELECT doc_id FROM documents WHERE doc_id % 2 = 0) old
                 ON s.o = old.doc_id
          LEFT JOIN k1u ko ON s.o = ko.doc_id
          WHERE old.doc_id IS NOT NULL
             OR (ko.doc_id IS NOT NULL AND s.o < s.d)),
k2 AS (SELECT k1u.doc_id, k1u.text_hash FROM k1u
       LEFT JOIN drops ON k1u.doc_id = drops.doc_id WHERE drops.doc_id IS NULL),
gated AS (SELECT doc_id FROM newd
          WHERE len(text) >= 100 AND len(string_split(text, ' ')) >= 20)
SELECT k2.doc_id, k2.text_hash FROM k2 JOIN gated USING (doc_id)
"""


@register("pipeline_ingest_incremental", _INGEST_ORACLE)
def pipeline_ingest_incremental_q(spark, sf_dir):
    """The incremental ingest loop END-TO-END (VERDICT r5 #4,
    functions/dedup.py:ingest_keeplist): even-id docs play yesterday's
    indexed corpus, odd-id docs today's batch — exact index+delta dedup
    → near-dup drop against the eligible pool (indexed docs ∪ smaller-id
    batch survivors, greedy non-transitive) → quality gate, one lazy
    plan emitting the (doc_id, text_hash) keep-list whose hashes append
    to the index after commit. This entry feeds EXACT 3-gram-Jaccard
    pairs (threshold 0.5) so the whole pipeline is SQL-oracle-checkable;
    the production minhash pair source is the function default,
    bit-equal on delta-touching pairs by the incremental-≡-batch
    property test and recall-pinned at threshold 0.8. The pair stage is
    DELTA-PRICED (round-6 upgrade: ngram_jaccard_pairs_incremental —
    delta shingles probe the corpus, never corpus²); the oracle is
    unchanged because its drop rule only ever examines delta-touching
    pairs. The multi-batch streaming composition (availableNow +
    idempotent sink, index grows exactly once per batch) is pinned in
    tests/test_streaming.py."""
    from kafka_streams_demo_spark.functions.dedup import (
        ingest_keeplist,
        ngram_jaccard_pairs_incremental,
    )

    docs = load_table(spark, "documents", sf_dir)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    seen = old.select(
        F.md5(F.col("text").cast("binary")).alias("text_hash")
    ).distinct()
    pairs = ngram_jaccard_pairs_incremental(
        new, docs, n=3, threshold=0.5, max_doc_freq=None
    )
    return ingest_keeplist(
        new, seen, old.select("doc_id"),
        pairs=pairs, min_chars=100, min_words=20,
    )


@register(
    "hopping_window_sum_cents",
    "SELECT event_type AS key, "
    "CAST((FLOOR(epoch(ts)/1800) - s.i) * 1800 * 1000000 AS BIGINT) AS window_start_us, "
    "SUM(CAST(ROUND(value*100, 0) AS BIGINT)) AS value "
    "FROM events CROSS JOIN (VALUES (0), (1)) AS s(i) GROUP BY 1, 2",
)
def hopping_window_sum_cents(spark, sf_dir):
    """Hopping-window reduce (sum) — completes the count/sum pair for every
    window kind. Spark's window(slide) expands each event into 2 window
    rows before one shuffle on (key, window); the oracle mirrors the
    expansion with a 2-row cross join."""
    ev = load_table(spark, "events", sf_dir)
    s = KStream.from_df(ev, key="event_type", value=cents(F.col("value")), timestamp="ts")
    out = (
        s.group_by_key()
        .windowed_by(TimeWindows.of("1 hour").advance("30 minutes"))
        .reduce(lambda v: F.sum(v))
    )
    return out.select(
        "key", F.unix_micros("window_start").alias("window_start_us"), "value"
    )


@register(
    "session_window_sum_cents",
    """
    WITH marks AS (
      SELECT user_id, ts, CAST(ROUND(value*100, 0) AS BIGINT) AS v_c,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, 1)
    ), sessions AS (
      SELECT user_id, ts, v_c,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks
    )
    SELECT user_id AS key, epoch_us(min(ts)) AS session_start_us,
           SUM(v_c) AS value
    FROM sessions GROUP BY user_id, sid
    """,
)
def session_window_sum_cents(spark, sf_dir):
    """Session-window reduce (sum of cents per 30-min-gap session) — the
    aggregate dual of session_window_count; session_window() merges
    windows in the same shuffle the count uses."""
    ev = load_table(spark, "events", sf_dir)
    s = KStream.from_df(ev, key="user_id", value="value", timestamp="ts").map_values(
        lambda v: cents(v)
    )
    out = (
        s.group_by_key()
        .windowed_by(SessionWindows.with_gap("30 minutes"))
        .reduce(lambda v: F.sum(v))
    )
    return out.select(
        "key", F.unix_micros("window_start").alias("session_start_us"), "value"
    )



_SPLIT_ORACLE = f"""
SELECT doc_id, cluster_id,
       ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket,
       CASE WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
            THEN 'train' ELSE 'valid' END AS split
FROM ({_CC_ORACLE}) AS base
"""


@register("split_leakage_safe", _SPLIT_ORACLE)
def split_leakage_safe_q(spark, sf_dir):
    """Leakage-safe train/valid split (functions/dedup.py:
    leakage_safe_split; Lee et al. 2022 §6.2 — near-duplicates
    straddling a per-document random split inflate validation metrics):
    the split key is the near-dup CLUSTER representative from
    dedup_clusters (connected components over the exact 3-gram-Jaccard
    graph at 0.5), hashed with the engine-stable md5-60-bit bucket into
    a 90/10 cut — so two near-duplicate documents can never land on
    opposite sides, by construction rather than by audit. Scale: the
    split itself is one shuffle-free projection over the assignment
    frame; the clustering cost is the dedup pipeline's, already paid —
    this entry prices exactly what a real pipeline adds on top (nothing).
    Oracle: the dedup_clusters recursive CTE composed with the same
    hash arithmetic."""
    from kafka_streams_demo_spark.functions.dedup import (
        dedup_clusters,
        leakage_safe_split,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, "documents", sf_dir)
    pairs = ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, max_doc_freq=None
    ).select("i", "j")
    return leakage_safe_split(dedup_clusters(docs, pairs), train_pct=90)


# split_leakage_safe_indexed: the stored (doc_id, cluster_id) assignment
# table, written once per (session, sf_dir) and re-read — mirrors a real
# pipeline where dedup_clusters persists after every ingest and the split
# is a downstream consumer, not a recomputation (VERDICT r10 task 4).
_ASSIGNMENTS_CACHE: dict[str, str] = {}


def _persisted_assignments(spark, sf_dir: str) -> "DataFrame":
    # keyed on (sf_dir, documents fingerprint): in-session fixture
    # regeneration invalidates; dirs are atexit-cleaned (ADVICE r11)
    import os

    key = f"{sf_dir}::{fixture_fingerprint(sf_dir, 'documents')}"
    path = _ASSIGNMENTS_CACHE.get(key)
    if path is None or not os.path.isdir(path):
        from kafka_streams_demo_spark.functions.dedup import (
            dedup_clusters,
            ngram_jaccard_pairs,
        )

        docs = load_table(spark, "documents", sf_dir)
        pairs = ngram_jaccard_pairs(
            docs, n=3, threshold=0.5, max_doc_freq=None
        ).select("i", "j")
        path = session_tmpdir("kafka_streams_demo_spark_assignments_")
        dedup_clusters(docs, pairs).select("doc_id", "cluster_id").write.mode(
            "overwrite"
        ).parquet(path)
        _ASSIGNMENTS_CACHE[key] = path
    return spark.read.parquet(path)


@register("split_leakage_safe_indexed", _SPLIT_ORACLE)
def split_leakage_safe_indexed_q(spark, sf_dir):
    """The PRODUCTION leakage-safe split: consume the STORED (doc_id,
    cluster_id) assignment table that ``dedup_clusters`` persists after
    each ingest, instead of recomputing the pair-generation + connected-
    components chain per split (which ``split_leakage_safe`` prices for
    oracle-composition purposes). The first call per session builds and
    writes the assignment parquet (a cost the ingest loop has already
    paid in production); every later call — and the returned frame's
    plan — is ONE parquet scan plus the shuffle-free hash projection,
    zero dedup-chain stages. Same recursive-CTE-composed oracle as
    ``split_leakage_safe``, so the gate proves stored-index ≡ recompute
    bit-for-bit. Bench note: bench.py's two-pass minimum prices the
    steady-state (index-already-persisted) run; pass 1 carries the
    one-time build and both raw passes are reported."""
    from kafka_streams_demo_spark.functions.dedup import leakage_safe_split

    return leakage_safe_split(_persisted_assignments(spark, sf_dir), train_pct=90)

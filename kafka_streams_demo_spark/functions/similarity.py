"""Similarity search over embedding columns (array<float>).

- ``cosine``: native column math — zip_with product + aggregate sum in
  doubles (sequential, reproducible), no UDF.
- ``topk_bruteforce``: exact top-k for a set of query vectors via
  crossJoin + window rank. The baseline and the oracle-checkable path;
  cost |Q|×|N| — fine for small |Q| at any corpus size (queries broadcast).
- ``lsh_bucketed_topk``: the ANN scale path — random-hyperplane signatures
  (deterministic seed) bucket the corpus; candidates share the query's
  bucket; exact rerank inside. Sub-linear candidate sets at the cost of
  recall (tunable via plane count).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in doubles (element order, reproducible)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def topk_bruteforce(
    emb: DataFrame, queries: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    q_id_col: str = "q_id", q_vec_col: str = "q_vec",
    max_queries: int | None = 1024,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (self-matches by id
    excluded). Queries are broadcast — the corpus never shuffles; ranking
    happens on round(cos, 6) with id tie-break for determinism.

    This is the |Q|-bounded EXACT baseline: cost is |Q|·|corpus| score
    evaluations, linear in the corpus but multiplied by every query.
    ``max_queries`` refuses a query set larger than the bound (one count
    over the small side) so the all-pairs path cannot be pointed at a
    large query set by accident — use ivf_topk / lsh_topk for that.
    Pass None to bypass when you know what you're doing."""
    if max_queries is not None:
        nq = queries.count()
        if nq > max_queries:
            raise ValueError(
                f"topk_bruteforce scores |Q|x|corpus| pairs: {nq} queries "
                f"exceeds max_queries={max_queries}; use ivf_topk/lsh_topk "
                "for large query sets or pass max_queries=None explicitly"
            )
    # norms projected per side BEFORE the pair join: cosine inside the join
    # would recompute each vector's self-dot once per PAIR (≈3× the work)
    corpus = emb.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")).select(
        "*", norm(F.col("n_vec")).alias("n_nrm")
    )
    q = queries.select(F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("q_vec")).select(
        "*", norm(F.col("q_vec")).alias("q_nrm")
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("n_id") != F.col("q_id"))
        .select(
            "q_id", "n_id",
            F.round(
                dot(F.col("q_vec"), F.col("n_vec")) / (F.col("q_nrm") * F.col("n_nrm")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "cos", "rank")
    )


def hyperplanes(dim: int, planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (±1 entries, fixed seed)."""
    rng = np.random.RandomState(seed)
    return (rng.randint(0, 2, size=(planes, dim)) * 2 - 1).astype(float).tolist()


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit_j = [vec · plane_j > 0]."""
    bucket = F.lit(0).cast("long")
    for j, p in enumerate(planes):
        plane = F.array(*[F.lit(x) for x in p])
        bucket = bucket + F.when(dot(vec, plane) > 0, F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def lsh_bucketed_topk(
    emb: DataFrame, queries: DataFrame, k: int = 10, planes: int = 8,
    dim: int = 64, id_col: str = "vec_id", vec_col: str = "embedding",
    q_id_col: str = "q_id", q_vec_col: str = "q_vec", seed: int = 42,
) -> DataFrame:
    """ANN: exact rerank within the query's hyperplane bucket. At 100 TB the
    corpus is bucketed once (2^planes buckets, write-partitioned); each
    query probes one bucket — candidates shrink ~2^planes-fold."""
    hp = hyperplanes(dim, planes, seed)
    corpus = emb.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"),
        lsh_bucket(F.col(vec_col), hp).alias("bucket"),
    ).select("*", norm(F.col("n_vec")).alias("n_nrm"))
    q = queries.select(
        F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("q_vec"),
        lsh_bucket(F.col(q_vec_col), hp).alias("bucket"),
    ).select("*", norm(F.col("q_vec")).alias("q_nrm"))
    scored = (
        corpus.join(F.broadcast(q), "bucket")
        .filter(F.col("n_id") != F.col("q_id"))
        .select(
            "q_id", "n_id",
            F.round(
                dot(F.col("q_vec"), F.col("n_vec")) / (F.col("q_nrm") * F.col("n_nrm")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "cos", "rank")
    )


def ivf_centroids(
    emb: DataFrame, cell_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantizer: one elementwise-mean centroid per cell.

    posexplode → per-(cell, position) avg → re-assemble ordered array.
    Two small shuffles over |cells|×dim rows of doubles — negligible at any
    corpus size; the centroid table is tiny (|cells| rows) and broadcasts.
    """
    pos = emb.select(F.col(cell_col).alias("cell"), F.posexplode(vec_col).alias("pos", "v"))
    return (
        pos.groupBy("cell", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cell", F.transform("pm", lambda x: x["m"]).alias("centroid"))
    )


# |cells|·dim elements above which the n=1 assignment abandons the SQL
# literal for the Arrow broadcast-matrix kernel: 32768 elements ≈ 800 KB
# of rendered SQL text (25 chars/double). Beyond that the literal stops
# being free — parse/codegen cost grows with the plan STRING, and a
# production IVF at nlist 10⁴–10⁶ cells × 64 dims would embed tens to
# hundreds of MB of SQL. The Arrow branch ships the centroid matrix as
# an explicit SparkContext.broadcast (once per executor, shared across
# tasks — NOT pickled into the task closure, which would re-ship
# ~0.1–1 GB per task-set at production nlist; the kernel's own pickle
# stays < 1 MB, test-pinned). Both branches are zero-Exchange map
# passes; parity is pinned in tests/test_similarity.py.
IVF_LITERAL_MAX_ELEMENTS = 32768

# SQL types safe to render bare inside CAST(x AS t); anything else
# (date/timestamp/interval/…) must be single-quoted — bare str(cell)
# for DATE '2024-01-01' parses as integer subtraction.
_BARE_CELL_TYPES = frozenset(
    {"tinyint", "smallint", "int", "bigint", "float", "double", "boolean"}
)


def _collect_centroids(centroids: DataFrame):
    """(rows sorted by cell ascending — the argmax fold's tie order,
    cell_type). Driver-bounded at |cells| rows by the coarse-quantizer
    contract; both the literal and the Arrow branch start here."""
    cell_type = centroids.schema["cell"].dataType
    rows = sorted(centroids.collect(), key=lambda r: r["cell"])
    if not rows:
        raise ValueError("centroid table is empty")
    return rows, cell_type


def _seq_norm(cv: list[float]) -> float:
    """math.sqrt of the left-to-right IEEE squared sum — bit-equal to the
    column ``norm()`` fold (same op sequence)."""
    import math

    acc = 0.0
    for x in cv:
        acc += x * x
    return math.sqrt(acc)


def _centroid_literal(rows, cell_type):
    """The sorted centroid rows as a nested literal
    array<struct<cell, cvec, nrm>>, norms precomputed with the same
    left-to-right IEEE fold ``norm()`` uses so the fast path is
    bit-equal to the window path."""
    # ONE parsed SQL literal instead of per-element F.lit columns: the
    # column-object route costs a py4j round-trip per literal (~0.7 s of
    # pure driver overhead for 10 cells × 64 dims). repr() round-trips
    # doubles exactly through the string cast.
    cell_sql = cell_type.simpleString()
    bare = cell_sql in _BARE_CELL_TYPES or cell_sql.startswith("decimal")
    structs = []
    for r in rows:
        cv = [float(x) for x in r["centroid"]]
        cell_lit = (
            str(r["cell"])
            if bare
            else "'" + str(r["cell"]).replace("'", "''") + "'"
        )
        arr = ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in cv)
        structs.append(
            f"named_struct('cell', CAST({cell_lit} AS {cell_sql}),"
            f" 'cvec', array({arr}),"
            f" 'nrm', CAST('{_seq_norm(cv)!r}' AS DOUBLE))"
        )
    return F.expr("array(" + ",".join(structs) + ")")


def make_round6_block():
    """Factory (by-value closure for worker safety) for the kernel-side
    6-dp rounder: fast numpy half-even everywhere, then EXACT Decimal
    HALF_UP replay for entries inside the midpoint band
    (|frac(x·1e6) − 0.5| < 1e-6 — generous vs the ~1e-14 ulp divergence
    a blocked numpy reduction can accumulate against the sequential
    column fold, so every possible half-even/half-up or last-ulp flip is
    re-resolved exactly). Entries with |x·1e6| ≥ 2^53 ALSO take the
    exact path: beyond the double mantissa the frac-based band detector
    reads 0 for everything (no midpoint is representable in x·1e6), yet
    at those magnitudes the 6th decimal sits at the ulp boundary where
    numpy's half-even and Spark's BigDecimal HALF_UP can still disagree
    — e.g. PQ squared distances over large unnormalized embeddings. The
    exact branch stays O(#big entries); for the normalized-embedding
    contract (cosines in [−1,1], toy-scale d²) it never triggers.
    ``exact_fn(i, j) -> float`` must recompute the UNROUNDED value with
    the column path's exact IEEE op sequence."""

    def round6_block(arr, exact_fn):
        from decimal import ROUND_HALF_UP, Context, Decimal

        import numpy as _np

        q6 = Decimal("0.000001")
        # wide precision: quantizing |x| up to DBL_MAX to 6 dp needs ~315
        # significant digits; the default 28-digit context would raise
        # InvalidOperation on the big-magnitude entries routed here
        ctx = Context(prec=400)
        r = _np.round(arr, 6)
        scaled = arr * 1e6
        frac = scaled - _np.floor(scaled)
        band = (_np.abs(frac - 0.5) < 1e-6) | (
            _np.isfinite(scaled) & (_np.abs(scaled) >= 2.0**53)
        )
        for idx in zip(*_np.nonzero(band)):
            r[idx] = float(
                Decimal(exact_fn(*idx)).quantize(
                    q6, rounding=ROUND_HALF_UP, context=ctx
                )
            )
        return r

    return round6_block


def _make_ivf_assign_kernel(bc):
    """Factory for the Arrow assignment kernel (by-value closure for
    worker safety — everything the kernel touches is defined in a
    <locals> scope, nothing resolves against this module on workers).
    ``bc`` is a ``SparkContext.broadcast`` of ``(cells, C, cn)`` — the
    sorted cell ids, the |cells|×dim float64 centroid matrix and its
    norms: the matrix ships ONCE PER EXECUTOR via the broadcast
    mechanism and is shared by every task's Python worker, instead of
    re-pickling inside every serialized task closure (at production
    nlist 10⁵–10⁶ × dim 128 the closure copy is ~0.1–1 GB per
    task-set; the pickled kernel itself stays < 1 MB — test-pinned).
    Each batch scores |B|×|cells| via one matmul; the argmax's
    first-occurrence rule over cells sorted ascending replays the
    fold's strict-> / lowest-cell tie order; rounding replays the
    column path exactly via the midpoint-band Decimal rounder.

    Degenerate-input replay (the fold's SQL semantics, parity-pinned):
    a NULL vector, a vector with a NULL ELEMENT, or a WRONG-LENGTH
    vector makes every cosine SQL NULL (zip_with pads the shorter side
    with NULL) → the fold keeps its NULL-cell init; a NaN element makes
    every cosine NaN, and Spark orders NaN GREATEST with NaN > NaN
    false → the fold keeps the FIRST (lowest) cell. Arrow erases the
    null-element/NaN distinction in float batches, so the driver side
    ships an explicit ``_vnull`` mask column (which also covers the
    length mismatch); wrong-length rows are NaN-filled here so the
    batch matrix never goes ragged; NaN rows map to +inf before the
    argmax (first-occurrence = lowest cell)."""
    round6_block = make_round6_block()

    def run(it):
        import math

        import numpy as _np

        cells, C, cn = bc.value  # |cells|, |cells| × dim, |cells|
        dim = C.shape[1]
        for pdf in it:
            if not len(pdf):
                continue
            null_row = _np.asarray(
                [bool(b) for b in pdf["_vnull"]], dtype=bool
            )
            V = _np.array(
                [
                    _np.asarray(v, dtype=_np.float64)
                    if v is not None and len(v) == dim
                    else _np.full(dim, _np.nan)
                    for v in pdf["vec"]
                ]
            )
            vn = _np.sqrt(_np.einsum("ij,ij->i", V, V))
            cos = (V @ C.T) / _np.outer(vn, cn)

            def exact(i, j):
                vi, cj = V[i], C[j]
                acc = 0.0
                nsq = 0.0
                for t in range(vi.shape[0]):
                    acc += vi[t] * cj[t]
                    nsq += vi[t] * vi[t]
                return acc / (math.sqrt(nsq) * cn[j])

            r = round6_block(cos, exact)
            # Spark orders NaN greatest (first NaN cell wins the strict
            # > fold); SQL-NULL rows (the _vnull mask) keep the NULL cell
            rr = _np.where(_np.isnan(r), _np.inf, r)
            best = _np.argmax(rr, axis=1)
            out = pdf[["vid", "vec"]].copy()
            out["cell"] = [
                None if null_row[i] else cells[b] for i, b in enumerate(best)
            ]
            yield out

    return run


def _ivf_assign_broadcast(sc, rows):
    """Broadcast the collected centroid rows as numpy payloads —
    ``(cells, C, cn)`` ships once per executor (deduplicated across
    tasks and across the executor's Python workers by the broadcast
    machinery) instead of riding pickled inside every task's kernel
    closure. Norms use the same left-to-right IEEE fold as ``norm()``
    so the kernel stays bit-equal to the literal branch."""
    import numpy as np

    cells = [r["cell"] for r in rows]
    cmat = [[float(x) for x in r["centroid"]] for r in rows]
    cnrms = [_seq_norm(cv) for cv in cmat]
    return sc.broadcast((
        cells,
        np.asarray(cmat, dtype=np.float64),
        np.asarray(cnrms, dtype=np.float64),
    ))


def _ivf_assign_arrow(
    vectors: DataFrame, rows, cell_type,
    id_col: str, vec_col: str,
) -> DataFrame:
    """The above-threshold n=1 branch: the centroid matrix ships as an
    explicit ``SparkContext.broadcast`` numpy payload (once per
    executor — never as SQL text, never re-pickled per task-set),
    scoring is one matmul per Arrow batch — still a zero-Exchange
    map-only pass, with none of the literal path's parse/codegen
    growth."""
    from pyspark.sql.types import StructField, StructType

    bc = _ivf_assign_broadcast(vectors.sparkSession.sparkContext, rows)
    dim = int(bc.value[1].shape[1])
    # Arrow float batches can't distinguish a NULL ELEMENT from a NaN
    # element (both arrive as NaN), but the SQL fold can (NULL → NULL
    # cell, NaN → NaN-is-greatest first cell) — ship the mask
    # explicitly. A wrong-length vector joins the mask too: zip_with
    # pads the shorter side with NULL, so the fold's every cosine goes
    # NULL → NULL cell; without the mask the kernel's batch matrix
    # would go ragged and crash (ADVICE r9).
    vecs = vectors.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    ).withColumn(
        "_vnull",
        F.col("vec").isNull()
        | F.exists(F.col("vec"), lambda x: x.isNull())
        | (F.size(F.col("vec")) != F.lit(dim)),
    )
    schema = StructType(
        [vecs.schema["vid"], vecs.schema["vec"], StructField("cell", cell_type)]
    )
    return vecs.mapInPandas(_make_ivf_assign_kernel(bc), schema)


def ivf_assign(
    vectors: DataFrame, centroids: DataFrame, n: int = 1,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its ``n`` nearest centroids by cosine
    (rounded to 6 dp for cross-engine determinism; ties break on cell id).

    n=1 (the corpus-side path) is a ROW-LOCAL pass — at 100 TB the
    corpus-wide assignment never shuffles. Up to
    IVF_LITERAL_MAX_ELEMENTS centroid elements the centroid table rides
    the plan as one SQL literal and the argmax is a codegen'd fold: one
    Project, NO Exchange. Above it (production
    nlist ≫ the 10–100-cell contract) the same assignment runs as an
    Arrow mapInPandas kernel over an explicitly BROADCAST numpy matrix
    (once per executor, never per task-set) — still zero-Exchange,
    without the literal's parse/codegen blowup.
    Both branches replay identical rounding/tie semantics; parity and
    both plans are pinned in tests/test_similarity.py. The previous
    formulation (broadcast join + row_number window) shuffled
    |corpus|×|cells| scored rows just to pick each vector's max;
    bit-equality of the fold to that window is also test-pinned. n>1
    (the query-side probe path — tiny input) keeps the window
    formulation."""
    if n != 1:
        return _ivf_assign_window(vectors, centroids, n, id_col, vec_col)
    rows, cell_type = _collect_centroids(centroids)
    if sum(len(r["centroid"]) for r in rows) > IVF_LITERAL_MAX_ELEMENTS:
        return _ivf_assign_arrow(vectors, rows, cell_type, id_col, vec_col)
    cb_lit = _centroid_literal(rows, cell_type)
    vecs = vectors.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    ).select(
        "vid", "vec",
        F.transform(F.col("vec"), lambda x: x.cast("double")).alias("_vd"),
        norm(F.col("vec")).alias("_vnrm"),
        cb_lit.alias("_cb"),
    )

    def ccos(c):
        dp = F.aggregate(
            F.zip_with(F.col("_vd"), c["cvec"], lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.round(dp / (F.col("_vnrm") * c["nrm"]), 6)

    init = F.struct(
        F.lit(float("-inf")).alias("ccos"),
        F.lit(None).cast(cell_type).alias("cell"),
    )
    # cells iterate in ascending order, strict > keeps the lowest
    # cell among rounded-cosine ties — the window's (DESC, ASC) rule.
    # Cosines bound ONCE per cell via transform (the old fold inlined
    # ccos(c) twice — condition + kept value — doubling the codegen'd
    # expression tree and the when-true evaluations; r13, guide §1.2).
    scored_cells = F.transform(
        F.col("_cb"),
        lambda c: F.struct(ccos(c).alias("ccos"), c["cell"].alias("cell")),
    )
    best = F.aggregate(
        scored_cells,
        init,
        lambda acc, sc: F.when(sc["ccos"] > acc["ccos"], sc).otherwise(acc),
    )
    return vecs.select("vid", "vec", best["cell"].alias("cell"))


def _ivf_assign_window(
    vectors: DataFrame, centroids: DataFrame, n: int,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """The broadcast-join + row_number formulation — the n>1 probe path,
    and the fold fast path's parity baseline in tests."""
    vecs = vectors.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")).select(
        "*", norm(F.col("vec")).alias("_vnrm")
    )
    cents = centroids.select("*", norm(F.col("centroid")).alias("_cnrm"))
    scored = vecs.join(F.broadcast(cents)).select(
        "vid", "vec", "cell",
        F.round(
            dot(F.col("vec"), F.col("centroid")) / (F.col("_vnrm") * F.col("_cnrm")), 6
        ).alias("ccos"),
    )
    w = Window.partitionBy("vid").orderBy(F.desc("ccos"), F.asc("cell"))
    return (
        scored.withColumn("crn", F.row_number().over(w))
        .filter(F.col("crn") <= n)
        .select("vid", "vec", "cell")
    )


def topk_bruteforce_arrow(
    emb: DataFrame, queries: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    q_id_col: str = "q_id", q_vec_col: str = "q_vec",
) -> DataFrame:
    """Arrow-vectorized exact top-k cosine: the query matrix (collected —
    bounded by |Q|, never the corpus) is shipped inside the closure; each
    Arrow batch scores |B|×|Q| via one numpy matmul and emits only its
    per-query top-k, so the shuffle carries |tasks|×|Q|×k candidate rows;
    a final window rank reduces to the global top-k.

    Same math as topk_bruteforce up to float-sum order (numpy pairwise vs
    sequential) — recall-tested against it, not oracle-hashed."""
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    q_rows = queries.select(
        F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("q_vec")
    ).collect()
    q_ids = [r["q_id"] for r in q_rows]
    qm = np.array([r["q_vec"] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(qm, axis=1)
    kk = k

    corpus = emb.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"))

    out_schema = StructType([
        StructField("q_id", LongType()),
        StructField("n_id", LongType()),
        StructField("cos", DoubleType()),
    ])

    def score(it):
        for pdf in it:
            ids = pdf["n_id"].values
            m = np.array([np.asarray(v, dtype=np.float64) for v in pdf["n_vec"].values])
            if m.size == 0:
                continue
            nn = np.linalg.norm(m, axis=1)
            cos = (m @ qm.T) / np.outer(nn, qn)  # |B| × |Q|
            for j, qid in enumerate(q_ids):
                col = cos[:, j]
                mask = ids != qid
                cand_idx = np.nonzero(mask)[0]
                top = cand_idx[np.argsort(-col[cand_idx], kind="stable")[:kk]]
                yield pd.DataFrame(
                    {"q_id": qid, "n_id": ids[top], "cos": np.round(col[top], 6)}
                )

    scored = corpus.mapInPandas(score, out_schema)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "cos", "rank")
    )


def _make_kmeans_d2_kernel(bc):
    """Arrow d²-argmin kernel (by-value closure — workers never import
    this module). Replays the literal fold's degenerate semantics: a
    NULL vector, NULL element, wrong-length, or NaN-element row keeps
    the fold's NULL-cell init (for d², NaN < acc is always false — note
    this DIFFERS from the cosine kernel, where NaN sorts greatest);
    exact ties keep the lowest cell (argmin first-occurrence over cells
    sorted ascending = the fold's strict-< rule)."""

    def run(it):
        import numpy as _np
        import pandas as _pd

        cells, C, _cn = bc.value
        dim = C.shape[1]
        c2 = (C * C).sum(axis=1)
        for pdf in it:
            if not len(pdf):
                continue
            null_row = _np.asarray([bool(b) for b in pdf["_vnull"]], dtype=bool)
            V = _np.array(
                [
                    _np.asarray(v, dtype=_np.float64)
                    if v is not None and len(v) == dim
                    else _np.full(dim, _np.nan)
                    for v in pdf["vec"]
                ]
            )
            d2 = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + c2[None, :]
            nan_row = _np.isnan(d2).any(axis=1)
            d2 = _np.where(_np.isnan(d2), _np.inf, d2)
            idx = d2.argmin(axis=1)
            bad = null_row | nan_row
            out_cells = [
                None if b else cells[int(i)] for b, i in zip(bad, idx)
            ]
            yield _pd.DataFrame(
                {"vid": pdf["vid"], "vec": pdf["vec"], "cell": out_cells}
            )

    return run


def _kmeans_assign_d2(
    vectors: DataFrame, centroids: DataFrame,
    id_col: str = "vid", vec_col: str = "vec",
) -> DataFrame:
    """Squared-Euclidean argmin assignment — the Lloyd trainer's own
    objective (ivf_assign's cosine fold is the SEARCH-time metric; the
    trainer must assign under the same d² it minimizes in the mean
    update, or the monotone-SSE contract does not hold). Same dispatch
    shape as ivf_assign: up to IVF_LITERAL_MAX_ELEMENTS centroid
    elements a centroid literal + codegen'd fold — one Project, NO
    Exchange; strict < keeps the lowest cell on exact d²
    ties (deterministic, no rounding, so the textbook guarantee is
    preserved bit-for-bit). Above it (production nlist — FAISS trains
    coarse quantizers at 10⁵–10⁶ cells) the same argmin runs as an
    Arrow kernel over a broadcast numpy matrix (r12; assignment parity
    with the fold is test-pinned on separated fixtures — the two
    branches' float-sum ORDERS differ, so a vector exactly equidistant
    between centroids could in principle split, same caveat as every
    cross-impl d² comparison)."""
    rows, cell_type = _collect_centroids(centroids)
    if sum(len(r["centroid"]) for r in rows) > IVF_LITERAL_MAX_ELEMENTS:
        from pyspark.sql.types import StructField, StructType

        bc = _ivf_assign_broadcast(vectors.sparkSession.sparkContext, rows)
        dim = int(bc.value[1].shape[1])
        vecs = vectors.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
        ).withColumn(
            "_vnull",
            F.col("vec").isNull()
            | F.exists(F.col("vec"), lambda x: x.isNull())
            | (F.size(F.col("vec")) != F.lit(dim)),
        )
        schema = StructType(
            [vecs.schema["vid"], vecs.schema["vec"], StructField("cell", cell_type)]
        )
        return vecs.mapInPandas(_make_kmeans_d2_kernel(bc), schema)
    cb_lit = _centroid_literal(rows, cell_type)
    vecs = vectors.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    ).select(
        "vid", "vec",
        F.transform(F.col("vec"), lambda x: x.cast("double")).alias("_vd"),
        cb_lit.alias("_cb"),
    )

    def cd2(c):
        return F.aggregate(
            F.zip_with(F.col("_vd"), c["cvec"], lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    init = F.struct(
        F.lit(float("inf")).alias("d2"),
        F.lit(None).cast(cell_type).alias("cell"),
    )
    # d² bound ONCE per cell via transform before the fold (the old fold
    # inlined cd2(c) twice — same restructure as ivf_assign; r13). The
    # exact unrounded d2 feeds the same strict-< comparison, so the
    # monotone-SSE tie semantics are untouched.
    scored_cells = F.transform(
        F.col("_cb"),
        lambda c: F.struct(cd2(c).alias("d2"), c["cell"].alias("cell")),
    )
    best = F.aggregate(
        scored_cells,
        init,
        lambda acc, sc: F.when(sc["d2"] < acc["d2"], sc).otherwise(acc),
    )
    return vecs.select("vid", "vec", best["cell"].alias("cell"))


def kmeans_train(
    emb: DataFrame, k: int = 8, iters: int = 3,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means as an iterative DataFrame algorithm (the IVF coarse
    quantizer when no natural cell key exists).

    - deterministic init: the k vectors with smallest (xxhash64(id), id)
    - per iteration: broadcast the k centroids → d²-argmin-assign every
      vector (map-only pass, corpus never shuffles; squared-Euclidean,
      the objective the mean update minimizes — FAISS trains its IVF
      coarse quantizer with L2 k-means even when the search metric is
      cosine/IP, and using the search-time cosine here would void the
      monotone-SSE contract ivf_train_kmeans gates on) → recompute
      elementwise means (posexplode agg, shuffle of |corpus|×dim value
      rows reduced map-side to |k|×dim)
    - the k×dim centroid table is collected to the driver between
      iterations (bounded: k rows) — this prevents unbounded lazy-plan
      growth across iterations; the corpus itself is never collected.

    Returns (cell, centroid, n_assigned). Iterative — exempt from the SQL
    oracle (rows-only check); convergence is unit-tested instead.
    """
    vecs = emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    spark = emb.sparkSession

    init = (
        vecs.select("vid", "vec", F.xxhash64(F.col("vid")).alias("_h"))
        .orderBy("_h", "vid")
        .limit(k)
        .collect()
    )
    cents = spark.createDataFrame(
        [(i, [float(x) for x in r["vec"]]) for i, r in enumerate(init)],
        "cell int, centroid array<double>",
    )

    assigned = None
    for _ in range(iters):
        assigned = _kmeans_assign_d2(vecs, cents)
        pos = assigned.select("cell", F.posexplode("vec").alias("pos", "v"))
        new_cents = (
            pos.groupBy("cell", "pos")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cell", F.transform("pm", lambda x: x["m"]).alias("centroid"))
            .collect()
        )
        cents = spark.createDataFrame(
            [(r["cell"], list(r["centroid"])) for r in new_cents],
            "cell int, centroid array<double>",
        )

    counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_assigned"))
    return cents.join(counts, "cell", "left").select(
        "cell",
        "centroid",
        F.coalesce(F.col("n_assigned"), F.lit(0)).alias("n_assigned"),
    )


def ivf_build_index(
    emb: DataFrame,
    cell_col: str = "label", id_col: str = "vec_id", vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Build the persistable IVF index pair: ``(centroids, assignments)``.

    - centroids: (cell, centroid) — |cells| rows, broadcasts everywhere.
    - assignments: (n_id, n_vec, cell) — each corpus vector with its
      nearest cell; this is the TB-scale relation, written ONCE
      (``write_ivf_index`` partitions it by cell so a probe touches
      nprobe/|cells| of the files) and then served to every future query
      batch by ``ivf_topk_from_index`` WITHOUT retraining — the dense
      sibling of ``write_bm25_postings``/``minhash_index``.

    Assignment is a broadcast-join map pass — the corpus never shuffles.
    Deterministic per vector given the centroid table, so delta batches
    assigned later (``ivf_assign_delta``) compose under append."""
    # persist BEFORE the corpus assign: its centroid-literal collect then
    # materializes the cache, and every later reader (probe assigns,
    # from-index scoring) reuses it instead of re-running the posexplode
    # aggregation. |cells| rows — trivially cached; callers release via
    # clearCache at pipeline boundaries (module caching contract).
    cents = ivf_centroids(emb, cell_col=cell_col, vec_col=vec_col).persist()
    assignments = ivf_assign(emb, cents, n=1, id_col=id_col, vec_col=vec_col).select(
        F.col("vid").alias("n_id"), F.col("vec").alias("n_vec"), "cell"
    )
    return cents, assignments


def ivf_assign_delta(
    new_vectors: DataFrame, centroids: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Assign a NEW ingest batch against the STORED centroid table — no
    retraining, no touch of the existing assignments: cost is
    |delta|×|cells| row-local cosine math under a broadcast join. Emits
    (n_id, n_vec, cell) rows appendable to the persisted assignments
    table (same append contract as write_minhash_index: disjoint new ids
    only). Bit-equal to what a full ``ivf_build_index`` rebuild would
    assign those ids given the same centroids — property-pinned in
    tests/test_similarity.py and oracle-gated as
    ``ann_ivf_assign_incremental``."""
    return ivf_assign(new_vectors, centroids, n=1, id_col=id_col, vec_col=vec_col).select(
        F.col("vid").alias("n_id"), F.col("vec").alias("n_vec"), "cell"
    )


def write_ivf_index(
    centroids: DataFrame, assignments: DataFrame, prefix: str,
    mode: str = "overwrite",
) -> None:
    """Persist the IVF index as catalog tables: ``{prefix}_centroids``
    (plain — |cells| rows) and ``{prefix}_cells`` PARTITIONED BY cell.
    Partitioning (not bucketing) is the right layout here: probes filter
    on a handful of cell values, so partition pruning (static or dynamic,
    via the broadcast probe join) skips every unprobed cell's files —
    the scan cost per query batch is nprobe/|cells| of the corpus.
    Append delta batches (``ivf_assign_delta`` output) with
    ``mode='append'`` — new rows land inside their cell's partition."""
    centroids.write.mode(mode).saveAsTable(f"{prefix}_centroids")
    assignments.write.mode(mode).partitionBy("cell").saveAsTable(f"{prefix}_cells")


def read_ivf_index(spark, prefix: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignments) from tables written by write_ivf_index."""
    return spark.table(f"{prefix}_centroids"), spark.table(f"{prefix}_cells")


def ivf_topk_from_index(
    centroids: DataFrame, assignments: DataFrame, queries: DataFrame,
    k: int = 10, nprobe: int = 2,
    q_id_col: str = "q_id", q_vec_col: str = "q_vec",
) -> DataFrame:
    """Score a query batch against a PERSISTED IVF index: queries are
    assigned to their ``nprobe`` nearest stored centroids (broadcast —
    |cells| rows), then join the stored assignments on cell and rerank
    exactly inside. The corpus is neither re-trained nor re-assigned —
    when ``assignments`` is the cell-partitioned table from
    ``write_ivf_index``, the broadcast probe join dynamically prunes the
    scan to the probed cells. Registered against the SAME oracle as
    ``ann_ivf_topk``, so the driver hash gate proves this path bit-equal
    to the from-scratch run."""
    corpus = assignments.select("n_id", "n_vec", "cell").select(
        "*", norm(F.col("n_vec")).alias("n_nrm")
    )
    probes = ivf_assign(
        queries, centroids, n=nprobe, id_col=q_id_col, vec_col=q_vec_col
    ).select(F.col("vid").alias("q_id"), F.col("vec").alias("q_vec"), "cell").select(
        "*", norm(F.col("q_vec")).alias("q_nrm")
    )
    scored = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("n_id") != F.col("q_id"))
        .select(
            "q_id", "n_id",
            F.round(
                dot(F.col("q_vec"), F.col("n_vec")) / (F.col("q_nrm") * F.col("n_nrm")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "cos", "rank")
    )


def ivf_topk(
    emb: DataFrame, queries: DataFrame, k: int = 10, nprobe: int = 2,
    cell_col: str = "label", id_col: str = "vec_id", vec_col: str = "embedding",
    q_id_col: str = "q_id", q_vec_col: str = "q_vec",
) -> DataFrame:
    """IVF ANN from scratch: build the index in-plan, score through the
    same code path a persisted index uses (``ivf_build_index`` →
    ``ivf_topk_from_index``), so from-scratch and from-storage results
    are bit-equal by construction.

    At 100 TB: assignment is a broadcast-join map pass (no shuffle), the
    corpus is written partitioned by cell once (``write_ivf_index``), and
    each query touches nprobe/|cells| of the data. Candidate volume
    scales with nprobe, not corpus size.

    Caching contract: the |cells|-row centroid table is persisted because
    both assignment passes read it; long-lived callers should
    ``spark.catalog.clearCache()`` at pipeline boundaries to release it
    (see functions/dedup.py module docstring for the same pattern)."""
    # Persist the centroid table: both assignment passes (corpus + probes)
    # broadcast it, and without the cache each pass re-runs the posexplode
    # aggregation over the full corpus. |cells| rows — trivially cached.
    cents, assignments = ivf_build_index(
        emb, cell_col=cell_col, id_col=id_col, vec_col=vec_col
    )
    cents = cents.persist()
    return ivf_topk_from_index(
        cents, assignments, queries, k=k, nprobe=nprobe,
        q_id_col=q_id_col, q_vec_col=q_vec_col,
    )


def ivf_topk_quantized(
    emb: DataFrame, queries: DataFrame, k: int = 10, nprobe: int = 2,
    cell_col: str = "label", id_col: str = "vec_id", vec_col: str = "embedding",
    q_id_col: str = "q_id", q_vec_col: str = "q_vec",
) -> DataFrame:
    """The production ANN shape: IVF coarse quantizer + int8 scoring.

    Cell assignment runs on the float vectors against broadcast centroids
    (identical to ivf_topk — candidate volume is nprobe/|cells| of the
    corpus); scoring inside the probed cells runs on max-abs int8 codes
    with exact integer dot products (identical to topk_quantized — 4× less
    vector I/O on the scan that touches the most data). Determinism of the
    integer math is what keeps the FULL SQL oracle for the composition.
    Rerank the returned top-k with float vectors when exactness vs the
    float metric matters — that final pass reads only k·|Q| vectors."""
    cents = ivf_centroids(emb, cell_col=cell_col, vec_col=vec_col).persist()
    int_dot = lambda a, b: F.aggregate(  # noqa: E731 — exact integer MAC
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    corpus = (
        ivf_assign(emb, cents, n=1, id_col=id_col, vec_col=vec_col)
        .select(F.col("vid").alias("n_id"), "cell", quantize_vec(F.col("vec")).alias("qb"))
        .select("*", int_dot(F.col("qb"), F.col("qb")).alias("bb"))
    )
    probes = (
        ivf_assign(queries, cents, n=nprobe, id_col=q_id_col, vec_col=q_vec_col)
        .select(F.col("vid").alias("q_id"), "cell", quantize_vec(F.col("vec")).alias("qa"))
        .select("*", int_dot(F.col("qa"), F.col("qa")).alias("aa"))
    )
    scored = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("n_id") != F.col("q_id"))
        .select(
            "q_id", "n_id",
            F.round(
                int_dot(F.col("qa"), F.col("qb"))
                / (F.sqrt(F.col("aa")) * F.sqrt(F.col("bb"))),
                6,
            ).alias("qcos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("qcos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "qcos", "rank")
    )


def quantize_vec(vec: Column) -> Column:
    """Max-abs int8 quantization of one embedding (same contract as the
    embedding_quantize_int8 catalog op): q_i = round(x_i / maxabs · 127)."""
    m = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    return F.transform(vec, lambda x: F.round(x.cast("double") / m * 127, 0).cast("long"))


def topk_quantized(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantized cosine top-k: score on int8 codes instead of floats.
    Every arithmetic step before the final ratio is EXACT integer math
    (dot ≤ 64·127² fits a long), so unlike float scoring the result is
    bit-identical on any engine/partitioning — which is why this variant
    carries a full SQL oracle while the float Arrow path is rows-only.
    At scale the quantized corpus scans 4× less I/O and the integer
    multiply-accumulate vectorizes better; rerank survivors with float
    vectors when exactness vs the float metric matters.

    Like topk_bruteforce this is a |Q|-bounded baseline (n_queries ·
    |corpus| scored pairs); n_queries is capped to keep the broadcast
    nested loop honest — IVF/LSH are the large-|Q| paths."""
    from pyspark.sql import Window

    if n_queries > 1024:
        raise ValueError(
            f"topk_quantized scores n_queries x |corpus| pairs: "
            f"n_queries={n_queries} exceeds 1024; use ivf_topk/lsh_topk "
            "for large query sets"
        )

    qv = emb.select(
        F.col(id_col).alias("_id"), quantize_vec(F.col(vec_col)).alias("qv")
    ).select(
        "_id",
        "qv",
        F.aggregate(
            F.transform("qv", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("nsq"),
    )
    q = qv.filter(F.col("_id") < n_queries).select(
        F.col("_id").alias("q_id"), F.col("qv").alias("qa"), F.col("nsq").alias("aa")
    )
    c = qv.select(
        F.col("_id").alias("n_id"), F.col("qv").alias("qb"), F.col("nsq").alias("bb")
    )
    dp = F.aggregate(
        F.zip_with("qa", "qb", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        c.join(F.broadcast(q), F.col("n_id") != F.col("q_id"))
        .select(
            "q_id",
            "n_id",
            F.round(dp / (F.sqrt(F.col("aa")) * F.sqrt(F.col("bb"))), 6).alias("qcos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("qcos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    group_cols: tuple[str, ...] = (),
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR'09) — THE
    standard hybrid-retrieval recipe: each input ranking contributes
    1/(k + rank) per item, fused score = the sum over the lists the item
    appears in. Score scales never need calibrating (only ranks enter),
    which is why production pipelines fuse lexical BM25 with dense ANN
    this way. Output: (*group_cols, id_col, rrf_score, n_lists, rank),
    rank ≤ ``top_k`` per group.

    Inputs are (group_cols..., id_col, rank_col) top-k lists — already
    tiny (k rows per query per system), so fusion is pure column math:
    union → one grouped sum → one rank window partitioned by the group
    (thousands of queries spread across the cluster; no corpus is ever
    touched). Deterministic: 6-dp round-then-rank, ties broken by id."""
    gcols = list(group_cols)
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    contribs = [
        r.select(
            *gcols,
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col).cast("double"))).alias("_c"),
        )
        for r in rankings
    ]
    u = contribs[0]
    for c in contribs[1:]:
        u = u.unionByName(c)
    # sorted-order fold, not F.sum: double addition isn't associative and
    # shuffle arrival order is nondeterministic — a boundary flip at the
    # 6-dp round would break engine determinism (oracle mirrors with
    # list_sum(list_sort(...))). ≤len(rankings) elements per group.
    fused = u.groupBy(*gcols, id_col).agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("_c")), F.lit(0.0), lambda a, x: a + x
            ),
            6,
        ).alias("rrf_score"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    w = Window.partitionBy(*gcols).orderBy(F.desc("rrf_score"), F.asc(id_col))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
    )

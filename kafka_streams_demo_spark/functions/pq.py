"""Product quantization (PQ) for billion-scale ANN — the memory tier
below IVF (Jégou, Douze & Schmid, "Product Quantization for Nearest
Neighbor Search", TPAMI 2011).

A 100 TB embedding corpus at dim 64/float32 is 256 B per vector; PQ
stores m=8 one-byte codes instead — 32× smaller, so the searchable
index fits in a fraction of the executors that the raw vectors need,
and the ADC scoring pass streams codes, never vectors. The repo's
ANN ladder becomes: brute-force (exact baseline) → LSH / IVF (prune
candidates) → PQ-ADC (shrink per-candidate cost and memory).

Three pieces, mapped onto the repo's determinism rules:

- **Codebooks**: per subspace ``s`` of ``ds = dim/m`` consecutive
  components, ``k`` codewords. ``pq_sample_codebooks`` picks the k
  corpus subvectors with the smallest (md5-60-bit(vec_id), vec_id) —
  exactly k-means' deterministic init state, and fully SQL-replayable,
  so encode/ADC entries sit under the cross-engine hash gate.
  ``pq_refine_codebooks`` runs Lloyd iterations on top (the paper's
  estimator) — iterative, so rows-only like ``kmeans_train``, with the
  quantization-error improvement pinned by unit test instead.
- **Encode** (``pq_encode``): ROW-LOCAL argmin over the k codewords per
  subspace — codebooks are driver-bounded (m·k rows) and broadcast to
  an Arrow kernel, so encoding is a map-only pass: the corpus NEVER
  shuffles (plan-pinned). Ties on rounded distance break to the
  smaller code on both engines.
- **ADC top-k** (``pq_adc_topk``): per query, an m·k distance table
  (query subvector ↔ codeword, the classic lookup table) is built on
  the tiny side and broadcast; approximate distance is the SORTED fold
  of the m table entries a vector's codes select (order-insensitive
  double determinism — the repo's cross-engine sum rule), rounded to
  6 dp before ranking with vec_id tie-break (round-then-rank).

All distances are squared L2 in doubles (cast once, up front); for the
unit-normalized embeddings the fixtures use, L2² = 2 − 2·cos, so the
ranking agrees with the cosine entries up to quantization error.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from kafka_streams_demo_spark.functions.sketches import _hash60

__all__ = [
    "pq_sample_codebooks",
    "pq_refine_codebooks",
    "pq_encode",
    "pq_adc_topk",
    "ivf_pq_topk",
    "ivf_pq_residual_topk",
    "pq_residual_frame",
    "pq_quantization_error",
]


def _subvec_d2(a: Column, b: Column) -> Column:
    """Σ (aᵢ−bᵢ)² folded in element order (reproducible; both sides
    must already be double arrays)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_sample_codebooks(
    emb: DataFrame,
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """(sub, code, cvec) deterministic-sample codebooks: the k corpus
    vectors with the smallest (md5-60-bit(id), id) supply all m
    subspace codebooks, codes 0..k-1 in that order. This is k-means'
    init state (see ``pq_refine_codebooks`` for the Lloyd refinement)
    and — unlike a trained codebook — exactly replayable in SQL, which
    is what puts the encode/ADC entries under the hash gate."""
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    ds = dim // m
    samp = (
        emb.select(
            F.col(id_col).alias("_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        )
        .withColumn("_h", _hash60(F.col("_id"), seed))
        .orderBy("_h", "_id")
        .limit(k)
    )
    # k rows: the single-partition window is driver-scale by construction
    w = Window.orderBy("_h", "_id")
    coded = samp.select((F.row_number().over(w) - 1).alias("code"), "_v")
    return coded.select(
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"), "code", "_v"
    ).select(
        "sub",
        "code",
        F.slice(F.col("_v"), F.col("sub") * ds + 1, ds).alias("cvec"),
    )


def _collect_codebooks(codebooks: DataFrame, m: int) -> dict[int, list]:
    """{sub: [(code, cvec), ...] sorted by code — the argmin's tie
    order}. Driver-bounded at m·k rows."""
    rows = codebooks.collect()
    by_sub: dict[int, list] = {}
    for r in rows:
        by_sub.setdefault(r["sub"], []).append(
            (r["code"], [float(x) for x in r["cvec"]])
        )
    for s in range(m):
        by_sub[s] = sorted(by_sub.get(s, []))
        if not by_sub[s]:
            raise ValueError(f"codebook has no codewords for subspace {s}")
    return by_sub


def _codebook_literal(by_sub: dict[int, list], m: int) -> Column:
    """The collected codebooks as a nested literal: array[m] of
    array[≤k] of struct(code, cvec), per-sub codeword order = code
    order."""
    # ONE parsed SQL literal instead of per-element F.lit columns (a py4j
    # round-trip each — ~1 s of driver overhead at m·k·ds = 1024 lits);
    # repr() round-trips doubles exactly through the string cast.
    subs = []
    for s in range(m):
        structs = []
        for c, v in by_sub[s]:
            arr = ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in v)
            structs.append(f"named_struct('code', {int(c)}, 'cvec', array({arr}))")
        subs.append("array(" + ",".join(structs) + ")")
    return F.expr("array(" + ",".join(subs) + ")")


def _pq_encode_broadcast(sc, by_sub: dict[int, list], m: int):
    """Broadcast the collected codebooks as numpy payloads —
    ``(cods, mats)`` = per-subspace code ids and k×ds float64 codeword
    matrices — so they ship once per executor via the broadcast
    machinery instead of riding pickled inside every task's kernel
    closure (at production k=256 × dim 768 the closure copy is MBs per
    task-set; the pickled kernel itself stays < 1 MB, test-pinned)."""
    import numpy as np

    cods = {s: [c for c, _ in by_sub[s]] for s in range(m)}
    mats = {
        s: np.asarray([v for _, v in by_sub[s]], dtype=np.float64)
        for s in range(m)
    }
    return sc.broadcast((cods, mats))


def _make_pq_encode_kernel(bc, dim: int, m: int, keep_cols: tuple):
    """Factory for the Arrow encode kernel (by-value closure for worker
    safety). ``bc`` is a ``SparkContext.broadcast`` of ``(cods, mats)``
    from :func:`_pq_encode_broadcast`. Per subspace the |B|×k
    squared-distance block is one numpy broadcast; argmin's
    first-occurrence rule over codewords sorted by code gives the
    first-wins (= smallest code) tie order; rounding replays
    ROUND(d2, 6) exactly via the midpoint-band Decimal rounder
    (captured by value — nothing resolves against this module on
    workers)."""
    from kafka_streams_demo_spark.functions.similarity import make_round6_block

    round6_block = make_round6_block()

    def run(it):
        import numpy as np
        import pandas as pd

        ds = dim // m
        cods, mats = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            vs = list(pdf["_v"])
            if any(v is None or len(v) != dim for v in vs):
                raise ValueError(
                    f"pq_encode: _v NULL or length != dim={dim}"
                )
            V = np.array([np.asarray(v, dtype=np.float64) for v in vs])
            nb = len(pdf)
            parts = []
            for s in range(m):
                Vs = V[:, s * ds:(s + 1) * ds]
                Cs = mats[s]
                diff = Vs[:, None, :] - Cs[None, :, :]
                d2 = np.einsum("bkd,bkd->bk", diff, diff)

                def exact(i, j, Vs=Vs, Cs=Cs):
                    acc = 0.0
                    for t in range(ds):
                        dd = Vs[i, t] - Cs[j, t]
                        acc += dd * dd
                    return acc

                r = round6_block(d2, exact)
                # NULL/NaN elements: no-match code −1 when NO codeword
                # yields a finite distance; finite codewords still
                # compete.
                rr = np.where(np.isfinite(r), r, np.inf)
                best = np.argmin(rr, axis=1)
                code = np.asarray([cods[s][b] for b in best], dtype=np.int32)
                code[np.isinf(rr).all(axis=1)] = -1
                part = pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].values,
                        **{c: pdf[c].values for c in keep_cols},
                        "sub": np.full(nb, s, dtype=np.int32),
                        "code": code,
                    }
                )
                parts.append(part)
            yield pd.concat(parts, ignore_index=True)

    return run


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple = (),
) -> DataFrame:
    """(vec_id, [keep_cols...,] sub, code) PQ codes — the 32×-smaller
    searchable corpus.

    ROW-LOCAL: one Arrow mapInPandas pass over explicitly BROADCAST
    codebook matrices (shipped once per executor, never pickled per
    task-set) — no Exchange anywhere (tests/test_pq.py pins the
    shuffle-free plan). Argmin compares ROUND(d2, 6) with first-wins
    (= smallest code) tie order, mirroring the oracle's (ROUND(d2,6),
    code) row_number. ``keep_cols`` ride through the map-only pass
    (e.g. the IVF cell label) so callers never pay a corpus-keyed
    re-join to recover them. Vectors that are NULL or whose length !=
    dim raise instead of silently emitting the no-match code −1 the
    argmin init would produce; NULL vector ELEMENTS still yield
    no-match codes — the ADC scorers exclude those vectors via their
    exactly-m-entries group guard."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    by_sub = _collect_codebooks(codebooks, m)
    vecs = emb.select(
        F.col(id_col).alias("vec_id"),
        *[F.col(c) for c in keep_cols],
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    schema = StructType(
        [vecs.schema["vec_id"]]
        + [vecs.schema[c] for c in keep_cols]
        + [StructField("sub", IntegerType()), StructField("code", IntegerType())]
    )
    bc = _pq_encode_broadcast(emb.sparkSession.sparkContext, by_sub, m)
    return vecs.mapInPandas(
        _make_pq_encode_kernel(bc, dim, m, tuple(keep_cols)), schema
    )


def _query_dtab(
    queries: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int,
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """(q_id, sub, code, dq) — the classic per-query ADC lookup table:
    squared L2 from each query subvector to each codeword. |Q|·m·k rows,
    built on the tiny side, always broadcast by the callers."""
    ds = dim // m
    qsub = queries.select(
        F.col(q_id_col).alias("q_id"),
        F.transform(F.col(q_vec_col), lambda x: x.cast("double")).alias("_qv"),
    ).select(
        "q_id",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        F.col("_qv"),
    ).select(
        "q_id", "sub", F.slice(F.col("_qv"), F.col("sub") * ds + 1, ds).alias("_qs")
    )
    return qsub.join(codebooks, "sub").select(
        "q_id", "sub", "code", _subvec_d2(F.col("_qs"), F.col("cvec")).alias("dq")
    )


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    topk: int = 10,
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """(q_id, n_id, adist, rank) — asymmetric distance computation: the
    query stays a float vector, the corpus stays codes. Per query the
    m·k lookup table d(q_sub, codeword) is built on the tiny side and
    BROADCAST; scoring joins each corpus code row to its table entry
    and folds the m selected entries per (query, vector) in sorted
    order (collect_list partial-aggregates map-side, so the only
    shuffle carries one pre-combined row per (q, v) pair). Rank on
    round(adist, 6) ascending, vec_id tie-break. Self-matches (n_id ==
    q_id) are excluded to mirror the exact-ANN entries."""
    dtab = _query_dtab(queries, codebooks, dim, m, q_id_col, q_vec_col)
    scored = (
        codes.filter(F.col("vec_id").isNotNull())
        .join(F.broadcast(dtab), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("n_id"))
        .agg(
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list("dq")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("adist"),
            F.count(F.lit(1)).alias("_nm"),
        )
        # exactly m matched table entries per (q, v): a no-match code
        # (malformed vector → −1) must exclude the vector, not let it
        # rank with a spuriously small partial sum
        .filter(F.col("_nm") == m)
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adist"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("q_id", "n_id", "adist", "rank")
    )


def ivf_pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    topk: int = 10,
    nprobe: int = 2,
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """IVF-PQ — the production billion-scale formulation (the paper's
    IVFADC, minus residual encoding; documented deviation below): the
    IVF coarse quantizer prunes which vectors are scored (nprobe/|cells|
    of the corpus), PQ codes shrink WHAT is scored (m bytes, not dim
    floats). Corpus-side work is two map-only passes (cell assignment
    against broadcast centroids + row-local encode); query-side tables
    and probe lists are tiny and broadcast; the only shuffle is the
    map-side-combined (q, v) fold over candidates.

    Deviation from Jégou et al. §IV: codes quantize the RAW vector, not
    the residual (v − centroid) — kept as the simpler tier now that
    ``ivf_pq_residual_topk`` implements the paper's residual scheme
    (also hash-gated: sampled residual codebooks stay SQL-replayable).
    Raw-vector codes reuse one lookup table across cells (m·k rows per
    query instead of nprobe·m·k), at lower recall for equal m.

    Returns (q_id, n_id, adist, rank), rank ≤ topk per query."""
    from kafka_streams_demo_spark.functions.similarity import (
        ivf_assign,
        ivf_centroids,
    )

    cents = ivf_centroids(emb, cell_col=cell_col, vec_col=vec_col).localCheckpoint(eager=True)  # |cells| rows; feeds the literal collect, the broadcast joins, and the probe assign — one agg pass instead of one per branch
    # NULL embeddings / NULL elements (tolerated by ivf_assign → NULL
    # cell) are dropped BEFORE the assign: a NULL cell can never
    # equi-join a probe, so exclusion is what ranking would do anyway
    # (and what the residual tier's centroid join already does). The
    # filter sits on the RAW scan column — filtering on the projected
    # assign output would re-substitute the whole argmax fold into the
    # pushed predicate (the repo's pushdown-barrier lesson).
    emb_ok = emb.filter(
        F.col(vec_col).isNotNull()
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    )
    asg = ivf_assign(emb_ok, cents, n=1, id_col=id_col, vec_col=vec_col)
    qin = queries.select(
        F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("q_vec")
    )
    probes = ivf_assign(
        qin, cents, n=nprobe, id_col="q_id", vec_col="q_vec"
    ).select(F.col("vid").alias("q_id"), "cell")

    cbs = pq_sample_codebooks(emb, dim=dim, m=m, k=k, id_col=id_col, vec_col=vec_col)
    # encode the ASSIGNED frame with the cell riding keep_cols — the
    # whole corpus-side chain stays two map-only passes; the previous
    # codes⋈assignments formulation was a corpus×corpus re-join by
    # vec_id (shuffling both corpus-sized frames), exactly what
    # keep_cols exists to avoid (and what the residual tier already did).
    cell_codes = pq_encode(
        asg, cbs, dim=dim, m=m, k=k, id_col="vid", vec_col="vec",
        keep_cols=("cell",),
    )
    dtab = _query_dtab(qin, cbs, dim, m)
    scored = (
        cell_codes.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(F.broadcast(dtab), ["q_id", "sub", "code"])
        .groupBy("q_id", F.col("vec_id").alias("n_id"))
        .agg(
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list("dq")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("adist"),
            F.count(F.lit(1)).alias("_nm"),
        )
        # exactly m matched table entries per (q, v): a no-match code
        # (malformed vector → −1) must exclude the vector, not let it
        # rank with a spuriously small partial sum
        .filter(F.col("_nm") == m)
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adist"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("q_id", "n_id", "adist", "rank")
    )


def pq_residual_frame(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cell, rvec) — each vector's residual v − centroid(cell(v))
    against the FROZEN centroid table: a row-local map pass (shuffle-free
    cell assignment + broadcast centroid join). The frame every residual
    tier builds on (codebook sampling, encode, incremental appends).

    pushdown_barrier binds the residual array ONCE per row — without it
    CollapseProject substitutes the zip_with into every codeword fold
    inside pq_encode (m·k re-evaluations of the 64-element residual)."""
    from kafka_streams_demo_spark.functions.similarity import ivf_assign
    from kafka_streams_demo_spark.functions.text import pushdown_barrier

    asg = ivf_assign(emb, centroids, n=1, id_col=id_col, vec_col=vec_col)
    return asg.join(F.broadcast(centroids), "cell").select(
        F.col("vid").alias("vec_id"),
        "cell",
        pushdown_barrier(
            F.zip_with(
                F.transform("vec", lambda x: x.cast("double")),
                F.col("centroid"),
                lambda x, c: x - c,
            )
        ).alias("rvec"),
    )


def ivf_pq_residual_topk(
    emb: DataFrame,
    queries: DataFrame,
    topk: int = 10,
    nprobe: int = 2,
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """IVFADC with RESIDUAL encoding — the full Jégou et al. §IV scheme,
    closing ``ivf_pq_topk``'s documented deviation: codes quantize
    r = v − centroid(cell(v)), not the raw vector. Because both the
    query and the candidate share the probed cell's centroid offset,
    ‖q − y‖ = ‖(q − c) − (y − c)‖ ≈ ‖q_res − pq(v_res)‖ — residual
    magnitudes are much smaller than raw vectors, so the same m·k
    codebook budget buys finer quantization (the paper's argument for
    IVFADC over plain ADC).

    Stays under the cross-engine hash gate — the piece the no-residual
    variant claimed was impossible only for TRAINED residual codebooks:
    the coarse centroids are deterministic label means, so residuals
    are a row-local transform against the broadcast centroid table, and
    the sampled codebooks over residuals keep the md5-ordered init that
    makes the whole chain SQL-replayable. (The trained tier is still
    ``pq_refine_codebooks`` over the residual frame — iterative,
    rows-only.)

    Shape at scale: residual computation and encode are one map-only
    pass over the corpus (centroids and codebooks broadcast,
    cell rides ``keep_cols`` — the corpus never re-joins itself); the
    per-(query, probed-cell) distance tables are |Q|·nprobe·m·k rows,
    broadcast; the only corpus-size shuffle is the map-side-combined
    (q, v) fold over candidates in probed cells.

    Returns (q_id, n_id, adist, rank), rank ≤ topk per query."""
    from kafka_streams_demo_spark.functions.similarity import (
        ivf_assign,
        ivf_centroids,
    )

    cents = ivf_centroids(emb, cell_col=cell_col, vec_col=vec_col).localCheckpoint(eager=True)  # |cells| rows; feeds the literal collect, the broadcast joins, and the probe assign — one agg pass instead of one per branch
    rv = pq_residual_frame(emb, cents, id_col=id_col, vec_col=vec_col)
    cbs = pq_sample_codebooks(rv, dim=dim, m=m, k=k, id_col="vec_id", vec_col="rvec")
    cell_codes = pq_encode(
        rv, cbs, dim=dim, m=m, k=k, id_col="vec_id", vec_col="rvec",
        keep_cols=("cell",),
    )

    qin = queries.select(
        F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("q_vec")
    )
    probes = ivf_assign(qin, cents, n=nprobe, id_col="q_id", vec_col="q_vec")
    # query residual PER PROBED CELL (each probe has its own offset)
    qrv = probes.join(F.broadcast(cents), "cell").select(
        F.col("vid").alias("q_id"),
        "cell",
        F.zip_with(
            F.transform("vec", lambda x: x.cast("double")),
            F.col("centroid"),
            lambda x, c: x - c,
        ).alias("_qr"),
    )
    ds = dim // m
    qsub = qrv.select(
        "q_id",
        "cell",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        F.col("_qr"),
    ).select(
        "q_id", "cell", "sub",
        F.slice(F.col("_qr"), F.col("sub") * ds + 1, ds).alias("_qs"),
    )
    dtab = qsub.join(cbs, "sub").select(
        "q_id", "cell", "sub", "code",
        _subvec_d2(F.col("_qs"), F.col("cvec")).alias("dq"),
    )
    scored = (
        cell_codes.join(
            F.broadcast(probes.select(F.col("vid").alias("q_id"), "cell")), "cell"
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(F.broadcast(dtab), ["q_id", "cell", "sub", "code"])
        .groupBy("q_id", F.col("vec_id").alias("n_id"))
        .agg(
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list("dq")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("adist"),
            F.count(F.lit(1)).alias("_nm"),
        )
        # exactly m matched table entries per (q, v): a no-match code
        # (malformed vector → −1) must exclude the vector, not let it
        # rank with a spuriously small partial sum
        .filter(F.col("_nm") == m)
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adist"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("q_id", "n_id", "adist", "rank")
    )


def pq_quantization_error(
    emb: DataFrame,
    codebooks: DataFrame,
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Total squared reconstruction error Σ_v Σ_s d²(v_s, c[s][code]) —
    the quantity Lloyd refinement must not increase. Driver-returns one
    double (test/diagnostic helper, not a catalog entry)."""
    ds = dim // m
    cb_lit = _codebook_literal(_collect_codebooks(codebooks, m), m)
    sv = emb.select(
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.slice(F.col("_v"), s * ds + 1, ds),
        ).alias("_svs"),
        cb_lit.alias("_cb"),
    )

    def sub_err(s: Column) -> Column:
        subvec = F.element_at(F.col("_svs"), s + 1)
        cwords = F.element_at(F.col("_cb"), s + 1)
        return F.aggregate(
            cwords,
            F.lit(float("inf")),
            lambda acc, cw: F.least(acc, _subvec_d2(subvec, cw["cvec"])),
        )

    per_vec = sv.select(
        F.aggregate(
            F.transform(F.sequence(F.lit(0), F.lit(m - 1)), sub_err),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_e")
    )
    return per_vec.agg(F.sum("_e")).collect()[0][0]


def pq_refine_codebooks(
    emb: DataFrame,
    codebooks: DataFrame,
    iters: int = 2,
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd refinement of PQ codebooks (the TPAMI 2011 estimator):
    assign (= ``pq_encode``, a map-only pass) → per-(sub, code)
    elementwise subvector means (posexplode partial-agg, reduced
    map-side to m·k·ds rows) → repeat. The m·k codebook is collected
    between iterations (driver-bounded, the ``kmeans_train`` pattern —
    prevents lazy-plan growth across iterations). Codewords that lose
    every vector keep their previous centroid. Iterative, so rows-only
    like ``kmeans_train``; the monotone-error property is pinned by
    tests/test_pq.py instead of an oracle."""
    spark = emb.sparkSession
    ds = dim // m
    sv = emb.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    ).localCheckpoint(eager=True)
    cur = codebooks
    for _ in range(iters):
        codes = pq_encode(sv, cur, dim=dim, m=m, k=k, id_col="vec_id", vec_col="_v")
        joined = codes.join(
            sv.select("vec_id", "_v"), "vec_id"
        ).select(
            "sub", "code",
            F.posexplode(
                F.slice(F.col("_v"), F.col("sub") * ds + 1, ds)
            ).alias("pos", "x"),
        )
        means = (
            joined.groupBy("sub", "code", "pos")
            .agg(F.avg("x").alias("mx"))
            .groupBy("sub", "code")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "mx"))).alias("pm")
            )
            .select(
                "sub", "code", F.transform("pm", lambda e: e["mx"]).alias("cvec")
            )
        )
        prev = cur.select("sub", "code", F.col("cvec").alias("_prev"))
        rows = (
            prev.join(means, ["sub", "code"], "left")
            .select(
                "sub", "code", F.coalesce(F.col("cvec"), F.col("_prev")).alias("cvec")
            )
            .collect()
        )
        cur = spark.createDataFrame(
            [(r["sub"], r["code"], [float(x) for x in r["cvec"]]) for r in rows],
            "sub int, code int, cvec array<double>",
        )
    return cur

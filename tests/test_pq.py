"""Product quantization (functions/pq.py): codebook determinism, the
row-local encode plan, the ADC ≡ reconstructed-distance identity, and
Lloyd refinement's monotone quantization error. The catalog pins the
encode/ADC pipelines cross-engine (pq_encode_corpus / ann_pq_adc_topk
hash gates); these tests pin the math and the plan shape."""

import math

import pytest
from pyspark.sql import functions as F

from kafka_streams_demo_spark.functions.pq import (
    pq_adc_topk,
    pq_encode,
    pq_quantization_error,
    pq_refine_codebooks,
    pq_sample_codebooks,
)
from kafka_streams_demo_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _cb_df(spark, rows):
    return spark.createDataFrame(rows, "sub int, code int, cvec array<double>")


def test_codebook_shapes_and_determinism(spark):
    emb = load_table(spark, "embeddings", SF)
    a = pq_sample_codebooks(emb, dim=64, m=8, k=16).collect()
    b = pq_sample_codebooks(emb, dim=64, m=8, k=16).collect()
    assert len(a) == 8 * 16
    assert sorted((r["sub"], r["code"]) for r in a) == [
        (s, c) for s in range(8) for c in range(16)
    ]
    assert all(len(r["cvec"]) == 8 for r in a)
    key = lambda r: (r["sub"], r["code"])
    assert sorted(map(tuple, a), key=lambda t: t[:2]) == sorted(
        map(tuple, b), key=lambda t: t[:2]
    )


def test_encode_codes_in_range_and_no_shuffle(spark):
    """Encode must be a map-only pass: codebooks are broadcast, the
    argmin is row-local — the physical plan contains NO Exchange (the
    100 TB contract: a corpus re-encode never shuffles)."""
    emb = load_table(spark, "embeddings", SF)
    cbs = pq_sample_codebooks(emb, dim=64, m=8, k=16)
    codes = pq_encode(emb, cbs, dim=64, m=8, k=16)
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rows = codes.collect()
    n_vec = emb.count()
    assert len(rows) == n_vec * 8
    assert all(0 <= r["code"] < 16 and 0 <= r["sub"] < 8 for r in rows)


def test_encode_picks_exact_codeword_matches(spark):
    """A vector assembled from codewords must encode to exactly those
    codes (d2 = 0 beats everything), with ties breaking to the smaller
    code."""
    cbs = _cb_df(
        spark,
        [
            (0, 0, [0.0, 0.0]), (0, 1, [1.0, 1.0]),
            (1, 0, [2.0, 2.0]), (1, 1, [3.0, 3.0]),
        ],
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 1.0, 2.0, 2.0]),   # codeword (0,1) ++ codeword (1,0)
         (2, [0.5, 0.5, 2.5, 2.5])],  # exactly between both pairs: tie → code 0
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["vec_id"], r["sub"]): r["code"]
        for r in pq_encode(emb, cbs, dim=4, m=2, k=2).collect()
    }
    assert got == {(1, 0): 1, (1, 1): 0, (2, 0): 0, (2, 1): 0}


def test_adc_equals_distance_to_reconstruction(spark):
    """The defining ADC identity: the approx distance for (q, v) IS the
    exact squared L2 distance between q and v's RECONSTRUCTION (decode
    of its codes) — replayed here in plain Python from the collected
    codebooks and codes."""
    emb = load_table(spark, "embeddings", SF).limit(60)
    cbs = pq_sample_codebooks(emb, dim=64, m=8, k=16)
    codes = pq_encode(emb, cbs, dim=64, m=8, k=16)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = pq_adc_topk(codes, queries, cbs, topk=60, dim=64, m=8, k=16).collect()

    cb = {(r["sub"], r["code"]): list(r["cvec"]) for r in cbs.collect()}
    code_map = {}
    for r in codes.collect():
        code_map.setdefault(r["vec_id"], {})[r["sub"]] = r["code"]
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    for r in got:
        q = vecs[r["q_id"]]
        recon = []
        for s in range(8):
            recon.extend(cb[(s, code_map[r["n_id"]][s])])
        d2 = sum((q[i] - recon[i]) ** 2 for i in range(64))
        assert r["adist"] == pytest.approx(d2, abs=1e-5)


def test_adc_ranks_self_reconstruction_first(spark):
    """Sanity on ranking: a query's own nearest ADC neighbor set must
    contain vectors whose reconstructions are genuinely closest —
    verified by checking the top-1 against the Python replay."""
    emb = load_table(spark, "embeddings", SF).limit(80)
    cbs = pq_sample_codebooks(emb, dim=64, m=8, k=16)
    codes = pq_encode(emb, cbs, dim=64, m=8, k=16)
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = pq_adc_topk(codes, queries, cbs, topk=80, dim=64, m=8, k=16).collect()
    by_rank = sorted(got, key=lambda r: r["rank"])
    dists = [r["adist"] for r in by_rank]
    assert dists == sorted(dists)
    assert by_rank[0]["n_id"] != 0  # self excluded


def test_refine_reduces_quantization_error(spark):
    emb = load_table(spark, "embeddings", SF).limit(200)
    cbs = pq_sample_codebooks(emb, dim=64, m=8, k=16)
    e0 = pq_quantization_error(emb, cbs, dim=64, m=8, k=16)
    refined = pq_refine_codebooks(emb, cbs, iters=2, dim=64, m=8, k=16)
    e1 = pq_quantization_error(emb, refined, dim=64, m=8, k=16)
    # Lloyd is monotone only up to the assignment's ROUND(d2, 6): a
    # rounded near-tie may pick a codeword up to ~1e-6 worse than the
    # exact argmin per (vector, subspace) — bound the slack by that
    # scale (200 vectors × 8 subspaces × 1e-6), not by float epsilon.
    assert e1 <= e0 + 200 * 8 * 1e-6
    assert e1 < e0  # on real data Lloyd strictly improves the init


def test_encode_keep_cols_parity_and_no_shuffle(spark):
    """keep_cols must not change the codes and must keep the encode pass
    map-only (the point: callers recover e.g. the IVF cell without a
    corpus-keyed re-join)."""
    emb = load_table(spark, "embeddings", SF).withColumn(
        "cell", F.col("label")
    )
    cbs = pq_sample_codebooks(emb, dim=64, m=8, k=16)
    plain = pq_encode(emb, cbs, dim=64, m=8, k=16)
    kept = pq_encode(emb, cbs, dim=64, m=8, k=16, keep_cols=("cell",))
    assert "Exchange" not in kept._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, plain.collect())) == sorted(
        (r["vec_id"], r["sub"], r["code"]) for r in kept.collect()
    )
    cells = {r["vec_id"]: r["cell"] for r in emb.select("vec_id", "cell").collect()}
    assert all(r["cell"] == cells[r["vec_id"]] for r in kept.collect())


def test_residual_quantization_beats_raw(spark):
    """Jégou §IV's motivation for IVFADC: residuals (v − centroid) have
    smaller magnitudes than raw vectors, so the same m·k codebook budget
    quantizes them with lower total reconstruction error."""
    from kafka_streams_demo_spark.functions.similarity import (
        ivf_assign,
        ivf_centroids,
    )

    emb = load_table(spark, "embeddings", SF)
    cents = ivf_centroids(emb)
    rv = (
        ivf_assign(emb, cents, n=1)
        .join(F.broadcast(cents), "cell")
        .select(
            F.col("vid").alias("vec_id"),
            F.zip_with(
                F.transform("vec", lambda x: x.cast("double")),
                F.col("centroid"),
                lambda x, c: x - c,
            ).alias("embedding"),
        )
    )
    raw_err = pq_quantization_error(
        emb, pq_sample_codebooks(emb), dim=64, m=8, k=16
    )
    res_err = pq_quantization_error(
        rv, pq_sample_codebooks(rv), dim=64, m=8, k=16
    )
    assert res_err < raw_err


def test_residual_ivfpq_adist_is_recentered_reconstruction(spark):
    """The residual-ADC identity: adist(q, v) is the exact squared L2
    between q's residual w.r.t. v's cell and the reconstruction of v's
    residual codes — replayed in plain Python from collected centroids,
    codebooks and codes."""
    from kafka_streams_demo_spark.functions.pq import ivf_pq_residual_topk
    from kafka_streams_demo_spark.functions.similarity import (
        ivf_assign,
        ivf_centroids,
    )

    emb = load_table(spark, "embeddings", SF)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = ivf_pq_residual_topk(emb, queries, topk=10, nprobe=2).collect()
    assert {r["q_id"] for r in got} == {0, 1, 2}

    cents = ivf_centroids(emb)
    cent_map = {r["cell"]: list(r["centroid"]) for r in cents.collect()}
    asg = {r["vid"]: r["cell"] for r in ivf_assign(emb, cents, n=1).collect()}
    rv = (
        ivf_assign(emb, cents, n=1)
        .join(F.broadcast(cents), "cell")
        .select(
            F.col("vid").alias("vec_id"),
            F.zip_with(
                F.transform("vec", lambda x: x.cast("double")),
                F.col("centroid"),
                lambda x, c: x - c,
            ).alias("rvec"),
        )
    )
    cbs = pq_sample_codebooks(rv, vec_col="rvec")
    cb = {(r["sub"], r["code"]): list(r["cvec"]) for r in cbs.collect()}
    code_map = {}
    for r in pq_encode(rv, cbs, vec_col="rvec").collect():
        code_map.setdefault(r["vec_id"], {})[r["sub"]] = r["code"]
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    for r in got:
        c = cent_map[asg[r["n_id"]]]
        qres = [vecs[r["q_id"]][i] - c[i] for i in range(64)]
        recon = []
        for s in range(8):
            recon.extend(cb[(s, code_map[r["n_id"]][s])])
        d2 = sum((qres[i] - recon[i]) ** 2 for i in range(64))
        assert r["adist"] == pytest.approx(d2, abs=1e-5)


def test_validation_errors(spark):
    emb = load_table(spark, "embeddings", SF)
    with pytest.raises(ValueError):
        pq_sample_codebooks(emb, dim=64, m=7)


def test_ivf_pq_probes_only_assigned_cells(spark):
    """IVF-PQ candidates must come only from each query's probed cells,
    and scores must equal the plain-ADC scores for those (q, v) pairs
    (cell pruning changes WHICH pairs are scored, never the score)."""
    from kafka_streams_demo_spark.functions.pq import ivf_pq_topk
    from kafka_streams_demo_spark.functions.similarity import (
        ivf_assign,
        ivf_centroids,
    )

    emb = load_table(spark, "embeddings", SF)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = ivf_pq_topk(emb, queries, topk=10, nprobe=2).collect()
    assert {r["q_id"] for r in got} == {0, 1, 2}
    for q_id in (0, 1, 2):
        ranks = sorted(r["rank"] for r in got if r["q_id"] == q_id)
        assert ranks == list(range(1, len(ranks) + 1))

    # cell containment: every returned neighbor sits in a probed cell
    cents = ivf_centroids(emb)
    asg = {r["vid"]: r["cell"] for r in ivf_assign(emb, cents, n=1).collect()}
    probes = {}
    for r in ivf_assign(queries, cents, n=2, id_col="q_id", vec_col="q_vec").collect():
        probes.setdefault(r["vid"], set()).add(r["cell"])
    for r in got:
        assert asg[r["n_id"]] in probes[r["q_id"]]

    # score identity vs the unpruned ADC path
    cbs = pq_sample_codebooks(emb)
    codes = pq_encode(emb, cbs)
    full = {
        (r["q_id"], r["n_id"]): r["adist"]
        for r in pq_adc_topk(codes, queries, cbs, topk=600).collect()
    }
    for r in got:
        assert full[(r["q_id"], r["n_id"])] == r["adist"]


def _ref_codes(vec, codebook_rows, m):
    """Plain-Python reference encode: per subspace, the squared distance
    to each codeword as a sequential left fold, rounded HALF_UP to 6 dp
    like Spark's round; argmin with ties to the smallest code; −1 when
    no codeword has a defined distance (a NULL or NaN element)."""
    from decimal import ROUND_HALF_UP, Decimal

    ds = len(vec) // m
    codes = {}
    for s in range(m):
        best, code = math.inf, -1
        for r in sorted(codebook_rows, key=lambda r: r["code"]):
            if r["sub"] != s:
                continue
            acc = 0.0
            for t in range(ds):
                x = vec[s * ds + t]
                d = (math.nan if x is None else x) - r["cvec"][t]
                acc += d * d
            if math.isnan(acc):
                continue
            d2 = float(Decimal(repr(acc)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))
            if d2 < best:
                best, code = d2, r["code"]
        codes[s] = code
    return codes


def test_pq_encode_arrow_branch_parity_and_no_exchange(spark):
    """The encode must emit exactly the codes of a plain-Python
    sequential-sum argmin (6-dp HALF_UP rounding, ties to the smaller
    code, −1 on no defined distance), carry keep_cols through, and plan
    no Exchange."""
    emb = load_table(spark, "embeddings", SF).withColumn("cell", F.col("label"))
    cbs = pq_sample_codebooks(emb, dim=64, m=8, k=16)
    codes = pq_encode(emb, cbs, dim=64, m=8, k=16, keep_cols=("cell",))
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    cb_rows = cbs.collect()
    want = sorted(
        (r["vec_id"], r["cell"], s, c)
        for r in emb.collect()
        for s, c in _ref_codes(list(r["embedding"]), cb_rows, 8).items()
    )
    assert sorted(map(tuple, codes.collect())) == want

    # exact ties break to the smaller code; a NULL element gives −1 in
    # its subspace only
    cbs2 = _cb_df(
        spark,
        [(0, 0, [0.0, 0.0]), (0, 1, [1.0, 1.0]),
         (1, 0, [2.0, 2.0]), (1, 1, [3.0, 3.0])],
    )
    vecs = [(2, [0.5, 0.5, 2.5, 2.5]), (3, [None, 0.5, 2.5, 2.5])]
    tied = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {
        (r["vec_id"], r["sub"]): r["code"]
        for r in pq_encode(tied, cbs2, dim=4, m=2, k=2).collect()
    }
    cb2_rows = cbs2.collect()
    assert got == {
        (i, s): c for i, v in vecs for s, c in _ref_codes(v, cb2_rows, 2).items()
    }
    assert got == {(2, 0): 0, (2, 1): 0, (3, 0): -1, (3, 1): 0}


def test_pq_encode_malformed_vector_guards(spark):
    """ADVICE r8: a vector shorter than dim must FAIL the encode (the
    kernel's length check), not silently emit code −1; and a vector with
    a NULL element (whose codes legitimately go −1) must be EXCLUDED from ADC
    ranking by the exactly-m-entries group guard, not ranked with a
    spuriously small partial sum."""
    cbs = _cb_df(
        spark,
        [(0, 0, [0.0, 0.0]), (0, 1, [1.0, 1.0]),
         (1, 0, [2.0, 2.0]), (1, 1, [3.0, 3.0])],
    )
    short = spark.createDataFrame(
        [(1, [1.0, 1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="length != dim"):
        pq_encode(short, cbs, dim=4, m=2, k=2).collect()

    nulled = spark.createDataFrame(
        [(1, [1.0, 1.0, 2.0, 2.0]), (2, [1.0, None, 2.0, 2.0]),
         (9, [0.0, 0.0, 2.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    codes = pq_encode(nulled, cbs, dim=4, m=2, k=2)
    got = {(r["vec_id"], r["sub"]): r["code"] for r in codes.collect()}
    assert got[(2, 0)] == -1        # NULL element subspace → no-match code
    assert got[(2, 1)] == 0         # clean subspace still encodes
    queries = spark.createDataFrame(
        [(9, [0.0, 0.0, 2.0, 2.0])], "q_id long, q_vec array<float>"
    )
    ranked = pq_adc_topk(codes, queries, cbs, topk=10, dim=4, m=2, k=2).collect()
    assert {r["n_id"] for r in ranked} == {1}  # vec 2 excluded, never ranked


def test_pq_encode_kernel_pickle_small_at_production_codebook(spark):
    """VERDICT r9 task 2: the Arrow encode kernel must NOT capture the
    codebook matrices in its pickled closure — at a synthetic m=8 ×
    k=8,192 × ds=4 codebook (2 MB of float64) the closure pickle stays
    under 1 MB because the matrices ride an explicit
    SparkContext.broadcast (shipped once per executor)."""
    import numpy as np

    from pyspark import cloudpickle

    from kafka_streams_demo_spark.functions.pq import (
        _make_pq_encode_kernel,
        _pq_encode_broadcast,
    )

    rng = np.random.RandomState(11)
    m, k, ds = 8, 8192, 4
    by_sub = {
        s: [(c, [float(x) for x in rng.normal(size=ds)]) for c in range(k)]
        for s in range(m)
    }
    sc = spark.sparkContext
    bc = _pq_encode_broadcast(sc, by_sub, m)
    try:
        kernel = _make_pq_encode_kernel(bc, dim=m * ds, m=m, keep_cols=())
        n = len(cloudpickle.dumps(kernel))
        assert n < (1 << 20), f"kernel closure pickle is {n} bytes"
    finally:
        sc._pickled_broadcast_vars.clear()
        bc.destroy()

"""Product-quantization tests — the PQ twin of the IVF suite
(test_ann.py): (a) full-refine configuration equals exact top-k
EXACTLY, (b) honest ADC-only recall stays in a band on realistic data,
(c) encode determinism and code-space bounds."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from picovdb_spark.operators.pq import PqIndex, fit_pq, pq_encode
from picovdb_spark.operators.similarity import batch_query
from picovdb_spark.schema import K_ID, K_VECTOR, load_embeddings_store, load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_embeddings_store(spark, sf_dir)


@pytest.fixture(scope="module")
def queries(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").cast("string").alias("query_id"),
            F.col("embedding").alias(K_VECTOR),
        )
    )


@pytest.fixture(scope="module")
def index(emb):
    return PqIndex.build(emb, m=16, k=64, seed=42)


def _hits(df):
    return {
        (r["query_id"], r["rank"]): r[K_ID]
        for r in df.collect()
    }


def test_full_refine_equals_exact(emb, queries, index):
    """refine_k >= store size: candidates = everything, rescored exactly
    — must match the exact GEMM path bit-for-bit (scores and ranks)."""
    n = emb.count()
    exact = batch_query(emb, queries, top_k=5, method="gemm")
    pq = index.query(queries, top_k=5, refine_k=n)
    a = sorted((r["query_id"], r["rank"], r[K_ID], r[K_METRICS_]) for r in _rows(exact))
    b = sorted((r["query_id"], r["rank"], r[K_ID], r[K_METRICS_]) for r in _rows(pq))
    assert a == b


K_METRICS_ = "_metrics_"


def _rows(df):
    return df.collect()


def test_adc_recall_band(emb, queries, index):
    """ADC-only top-10 must recover most of the exact top-10 (the
    embeddings table is clustered synthetic data; m=16 subspaces of
    4 dims, k=64 codewords = 16 bytes/vector vs 256 raw). Pin a floor,
    not exactness."""
    exact = batch_query(emb, queries, top_k=10, method="gemm")
    adc = index.query(queries, top_k=10)
    e = {}
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r[K_ID])
    a = {}
    for r in adc.collect():
        a.setdefault(r["query_id"], set()).add(r[K_ID])
    recalls = [len(e[q] & a.get(q, set())) / len(e[q]) for q in e]
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_partial_refine_improves_or_matches_adc(emb, queries, index):
    """Rescoring the ADC top-50 exactly must not lose recall vs ADC@10
    (refine can only promote true neighbors into the final 10)."""
    exact = batch_query(emb, queries, top_k=10, method="gemm")
    ref = index.query(queries, top_k=10, refine_k=50)
    adc = index.query(queries, top_k=10)
    def rec(df):
        h = {}
        for r in df.collect():
            h.setdefault(r["query_id"], set()).add(r[K_ID])
        e = {}
        for r in exact.collect():
            e.setdefault(r["query_id"], set()).add(r[K_ID])
        return sum(len(e[q] & h.get(q, set())) / len(e[q]) for q in e) / len(e)
    assert rec(ref) >= rec(adc) - 1e-9
    assert rec(ref) >= 0.8


def test_encode_bounds_and_determinism(spark, emb):
    books = fit_pq(emb, m=8, k=16, sample_size=500, seed=7)
    assert books.shape == (8, 16, 8)  # dim 64 / m 8
    c1 = pq_encode(emb, books).orderBy(K_ID).collect()
    c2 = pq_encode(emb, books).orderBy(K_ID).collect()
    assert [r["codes"] for r in c1] == [r["codes"] for r in c2]
    flat = [c for r in c1 for c in r["codes"]]
    assert min(flat) >= 0 and max(flat) < 16
    assert all(len(r["codes"]) == 8 for r in c1)


def test_dim_not_divisible_raises(spark):
    df = spark.createDataFrame(
        [("a", [1.0, 2.0, 3.0])], schema=f"{K_ID} string, {K_VECTOR} array<double>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        fit_pq(df, m=2, k=4, sample_size=10)


def test_build_filters_tombstones(spark, emb, queries):
    """Deleted rows must never be encoded into the PQ index (same rule
    as IvfIndex/IvfPqIndex.build)."""
    from pyspark.sql import functions as F

    from picovdb_spark.schema import K_DELETED

    with_deleted = emb.withColumn(K_DELETED, F.col(K_ID).cast("long") < 100)
    idx = PqIndex.build(with_deleted, m=16, k=16, seed=7)
    n_live = with_deleted.filter(~F.col(K_DELETED)).count()
    assert idx.codes.count() == n_live
    hits = idx.query(queries, top_k=10).collect()
    assert all(int(r[K_ID]) >= 100 for r in hits)


def test_oversized_adc_tables_fail_fast(spark, emb, queries, index, monkeypatch):
    """The (nq, m, k) float32 ADC tables broadcast to every executor;
    past the ceiling the query must fail fast with chunking guidance."""
    from picovdb_spark.operators import pq as pq_mod

    monkeypatch.setattr(pq_mod, "MAX_ADC_TABLE_BYTES", 64)
    with pytest.raises(ValueError, match="split the query batch"):
        index.query(queries, top_k=3)


def subspace_codes_f64(v: np.ndarray, books: np.ndarray) -> np.ndarray:
    """The pure-float64 per-subspace argmin over the full codebook: the
    reference twin of `pq._subspace_codes_f32`'s float32 prescan."""
    m, _, dsub = books.shape
    codes = np.empty((len(v), m), dtype=np.int32)
    for s in range(m):
        xs = v[:, s * dsub : (s + 1) * dsub]
        cent = books[s]
        d2 = (
            (xs * xs).sum(axis=1)[:, None]
            - 2.0 * (xs @ cent.T)
            + (cent * cent).sum(axis=1)[None, :]
        )
        codes[:, s] = np.argmin(d2, axis=1)
    return codes


def test_pq_encode_prescan_matches_f64(spark, emb):
    """`pq_encode`'s float32-prescan codes must equal the pure-float64
    argmin of the same unit rows — on the real store AND on adversarial
    tie data (duplicate centroids, centroids a last-f32-bit apart, zero
    vectors). The margin math is in _subspace_codes_f32's docstring."""
    from picovdb_spark.operators.kernels import _unit_rows

    books = fit_pq(emb, m=8, k=16, sample_size=500, seed=7)
    # adversarial codebook: duplicate centroid (exact tie -> first-index
    # win must survive), and a near-tie pair one f32 ulp apart
    adv = books.copy()
    adv[0, 3] = adv[0, 1]                      # exact duplicate
    adv[2, 5] = np.nextafter(
        adv[2, 4].astype(np.float32), np.float32(1.0)
    ).astype(np.float64)                       # ~1 f32 ulp from neighbor
    rows = emb.limit(200)
    zero = spark.createDataFrame(
        [("z0", [0.0] * 64), ("z1", [1e-30] * 64)],
        schema=f"{K_ID} string, {K_VECTOR} array<double>",
    )
    cases = [(books, rows), (adv, rows), (adv, zero)]
    for bk, df in cases:
        got = {r[K_ID]: r["codes"] for r in pq_encode(df, bk).collect()}
        src = df.select(K_ID, K_VECTOR).collect()
        unit = _unit_rows(np.array([r[K_VECTOR] for r in src], dtype=np.float64))
        want = {r[K_ID]: c.tolist() for r, c in zip(src, subspace_codes_f64(unit, bk))}
        assert got == want

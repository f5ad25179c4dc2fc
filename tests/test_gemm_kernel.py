"""The certified top-k kernel (`operators/kernels.py`): a float32 prescan
certified by `prescan_error_bound`, float64 rescoring of the survivors,
and the metadata `batch_query`'s scoring task emits with each row.

Every exact scorer built on it — `batch_query`, `knn_join_blocked`,
`ann_query` at full probe and the resident store's `query` and
`query_local` — must return exactly the rows and scores of a
brute force that rescores EVERY store row with the same float64 routine
(`_exact_cosines`), on inputs built to sit on the
prescan's weak spots: duplicate rows, rows one ulp apart, scores on a
rounding boundary, zero vectors, NaN rows, double-precision stores and
multi-batch tasks."""

import datetime as dt
import json
import os
import runpy
import subprocess
import sys
import textwrap

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from picovdb_spark import _openblas_core
from picovdb_spark.operators.kernels import (
    F32_MIN_NORM2,
    _exact_cosines,
    _prescan,
    _unit_rows,
    prescan_error_bound,
)
from picovdb_spark.operators.similarity import batch_query, normalize_query_matrix
from picovdb_spark.schema import K_ID, K_METRICS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


def brute_force(qids, qmat, ids, vecs, top_k, round_to=6, exclude_self=False):
    """Rescore every row with the kernel's float64 routine; rank by
    (NaN first, rounded score desc, id asc). `exclude_self` drops the
    rows whose id equals the query's."""
    qids, q = normalize_query_matrix(qids, qmat)
    vecs = np.asarray(vecs)
    nq, n = len(q), len(vecs)
    qi, vi = np.repeat(np.arange(nq), n), np.tile(np.arange(n), nq)
    with np.errstate(invalid="ignore"):
        score = np.round(_exact_cosines(q, vecs, qi, vi), round_to).reshape(nq, n)
    out = []
    for a in range(nq):
        neg = np.where(np.isnan(score[a]), -np.inf, -score[a])  # NaN sorts first
        order = sorted(range(n), key=lambda j: (neg[j], ids[j]))
        if exclude_self:
            order = [j for j in order if ids[j] != qids[a]]
        for rank, j in enumerate(order[:top_k], start=1):
            out.append((qids[a], ids[j], repr(float(score[a, j])), rank))
    return sorted(out)


def rows_of(df):
    return sorted((r["query_id"], r[K_ID], repr(r[K_METRICS]), r["rank"]) for r in df.collect())


def local_rows(qid, hits):
    """`query_local`'s hits in `rows_of`'s form."""
    return [(qid, h[K_ID], repr(h[K_METRICS]), h["rank"]) for h in hits]


def query_frame(spark, qids, qmat):
    """Queries as an array<double> frame: every scorer reads the same
    float64 values the (ids, matrix) form carries."""
    rows = [(q, [float(x) for x in v]) for q, v in zip(qids, qmat)]
    return spark.createDataFrame(rows, "query_id string, _vector_ array<double>")


def vector_store(spark, ids, vecs, double=False, partitions=1):
    t = "double" if double else "float"
    rows = [(i, [float(x) for x in v]) for i, v in zip(ids, vecs)]
    df = spark.createDataFrame(rows, f"{K_ID} string, _vector_ array<{t}>")
    return df.repartition(partitions)


def test_nan_rows_rank_first_like_sql(spark):
    """A partition holding ≥ top_k NaN rows used to make the k-th score
    NaN and return nothing; NaN now ranks greatest, as in Spark's sort."""
    rows = [(f"n{i}", [float("nan"), 1.0]) for i in range(3)]
    rows += [(f"m{i}", [1.0, float(i)]) for i in range(3)]
    store = spark.createDataFrame(rows, f"{K_ID} string, _vector_ array<float>").coalesce(1)
    q = spark.createDataFrame([("q", [1.0, 0.5])], "query_id string, _vector_ array<float>")
    got = {}
    for method in ("sql", "gemm"):
        out = batch_query(store, q, top_k=2, method=method).orderBy("rank").collect()
        got[method] = [(r[K_ID], repr(r[K_METRICS])) for r in out]
    assert got["gemm"] == got["sql"] == [("n0", "nan"), ("n1", "nan")]


def test_nan_query_ranks_rows_by_id_like_sql(spark):
    store = vector_store(spark, ["c", "a", "b"], [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]])
    q = spark.createDataFrame(
        [("q", [float("nan"), 1.0])], "query_id string, _vector_ array<float>"
    )
    got = {}
    for method in ("sql", "gemm"):
        out = batch_query(store, q, top_k=2, method=method).orderBy("rank").collect()
        got[method] = [(r[K_ID], repr(r[K_METRICS])) for r in out]
    assert got["gemm"] == got["sql"] == [("a", "nan"), ("b", "nan")]


def adversarial_store(seed, n, d, n_dup, n_ulp, n_edge, n_zero, n_tiny):
    """A store whose scores against query 0 (the returned unit vector)
    crowd the prescan's margins."""
    rng = np.random.default_rng(seed)
    q0 = rng.standard_normal(d)
    q0 /= np.linalg.norm(q0)
    perp = rng.standard_normal(d)
    perp -= (perp @ q0) * q0
    perp /= np.linalg.norm(perp)
    vecs = [rng.standard_normal(d).astype(np.float32) for _ in range(n)]
    for _ in range(n_dup):  # exact duplicate of a row
        vecs.append(vecs[rng.integers(len(vecs))].copy())
    for _ in range(n_ulp):  # one ulp away from a row in one component
        v = vecs[rng.integers(len(vecs))].copy()
        j = rng.integers(d)
        v[j] = np.nextafter(v[j], np.float32(np.inf))
        vecs.append(v)
    # cosines with q0 crowding one 6-decimal rounding edge, closer than
    # the prescan's error: the k-th boundary falls inside the crowd
    edge = (rng.integers(500_000, 950_000) + 0.5) * 1e-6
    for _ in range(n_edge):
        c = edge + rng.integers(-30, 31) * 1e-8
        vecs.append((c * q0 + np.sqrt(1.0 - c * c) * perp).astype(np.float32))
    vecs += [np.zeros(d, dtype=np.float32)] * n_zero
    for _ in range(n_tiny):  # q0's direction, but its squares underflow in float32
        vecs.append((q0 * 1e-25).astype(np.float32))
    return q0, np.array(vecs)


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    seed=st.integers(0, 2**32 - 1),
    n=st.integers(1, 30),
    d=st.sampled_from([2, 3, 8, 33]),
    n_dup=st.integers(0, 4),
    n_ulp=st.integers(0, 4),
    n_edge=st.integers(0, 16),
    n_zero=st.integers(0, 2),
    n_tiny=st.integers(0, 1),
    double=st.booleans(),
    top_k=st.integers(1, 6),
    max_batch=st.sampled_from(["3", "7", "10000"]),
    partitions=st.integers(1, 3),
)
def test_kernel_equals_brute_force_on_adversarial_ties(
    spark, seed, n, d, n_dup, n_ulp, n_edge, n_zero, n_tiny, double, top_k, max_batch, partitions
):
    q0, vecs = adversarial_store(seed, n, d, n_dup, n_ulp, n_edge, n_zero, n_tiny)
    if double:
        # an array<double> store: values the float32 prescan must round
        vecs = vecs.astype(np.float64) * (1.0 + 1e-9)
    ids = [f"r{j:03d}" for j in range(len(vecs))]
    rng = np.random.default_rng(seed + 1)
    qmat = np.stack([q0, vecs[0], np.zeros(d), rng.standard_normal(d)])
    qids = ["edge", "row0", "zero", "rand"]
    store = vector_store(spark, ids, vecs, double=double, partitions=partitions)
    old = spark.conf.get(MAX_BATCH)
    spark.conf.set(MAX_BATCH, max_batch)
    try:
        got = rows_of(batch_query(store, (qids, qmat), top_k=top_k, method="gemm"))
    finally:
        spark.conf.set(MAX_BATCH, old)
    assert got == brute_force(qids, qmat, ids, vecs, top_k)


def full_probe_index(store, n_centroids, seed):
    from picovdb_spark.operators.ann import IvfIndex

    return IvfIndex.build(store, n_centroids=n_centroids, seed=seed)


def resident_rows(rs, qdf, qids, qmat, top_k, **kw):
    """(`query` rows, `query_local` rows) of a materialized resident store."""
    dist = rows_of(rs.query(qdf, top_k=top_k, **kw))
    local = sorted(
        r for q, v in zip(qids, qmat) for r in local_rows(q, rs.query_local(v, top_k=top_k, **kw))
    )
    return dist, local


def knn_rows(qdf, store, top_k, **kw):
    from picovdb_spark.operators.similarity import knn_join_blocked

    return rows_of(
        knn_join_blocked(
            qdf, store, k=top_k, left_id="query_id", right_id=K_ID,
            left_vec="_vector_", right_vec="_vector_", **kw,
        )
    )


def test_nan_rows_answer_like_sql_in_every_scorer(spark):
    """One partition holding ≥ top_k NaN rows: the padded and
    full-matrix selection rules returned no rows at all. Every scorer
    now gives `method="sql"`'s answer: the NaN rows first, by id."""
    from picovdb_spark.operators.ann import ann_query
    from picovdb_spark.operators.resident import ResidentStore

    clean = [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("c", [0.0, 1.0])]
    nan = [(f"n{i}", [float("nan"), 1.0]) for i in range(3)]
    schema = f"{K_ID} string, _vector_ array<float>"
    store = spark.createDataFrame(clean + nan, schema).coalesce(1)
    qids, qmat = ["q"], np.array([[1.0, 0.0]])
    qdf = query_frame(spark, qids, qmat)
    want = rows_of(batch_query(store, qdf, top_k=2, method="sql"))
    assert [(r[1], r[2]) for r in want] == [("n0", "nan"), ("n1", "nan")]

    got = {}
    got["gemm"] = rows_of(batch_query(store, qdf, top_k=2))
    got["knn"] = knn_rows(qdf, store, 2, left_blocks=1, right_blocks=1)
    index = full_probe_index(spark.createDataFrame(clean, schema), 2, 42)
    index = index.add(spark.createDataFrame(nan, schema), auto_refit=False)
    got["ann"] = rows_of(ann_query(index, qdf, top_k=2, nprobe=2))
    with ResidentStore(store) as rs:
        got["resident"], got["resident_local"] = resident_rows(rs, qdf, qids, qmat, 2)
    with ResidentStore(store, centroids=np.eye(2)) as rs:
        got["ivf"], got["ivf_local"] = resident_rows(rs, qdf, qids, qmat, 2, nprobe=2)
    assert got == {name: want for name in got}


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    seed=st.integers(0, 2**32 - 1),
    n=st.integers(1, 30),
    d=st.sampled_from([2, 3, 8, 33]),
    n_dup=st.integers(0, 4),
    n_ulp=st.integers(0, 4),
    n_edge=st.integers(0, 16),
    n_zero=st.integers(0, 2),
    n_tiny=st.integers(0, 1),
    double=st.booleans(),
    top_k=st.integers(1, 6),
    exclude_self=st.booleans(),
    blocks=st.tuples(st.integers(1, 3), st.integers(1, 3)),
    max_batch=st.sampled_from(["3", "10000"]),
)
def test_every_exact_scorer_equals_brute_force(
    spark, seed, n, d, n_dup, n_ulp, n_edge, n_zero, n_tiny, double, top_k, exclude_self,
    blocks, max_batch,
):
    """`knn_join_blocked` (with and without `exclude_self`), `ann_query`
    at full probe and the resident store's `query` and `query_local`,
    with routing off and at full probe,
    on the adversarial stores: exactly the brute force's rows and
    scores, with no tolerance."""
    from picovdb_spark.operators.ann import ann_query
    from picovdb_spark.operators.resident import ResidentStore

    q0, vecs = adversarial_store(seed, n, d, n_dup, n_ulp, n_edge, n_zero, n_tiny)
    if double:
        vecs = vecs.astype(np.float64) * (1.0 + 1e-9)
    ids = [f"r{j:03d}" for j in range(len(vecs))]
    rng = np.random.default_rng(seed + 1)
    qmat = np.stack([q0, vecs[0], np.zeros(d), rng.standard_normal(d)])
    qids = ["edge", "r000", "zero", "rand"]  # "r000" is also a store id
    store = vector_store(spark, ids, vecs, double=double, partitions=2)
    qdf = query_frame(spark, qids, qmat)
    want = brute_force(qids, qmat, ids, vecs, top_k)
    lb, rb = blocks
    assert knn_rows(
        qdf, store, top_k, left_blocks=lb, right_blocks=rb, exclude_self=exclude_self
    ) == brute_force(qids, qmat, ids, vecs, top_k, exclude_self=exclude_self)
    n_cent = min(3, len(vecs))
    old = spark.conf.get(MAX_BATCH)
    spark.conf.set(MAX_BATCH, max_batch)
    try:
        index = full_probe_index(store, n_cent, seed % 1000)
        assert rows_of(ann_query(index, qdf, top_k=top_k, nprobe=n_cent)) == want
    finally:
        spark.conf.set(MAX_BATCH, old)
    with ResidentStore(store) as rs:
        assert resident_rows(rs, qdf, qids, qmat, top_k) == (want, want)
    with ResidentStore(store, n_centroids=n_cent, seed=seed % 1000) as rs:
        assert resident_rows(rs, qdf, qids, qmat, top_k, nprobe=n_cent) == (want, want)


def test_prescan_error_within_bound():
    """|prescan − exact| ≤ M(d) wherever the prescan is sure, on float32
    and float64 stores spanning a wide range of magnitudes."""
    rng = np.random.default_rng(3)
    for d in (2, 17, 256, 1024):
        q = _unit_rows(rng.standard_normal((6, d)))
        v = rng.standard_normal((400, d)) * np.exp(rng.uniform(-18, 18, (400, 1)))
        v[:5] = q[:5] * 7.0  # exact self-matches
        v[5, : d // 2] = 1e-30  # mixed magnitudes in one row
        for src in (v.astype(np.float32), v):
            pre, sure = _prescan(q.astype(np.float32), src)
            unit = _unit_rows(np.asarray(src, dtype=np.float64))
            exact = q @ unit.T
            assert sure.all()
            assert np.abs(pre[:, sure] - exact[:, sure]).max() <= prescan_error_bound(d)
    assert prescan_error_bound(1 << 21) == float("inf")


def test_prescan_flags_underflow_and_keeps_e0():
    src = np.array([[0.0, 0.0], [1e-25, 0.0], [3.0, 4.0], [np.nan, 1.0], [np.inf, 0.0]], np.float32)
    q = np.array([[0.6, 0.8]], np.float32)
    pre, sure = _prescan(q, src)
    assert sure.tolist() == [True, False, True, False, False]
    assert pre[0, 0] == np.float32(0.6)  # zero row ⇒ e₀
    assert np.float32(1e-25) ** 2 < F32_MIN_NORM2


# --------------------------------------------------------------- metadata


@pytest.fixture(scope="module")
def typed_store(spark):
    rng = np.random.default_rng(11)
    rows = []
    for i in range(40):
        rows.append(
            (
                f"r{i:02d}",
                [float(x) for x in rng.standard_normal(6).astype(np.float32)],
                None if i % 7 == 0 else f"s{i}",
                None if i % 5 == 0 else i,
                None if i % 9 == 0 else i % 2 == 0,
                None if i % 6 == 0 else i / 3,
                None if i % 8 == 0 else dt.datetime(2024, 1, 1 + i % 28, 12, i),
                None if i % 10 == 0 else [i, None, i + 1],
                None if i % 11 == 0 else (i, f"t{i}"),
            )
        )
    schema = (
        f"{K_ID} string, _vector_ array<float>, s string, i int, b boolean, x double, "
        "ts timestamp, arr array<int>, st struct<a:int,b:string>"
    )
    return spark.createDataFrame(rows, schema).repartition(3).cache()


@pytest.fixture(scope="module")
def typed_queries(spark):
    rng = np.random.default_rng(12)
    return spark.createDataFrame(
        [(f"q{j}", [float(x) for x in rng.standard_normal(6)]) for j in range(4)],
        "query_id string, _vector_ array<float>",
    )


def same_as_sql(store, queries, **kw):
    gemm = batch_query(store, queries, method="gemm", **kw)
    sql = batch_query(store, queries, method="sql", **kw)
    assert gemm.schema.simpleString() == sql.schema.simpleString()
    got = sorted(map(repr, gemm.collect()))
    assert got == sorted(map(repr, sql.collect()))
    return gemm, got


def test_metadata_types_and_nulls_match_sql(typed_store, typed_queries):
    gemm, got = same_as_sql(typed_store, typed_queries, top_k=5)
    assert gemm.columns == [
        "query_id", K_ID, "s", "i", "b", "x", "ts", "arr", "st", K_METRICS, "rank"
    ]
    assert len(got) == 20
    assert any("None" in r for r in got)


def test_include_vector_matches_sql(typed_store, typed_queries):
    gemm, _ = same_as_sql(typed_store, typed_queries, top_k=3, include_vector=True)
    assert gemm.columns[:3] == ["query_id", K_ID, "_vector_"]


def test_user_rank_column_yields_engine_rank(typed_store, typed_queries):
    store = typed_store.withColumnRenamed("i", "rank")
    gemm, _ = same_as_sql(store, typed_queries, top_k=3)
    assert gemm.columns[-2:] == [K_METRICS, "_rank_"] and "rank" in gemm.columns


def test_id_vector_only_store(typed_store, typed_queries):
    gemm, _ = same_as_sql(typed_store.select(K_ID, "_vector_"), typed_queries, top_k=3)
    assert gemm.columns == ["query_id", K_ID, K_METRICS, "rank"]


def test_empty_query_batch_keeps_the_schema(typed_store, typed_queries):
    full = batch_query(typed_store, typed_queries, top_k=3, method="gemm")
    for empty in (typed_queries.filter("false"), ([], np.empty((0, 6)))):
        out = batch_query(typed_store, empty, top_k=3, method="gemm")
        assert out.schema.simpleString() == full.schema.simpleString()
        assert out.count() == 0
    assert batch_query(typed_store, typed_queries, top_k=0, method="gemm").count() == 0


def test_duplicate_ids_emit_each_scored_row_once(typed_store, typed_queries):
    """Two store rows sharing an `_id_` are two candidates: each is
    returned at most once per query, with its own metadata — as in the
    SQL path. (A join back on `_id_` would pair each with both rows'
    metadata.)"""
    dup = typed_store.unionByName(
        typed_store.filter(F.col(K_ID) < "r10").withColumn("s", F.lit("copy"))
    )
    gemm, got = same_as_sql(dup, typed_queries, top_k=6)
    rows = gemm.collect()
    assert len(rows) == 24
    keys = [(r["query_id"], r[K_ID], r["s"]) for r in rows]
    assert len(set(keys)) == len(keys)


# ---------------------------------------------------------------- BLAS


_BLAS_SCRIPT = """
import json, sys
sys.path.insert(0, {root!r})
import picovdb_spark
import numpy as np
from picovdb_spark import batch_query, get_spark
from picovdb_spark.session import openblas_core_name

def store_and_queries(spark):
    rng = np.random.default_rng(5)
    m = rng.standard_normal((3000, 64)).astype(np.float32)
    m[1500:1520] = m[0]
    rows = [(f"v{{i}}", [float(x) for x in r]) for i, r in enumerate(m)]
    store = spark.createDataFrame(rows, "_id_ string, _vector_ array<float>").repartition(3)
    q = np.concatenate([m[:20].astype(np.float64), rng.standard_normal((80, 64))])
    return store, ([str(i) for i in range(100)], q)

def answer(spark):
    store, q = store_and_queries(spark)
    out = {{}}
    for r in (6, 17):
        rows = batch_query(store, q, top_k=7, method="gemm", round_to=r).collect()
        out[r] = sorted((x.query_id, x._id_, repr(x._metrics_), x.rank) for x in rows)
    return out

def core(spark):
    def probe(batches):
        import pyarrow as pa
        from picovdb_spark.session import openblas_core_name
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({{"core": [str(openblas_core_name())]}})
    return spark.range(1, numPartitions=1).mapInArrow(probe, "core string").first().core

if __name__ == "__main__":
    spark = get_spark("blas-independence")
    print(json.dumps({{"core": core(spark), "rows": answer(spark)}}))
    spark.stop()
"""


def test_rows_do_not_depend_on_blas_kernels(spark, tmp_path):
    """The prescan's sgemm runs on whichever OpenBLAS kernels the worker
    loaded, but the emitted rows come from the non-BLAS float64 rescore:
    SSE3 `Prescott` kernels and the host's own must agree bit for bit,
    also at round_to=17, which keeps every bit a BLAS-dependent sum
    would change."""
    expected = _openblas_core()
    if expected is None or os.environ.get("OPENBLAS_CORETYPE", expected) != expected:
        pytest.skip("the workers already run a non-default OpenBLAS core")
    script = tmp_path / "blas_drive.py"
    script.write_text(textwrap.dedent(_BLAS_SCRIPT.format(root=ROOT)))
    env = {**os.environ, "OPENBLAS_CORETYPE": "Prescott"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    prescott = json.loads(out.stdout.strip().splitlines()[-1])
    if prescott["core"] == "None":
        pytest.skip("NumPy is not linked to OpenBLAS")
    assert prescott["core"].lower() == "prescott"

    drive = runpy.run_path(str(script))  # same inputs, this session's kernels
    here = json.loads(json.dumps(drive["answer"](spark)))
    assert drive["core"](spark).lower() == expected.lower()
    assert here == prescott["rows"]

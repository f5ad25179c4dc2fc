"""Core operator tests: filtered batch top-k cosine search.

Mirrors the reference's dual-path equivalence strategy (SURVEY.md §5):
SQL-expression path == GEMM path == independent NumPy oracle, on the
driver-generated deterministic testdata.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F
from test_gemm_kernel import brute_force, rows_of

from picovdb_spark.operators.similarity import batch_query, knn_join, query_one
from picovdb_spark.schema import K_ID, K_METRICS, load_embeddings_store, load_table


@pytest.fixture(scope="module")
def store(spark, sf_dir):
    return load_embeddings_store(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def queries(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("string").alias("query_id"),
        F.col("embedding").alias("_vector_"),
    )


def brute_force_of(left, right, k, **kw):
    """The float64 brute force of tests/test_gemm_kernel.py over two
    (id, vector) frames."""
    lrows, rrows = left.collect(), right.collect()
    qids = [str(r[0]) for r in lrows]
    qmat = np.array([r[1] for r in lrows], dtype=np.float64)
    ids = [str(r[0]) for r in rrows]
    vecs = np.array([r[1] for r in rrows], dtype=np.float64)
    return brute_force(qids, qmat, ids, vecs, k, **kw)


@pytest.fixture(scope="module")
def np_data(sf_dir):
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, embedding, label FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    labels = np.array([r[2] for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    return ids, mat, labels


def np_topk(np_data, qid, k=10, label_eq=None):
    """Independent oracle: rank by (rounded score desc, id-string asc)."""
    ids, mat, labels = np_data
    q = mat[list(ids).index(qid)]
    scores = np.round(mat @ q, 6)
    mask = np.ones(len(ids), dtype=bool)
    if label_eq is not None:
        mask &= labels == label_eq
    cand = [(scores[i], str(ids[i])) for i in range(len(ids)) if mask[i]]
    cand.sort(key=lambda t: (-t[0], t[1]))
    return cand[:k]


def test_sql_path_matches_numpy_oracle(store, queries, np_data):
    res = batch_query(store, queries, top_k=10).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r[K_METRICS], r[K_ID], r["rank"]))
    assert set(by_q) == {str(i) for i in range(8)}
    for qid_s, hits in by_q.items():
        hits.sort(key=lambda t: t[2])
        expected = np_topk(np_data, int(qid_s), k=10)
        assert [(h[1], h[0]) for h in hits] == [(i, s) for s, i in expected]
        # self-match scores ~1.0 at rank 1 (store invariant)
        assert hits[0][1] == qid_s and hits[0][0] == pytest.approx(1.0, abs=1e-6)


def test_gemm_path_equals_sql_path(store, queries):
    a = batch_query(store, queries, top_k=10, method="sql")
    b = batch_query(store, queries, top_k=10, method="gemm")
    ka = {(r["query_id"], r[K_ID], r[K_METRICS], r["rank"]) for r in a.collect()}
    kb = {(r["query_id"], r[K_ID], r[K_METRICS], r["rank"]) for r in b.collect()}
    assert ka == kb
    assert sorted(a.columns) == sorted(b.columns)


def test_where_eq_prefilter(store, queries, np_data):
    res = batch_query(store, queries, top_k=5, where={"label": 3}).collect()
    assert res and all(r["label"] == 3 for r in res)
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r[K_METRICS], r[K_ID]))
    for qid_s, hits in by_q.items():
        hits.sort(key=lambda t: (-t[0], t[1]))
        assert hits == np_topk(np_data, int(qid_s), k=5, label_eq=3)


def test_where_in_prefilter(store, queries):
    res = batch_query(store, queries, top_k=5, where={"label": {"$in": [1, 2]}}).collect()
    assert res and all(r["label"] in (1, 2) for r in res)


def test_where_callable_equals_dict(store, queries):
    """Q7: arbitrary Python predicate ≡ dict where (pico_vdb.py:643-648;
    mirrors tests/test_task34_prefilter.py equivalence)."""
    a = batch_query(store, queries, top_k=5, where={"label": 3})
    b = batch_query(store, queries, top_k=5, where=lambda m: m["label"] == 3)
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_ids_prefilter(store, queries):
    allow = [str(i) for i in range(50)]
    res = batch_query(store, queries, top_k=5, ids=allow).collect()
    assert res and all(r[K_ID] in set(allow) for r in res)
    # missing ids silently dropped (pico_vdb.py:606-612)
    res2 = batch_query(store, queries, top_k=5, ids=["1", "2", "999999999"]).collect()
    assert all(r[K_ID] in {"1", "2"} for r in res2)


def test_ids_and_where_conjunction(store, queries):
    allow = [str(i) for i in range(100)]
    res = batch_query(store, queries, top_k=10, ids=allow, where={"label": 5}).collect()
    assert all(r[K_ID] in set(allow) and r["label"] == 5 for r in res)


def test_better_than_threshold(store, queries):
    res = batch_query(store, queries, top_k=10, better_than=0.5).collect()
    assert all(r[K_METRICS] >= 0.5 for r in res)
    # every query keeps its self-match (score 1.0)
    assert {r["query_id"] for r in res} == {str(i) for i in range(8)}


def test_query_one_unwraps_single_vector(store, spark, sf_dir):
    vec = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).first()["embedding"]
    res = query_one(store, list(vec), top_k=3).collect()
    assert len(res) == 3
    assert res[0][K_ID] == "0" if res[0]["rank"] == 1 else True
    ranks = sorted(r["rank"] for r in res)
    assert ranks == [1, 2, 3]


def test_empty_candidate_set_yields_no_rows(store, queries):
    """Q3: empty store early-out ≡ empty result, no error."""
    res = batch_query(store, queries, top_k=5, where={"label": -42}).collect()
    assert res == []


def test_knn_join_self(store, spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    res = knn_join(
        emb, emb, k=3, left_id="vec_id", right_id="vec_id",
        left_vec="embedding", right_vec="embedding", exclude_self=True,
    ).collect()
    assert len(res) == 20 * 3
    assert all(r["query_id"] != r[K_ID] for r in res)


def test_knn_join_blocked_matches_broadcast(store, spark, sf_dir):
    """The cogrouped block-nested-loop form must return exactly the
    broadcast baseline's rows — across a non-square grid whose cell
    boundaries the global merge must cross, with and without self.
    AQE partition-coalescing is disabled for the comparison: on a tiny
    fixture it collapses the cogroup exchange to ONE partition, which
    masked a grouping-key TYPE mismatch (bigint vs int block ids hash
    to different partitions, silently stranding cell halves — real
    multi-partition shuffles lost most cells at sf0.1)."""
    from picovdb_spark.operators.similarity import knn_join_blocked

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 30)
    kw = dict(
        left_id="vec_id", right_id="vec_id",
        left_vec="embedding", right_vec="embedding",
    )
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        for excl in (True, False):
            want = sorted(map(tuple, knn_join(emb, emb, k=3, exclude_self=excl, **kw).collect()))
            got = sorted(
                map(
                    tuple,
                    knn_join_blocked(
                        emb, emb, k=3, exclude_self=excl, left_blocks=3, right_blocks=4, **kw
                    ).collect(),
                )
            )
            assert got == want
    finally:
        spark.conf.set(coalesce_key, prev)


def test_knn_join_blocked_nan_k0_and_bad_blocks(spark):
    """Review-pass regressions: a NaN-component right vector must rank
    FIRST (Spark's NaN-greatest ordering — the broadcast baseline's
    behavior), not poison the cell's kth selection into dropping every
    candidate; k=0 returns empty like the baseline; an explicit 0 block
    count raises even when the other count is defaulted."""
    from picovdb_spark.operators.similarity import knn_join_blocked

    rows = [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("n", [float("nan"), 1.0])]
    df = spark.createDataFrame(rows, "id string, v array<float>")
    q = df.filter("id = 'a'")
    kw = dict(left_id="id", right_id="id", left_vec="v", right_vec="v")
    got = knn_join_blocked(q, df, k=1, left_blocks=1, right_blocks=2, **kw).collect()
    base = knn_join(q, df, k=1, **kw).collect()
    assert [r[K_ID] for r in got] == [r[K_ID] for r in base] == ["n"]
    assert knn_join_blocked(q, df, k=0, left_blocks=1, right_blocks=2, **kw).count() == 0
    with pytest.raises(ValueError, match="block counts"):
        knn_join_blocked(q, df, k=1, left_blocks=0, **kw)


def test_null_query_vector_fails_loudly(store, spark):
    """A null vector row would silently vanish in the Arrow flatten and
    shift every later row's values in the reshape — both the collect
    path and the blocked join must raise instead."""
    from picovdb_spark.operators.similarity import knn_join_blocked

    dim = len(store.first()["_vector_"])
    q = spark.createDataFrame(
        [("q0", [1.0] * dim), ("q1", None)],
        f"query_id string, _vector_ array<float>",
    )
    with pytest.raises(Exception, match="null vectors"):
        batch_query(store, q, top_k=2, method="gemm").collect()
    nn = q.withColumnRenamed("query_id", "id").withColumnRenamed("_vector_", "v")
    with pytest.raises(Exception, match="null vectors"):
        knn_join_blocked(
            nn, nn, k=1, left_id="id", right_id="id", left_vec="v", right_vec="v",
            left_blocks=1, right_blocks=1,
        ).collect()


def test_precollected_tuple_rejects_bare_string_ids(store):
    """A single string as qids would silently iterate into per-character
    ids matching the matrix by accident — must raise."""
    with pytest.raises(ValueError, match="sequence of ids"):
        batch_query(store, ("ab", np.ones((2, 4))), method="gemm")


def test_knn_join_blocked_zero_vector_and_empty(spark):
    """Zero vectors map to e0 on both sides (same rule as l2_normalize);
    an empty left side yields an empty result, not an error."""
    from picovdb_spark.operators.similarity import knn_join_blocked

    rows = [("a", [0.0, 0.0]), ("b", [1.0, 0.0]), ("c", [0.0, 1.0])]
    df = spark.createDataFrame(rows, "id string, v array<float>")
    kw = dict(left_id="id", right_id="id", left_vec="v", right_vec="v")
    got = {
        (r["query_id"], r[K_ID]): r[K_METRICS]
        for r in knn_join_blocked(df, df, k=1, left_blocks=2, right_blocks=2, **kw).collect()
    }
    # zero vector 'a' ≡ e0 ≡ 'b': they score 1.0 against each other and
    # rank-1 by id tie-break ('a' maps to itself first)
    assert got[("a", "a")] == 1.0 and got[("b", "a")] == 1.0
    empty = df.filter("id = 'nope'")
    assert knn_join_blocked(empty, df, k=1, left_blocks=2, right_blocks=2, **kw).count() == 0


def test_boundary_tie_resolution_matches_id_order(spark):
    """Rounded ties at the top-k boundary must resolve by id ascending in
    BOTH physical paths — partition-local selection must not drop the
    id-ordered winner (tie-complete partial top-k)."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from picovdb_spark.operators.similarity import batch_query

    # 6 identical vectors + 2 distractors; top_k=3 of the tie group
    rows = [(str(i), [1.0, 0.0]) for i in range(6)] + [
        ("x", [0.0, 1.0]),
        ("y", [0.7, 0.7]),
    ]
    store = spark.createDataFrame(
        rows, schema=f"_id_ string, _vector_ array<float>"
    ).repartition(4)  # spread the tie group across partitions
    q = spark.createDataFrame(
        [("q0", [1.0, 0.0])], schema="query_id string, _vector_ array<float>"
    )
    for method in ("gemm", "sql"):
        got = [
            (r["_id_"], r["rank"])
            for r in batch_query(store, q, top_k=3, method=method)
            .orderBy("rank")
            .collect()
        ]
        assert got == [("0", 1), ("1", 2), ("2", 3)], (method, got)


def test_float32_path_same_ids_as_float64(store, queries):
    """The certified kernel's float32 prescan returns exactly the float64
    brute force's rows and scores."""
    want = brute_force_of(queries, store.select(K_ID, "_vector_"), 10)
    got = batch_query(store, queries, top_k=10, method="gemm")
    assert rows_of(got.select("query_id", K_ID, K_METRICS, "rank")) == want


def test_float32_boundary_ties_resolve_by_id(spark):
    """Tie-complete selection through the float32 prescan: a rounded
    tie can't drop the id-ordered winner across partitions."""
    rows = [(str(i), [1.0, 0.0]) for i in range(6)] + [("x", [0.0, 1.0])]
    store = spark.createDataFrame(
        rows, schema="_id_ string, _vector_ array<float>"
    ).repartition(4)
    q = spark.createDataFrame(
        [("q0", [1.0, 0.0])], schema="query_id string, _vector_ array<float>"
    )
    got = [
        (r["_id_"], r["rank"])
        for r in batch_query(store, q, top_k=3, method="gemm")
        .orderBy("rank")
        .collect()
    ]
    assert got == [("0", 1), ("1", 2), ("2", 3)], got


def test_float32_normalized_skips_renorm_correctly(spark):
    """normalized=True on a pre-normalized store returns the same result
    as normalized=False (the skip is an optimization, not a semantic)."""
    import numpy as np

    rng = np.random.default_rng(7)
    mat = rng.standard_normal((40, 8)).astype(np.float32)
    mat /= np.sqrt((mat * mat).sum(axis=1))[:, None]
    store = spark.createDataFrame(
        [(str(i), [float(x) for x in mat[i]]) for i in range(40)],
        schema="_id_ string, _vector_ array<float>",
    ).repartition(3)
    q = spark.createDataFrame(
        [("q0", [float(x) for x in mat[0]])], schema="query_id string, _vector_ array<float>"
    )
    a = batch_query(store, q, top_k=5, method="gemm", normalized=True)
    b = batch_query(store, q, top_k=5, method="gemm", normalized=False)
    ka = [(r["query_id"], r[K_ID], r[K_METRICS], r["rank"]) for r in a.orderBy("rank").collect()]
    kb = [(r["query_id"], r[K_ID], r[K_METRICS], r["rank"]) for r in b.orderBy("rank").collect()]
    assert ka == kb


def test_oversized_query_batch_fails_fast(spark, store, queries, monkeypatch):
    """Query batches are driver-resident broadcast state; past the byte
    ceiling the collect must fail with chunking instructions instead of
    OOMing the driver mid-job. Patched threshold — the formula (8 bytes
    per float64 cell) is what's under test."""
    from picovdb_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "MAX_QUERY_MATRIX_BYTES", 64)
    with pytest.raises(ValueError, match="split the batch"):
        batch_query(store, queries, top_k=3, method="gemm").collect()


def test_gemm_multi_batch_merge_equals_single_batch(spark, store, queries):
    """The GEMM kernel accumulates per-Arrow-batch candidates and emits
    once per task. Shrinking `arrow.maxRecordsPerBatch` so every task
    spans many batches must not change results (the merged task-end
    re-selection keeps the same tie-complete set)."""
    q = batch_query(store, queries, top_k=10, method="gemm")
    before = sorted(map(tuple, q.collect()))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        after = sorted(map(tuple, q.collect()))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert after == before


def test_precollected_query_tuple_equals_dataframe(store, queries):
    """The serving form — queries as a pre-collected (ids, matrix) pair —
    must return exactly what the DataFrame form returns (it skips the
    collect job, not the normalize/score semantics)."""
    rows = queries.collect()
    ids = [r["query_id"] for r in rows]
    mat = np.array([r["_vector_"] for r in rows], dtype=np.float64)
    df_res = sorted(map(tuple, batch_query(store, queries, top_k=5, method="gemm").collect()))
    np_res = sorted(map(tuple, batch_query(store, (ids, mat), top_k=5, method="gemm").collect()))
    assert np_res == df_res


def test_precollected_tuple_accepts_non_string_ids(store, queries):
    """Non-string ids in a pre-collected batch (e.g. ints straight from
    a range) must be coerced to str driver-side — they used to crash
    executor-side in pa.array(..., type=pa.string()) with an opaque
    ArrowTypeError (ADVICE r4)."""
    rows = queries.limit(3).collect()
    mat = np.array([r["_vector_"] for r in rows], dtype=np.float64)
    int_ids = list(range(len(rows)))
    res = batch_query(store, (int_ids, mat), top_k=2, method="gemm").collect()
    assert {r["query_id"] for r in res} == {"0", "1", "2"}


def test_precollected_tuple_rejects_sql_path(store):
    with pytest.raises(TypeError, match="gemm"):
        batch_query(store, (np.array(["a"]), np.ones((1, 4))), method="sql")


def test_precollected_tuple_shape_mismatch_raises(store):
    with pytest.raises(ValueError, match="matrix"):
        batch_query(store, (np.array(["a", "b"]), np.ones((1, 4))), method="gemm")


def test_normalize_does_not_mutate_caller_matrix(store):
    """A zero row triggers the e0 substitution — it must happen on a
    copy, never on the caller's own array (regression)."""
    mat = np.zeros((2, len(store.first()["_vector_"])), dtype=np.float64)
    mat[1, 0] = 3.0
    keep = mat.copy()
    batch_query(store, (["z", "a"], mat), top_k=2, method="gemm").collect()
    assert np.array_equal(mat, keep)


def test_hard_negatives_excludes_positives(spark, sf_dir):
    from picovdb_spark.operators.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 4)
    kw = dict(
        left_id="vec_id", right_id="vec_id",
        left_vec="embedding", right_vec="embedding", exclude_self=True,
    )
    base = knn_join(q, emb, k=7, **kw)
    by_q = {}
    for r in base.collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r[K_ID], r[K_METRICS]))
    # positives: each query's top-2 neighbors (multiple positives per query)
    pos_rows = [(qid, did) for qid, rows in by_q.items()
                for rk, did, _ in rows if rk <= 2]
    pos = spark.createDataFrame(pos_rows, "query_id string, _id_ string")
    hn = hard_negatives(
        q, emb, pos, k=5, pos_query_col="query_id", pos_doc_col="_id_", **kw
    )
    got = {}
    for r in hn.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r[K_ID], r[K_METRICS]))
    for qid, rows in by_q.items():
        want = [(rk - 2, did, sc) for rk, did, sc in sorted(rows) if rk > 2]
        assert sorted(got[qid]) == want, qid
    # positives never leak into the negatives
    posset = set(map(tuple, pos_rows))
    for qid, rows in got.items():
        for _, did, _ in rows:
            assert (qid, did) not in posset


def test_hard_negatives_max_score_band(spark, sf_dir):
    from picovdb_spark.operators.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 2)
    kw = dict(
        left_id="vec_id", right_id="vec_id",
        left_vec="embedding", right_vec="embedding", exclude_self=True,
    )
    base = knn_join(q, emb, k=1, **kw)
    pos = base.select("query_id", K_ID)
    # a cap below every score -> no valid negatives, honest empty result
    none = hard_negatives(
        q, emb, pos, k=3, max_score=-2.0,
        pos_query_col="query_id", pos_doc_col=K_ID, **kw,
    )
    assert none.count() == 0
    # cap at the top-1 score: every returned negative scores strictly below
    top1 = {r["query_id"]: r[K_METRICS] for r in base.collect()}
    cap = min(top1.values())
    some = hard_negatives(
        q, emb, pos, k=3, max_score=cap,
        pos_query_col="query_id", pos_doc_col=K_ID, **kw,
    )
    for r in some.collect():
        assert r[K_METRICS] < cap


def test_hard_negatives_validates_method(spark, sf_dir):
    from picovdb_spark.operators.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.limit(1)
    with pytest.raises(ValueError, match="unknown method"):
        hard_negatives(
            q, emb, q.select("vec_id", F.col("vec_id").alias("d")),
            k=1, method="nope",
            left_id="vec_id", right_id="vec_id",
            left_vec="embedding", right_vec="embedding",
            pos_query_col="vec_id", pos_doc_col="d",
        )


def test_knn_join_blocked_float32_serving_mode(store, spark, sf_dir):
    """The blocked join's cells run the certified kernel: it returns
    exactly the float64 brute force (self-queries first, at exactly
    1.0), with and without exclude_self."""
    from picovdb_spark.operators.similarity import knn_join_blocked

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
    kw = dict(
        left_id="vec_id", right_id="vec_id",
        left_vec="embedding", right_vec="embedding",
        left_blocks=3, right_blocks=4,
    )
    side = emb.select("vec_id", "embedding")
    for skip in (False, True):
        want = brute_force_of(side, side, 5, exclude_self=skip)
        assert len(want) == 200
        got = knn_join_blocked(emb, emb, k=5, exclude_self=skip, **kw)
        assert rows_of(got) == want, skip
        # self at exactly 1.0 ranks first, unless excluded
        selves = [(r[2], r[3]) for r in want if r[0] == r[1]]
        assert selves == ([] if skip else [("1.0", 1)] * 40)

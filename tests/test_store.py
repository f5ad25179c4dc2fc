"""VectorStore CRUD/persistence tests — mirrors the reference's operator
unit tests (SURVEY.md §5: tests/test_pico_vdb.py, test_more.py,
test_task8_count_and_size.py, test_task5_zero_vector_normalization.py).

Deterministic fixtures use orthonormal basis vectors (np.eye), the
reference's own technique (test_task14_faiss_vs_numpy_results.py:11-13).
"""

import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from picovdb_spark.schema import K_ID, K_METRICS, K_VECTOR
from picovdb_spark.store import VectorStore

DIM = 8


def basis(i):
    v = [0.0] * DIM
    v[i] = 1.0
    return v


@pytest.fixture()
def store(spark):
    s = VectorStore(spark, DIM)
    s.upsert(
        [
            {K_ID: f"v{i}", K_VECTOR: basis(i), "cat": "even" if i % 2 == 0 else "odd", "n": i}
            for i in range(DIM)
        ]
    )
    return s


def test_upsert_report_insert_then_update(store):
    rep = store.upsert([{K_ID: "v0", K_VECTOR: basis(1)}, {K_ID: "new", K_VECTOR: basis(2)}])
    assert rep == {"update": ["v0"], "insert": ["new"]}
    assert store.count() == DIM + 1
    # v0's vector was overwritten in place (pico_vdb.py:428-432)
    row = store.get("v0", include_vector=True).first()
    assert row[K_VECTOR][1] == pytest.approx(1.0)


def test_upsert_normalizes_vectors(store):
    store.upsert([{K_ID: "big", K_VECTOR: [3.0, 4.0] + [0.0] * (DIM - 2)}])
    v = store.get("big", include_vector=True).first()[K_VECTOR]
    assert math.isclose(sum(x * x for x in v), 1.0, rel_tol=1e-6)
    assert v[0] == pytest.approx(0.6) and v[1] == pytest.approx(0.8)


def test_auto_id_content_dedup(spark):
    """Identical vectors without _id_ get identical content-hash ids, so
    re-upsert is an update, not a duplicate (pico_vdb.py:54-55,424-426;
    reference test tests/test_pico_vdb.py:69-85)."""
    s = VectorStore(spark, DIM)
    r1 = s.upsert([{K_VECTOR: basis(0)}])
    r2 = s.upsert([{K_VECTOR: basis(0)}])
    assert r1["insert"] == r2["update"] and len(r1["insert"]) == 1
    assert s.count() == 1
    # scaled copies normalize to the same unit vector ⇒ same id
    r3 = s.upsert([{K_VECTOR: [x * 7.5 for x in basis(0)]}])
    assert r3["update"] == r1["insert"]


def test_zero_vector_maps_to_e0(spark):
    """Zero vectors deterministically map to e₀ (pico_vdb.py:62-67)."""
    s = VectorStore(spark, DIM)
    s.upsert([{K_ID: "z", K_VECTOR: [0.0] * DIM}])
    v = s.get("z", include_vector=True).first()[K_VECTOR]
    assert v == [1.0] + [0.0] * (DIM - 1)
    hit = s.query_one([0.0] * DIM, top_k=1).first()
    assert hit[K_ID] == "z" and hit[K_METRICS] == pytest.approx(1.0)


def test_dim_validation_raises(spark):
    s = VectorStore(spark, DIM)
    with pytest.raises(Exception, match="dim mismatch"):
        s.upsert([{K_ID: "bad", K_VECTOR: [1.0, 2.0]}])


def test_delete_and_tombstones(store):
    removed = store.delete(["v0", "v1", "nope"])
    assert removed == ["v0", "v1"]
    assert store.count() == DIM - 2
    assert store.capacity() == DIM
    # deleted rows never appear in query results (pico_vdb.py:744,763-764)
    res = store.query([basis(0)], top_k=DIM).collect()
    assert all(r[K_ID] not in ("v0", "v1") for r in res)
    # delete is idempotent: second delete reports nothing removed
    assert store.delete(["v0"]) == []


def test_upsert_revives_tombstone(store):
    store.delete(["v3"])
    rep = store.upsert([{K_ID: "v3", K_VECTOR: basis(3)}])
    assert rep["update"] == ["v3"] or rep["insert"] == ["v3"]
    assert store.count() == DIM
    assert store.get("v3").count() == 1


def test_get_and_get_all(store):
    assert store.get("v2").first()["n"] == 2
    assert store.get(["v1", "v2", "missing"]).count() == 2
    assert K_VECTOR not in store.get("v1").columns
    assert K_VECTOR in store.get("v1", include_vector=True).columns
    store.delete(["v5"])
    alive = store.get_all()
    assert alive.count() == DIM - 1
    withdel = store.get_all(include_deleted=True)
    assert withdel.count() == DIM
    ph = withdel.filter(F.col(K_ID) == "v5").first()
    assert ph["n"] is None  # placeholder row: id only (pico_vdb.py:996-1003)


def test_stats_and_vacuum(store):
    store.delete(["v0"])
    st = store.stats()
    assert st["active"] == DIM - 1 and st["deleted"] == 1 and st["total"] == DIM
    assert st["dim"] == DIM
    assert store.vacuum() == 1
    st2 = store.stats()
    assert st2["deleted"] == 0 and st2["total"] == DIM - 1
    assert len(store) == DIM - 1


def test_save_load_roundtrip(store, spark, tmp_path):
    store.delete(["v7"])
    store.store_additional_data(note="hello", version=2)
    path = str(tmp_path / "vstore")
    store.save(path)
    s2 = VectorStore(spark, DIM, storage_path=path)
    assert s2.count() == store.count()
    assert s2.capacity() == store.capacity()
    assert s2.get_additional_data() == {"note": "hello", "version": 2}
    a = sorted(tuple(r) for r in store.get_all(include_vector=True).collect())
    b = sorted(tuple(r) for r in s2.get_all(include_vector=True).collect())
    assert a == b
    # save is atomic: a second save replaces in place
    s2.upsert([{K_ID: "extra", K_VECTOR: basis(0)}])
    s2.save()
    s3 = VectorStore(spark, DIM, storage_path=path)
    assert s3.count() == store.count() + 1


def test_query_with_filters_on_store(store):
    res = store.query([basis(2)], top_k=3, where={"cat": "even"}).collect()
    assert res and all(r["cat"] == "even" for r in res)
    assert res[0][K_ID] == "v2" and res[0][K_METRICS] == pytest.approx(1.0)
    res2 = store.query([basis(2)], top_k=5, ids=["v1", "v2"]).collect()
    assert {r[K_ID] for r in res2} == {"v1", "v2"}


def test_schemaless_metadata_new_keys(store):
    """New metadata keys on later upserts become columns; old rows read
    NULL (dynamic metadata, pico_vdb.py:423)."""
    store.upsert([{K_ID: "tagged", K_VECTOR: basis(4), "extra_key": "x"}])
    assert "extra_key" in store.df.columns
    assert store.get("v1").first()["extra_key"] is None
    assert store.get("tagged").first()["extra_key"] == "x"


def test_capacity_exceeded(spark):
    """Fixed-capacity parity (pico_vdb.py:286-296, :440-442): inserts
    beyond the cap raise; updates never count against it."""
    import pytest

    from picovdb_spark.store import VectorStore

    store = VectorStore(spark, embedding_dim=2, checkpoint_mutations=False, capacity=2)
    store.upsert([{"_id_": "a", "_vector_": [1.0, 0.0]}, {"_id_": "b", "_vector_": [0.0, 1.0]}])
    # update in place: fine at capacity
    store.upsert([{"_id_": "a", "_vector_": [0.5, 0.5]}])
    with pytest.raises(RuntimeError, match="capacity exceeded"):
        store.upsert([{"_id_": "c", "_vector_": [1.0, 1.0]}])
    assert store.count() == 2


def test_timing_logs(spark, caplog):
    """DEBUG timing parity (pico_vdb.py:81-94): mutating ops log
    '<op> took X ms' at DEBUG on the picovdb_spark logger."""
    import logging

    from picovdb_spark.store import VectorStore

    store = VectorStore(spark, embedding_dim=2, checkpoint_mutations=False)
    with caplog.at_level(logging.DEBUG, logger="picovdb_spark"):
        store.upsert([{"_id_": "a", "_vector_": [1.0, 0.0]}])
        store.delete(["a"])
        store.vacuum()
    msgs = [r.getMessage() for r in caplog.records]
    for op in ("upsert", "delete", "vacuum"):
        assert any(m.startswith(f"{op} took") and m.endswith("ms") for m in msgs), msgs


def test_atomic_save_survives_replace_failure(spark, tmp_path, monkeypatch):
    """Crash-safety parity (reference injects os.replace failure,
    tests/test_more.py:271-293): a failed save must leave the previous
    store fully readable, with no partial state at the target path."""
    import os as _os

    from picovdb_spark.store import VectorStore

    path = str(tmp_path / "store")
    s = VectorStore(spark, embedding_dim=2, storage_path=path, checkpoint_mutations=False)
    s.upsert([{"_id_": "a", "_vector_": [1.0, 0.0], "tag": "v1"}])
    s.save()

    s.upsert([{"_id_": "b", "_vector_": [0.0, 1.0], "tag": "v2"}])
    real_replace = _os.replace
    calls = {"n": 0}

    def failing_replace(src, dst):
        calls["n"] += 1
        raise OSError("injected replace failure")

    monkeypatch.setattr("picovdb_spark.store.os.replace", failing_replace)
    import pytest as _pytest

    with _pytest.raises(OSError, match="injected"):
        s.save()
    monkeypatch.setattr("picovdb_spark.store.os.replace", real_replace)
    assert calls["n"] >= 1

    # the on-disk store is still the LAST GOOD version
    s2 = VectorStore(spark, embedding_dim=2, storage_path=path, checkpoint_mutations=False)
    assert s2.count() == 1
    assert s2.get("a").first()["tag"] == "v1"
    # no stray staging dirs left behind at the target
    leftovers = [d for d in _os.listdir(str(tmp_path)) if d.startswith("store.tmp")]
    assert leftovers == []


def test_tombstone_revive_reports_insert_and_reuses_slot(spark):
    """Reference pops deleted ids from its index (pico_vdb.py:527-531):
    re-upserting a tombstoned id is an INSERT, and slot reuse means a
    fixed-capacity store accepts new rows after deletes."""
    from picovdb_spark.store import VectorStore

    store = VectorStore(spark, embedding_dim=2, checkpoint_mutations=False, capacity=2)
    store.upsert([{"_id_": "a", "_vector_": [1.0, 0.0]}, {"_id_": "b", "_vector_": [0.0, 1.0]}])
    store.delete(["a"])
    rep = store.upsert([{"_id_": "a", "_vector_": [0.5, 0.5]}])
    assert rep == {"update": [], "insert": ["a"]}  # revive == insert
    store.delete(["b"])
    rep2 = store.upsert([{"_id_": "c", "_vector_": [1.0, 1.0]}])  # freed slot reused
    assert rep2["insert"] == ["c"] and store.count() == 2


def test_ann_routing_with_column_where(spark):
    """A Spark Column where-clause must route to the exact path, not
    crash on Column.__bool__."""
    import numpy as np
    from pyspark.sql import functions as F

    from picovdb_spark.store import VectorStore

    store = VectorStore(spark, embedding_dim=4, checkpoint_mutations=False)
    rng = np.random.default_rng(0)
    store.upsert(
        [{"_id_": str(i), "_vector_": rng.standard_normal(4).tolist(), "m": i % 2}
         for i in range(30)]
    )
    out = store.query_one([1.0, 0.0, 0.0, 0.0], top_k=5, ann=True, where=F.col("m") == 1)
    assert all(r["m"] == 1 for r in out.collect())


def test_callable_where_sees_id(spark):
    """The reference's where-callable receives the full doc incl. _id_."""
    from picovdb_spark.store import VectorStore

    store = VectorStore(spark, embedding_dim=2, checkpoint_mutations=False)
    store.upsert([{"_id_": f"doc-{i}", "_vector_": [1.0, float(i)]} for i in range(4)]
                 + [{"_id_": "other", "_vector_": [1.0, 9.0]}])
    out = store.query_one([1.0, 0.0], top_k=10, where=lambda d: d["_id_"].startswith("doc-"))
    ids = {r["_id_"] for r in out.collect()}
    assert ids == {f"doc-{i}" for i in range(4)}


def test_build_ann_index_empty_store_noop(spark):
    from picovdb_spark.store import VectorStore

    store = VectorStore(spark, embedding_dim=2, checkpoint_mutations=False)
    assert store.build_ann_index() is None
    assert store.query_one([1.0, 0.0], top_k=3, ann=True).count() == 0


def test_save_after_load_keeps_instance_live(spark, tmp_path):
    """ADVICE (medium): saving a freshly-LOADED store to its own path
    replaces the parquet dirs the instance's lazy scans point at — the
    vectors' and the IVF index's; save() must rebind both so later
    actions don't hit FILE_NOT_EXIST."""
    path = str(tmp_path / "live_store")
    st = VectorStore(spark, DIM)
    st.upsert([{K_ID: f"v{i}", K_VECTOR: basis(i)} for i in range(4)])
    st.build_ann_index(n_centroids=2)
    st.save(path)
    re = VectorStore(spark, DIM, storage_path=path)  # lazy scans of path
    assert re._ann.path is not None  # the index reads the saved files
    want = re.query_one(basis(1), top_k=2, ann=True, nprobe=2).collect()
    re.save()  # overwrite in place
    assert re.count() == 4  # would throw FAILED_READ_FILE before the fix
    assert re.query_one(basis(1), top_k=1).collect()[0][K_ID] == "v1"
    assert re.query_one(basis(1), top_k=2, ann=True, nprobe=2).collect() == want
    assert re._ann_ntotal == 4


def test_vectors_without_meta_is_corruption(spark, tmp_path):
    """A half-written store (vectors.parquet, no meta.json) must raise,
    not silently open empty (data would appear lost)."""
    path = str(tmp_path / "half_store")
    st = VectorStore(spark, DIM)
    st.upsert([{K_ID: "a", K_VECTOR: basis(0)}])
    st.save(path)
    os.remove(os.path.join(path, "meta.json"))
    with pytest.raises(ValueError, match="corrupt store"):
        VectorStore(spark, DIM, storage_path=path)


def test_interrupted_swap_recovers_on_open(spark, tmp_path):
    """Crash window between the two os.replace calls: marker present,
    live dir missing, staging complete — the next open finishes the
    swap instead of initializing empty."""
    import json as _json

    path = str(tmp_path / "swap_store")
    st = VectorStore(spark, DIM)
    st.upsert([{K_ID: f"v{i}", K_VECTOR: basis(i)} for i in range(3)])
    st.save(path)
    # simulate the crash: live dir moved away, staging holds the new data
    staging = f"{path}.tmp-deadbeef"
    old = f"{path}.old-deadbeef"
    os.rename(path, staging)
    with open(f"{path}.swap-in-progress", "w") as f:
        _json.dump({"old": old, "staging": staging}, f)
    recovered = VectorStore(spark, DIM, storage_path=path)
    assert recovered.count() == 3
    assert not os.path.exists(f"{path}.swap-in-progress")
    assert not os.path.exists(staging)


def test_stats_file_sizes(spark, tmp_path):
    """stats() reports on-disk byte sizes once saved (pico_vdb.py:804-826
    parity); unsaved stores report an empty dict."""
    st = VectorStore(spark, DIM)
    st.upsert([{K_ID: "a", K_VECTOR: basis(0)}])
    assert st.stats()["file_sizes"] == {}
    path = str(tmp_path / "sized_store")
    st.save(path)
    sizes = st.stats()["file_sizes"]
    assert sizes["meta.json"] > 0 and sizes["vectors.parquet"] > 0


def test_get_preserve_order(store):
    """get(preserve_order=True) returns rows in input-id order with
    missing ids skipped (pico_vdb.py:945-957)."""
    got = [
        r[K_ID]
        for r in store.get(["v5", "v1", "no-such", "v3"], preserve_order=True).collect()
    ]
    assert got == ["v5", "v1", "v3"]


def test_upsert_report_dataframe_mode(spark):
    """report="dataframe" keeps the upsert report relational — (_id_,
    action) rows, no driver-side id lists — and still merges correctly."""
    st = VectorStore(spark, DIM)
    st.upsert([{K_ID: f"v{i}", K_VECTOR: basis(i)} for i in range(3)])
    rep = st.upsert(
        [
            {K_ID: "v1", K_VECTOR: basis(1)},  # update
            {K_ID: "v9", K_VECTOR: basis(4)},  # insert
        ],
        report="dataframe",
    )
    got = {(r[K_ID], r["action"]) for r in rep.collect()}
    assert got == {("v1", "update"), ("v9", "insert")}
    assert st.count() == 4
    with pytest.raises(ValueError, match="report mode"):
        st.upsert([], report="json")


def test_where_callable_null_and_dict_parity(spark):
    """The Arrow-batched callable-where path must present rows as the
    reference's dicts: absent metadata is None (never NaN), and the
    predicate sees _id_."""
    st = VectorStore(spark, DIM)
    st.upsert(
        [
            {K_ID: "a", K_VECTOR: basis(0), "tag": "x", "score": 1.5},
            {K_ID: "b", K_VECTOR: basis(1)},  # no tag/score -> None
        ]
    )
    def pred(doc):
        # `is None` is False for NaN/NaT, so this predicate only matches
        # doc "b" if the batch path converts missing values exactly like
        # Row.asDict(); it also requires _id_ to be present and a str
        return (
            isinstance(doc["_id_"], str)
            and doc["tag"] is None
            and doc["score"] is None
        )

    hits = st.query([list(basis(1))], top_k=5, where=pred).collect()
    assert [h[K_ID] for h in hits] == ["b"]


def test_save_persists_ann_index_and_reload_serves_it(spark, tmp_path):
    """Reference parity: save() persists the ANN artifact next to the
    vectors (pico_vdb.py:347, :362) and a reopened store serves ANN
    queries from it WITHOUT a rebuild; results equal the exact path on
    a full-probe config."""
    st = VectorStore(spark, DIM)
    st.upsert([{K_ID: f"v{i}", K_VECTOR: basis(i % DIM)} for i in range(16)])
    st.build_ann_index(n_centroids=4)
    path = str(tmp_path / "ann_store")
    st.save(path)
    assert os.path.isdir(os.path.join(path, "ann_ivf"))

    s2 = VectorStore(spark, DIM, storage_path=path)
    assert s2._ann is not None  # loaded, not rebuilt
    before = s2._last_ann_rebuild_mode
    got = s2.query([basis(0)], top_k=3, ann=True, nprobe=4).collect()
    exact = s2.query([basis(0)], top_k=3, ann=False).collect()
    key = lambda rows: sorted((r[K_ID], r[K_METRICS]) for r in rows)
    assert key(got) == key(exact)
    assert s2._last_ann_rebuild_mode == before  # no rebuild happened

    # a second save of the reloaded store (index scan points at `path`)
    # must survive the swap and keep both store and index live
    s2.save()
    assert s2.count() == 16
    assert s2.query([basis(1)], top_k=2, ann=True, nprobe=4).count() > 0


def test_save_without_ann_writes_no_artifact(spark, tmp_path):
    st = VectorStore(spark, DIM)
    st.upsert([{K_ID: "a", K_VECTOR: basis(0)}])
    path = str(tmp_path / "no_ann_store")
    st.save(path)
    assert not os.path.exists(os.path.join(path, "ann_ivf"))


def test_query_tuple_of_two_vectors_still_means_two_queries(store):
    """A tuple of two 1-D query vectors predates the (ids, matrix)
    serving form and must keep meaning TWO queries (regression: the
    serving form is only recognized when the second element is 2-D)."""
    import numpy as np

    v = store.active().select("_vector_").first()[0]
    res = store.query((list(v), list(np.roll(v, 1))), top_k=2).collect()
    qids = {r["query_id"] for r in res}
    assert qids == {"0", "1"}


def test_query_tuple_form_gets_float32_truncation(store):
    """The (ids, matrix) tuple form must score IDENTICALLY to the
    list-of-vectors form: every other input flows through the
    array<float> schema and is truncated to float32 before scoring, so
    the tuple's float64 matrix must be truncated too (ADVICE r4 —
    divergence showed near rounded-score boundaries)."""
    import numpy as np

    vecs = [r[0] for r in store.active().select("_vector_").limit(2).collect()]
    # float64 values that do NOT round-trip through float32 exactly
    mat = np.array(vecs, dtype=np.float64) * (1.0 + 1e-9)
    got_tuple = sorted(
        map(tuple, store.query((["0", "1"], mat), top_k=3, method="gemm").collect())
    )
    got_list = sorted(
        map(tuple, store.query([list(row) for row in mat], top_k=3, method="gemm").collect())
    )
    assert got_tuple == got_list


def _brute_topk(model, q, k):
    """(query_id, id, score) of a float64 cosine scan over the stored
    float32 unit rows, ranked by (rounded score desc, id asc)."""
    ids = sorted(model)
    m = np.stack([model[s] for s in ids]).astype(np.float64)
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32).astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    q = q.astype(np.float32).astype(np.float64)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    scores = np.round(q @ m.T, 6)
    out = []
    for qi in range(len(q)):
        order = sorted(range(len(ids)), key=lambda j: (-scores[qi, j], ids[j]))[:k]
        out += [(str(qi), ids[j], scores[qi, j]) for j in order]
    return out


def test_upsert_keeps_store_at_most_one_partition_per_core(spark):
    """The merge appends the batch to the kept rows; without a coalesce
    the store gained the batch's shuffle partitions on every upsert, and
    every later call ran one task per partition. Ten upserts without a
    reopen must leave at most one partition per core, and a query must
    still equal a brute-force scan of every acknowledged row."""
    rng = np.random.default_rng(5)
    cores = spark.sparkContext.defaultParallelism
    st = VectorStore(spark, DIM)
    model = {}
    for j in range(10):
        ids = [f"u{j}_{i}" for i in range(6)] + sorted(model)[j : j + 3]
        vecs = rng.standard_normal((len(ids), DIM)).astype(np.float32)
        st.upsert([{K_ID: s, K_VECTOR: v.tolist()} for s, v in zip(ids, vecs)])
        model.update(zip(ids, vecs))
        assert st.df.rdd.getNumPartitions() <= cores
    q = rng.standard_normal((5, DIM)).astype(np.float32)
    got = sorted(
        (r["query_id"], r[K_ID], r[K_METRICS]) for r in st.query(q, top_k=4).collect()
    )
    want = sorted(_brute_topk(model, q, 4))
    assert [g[:2] for g in got] == [w[:2] for w in want]
    assert [g[2] for g in got] == pytest.approx([w[2] for w in want], abs=1e-6)


def _ann_store(spark, n=300, dim=16, n_centroids=48):
    """A store whose IVF artifact has more cluster directories (≈48)
    than Spark's default parallel-listing threshold of 32."""
    rng = np.random.default_rng(11)
    st = VectorStore(spark, dim)
    vecs = rng.standard_normal((n, dim))
    st.upsert([{K_ID: f"r{i}", K_VECTOR: v.tolist()} for i, v in enumerate(vecs)])
    st.build_ann_index(n_centroids=n_centroids)
    return st, rng


def test_reopen_with_index_runs_no_listing_or_count_job(spark, tmp_path):
    """Reopening a saved store with an IVF index sums the row count
    from the artifact's Parquet footers and lists its cluster
    directories on the driver:
    the only jobs left are Spark's one-task schema reads of the two
    Parquet datasets — no job of one task per cluster directory, and no
    count job."""
    from picovdb_spark.plans import job_tasks

    st, _ = _ann_store(spark)
    path = str(tmp_path / "reopen_store")
    st.save(path)
    n_dirs = len([d for d in os.listdir(os.path.join(path, "ann_ivf")) if d.startswith("__cluster=")])
    assert n_dirs > 32  # above the default threshold, so the listing would be a job

    s2, jobs = job_tasks(spark, lambda: VectorStore(spark, 16, storage_path=path))
    assert len(jobs) <= 2 and all(stages == [1] for stages in jobs), jobs
    assert s2._ann.base_rows == 300 and s2._ann_ntotal == 300


def test_ivf_artifact_is_one_file_per_cluster_across_saves(spark, tmp_path):
    """Five save/reopen cycles at constant row count, each changing rows
    through an incremental index update: every cluster directory of the
    saved artifact holds one Parquet file, so the file count cannot grow
    with the cycles (it used to: each task wrote one file per cluster it
    held, and the appended rows spread a cluster over more tasks)."""
    st, rng = _ann_store(spark)
    path = str(tmp_path / "files_store")
    counts = []
    for j in range(5):
        upd = [f"r{i}" for i in rng.choice(300, 20, replace=False)]
        st.upsert([{K_ID: s, K_VECTOR: rng.standard_normal(16).tolist()} for s in upd])
        st.query([rng.standard_normal(16).tolist()], top_k=3, ann=True).collect()
        assert st._last_ann_rebuild_mode == "incremental"
        st.save(path)
        ivf = os.path.join(path, "ann_ivf")
        per_dir = [
            len([f for f in os.listdir(os.path.join(ivf, d)) if f.endswith(".parquet")])
            for d in os.listdir(ivf)
            if d.startswith("__cluster=")
        ]
        assert per_dir and all(n == 1 for n in per_dir), per_dir
        counts.append(sum(per_dir))
        st = VectorStore(spark, 16, storage_path=path)
        assert st.count() == 300 and st._ann_ntotal == 300
    assert max(counts) <= 48, counts


def test_store_calls_run_within_their_job_budget(spark, tmp_path):
    """Each mutation runs the one Spark action that writes the new store
    and reads its report (removed ids, vacuum count, update/insert
    lists) off that action; incremental IVF upkeep is one checkpoint
    job; a reopen passes the saved schemas and runs no job at all."""
    from picovdb_spark.plans import job_tasks

    st, rng = _ann_store(spark)
    path = str(tmp_path / "budget_store")
    st.save(path)
    st, jobs = job_tasks(spark, lambda: VectorStore(spark, 16, storage_path=path))
    assert jobs == [], jobs

    upd = [f"r{i}" for i in rng.choice(300, 10, replace=False)]
    new = [f"n{i}" for i in range(10)]
    items = [{K_ID: s, K_VECTOR: rng.standard_normal(16).tolist()} for s in upd + new]
    rep, jobs = job_tasks(spark, lambda: st.upsert(items))
    assert rep == {"update": sorted(upd), "insert": sorted(new)}
    assert len(jobs) <= 5, jobs

    gone = sorted(set(upd[:3]) | {"r299", "missing"})
    removed, jobs = job_tasks(spark, lambda: st.delete(gone))
    assert removed == [g for g in gone if g != "missing"]
    assert len(jobs) == 1, jobs

    q = rng.standard_normal((3, 16))
    rows, jobs = job_tasks(spark, lambda: st.query(q, top_k=3, ann=True).collect())
    assert st._last_ann_rebuild_mode == "incremental" and len(rows) == 9
    assert len(jobs) <= 3, jobs
    assert st._ann_ntotal == 310 - len(removed)

    n, jobs = job_tasks(spark, st.vacuum)
    assert n == len(removed)
    assert len(jobs) == 1, jobs


def _crud_sequence(spark, checkpoint: bool) -> list:
    """Every call's return value over one sequence of mutations."""
    out = []
    st = VectorStore(spark, DIM, checkpoint_mutations=checkpoint)
    out.append(st.vacuum())  # empty store: 0
    out.append(st.delete(["a"]))  # empty store: nothing removed
    out.append(  # duplicate id in one batch: the last row wins
        st.upsert(
            [
                {K_ID: "a", K_VECTOR: basis(0), "n": 1},
                {K_ID: "b", K_VECTOR: basis(1), "n": 2},
                {K_ID: "a", K_VECTOR: basis(2), "n": 3},
            ]
        )
    )
    out.append(  # content-hash ids beside an update
        st.upsert(
            [
                {K_VECTOR: basis(3), "n": 4},
                {K_VECTOR: basis(4), "n": 5},
                {K_ID: "b", K_VECTOR: basis(5), "n": 6},
            ]
        )
    )
    out.append(st.delete(["a"]))
    out.append(st.upsert([{K_ID: "a", K_VECTOR: basis(6), "n": 7}]))  # revive: insert
    out.append(st.delete(["b", "missing"]))
    out.append(st.delete(["b", "missing"]))  # already deleted: nothing removed
    out.append(st.delete([]))
    out.append(st.vacuum())  # one tombstone
    out.append(st.vacuum())  # clean store: 0
    out.append(
        sorted(
            (r[K_ID], tuple(r[K_VECTOR]), r["n"])
            for r in st.get_all(include_vector=True).collect()
        )
    )
    out.append((st.count(), st.capacity()))
    return out


def test_mutation_reports_match_with_and_without_checkpoints(spark):
    """With `checkpoint_mutations=False` the mutation's one action is a
    `noop` write of the same plan, and the report is read off it the
    same way: the two modes return identical results, and no call
    blocks waiting on an observation that no action fulfils."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(1) as pool:
        runs = [pool.submit(_crud_sequence, spark, cp).result(timeout=300) for cp in (True, False)]
    assert runs[0] == runs[1]
    out = runs[0]
    hashes = sorted(out[3]["insert"])
    assert out[:3] == [0, [], {"update": [], "insert": ["a", "b"]}]
    assert out[3] == {"update": ["b"], "insert": hashes} and len(hashes) == 2
    assert out[4:11] == [["a"], {"update": [], "insert": ["a"]}, ["b"], [], [], 1, 0]
    assert sorted(i for i, _, _ in out[11]) == sorted(["a", *hashes])
    assert ("a", tuple(basis(6)), 7) in out[11]
    assert sorted(n for _, _, n in out[11]) == [4, 5, 7]
    assert out[12] == (3, 3)


def _answers(st, q) -> tuple:
    return (
        sorted((r[K_ID], tuple(r[K_VECTOR])) for r in st.get_all(include_vector=True).collect()),
        st.count(),
        st._ann_ntotal,
        sorted(
            (r["query_id"], r[K_ID], r[K_METRICS], r["rank"])
            for r in st.query(q, top_k=5, ann=True).collect()
        ),
    )


def test_save_keeps_a_checkpointed_index(spark, tmp_path, monkeypatch):
    """An index that incremental upkeep left as a checkpoint depends on
    no files: save writes it and keeps it, without re-reading the
    artifact, and every answer is the same after the swap. A reopened
    index, which does scan the files, is re-read after its own save."""
    from picovdb_spark.operators.ann import IvfIndex

    reads = []
    read = IvfIndex.read.__func__

    def counted_read(cls, *args, **kwargs):
        reads.append(args)
        return read(cls, *args, **kwargs)

    monkeypatch.setattr(IvfIndex, "read", classmethod(counted_read))
    st, rng = _ann_store(spark)
    upd = [f"r{i}" for i in rng.choice(300, 10, replace=False)]
    st.upsert([{K_ID: s, K_VECTOR: rng.standard_normal(16).tolist()} for s in upd])
    q = rng.standard_normal((4, 16))
    want = _answers(st, q)
    assert st._last_ann_rebuild_mode == "incremental"
    idx = st._ann
    path = str(tmp_path / "cp_index_store")
    for _ in range(2):  # the second save swaps out the first's files
        st.save(path)
        assert st._ann is idx and reads == []
        assert _answers(st, q) == want

    s2 = VectorStore(spark, 16, storage_path=path)
    assert len(reads) == 1 and s2._ann.path is not None
    assert _answers(s2, q) == want
    s2.save()
    assert len(reads) == 2
    assert _answers(s2, q) == want

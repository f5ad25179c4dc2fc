"""Resident serving mode (operators/resident.py): node-local store
shards for repeated query batches — the Spark analog of the reference's
in-process store matrix (pico_vdb.py:62-75, queried by batch_queries.py
at ~1000 q/s).

Strategy: float blocks run the certified top-k kernel, so `query` and
`query_local` must equal the float64 brute force of
tests/test_gemm_kernel.py exactly (rows, scores and ranks), with routing
off and at full probe; int8 blocks are approximate and tolerance-banded.
Plus lifecycle (close drops blocks and query broadcasts; a lost block,
query-after-close and query-before-materialize fail loudly, never
silently rescan) and the task budget of one query.
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F
from test_gemm_kernel import brute_force, local_rows, rows_of

from picovdb_spark.operators.resident import ResidentStore
from picovdb_spark.operators.similarity import batch_query
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


@pytest.fixture(scope="module")
def exact(store, queries):
    """float64 brute force of every query against every store row:
    {top_k: sorted (query_id, _id_, repr(score), rank) rows}."""
    srows = store.select(K_ID, "_vector_").collect()
    qrows = queries.collect()
    ids = [r[K_ID] for r in srows]
    vecs = np.array([r["_vector_"] for r in srows], dtype=np.float64)
    qids = [r["query_id"] for r in qrows]
    qmat = np.array([r["_vector_"] for r in qrows], dtype=np.float64)
    return {k: brute_force(qids, qmat, ids, vecs, k) for k in (5, 10)}


def test_resident_matches_standard_float32_path(store, queries, exact):
    """Routing off, and routing on at full probe: `query` returns
    exactly the brute force, as `batch_query` does."""
    for routing in ({}, {"n_centroids": 16}):
        rs = ResidentStore(store.select(K_ID, "_vector_"), **routing)
        try:
            rows = rs.materialize()
            assert rows == store.count()
            assert rows_of(rs.query(queries, top_k=10, nprobe=16)) == exact[10], routing
        finally:
            rs.close()
    b = batch_query(store, queries, top_k=10, method="gemm")
    assert rows_of(b) == exact[10]


def test_resident_better_than_threshold(store, queries):
    with ResidentStore(store.select(K_ID, "_vector_")) as rs:
        res = rs.query(queries, top_k=10, better_than=0.5).collect()
        assert res and all(r[K_METRICS] >= 0.5 for r in res)


def test_resident_query_before_materialize_raises(store, queries):
    rs = ResidentStore(store.select(K_ID, "_vector_"))
    with pytest.raises(RuntimeError, match="not materialized"):
        rs.query(queries, top_k=5)


def test_resident_close_removes_blocks_and_fails_loudly(store, queries):
    rs = ResidentStore(store.select(K_ID, "_vector_"))
    rs.materialize()
    assert os.path.isdir(rs.dir)
    rs.close()
    assert not os.path.isdir(rs.dir)
    # close() resets the materialized marker (IVF lifecycle rule), so
    # every entry point fails loudly and accurately
    with pytest.raises(Exception, match="not materialized"):
        rs.query(queries, top_k=5).collect()
    with pytest.raises(Exception, match="not materialized"):
        rs.query_local([0.0] * 4)


def test_resident_empty_queries(store, queries):
    with ResidentStore(store.select(K_ID, "_vector_")) as rs:
        out = rs.query(queries.filter(F.col("query_id") == "no-such"), top_k=5)
        assert out.count() == 0


# ------------------------------------------------------- cluster-routed IVF


def test_resident_ivf_full_probe_equals_exact(store, queries, exact):
    """nprobe >= n_centroids routes every query everywhere: the routed
    kernel scores per-cluster segments with the certified top-k, so it
    returns exactly the float64 brute force — rows, scores and ranks —
    whatever GEMM shapes the segments make."""
    with ResidentStore(store.select(K_ID, "_vector_"), n_centroids=16, seed=42) as rs:
        assert rows_of(rs.query(queries, top_k=10, nprobe=16)) == exact[10]


def test_resident_ivf_partial_probe_recall_band(store, queries):
    """nprobe=4 of 16: pruned result must stay a subset of the store and
    keep recall@10 >= 0.6 vs exact on this corpus — the same band as
    test_ann.py::test_ivf_recall_band (mirrors the reference's
    FAISS-vs-numpy recall assertions, tests/test_task14)."""
    with ResidentStore(store.select(K_ID, "_vector_"), n_centroids=16, seed=42) as rs:
        ann = rs.query(queries, top_k=10, nprobe=4).collect()
    exact = batch_query(
        store, queries, top_k=10, method="gemm"
    ).select("query_id", K_ID, "rank").collect()
    got = {}
    for r in ann:
        got.setdefault(r["query_id"], set()).add(r[K_ID])
    want = {}
    for r in exact:
        want.setdefault(r["query_id"], set()).add(r[K_ID])
    recalls = [len(got.get(q, set()) & ids) / len(ids) for q, ids in want.items()]
    assert sum(recalls) / len(recalls) >= 0.6, recalls
    # routed result is never larger than the probe can justify
    assert all(len(v) <= 10 + 5 for v in got.values())


def test_resident_ivf_query_local_matches_distributed(store, queries, exact):
    """query_local (in-process serving, no Spark job) must return the
    same ids/scores/ranks as the distributed query() for each query —
    full probe AND partial probe — since both read the same blocks with
    the same certified kernel; at full probe both equal the brute force.
    Zero-vector maps to e₀ like everywhere."""
    qrows = queries.collect()
    with ResidentStore(store.select(K_ID, "_vector_"), n_centroids=16, seed=42) as rs:
        for npb in (16, 4):
            dist = rows_of(rs.query(queries, top_k=10, nprobe=npb))
            local = sorted(
                r
                for qr in qrows
                for r in local_rows(
                    qr["query_id"], rs.query_local(qr["_vector_"], top_k=10, nprobe=npb)
                )
            )
            assert local == dist, npb
            if npb == 16:
                assert dist == exact[10]
        # better_than filters identically
        bt = rs.query_local(qrows[0]["_vector_"], top_k=10, nprobe=16, better_than=0.99)
        assert all(h[K_METRICS] >= 0.99 for h in bt)
        # zero vector routes via e0 and still answers
        zero = rs.query_local([0.0] * len(qrows[0]["_vector_"]), top_k=3, nprobe=16)
        assert len(zero) == 3


def test_resident_ivf_lifecycle(store, queries):
    rs = ResidentStore(store.select(K_ID, "_vector_"), n_centroids=8)
    with pytest.raises(RuntimeError, match="not materialized"):
        rs.query(queries)
    rs.materialize()
    assert rs.query(queries, top_k=3, nprobe=8).count() > 0
    rs.close()
    assert not os.path.exists(rs.dir)


def test_resident_int8_accuracy_and_footprint(store, queries):
    """int8 blocks: top-10 recall vs the exact float32 path stays >= 0.9
    on the fixture, every score is within the quantization error bound,
    and the on-disk block is ~4x smaller than float32."""
    import numpy as np

    exact = batch_query(
        store, queries, top_k=10, method="gemm"
    ).select("query_id", K_ID, K_METRICS).collect()
    rs = ResidentStore(store.select(K_ID, "_vector_"), dtype="int8")
    try:
        rs.materialize()
        got = rs.query(queries, top_k=10).collect()
        e, a = {}, {}
        for r in exact:
            e.setdefault(r["query_id"], set()).add(r[K_ID])
        for r in got:
            a.setdefault(r["query_id"], set()).add(r[K_ID])
        recall = sum(len(e[q] & a.get(q, set())) / len(e[q]) for q in e) / len(e)
        assert recall >= 0.9, recall
        # score error bound: |q . (x - x_q)| <= |x - x_q| <= sqrt(dim)*s/2
        # with s <= 1/127 on unit vectors -> loose 0.04 at dim 64
        es = {(r["query_id"], r[K_ID]): r[K_METRICS] for r in exact}
        for r in got:
            k = (r["query_id"], r[K_ID])
            if k in es:
                assert abs(r[K_METRICS] - es[k]) <= 0.04
        mats = [f for f in os.listdir(rs.dir) if f.startswith("mat_")]
        assert mats
        blk = np.load(os.path.join(rs.dir, mats[0]), mmap_mode="r")
        assert blk.dtype == np.int8
    finally:
        rs.close()


def test_resident_ivf_int8_recall_and_local_parity(store, queries):
    """int8 routed serving: 4× smaller inverted lists. Full probe must
    keep top-10 recall ≥ 0.9 vs the exact float32 path (quantization
    error only), the block file must actually be ~4× smaller than the
    float32 one, and query_local must agree with the distributed int8
    result within the float32-ulp tolerance."""
    import numpy as np

    exact = batch_query(
        store, queries, top_k=10, method="gemm"
    ).select("query_id", K_ID).collect()
    want = {}
    for r in exact:
        want.setdefault(r["query_id"], set()).add(r[K_ID])

    with ResidentStore(
        store.select(K_ID, "_vector_"), n_centroids=16, seed=42, dtype="int8"
    ) as rs:
        got_rows = rs.query(queries, top_k=10, nprobe=16).collect()
        got = {}
        for r in got_rows:
            got.setdefault(r["query_id"], set()).add(r[K_ID])
        recalls = [len(got.get(q, set()) & ids) / len(ids) for q, ids in want.items()]
        assert sum(recalls) / len(recalls) >= 0.9, recalls
        # footprint: int8 codes ≈ dim bytes/row vs 4·dim for float32
        mats = sorted(
            f for f in os.listdir(rs.dir) if f.startswith("mat_")
        )
        m0 = np.load(os.path.join(rs.dir, mats[0]), mmap_mode="r")
        assert m0.dtype == np.int8
        # local == distributed (int8 vs int8) within one f32 ulp
        dist = {}
        for r in got_rows:
            dist.setdefault(r["query_id"], {})[r[K_ID]] = r[K_METRICS]
        qr = queries.collect()[0]
        local = rs.query_local(qr["_vector_"], top_k=10, nprobe=16)
        dmap = dist[qr["query_id"]]
        kth = min(dmap.values())
        for h in local:
            if h[K_ID] in dmap:
                assert abs(h[K_METRICS] - dmap[h[K_ID]]) <= 2e-6
            else:
                assert abs(h[K_METRICS] - kth) <= 2e-6


def test_resident_bad_dtype_rejected(store):
    with pytest.raises(ValueError, match="dtype"):
        ResidentStore(store.select(K_ID, "_vector_"), dtype="int4")
    with pytest.raises(ValueError, match="dtype"):
        ResidentStore(store.select(K_ID, "_vector_"), dtype="float64")


def test_resident_ivf_int8_partial_probe_routes_on_float_centroids(store, queries):
    """Routing REGRESSION: query_local must route on the float32
    centroids, not centroids cast to the block dtype — in int8 mode that
    cast truncates every component (|x| < 1) to 0 and probes arbitrary
    clusters. At nprobe < n_centroids the local result must probe the
    same neighborhoods as the distributed int8 query (small float
    reorderings between GEMV and GEMM routing allow a 1-2 id fringe;
    the broken cast overlapped 0-2 of 10)."""
    with ResidentStore(
        store.select(K_ID, "_vector_"), n_centroids=16, seed=42, dtype="int8"
    ) as rs:
        dist_rows = rs.query(queries, top_k=10, nprobe=4).collect()
        dist = {}
        for r in dist_rows:
            dist.setdefault(r["query_id"], set()).add(r[K_ID])
        for qr in queries.collect():
            local = rs.query_local(qr["_vector_"], top_k=10, nprobe=4)
            overlap = {h[K_ID] for h in local} & dist[qr["query_id"]]
            assert len(overlap) >= 8, (qr["query_id"], len(overlap))


def test_resident_ivf_query_local_after_close_raises(store, queries):
    """close() must drop the query_local mmap cache: unlinked files stay
    readable through live mmaps, so a stale cache would keep serving a
    closed store's data silently."""
    rs = ResidentStore(store.select(K_ID, "_vector_"), n_centroids=8, seed=1)
    rs.materialize()
    qr = queries.collect()[0]
    assert rs.query_local(qr["_vector_"], top_k=5, nprobe=8)  # populate cache
    rs.close()
    with pytest.raises(RuntimeError, match="not materialized"):
        rs.query_local(qr["_vector_"], top_k=5, nprobe=8)


def test_resident_ivf_int8_hot_segment_cache_identical(store, queries):
    """The hot-segment float32 cache must not change a single score:
    cached and cache-disabled query_local agree exactly (the cast and
    the scale-after-dot order are identical; only WHEN the cast happens
    differs)."""
    with ResidentStore(
        store.select(K_ID, "_vector_"), n_centroids=16, seed=3, dtype="int8"
    ) as cached, ResidentStore(
        cached.store,
        n_centroids=16,
        seed=3,
        dtype="int8",
        local_cache_bytes=0,
        centroids=cached.centroids,
    ) as uncached:
        for qr in queries.collect():
            a = cached.query_local(qr["_vector_"], top_k=10, nprobe=4)
            a2 = cached.query_local(qr["_vector_"], top_k=10, nprobe=4)  # cache hit
            b = uncached.query_local(qr["_vector_"], top_k=10, nprobe=4)
            assert a == a2 == b


def test_resident_fallback_serves_exact_when_block_missing(store, queries):
    """on_missing='fallback': delete one block after materialize — the
    next batch must be served by the exact scan with IDENTICAL results
    (and a warning), not fail. Default mode keeps failing loudly."""
    import glob
    import os
    import warnings

    from picovdb_spark.operators.similarity import batch_query

    base = store.select(K_ID, "_vector_")
    want = sorted(
        map(
            tuple,
            batch_query(base, queries, top_k=5, method="gemm").collect(),
        )
    )
    rs = ResidentStore(base, on_missing="fallback")
    try:
        rs.materialize()
        victim = sorted(glob.glob(os.path.join(rs.dir, "mat_*.npy")))[0]
        os.remove(victim)
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            got = sorted(map(tuple, rs.query(queries, top_k=5).collect()))
        assert any("degraded mode" in str(w.message) for w in caught)
        assert got == want
        # with all blocks present, no warning and the resident path serves
        rs.materialize()
        with warnings.catch_warnings(record=True) as caught2:
            warnings.simplefilter("always")
            got2 = sorted(map(tuple, rs.query(queries, top_k=5).collect()))
        assert not any("degraded mode" in str(w.message) for w in caught2)
        assert got2 == want
    finally:
        rs.close()


def test_resident_ivf_fallback_serves_exact_when_block_missing(store, queries):
    import glob
    import os
    import warnings

    from picovdb_spark.operators.similarity import batch_query

    base = store.select(K_ID, "_vector_")
    want = sorted(
        map(
            tuple,
            batch_query(base, queries, top_k=5, method="gemm").collect(),
        )
    )
    rs = ResidentStore(base, n_centroids=16, seed=42, on_missing="fallback")
    try:
        rs.materialize()
        victim = sorted(glob.glob(os.path.join(rs.dir, "mat_*.npy")))[0]
        os.remove(victim)
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            got = sorted(map(tuple, rs.query(queries, top_k=5).collect()))
        assert any("degraded mode" in str(w.message) for w in caught)
        assert got == want  # degraded mode = exact results
    finally:
        rs.close()


def test_resident_on_missing_validation(store):
    with pytest.raises(ValueError, match="on_missing"):
        ResidentStore(store.select(K_ID, "_vector_"), on_missing="ignore")


def test_resident_fallback_honors_query_vector_col_and_partial_loss(store, queries):
    """Degraded mode must survive (a) a custom query vector column and
    (b) a partition that lost only its ids file (regressions: the
    fallback once pinned the store's vector_col onto the query frame,
    and the probe once checked only mat_*.npy). A healthy probe result
    is CACHED for the store's lifetime (per-batch probes are an extra
    job each and locality-unsafe off local mode), so a loss observed
    after a healthy batch needs `invalidate_probe()` to re-arm it."""
    import glob
    import os
    import warnings

    base = store.select(K_ID, "_vector_")
    q2 = queries.withColumnRenamed("_vector_", "qvec")
    rs = ResidentStore(base, on_missing="fallback")
    try:
        rs.materialize()
        assert rs._probe_ok is False  # re-armed by materialize
        want = sorted(map(tuple, rs.query(queries, top_k=3).collect()))
        assert rs._probe_ok is True  # healthy probe result sticks
        # delete ONLY the ids sidecar of one partition
        victim = sorted(glob.glob(os.path.join(rs.dir, "ids_*.npy")))[0]
        os.remove(victim)
        rs.invalidate_probe()  # the documented post-loss re-arm
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            got = sorted(map(tuple, rs.query(q2, top_k=3, vector_col="qvec").collect()))
        assert any("degraded mode" in str(w.message) for w in caught)
        assert got == want
        # a degraded probe result is NOT cached: the next batch probes
        # again (and degrades again while the block stays missing)
        assert rs._probe_ok is False
    finally:
        rs.close()


def test_resident_gemm_query_local_matches_distributed(store, queries, exact):
    """In-process exact serving == the distributed resident query ==
    the float64 brute force, for every query: rows, scores and ranks,
    with no tolerance — routing off, and routing on at full probe."""
    base = store.select(K_ID, "_vector_")
    for routing in ({}, {"n_centroids": 16}):
        with ResidentStore(base, **routing) as rs:
            dist = rows_of(rs.query(queries, top_k=5, nprobe=16))
            local = sorted(
                r
                for qr in queries.collect()
                for r in local_rows(
                    qr["query_id"], rs.query_local(qr["_vector_"], top_k=5, nprobe=16)
                )
            )
        assert dist == local == exact[5], routing


def test_resident_gemm_query_local_int8_and_lifecycle(store, queries):
    import pytest as _pytest

    base = store.select(K_ID, "_vector_")
    qrow = queries.first()
    rs = ResidentStore(base, dtype="int8")
    with _pytest.raises(RuntimeError, match="materialize"):
        rs.query_local(qrow["_vector_"])
    rs.materialize()
    loc = rs.query_local(qrow["_vector_"], top_k=3)
    assert len(loc) == 3 and loc[0]["rank"] == 1
    # int8 quantization error band, not exact: top hit should still be
    # the query's own row with score ~1
    assert loc[0][K_METRICS] > 0.99
    rs.close()
    with _pytest.raises(RuntimeError, match="not visible|materialize"):
        rs.query_local(qrow["_vector_"])


def test_resident_rematerialize_refreshes_local_cache(store, queries):
    """materialize() must invalidate the in-process serving cache:
    unlinked files stay readable through live mmaps, so a stale cache
    would silently serve the previous materialization."""
    base = store.select(K_ID, "_vector_")
    qrow = queries.first()
    rs = ResidentStore(base)
    try:
        rs.materialize()
        before = rs.query_local(qrow["_vector_"], top_k=3)
        old_blocks = rs._local_cache[0]
        rs.materialize()
        assert rs._local_cache is None  # cache dropped until next load
        after = rs.query_local(qrow["_vector_"], top_k=3)
        assert after == before  # same data -> same answers, fresh mmaps
        assert rs._local_cache[0][0] is not old_blocks[0]
    finally:
        rs.close()


def test_resident_fallback_auto_rearms_after_healthy_probe(store, queries):
    """A block lost AFTER a healthy cached probe must not fail-fast
    until a manual invalidate_probe() — query()
    executes eagerly on the cached-probe path, catches the kernel's
    missing-block error, re-arms the probe, and retries ONCE via the
    degraded exact path. Routing off and on, plus a sidecar-only loss
    (ids file), which must take the same path as a lost mat block."""
    import glob
    import os
    import warnings

    base = store.select(K_ID, "_vector_")
    for make, kill in (
        (lambda: ResidentStore(base, on_missing="fallback"), "mat"),
        (lambda: ResidentStore(base, on_missing="fallback"), "ids"),
        (
            lambda: ResidentStore(
                base, n_centroids=16, seed=42, on_missing="fallback"
            ),
            "mat",
        ),
    ):
        rs = make()
        try:
            rs.materialize()
            kw = {"nprobe": 16} if rs.routed else {}
            want = sorted(map(tuple, rs.query(queries, top_k=3, **kw).collect()))
            assert rs._probe_ok is True  # healthy probe cached
            victim = sorted(glob.glob(os.path.join(rs.dir, f"{kill}_*.npy")))[0]
            os.remove(victim)
            # no invalidate_probe() here: the query re-arms by itself
            with warnings.catch_warnings(record=True) as caught:
                warnings.simplefilter("always")
                got = sorted(map(tuple, rs.query(queries, top_k=3, **kw).collect()))
            assert any("re-arming" in str(w.message) for w in caught)
            assert any("degraded" in str(w.message) for w in caught)
            assert got == want  # degraded path = exact results
            assert rs._probe_ok is False  # loss re-armed the probe
        finally:
            rs.close()


@pytest.mark.parametrize("lost", ["mat", "norm2"])
def test_resident_fail_fast_names_the_lost_block(store, queries, lost):
    """Default `on_missing="fail"`: a block file deleted after
    materialize makes `query` fail with the missing-block marker and the
    file's name, with routing off and on, and `query_local` fail as not
    visible — never a silent answer without those rows."""
    import glob

    for routing in ({}, {"n_centroids": 16, "seed": 42}):
        with ResidentStore(store.select(K_ID, "_vector_"), **routing) as rs:
            victim = sorted(glob.glob(os.path.join(rs.dir, f"{lost}_*.npy")))[0]
            os.remove(victim)
            with pytest.raises(Exception) as err:
                rs.query(queries, top_k=5, nprobe=16).collect()
            msg = str(err.value)
            assert "[resident-block-missing]" in msg and os.path.basename(victim) in msg, routing
            with pytest.raises(RuntimeError, match="not visible"):
                rs.query_local(queries.first()["_vector_"], top_k=5, nprobe=16)


def test_resident_close_destroys_query_broadcasts(spark, store, queries):
    """Each `query` broadcasts its query matrix, and the store owns
    those broadcasts: after `close()` no pickle file of them is left in
    the driver's broadcast temp dir."""
    tmp = spark.sparkContext._temp_dir
    for routing in ({}, {"n_centroids": 8}):
        rs = ResidentStore(store.select(K_ID, "_vector_"), **routing)
        rs.materialize()
        before = set(os.listdir(tmp))
        rs.query(queries, top_k=3).collect()
        rs.query(queries, top_k=3, better_than=0.5).collect()
        assert set(os.listdir(tmp)) - before, "a query leaves a broadcast file"
        rs.close()
        assert set(os.listdir(tmp)) - before == set(), routing


def test_resident_query_runs_one_task_per_core(spark):
    """A store cached on more partitions than cores: every stage of one
    `query` — the scoring scan and the top-k merge — runs at most
    `defaultParallelism` tasks, with routing off and on, and the answer
    stays the brute force."""
    from picovdb_spark.plans import job_tasks

    cores = spark.sparkContext.defaultParallelism
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((240, 8)).astype(np.float32)
    ids = [f"s{i:03d}" for i in range(len(vecs))]
    base = spark.createDataFrame(
        [(i, v.tolist()) for i, v in zip(ids, vecs)], f"{K_ID} string, _vector_ array<float>"
    ).repartition(3 * cores).cache()
    assert base.count() == len(vecs) and base.rdd.getNumPartitions() == 3 * cores
    qmat = rng.standard_normal((4, 8))
    qids = [f"q{i}" for i in range(len(qmat))]
    qdf = spark.createDataFrame(
        [(q, v.tolist()) for q, v in zip(qids, qmat)], "query_id string, _vector_ array<double>"
    )
    try:
        for routing in ({}, {"n_centroids": 4}):
            with ResidentStore(base, **routing) as rs:
                rows, jobs = job_tasks(spark, rs.query(qdf, top_k=3, nprobe=4).collect)
                assert jobs and max(t for stages in jobs for t in stages) <= cores, (routing, jobs)
                got = sorted(
                    (r["query_id"], r[K_ID], repr(r[K_METRICS]), r["rank"]) for r in rows
                )
                assert got == brute_force(qids, qmat, ids, vecs, 3), routing
    finally:
        base.unpersist()

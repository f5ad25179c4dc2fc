"""ANN path tests — the engine's twin of the reference's FAISS-vs-NumPy
equivalence suite (/root/reference/tests/test_task14_faiss_vs_numpy_results.py):
the approximate path must (a) agree with the exact path within a recall
band on realistic data, (b) agree EXACTLY when every cluster is probed,
and (c) never serve filtered queries (pico_vdb.py:667-668 routing rule).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from picovdb_spark.operators.ann import IvfIndex, ann_query, lsh_ann_join
from picovdb_spark.operators.similarity import batch_query, knn_join
from picovdb_spark.schema import K_ID, K_VECTOR, load_embeddings_store, load_table
from picovdb_spark.store import VectorStore


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_embeddings_store(spark, sf_dir)


@pytest.fixture(scope="module")
def queries(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 16)
        .select(
            F.col("vec_id").cast("string").alias("query_id"),
            F.col("embedding").alias(K_VECTOR),
        )
    )


@pytest.fixture(scope="module")
def index(emb):
    return IvfIndex.build(emb, n_centroids=16, seed=42)


def _hits(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r[K_ID])
    return out


def test_ivf_full_probe_equals_exact(emb, queries, index):
    """nprobe == n_centroids ⇒ every row scored ⇒ identical to exact."""
    exact = batch_query(emb, queries, top_k=10, method="gemm")
    approx = ann_query(index, queries, top_k=10, nprobe=len(index.centroids))
    e = {(r["query_id"], r[K_ID], r["_metrics_"], r["rank"]) for r in exact.select(
        "query_id", K_ID, "_metrics_", "rank").collect()}
    a = {(r["query_id"], r[K_ID], r["_metrics_"], r["rank"]) for r in approx.collect()}
    assert e == a


def test_ivf_recall_band(emb, queries, index):
    """Partial probing keeps high recall@10 (clustered testdata)."""
    exact = _hits(batch_query(emb, queries, top_k=10, method="gemm"))
    approx = _hits(ann_query(index, queries, top_k=10, nprobe=4))
    recalls = [len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact]
    assert np.mean(recalls) >= 0.6, recalls


def test_ivf_more_probes_more_recall(emb, queries, index):
    exact = _hits(batch_query(emb, queries, top_k=10, method="gemm"))

    def mean_recall(nprobe):
        approx = _hits(ann_query(index, queries, top_k=10, nprobe=nprobe))
        return np.mean([len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact])

    assert mean_recall(8) >= mean_recall(2) - 1e-9


def test_ivf_better_than(index, queries):
    out = ann_query(index, queries, top_k=10, nprobe=4, better_than=0.5).collect()
    assert all(r["_metrics_"] >= 0.5 for r in out)


def test_store_routing_filters_force_exact(spark):
    """ann=True + where filter ⇒ exact path (result has metadata columns,
    which ann_query never emits) and matches the plain exact result."""
    store = VectorStore(spark, embedding_dim=4, checkpoint_mutations=False)
    rng = np.random.default_rng(0)
    items = [
        {"_id_": str(i), "_vector_": [float(x) for x in rng.standard_normal(4)], "cat": i % 2}
        for i in range(64)
    ]
    store.upsert(items)
    q = [1.0, 0.0, 0.0, 0.0]
    via_ann_kw = store.query_one(q, top_k=5, where={"cat": 1}, ann=True).collect()
    exact = store.query_one(q, top_k=5, where={"cat": 1}).collect()
    assert [r["_id_"] for r in via_ann_kw] == [r["_id_"] for r in exact]
    assert all(r["cat"] == 1 for r in via_ann_kw)


def test_store_ann_unfiltered_and_dirty_invalidation(spark):
    store = VectorStore(spark, embedding_dim=8, checkpoint_mutations=False)
    rng = np.random.default_rng(1)
    store.upsert(
        [{"_id_": str(i), "_vector_": [float(x) for x in rng.standard_normal(8)]} for i in range(200)]
    )
    store.build_ann_index(n_centroids=4)
    out = store.query_one([float(x) for x in rng.standard_normal(8)], top_k=3, ann=True, nprobe=4)
    assert out.count() == 3
    # mutation marks the index dirty (pending-change parity,
    # pico_vdb.py:496-497) — kept for lazy maintenance, not dropped
    store.delete(["0"])
    assert store._ann is not None and "0" in store._ann_pending
    # the deleted id is pulled out of the index at the next ANN query
    res = store.query_one([float(x) for x in rng.standard_normal(8)], top_k=200, ann=True, nprobe=4)
    assert "0" not in {r["_id_"] for r in res.collect()}
    assert store._ann_pending == set()


def test_store_ann_incremental_vs_full_threshold(spark):
    """Change-ratio maintenance (pico_vdb.py:877-881, default 0.2):
    mirrors /root/reference/tests/test_task36_faiss_incremental_threshold.py
    rebuild-mode assertions on upsert sizes 1/40 and 12/40."""
    rng = np.random.default_rng(3)

    def vec():
        return [float(x) for x in rng.standard_normal(8)]

    store = VectorStore(
        spark, embedding_dim=8, checkpoint_mutations=False,
        ann_incremental_threshold_ratio=0.2,
    )
    store.upsert([{"_id_": f"id{i}", "_vector_": vec()} for i in range(40)])

    # first ANN query builds full
    store.query_one(vec(), top_k=5, ann=True, nprobe=4)
    assert store._last_ann_rebuild_mode == "full"

    # 1 update of 40 = 0.025 <= 0.2 -> incremental (frozen centroids)
    cent_before = store._ann.centroids
    store.upsert([{"_id_": "id0", "_vector_": vec()}])
    store.query_one(vec(), top_k=5, ann=True, nprobe=4)
    assert store._last_ann_rebuild_mode == "incremental"
    assert store._ann.centroids is cent_before
    assert store._ann_ntotal == 40

    # 12 changes of 40 = 0.3 > 0.2 -> full refit
    store.upsert([{"_id_": f"id{i}", "_vector_": vec()} for i in range(12)])
    store.query_one(vec(), top_k=5, ann=True, nprobe=4)
    assert store._last_ann_rebuild_mode == "full"
    assert store._ann.centroids is not cent_before

    # pure-append below threshold is incremental too, and queryable
    store.upsert([{"_id_": "new1", "_vector_": [1.0, 0, 0, 0, 0, 0, 0, 0]}])
    hits = store.query_one([1.0, 0, 0, 0, 0, 0, 0, 0], top_k=1, ann=True, nprobe=40).collect()
    assert store._last_ann_rebuild_mode == "incremental"
    assert hits[0]["_id_"] == "new1" and hits[0]["_metrics_"] == 1.0


def test_ivf_add_auto_refit_threshold(spark, emb):
    """IvfIndex.add auto-refits once cumulative appends exceed 20% of the
    fitted base (centroid-drift bound, pico_vdb.py:194-204)."""
    from pyspark.sql import functions as F

    base = emb.filter(F.col("_id_").cast("int") < 100)
    idx = IvfIndex.build(base, n_centroids=4, seed=42)
    assert idx.base_rows == 100 and idx.last_mode == "full"

    more = emb.filter((F.col("_id_").cast("int") >= 100) & (F.col("_id_").cast("int") < 110))
    idx2 = idx.add(more)  # 10/100 = 0.1 <= 0.2 -> append
    assert idx2.last_mode == "incremental" and idx2.added_rows == 10
    assert idx2.centroids is idx.centroids

    more2 = emb.filter((F.col("_id_").cast("int") >= 110) & (F.col("_id_").cast("int") < 125))
    idx3 = idx2.add(more2)  # (10+15)/100 = 0.25 > 0.2 -> full refit
    assert idx3.last_mode == "full"
    assert idx3.centroids is not idx.centroids
    assert idx3.base_rows == 125 and idx3.added_rows == 0


def test_ivf_incremental_add(spark, emb, queries, index):
    """add() assigns only new rows against frozen centroids; queries see
    them immediately (incremental path, pico_vdb.py:884-921)."""
    import numpy as np
    from pyspark.sql import types as T

    new = spark.createDataFrame(
        [("new-hit", [float(x) for x in np.asarray(queries.first()[K_VECTOR])], 99)],
        schema=T.StructType(
            [
                T.StructField(K_ID, T.StringType()),
                T.StructField(K_VECTOR, T.ArrayType(T.FloatType())),
                T.StructField("label", T.IntegerType()),
            ]
        ),
    )
    idx2 = index.add(new.select(*index.df.drop("__cluster").columns))
    # the new row duplicates the query vector: it must tie the original
    # at score 1.0 (id-ascending tiebreak puts "0" first)
    out = ann_query(idx2, queries.limit(1), top_k=2, nprobe=4).collect()
    by_id = {r[K_ID]: r["_metrics_"] for r in out}
    assert "new-hit" in by_id and by_id["new-hit"] >= 0.999999


def test_ivf_write_read_partition_pruning(spark, emb, queries, index, tmp_path):
    """A persisted index must (a) round-trip exactly, (b) plan probe
    queries with Hive partition pruning — unprobed clusters produce NO
    scan IO (PartitionFilters on __cluster)."""
    from picovdb_spark.operators.ann import IvfIndex
    from picovdb_spark.plans import explain_str

    p = str(tmp_path / "ivf_index")
    index.write(p)
    loaded = IvfIndex.read(spark, p)
    assert (loaded.centroids == index.centroids).all()

    a = ann_query(index, queries, top_k=5, nprobe=4)
    b = ann_query(loaded, queries, top_k=5, nprobe=4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    plan = explain_str(ann_query(loaded, queries, top_k=5, nprobe=2))
    assert "PartitionFilters" in plan and "__cluster" in plan.split("PartitionFilters", 1)[1][:200]


def test_ann_query_serving_form_equals_dataframe_form(queries, index):
    """`ann_query` takes the pre-collected `(ids, matrix)` serving form,
    as `batch_query` does, and answers it row for row like the same
    batch passed as a DataFrame."""
    rows = queries.collect()
    ids = [r["query_id"] for r in rows]
    mat = np.asarray([r[K_VECTOR] for r in rows], dtype=np.float32)

    def ordered(df):
        return sorted(map(tuple, df.collect()), key=lambda t: (t[0], t[-1]))

    for meta in (False, True):
        want = ordered(ann_query(index, queries, top_k=5, nprobe=4, include_metadata=meta))
        got = ordered(ann_query(index, (ids, mat), top_k=5, nprobe=4, include_metadata=meta))
        assert got == want and len(got) == 5 * len(ids)


def test_minhash_bucket_cap(spark):
    """max_bucket_size drops boilerplate buckets: identical docs beyond
    the cap produce no candidate pairs from that bucket, while distinct
    near-dups below the cap still pair."""
    from picovdb_spark.operators.dedup import minhash_lsh_pairs

    boiler = [(i, "common header text repeated everywhere in the corpus exactly") for i in range(20)]
    pair = [
        (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (101, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    ]
    docs = spark.createDataFrame(boiler + pair, schema="doc_id long, text string")
    uncapped = minhash_lsh_pairs(docs, threshold=0.3)
    assert uncapped.count() >= 190  # 20 identical docs → C(20,2) pairs
    capped = minhash_lsh_pairs(docs, threshold=0.3, max_bucket_size=5)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got          # real near-dup survives
    assert all(a >= 100 for a, _ in got)  # boilerplate bucket dropped


def test_simhash_scale_config(spark):
    """The wide-fingerprint scale configuration (bits=60, max_hamming=3
    → 4 blocks of 15 bits): planted one-word mutations still pair, the
    guarantee precondition (bits divisible by blocks) is enforced, and
    the bucket cap drops boilerplate like minhash's."""
    from picovdb_spark.operators.dedup import simhash_fingerprint, simhash_pairs

    # hamming ≤ 3 is a deliberately tight dup class: a 1-word change
    # needs a long doc (~200 words) for its 3 shifted shingles to move
    # few enough fingerprint bits
    base = " ".join(f"w{i}" for i in range(200))
    mutated = base.replace("w7 ", "zz ", 1)
    boiler = [(i, "shared boilerplate header all over the corpus body") for i in range(12)]
    docs = spark.createDataFrame(
        boiler + [(100, base), (101, mutated), (102, "totally unrelated words here")],
        schema="doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(docs, bits=60, max_hamming=3).collect()
    }
    assert (100, 101) in got
    assert not any({a, b} == {100, 102} for a, b in got)
    # python fingerprint agrees with itself at the wide width & is <2^60
    fp = simhash_fingerprint(base, bits=60)
    assert 0 <= fp < (1 << 60)
    with pytest.raises(ValueError, match="divisible"):
        simhash_pairs(docs, bits=48, max_hamming=4)  # 5 blocks ∤ 48
    with pytest.raises(ValueError, match="bits"):
        simhash_fingerprint(base, bits=64)  # > int64-safe width
    capped = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(
            docs, bits=60, max_hamming=3, max_bucket_size=5
        ).collect()
    }
    assert (100, 101) in capped
    assert all(a >= 100 for a, _ in capped)  # boilerplate bucket dropped


def test_lsh_bucket_stats_shape(spark):
    """lsh_bucket_stats: candidate_pairs equals the exact Σ s(s−1)/2 of
    the band buckets — cross-checked on a corpus of identical docs where
    the math is closed-form (every band bucket holds all n docs)."""
    from picovdb_spark.operators.dedup import lsh_bucket_stats

    n = 7
    docs = spark.createDataFrame(
        [(i, "same words in every single document here") for i in range(n)],
        schema="doc_id long, text string",
    )
    stats = lsh_bucket_stats(docs, bands=4)
    assert stats["max_bucket"] == n
    assert stats["buckets"] == 4
    assert stats["candidate_pairs"] == 4 * n * (n - 1) // 2


def test_lsh_ann_join_recall(spark, emb, queries):
    exact = _hits(
        knn_join(
            queries, emb, k=5,
            left_id="query_id", right_id=K_ID, left_vec=K_VECTOR, right_vec=K_VECTOR,
        )
    )
    approx = _hits(
        lsh_ann_join(
            queries, emb, k=5,
            left_id="query_id", right_id=K_ID, left_vec=K_VECTOR, right_vec=K_VECTOR,
            n_bits=24, n_bands=12, seed=7,
        )
    )
    recalls = [len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact]
    assert np.mean(recalls) >= 0.5, recalls


# -------------------------------------------- embedding_near_dup scale routing


@pytest.fixture(scope="module")
def neardup_emb(spark):
    """40 unit vectors at dim 16: 30 random bases + 10 slightly-perturbed
    copies of the first 10 (cosine ≈ 0.99 to their base)."""
    rng = np.random.default_rng(123)
    base = rng.standard_normal((30, 16))
    base /= np.sqrt((base * base).sum(axis=1))[:, None]
    dups = base[:10] + 0.05 * rng.standard_normal((10, 16))
    mat = np.vstack([base, dups])
    return spark.createDataFrame(
        [(f"e{i:02d}", [float(x) for x in row]) for i, row in enumerate(mat)],
        schema="vec_id string, embedding array<double>",
    )


def _pairs(df):
    return sorted((r["id_a"], r["id_b"], r["cosine"]) for r in df.collect())


def test_embedding_near_dup_lsh_matches_exact(neardup_emb):
    """The LSH bucketed path finds the same high-cosine pairs as the
    exact cross-join formulation on a near-dup fixture (recall loss at
    cosine ≈ 0.99 with 32 bits / 8 bands is ~1e-5 — deterministic here
    under the fixed projection seed)."""
    from picovdb_spark.operators.dedup import embedding_near_dup

    exact = _pairs(embedding_near_dup(neardup_emb, threshold=0.9, method="sql"))
    lsh = _pairs(embedding_near_dup(neardup_emb, threshold=0.9, method="lsh"))
    assert len(exact) >= 10  # every perturbed copy pairs with its base
    assert lsh == exact


def test_embedding_near_dup_auto_routes_off_driver_above_cap(neardup_emb, monkeypatch):
    """VERDICT item: method="auto" must NEVER attempt the
    collect-and-broadcast GEMM path on an input whose estimated matrix
    exceeds the broadcast cap — it routes to the LSH equi-join path."""
    import picovdb_spark.operators.dedup as dd

    def no_gemm(*a, **k):
        raise AssertionError("auto routed to the driver-collect GEMM path above the cap")

    monkeypatch.setattr(dd, "_near_dup_gemm", no_gemm)
    routed = _pairs(
        dd.embedding_near_dup(neardup_emb, threshold=0.9, broadcast_cap_bytes=1)
    )
    exact = _pairs(dd.embedding_near_dup(neardup_emb, threshold=0.9, method="sql"))
    assert routed == exact


def test_embedding_near_dup_auto_small_stays_gemm(neardup_emb, monkeypatch):
    """Under the cap, auto keeps the exact GEMM path (no recall loss)."""
    import picovdb_spark.operators.dedup as dd

    used = {}
    real = dd._near_dup_gemm

    def spy(*a, **k):
        used["gemm"] = True
        return real(*a, **k)

    monkeypatch.setattr(dd, "_near_dup_gemm", spy)
    _pairs(dd.embedding_near_dup(neardup_emb, threshold=0.9))
    assert used.get("gemm")


def test_lsh_bucket_stats_empty_corpus(spark):
    from picovdb_spark.operators.dedup import lsh_bucket_stats

    docs = spark.createDataFrame([], schema="doc_id long, text string")
    stats = lsh_bucket_stats(docs)
    assert stats == {
        "buckets": 0, "max_bucket": 0, "p99_bucket": 0, "candidate_pairs": 0
    }


def test_embedding_near_dup_auto_routes_lsh_above_flop_cap(neardup_emb, monkeypatch):
    """The byte cap alone is not a safe router: a low-dim corpus can fit
    its broadcast under the cap while the all-pairs scan is quadratic
    disaster (1M x 128 = 1.02 GB broadcast but 1.3e17 FLOPs). auto must
    also respect gemm_flop_cap and take the LSH path past it."""
    import picovdb_spark.operators.dedup as dd

    def no_gemm(*a, **k):
        raise AssertionError("auto routed to GEMM past the quadratic-compute budget")

    monkeypatch.setattr(dd, "_near_dup_gemm", no_gemm)
    routed = _pairs(
        dd.embedding_near_dup(neardup_emb, threshold=0.9, gemm_flop_cap=1.0)
    )
    exact = _pairs(dd.embedding_near_dup(neardup_emb, threshold=0.9, method="sql"))
    assert routed == exact


def test_embedding_near_dup_lsh_zero_vectors_follow_e0_invariant(spark):
    """A pair of zero vectors must score cosine 1.0 on the LSH path too:
    every normalize in the engine maps zero to e0 (the store invariant),
    and the gemm/sql paths report the pair — the Arrow verify kernel
    must not silently drop it via a 0/0 guard."""
    from picovdb_spark.operators.dedup import embedding_near_dup

    df = spark.createDataFrame(
        [("z1", [0.0] * 8), ("z2", [0.0] * 8), ("u", [1.0] + [0.0] * 7)],
        schema="vec_id string, embedding array<double>",
    )
    lsh = _pairs(embedding_near_dup(df, threshold=0.9, method="lsh"))
    sql = _pairs(embedding_near_dup(df, threshold=0.9, method="sql"))
    # zero vectors normalize to e0, so z1~z2, z1~u, z2~u all hit 1.0
    assert lsh == sql
    assert ("z1", "z2", 1.0) in lsh


def test_embedding_near_dup_gemm_chunking_exact(neardup_emb, monkeypatch):
    """The GEMM kernel's bounded-chunk scoring (added so a 10k-row Arrow
    batch against a 1M-row broadcast can't allocate an 80 GB score
    matrix) must be result-identical to unchunked scoring. Shrink the
    chunk budget so the 40-row fixture crosses several chunk boundaries."""
    import picovdb_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "GEMM_CHUNK_ELEMS", 7 * 40)  # 7 rows per chunk
    chunked = _pairs(dd.embedding_near_dup(neardup_emb, threshold=0.9, method="gemm"))
    exact = _pairs(dd.embedding_near_dup(neardup_emb, threshold=0.9, method="sql"))
    assert chunked == exact and len(chunked) >= 10


def test_stack_vectors_matches_per_row_loop():
    """stack_vectors (the vectorized Arrow-column ingest all mapInPandas
    vector kernels share) must be bit-identical to the per-element
    np.asarray loop it replaced, across the element dtypes Arrow
    actually delivers (f32/f64 numpy arrays, plain lists) and the
    empty batch."""
    import pandas as pd

    from picovdb_spark.operators.ann import stack_vectors

    rng = np.random.default_rng(7)

    def loop(series):
        return np.asarray([np.asarray(x, dtype=np.float64) for x in series])

    f32 = [rng.standard_normal(17).astype(np.float32) for _ in range(101)]
    f64 = [rng.standard_normal(17) for _ in range(101)]
    lst = [list(v) for v in f64]
    for elems in (f32, f64, lst):
        s = pd.Series(elems, dtype=object)
        got, want = stack_vectors(s), loop(s)
        assert got.dtype == np.float64 and got.shape == (101, 17)
        assert np.array_equal(got, want)

    empty = stack_vectors(pd.Series([], dtype=object))
    assert empty.shape == (0, 0) and empty.dtype == np.float64


def test_ivf_read_takes_base_rows_from_footers(spark, emb, index, tmp_path):
    """`read` sums `base_rows` from the cluster files' Parquet footers,
    listing the directories itself: a path holding glob metacharacters
    (Spark reads `*` and `?` literally when they match) still counts
    every row."""
    for name in ("ivf_rows", "ivf*rows?"):
        p = str(tmp_path / name)
        index.write(p)
        loaded = IvfIndex.read(spark, p)
        assert loaded.base_rows == emb.count() == loaded.df.count()


def test_simhash_null_and_nan_text_have_no_tokens(spark):
    """NULL and NaN text fingerprint like "" at every shingle size — not
    as the text "None"/"nan" — so a NULL doc is no near-dup of a doc
    reading "none"."""
    from picovdb_spark.operators.dedup import simhash_fingerprint, simhash_pairs

    for n in (1, 3):
        empty = simhash_fingerprint("", shingle_n=n)
        assert simhash_fingerprint(None, shingle_n=n) == empty
        assert simhash_fingerprint(float("nan"), shingle_n=n) == empty
    assert simhash_fingerprint("none", shingle_n=1) != simhash_fingerprint(None, shingle_n=1)
    docs = spark.createDataFrame(
        [(1, None), (2, "none"), (3, "None")], schema="doc_id long, text string"
    )
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_pairs(docs, shingle_n=1).collect()}
    assert pairs == {(2, 3)}

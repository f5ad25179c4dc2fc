"""Approximate nearest-neighbor search — the Spark analog of the
reference's FAISS HNSW path (/root/reference/picovdb/pico_vdb.py:716-751).

A graph index (HNSW) does not map to Spark's shared-nothing scan model,
so the engine provides the two batch-friendly ANN families instead
(SURVEY.md §1.6, §2.2 Q15):

- **IVF (inverted-file) centroid pruning** — k-means over the store;
  each query probes only its `nprobe` nearest clusters. `nprobe` is the
  efSearch-style recall/speed knob (pico_vdb.py:169-212). At cluster
  scale the store is written *partitioned by cluster id*, so probing is
  Spark partition pruning: unprobed clusters are never read.
- **Random-hyperplane (sign) LSH** — cosine-preserving bit signatures,
  banded into bucket keys; candidates come from an equi-join on bands
  (a hash shuffle, no cross product), then exact rescoring.

Routing rule (pico_vdb.py:667-668): ANN only serves *unfiltered* whole-
store queries; any `where`/`ids` filter falls back to the exact GEMM
path. `VectorStore.query(ann=...)` enforces this.

Index maintenance: `IvfIndex.refit()` is `rebuild_index()`
(pico_vdb.py:855-860); cheap incremental maintenance = re-assigning only
new/changed rows against frozen centroids (`assign` is a pure function
of the centroid matrix), the analog of the reference's incremental
add/remove path (pico_vdb.py:866-921).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from picovdb_spark.operators.kernels import _unit_rows, certified_topk, emit_topk
from picovdb_spark.schema import K_DELETED, K_ID, K_METRICS, K_VECTOR

CLUSTER_COL = "__cluster"


def _as_matrix(rows, col: str) -> np.ndarray:
    return np.asarray([np.asarray(r[col], dtype=np.float64) for r in rows])


def stack_vectors(series) -> np.ndarray:
    """Dense (n, dim) float64 matrix from one Arrow-delivered vector
    column (a pandas Series of equal-length numeric arrays).

    ``np.stack`` over the object array is one C-level copy per row;
    the per-element ``np.asarray(x, dtype=float64)`` loop it replaces
    paid two Python calls plus an allocation per row (measured 2.8–3.9×
    slower at dims 128/1024). The f32→f64 upcast is exact, so the
    result is bit-identical to the former form.
    """
    vals = series.to_numpy()
    if len(vals) == 0:
        return np.empty((0, 0))
    return np.stack(vals).astype(np.float64, copy=False)


def sample_matrix(
    store: DataFrame,
    *,
    vector_col: str = K_VECTOR,
    sample_size: int = 25_000,
    seed: int = 42,
) -> np.ndarray:
    """Bounded distributed sample of the vector column as a dense (n, dim)
    float64 matrix, fetched via Arrow (`toArrow` + zero-copy flatten).
    The per-Row collect this replaces deserialized 25k array Rows through
    Python objects — ~13 s at dim 1024 vs ~1 s here (bench history);
    both k-means fits draw their sample through this one path."""
    total = store.count()
    frac = min(1.0, (sample_size * 1.2) / max(total, 1))
    df = store.select(vector_col).sample(fraction=frac, seed=seed).limit(sample_size)
    col = df.toArrow().column(0).combine_chunks()
    n = len(col)
    if n == 0:
        return np.empty((0, 0))
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.reshape(n, -1).astype(np.float64)


def kmeans_mean_update(x: np.ndarray, assign: np.ndarray, prev: np.ndarray) -> np.ndarray:
    """One vectorized Lloyd mean-update: new centroid = mean of members,
    empty clusters keep their previous value. Implemented as a one-hot
    GEMM (membershipᵀ @ x): the same BLAS kernel class as the
    assignment step, so it parallelizes under `driver_blas_threads`
    where the earlier sort+gather+reduceat pass was a memory-bound copy
    of the whole sample per iteration (and the k-loop before THAT was
    50-85 s of the PQ fit; bench history). Deterministic for a fixed
    host/thread config, but NOT bit-identical to a
    `x[assign == c].mean(axis=0)` loop: GEMM blocking reorders the
    sums, and the float32 fit path accumulates ~25k-element cluster
    sums in fp32 SGEMM — the error bound is the usual √n·ε_f32
    accumulation level (~1e-5 relative), not 1 ulp. Every consumer is a
    cluster assignment — argmax/argmin over centroids — where a shift
    of that size is noise; accuracy is band-tested downstream and the oracle-checked
    full-probe/full-refine configurations are invariant to the
    clustering entirely."""
    k = len(prev)
    if x.shape[1] >= 256:
        # wide vectors (IVF coarse fit, dim ~1024): the GEMM dominates
        # and threads pay for the one-hot construction many times over
        onehot = np.zeros((len(assign), k), dtype=x.dtype)
        onehot[np.arange(len(assign)), assign] = 1
        sums = onehot.T @ x
        counts = np.bincount(assign, minlength=k)
        out = prev.copy()
        nonempty = counts > 0
        out[nonempty] = sums[nonempty] / counts[nonempty, None]
        return out
    # narrow vectors (PQ subspaces, dsub ~64): the gather is only a few
    # MB — sorted reduceat beats building a 25 MB one-hot per iteration
    order = np.argsort(assign, kind="stable")
    xs = x[order]
    a = assign[order]
    starts = np.concatenate(([0], np.flatnonzero(np.diff(a)) + 1))
    sums = np.add.reduceat(xs, starts, axis=0)
    counts = np.diff(np.concatenate((starts, [len(a)])))
    out = prev.copy()
    out[a[starts]] = sums / counts[:, None]
    return out


def fit_centroids(
    store: DataFrame,
    n_centroids: int,
    *,
    vector_col: str = K_VECTOR,
    sample_size: int = 25_000,
    n_iter: int = 10,
    seed: int = 42,
    sample: np.ndarray | None = None,
) -> np.ndarray:
    """Spherical k-means on a bounded sample; returns (k, dim) float64
    unit centroids.

    The sample is drawn distributed (`df.sample`) and only `sample_size`
    vectors ever reach the driver, so this is safe at any store size
    (25k × dim-1024 float ≈ 100 MB of task results); the Lloyd
    iterations are a dense GEMM on the sample — sub-second. (A fully
    distributed fit via pyspark.ml KMeans is a drop-in upgrade; a
    bounded-sample fit is standard practice for IVF coarse quantizers.)
    """
    if sample is None:
        sample = sample_matrix(
            store, vector_col=vector_col, sample_size=sample_size, seed=seed
        )
    if sample.size == 0:
        raise ValueError("cannot fit IVF centroids on an empty store")
    x = _unit_rows(sample).astype(np.float32)
    # f32 fit: clustering tolerates it (assignments are argmax over well-
    # separated scores), query-time scoring keeps its own precision
    k = min(n_centroids, len(x))
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=k, replace=False)]
    from picovdb_spark.session import driver_blas_threads

    # the Lloyd GEMMs run driver-side where BLAS is pinned to 1 thread
    # for the workers' sake — raise it for the fit (25k×1024×256/iter
    # was ~60% of IVF-PQ build wall on one core)
    with driver_blas_threads():
        for _ in range(n_iter):
            assign = np.argmax(x @ cent.T, axis=1)  # cosine on unit vectors
            cent = _unit_rows(kmeans_mean_update(x, assign, cent))
    return _unit_rows(cent.astype(np.float64))


def assign_clusters(
    store: DataFrame, centroids: np.ndarray, *, vector_col: str = K_VECTOR
) -> DataFrame:
    """Add `__cluster` = argmax cosine(centroid, vector). Arrow-batched;
    the centroid matrix broadcasts once per executor."""
    spark = store.sparkSession
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(centroids))
    schema = T.StructType(store.schema.fields + [T.StructField(CLUSTER_COL, T.IntegerType())])
    cols = store.columns

    def f(batches: Iterator) -> Iterator:
        cent = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            v = _unit_rows(stack_vectors(pdf[vector_col]))
            pdf = pdf.copy()
            pdf[CLUSTER_COL] = np.argmax(v @ cent.T, axis=1).astype("int32")
            yield pdf

    return store.select(*cols).mapInPandas(f, schema=schema)


@dataclass
class IvfIndex:
    """Materialized IVF index: the store with a cluster column (at scale:
    Parquet partitioned by `__cluster`) + the centroid matrix.

    `base_rows`/`added_rows` track centroid drift for the incremental-
    vs-full maintenance decision (the reference's changed/ntotal ≤ 0.2
    rule, pico_vdb.py:194-204, :877-881); `last_mode` records which path
    the last maintenance took ("full" | "incremental"), the analog of
    `_last_faiss_rebuild_mode` (pico_vdb.py:204)."""

    df: DataFrame
    centroids: np.ndarray
    vector_col: str = K_VECTOR
    base_rows: int | None = None
    added_rows: int = 0
    last_mode: str = "full"

    @classmethod
    def build(
        cls,
        store: DataFrame,
        *,
        n_centroids: int = 64,
        vector_col: str = K_VECTOR,
        seed: int = 42,
        materialize: bool = True,
    ) -> "IvfIndex":
        if K_DELETED in store.columns:
            store = store.filter(~F.col(K_DELETED)).drop(K_DELETED)
        cent = fit_centroids(store, n_centroids, vector_col=vector_col, seed=seed)
        assigned = assign_clusters(store, cent, vector_col=vector_col)
        if materialize:
            # cluster-clustered layout: the write analog of
            # .write.partitionBy(CLUSTER_COL) — probing prunes whole files
            assigned = assigned.repartition(max(len(cent) // 4, 1), CLUSTER_COL)
            assigned = assigned.localCheckpoint(eager=True)
            base_rows = assigned.count()  # cheap: counts the checkpoint
        else:
            base_rows = None
        return cls(df=assigned, centroids=cent, vector_col=vector_col, base_rows=base_rows)

    def write(self, path: str) -> None:
        """Persist the full index artifact: store rows partitioned by
        cluster id (so `ann_query`'s probe filter becomes Hive-style
        partition pruning — zero IO for unprobed clusters, pinned by
        tests/test_ann.py) + the centroid matrix as .npy alongside."""
        import os

        self.df.write.mode("overwrite").partitionBy(CLUSTER_COL).parquet(path)
        tmp = os.path.join(path, "_centroids.npy.tmp.npy")
        np.save(tmp, self.centroids)
        os.replace(tmp, os.path.join(path, "_centroids.npy"))

    @classmethod
    def read(cls, spark, path: str, *, vector_col: str = K_VECTOR) -> "IvfIndex":
        """Load a written index; the DataFrame stays lazy (scans prune by
        `__cluster` at query time)."""
        import os

        cent = np.load(os.path.join(path, "_centroids.npy"))
        df = spark.read.parquet(path)
        # base_rows seeds add()'s drift ratio — one metadata-only count
        # (Parquet row-group stats), without it auto-refit never fires
        # on a reopened index
        return cls(df=df, centroids=cent, vector_col=vector_col, base_rows=df.count())

    def refit(self, *, n_centroids: int | None = None, seed: int = 42) -> "IvfIndex":
        """rebuild_index() parity (pico_vdb.py:855-860)."""
        return IvfIndex.build(
            self.df.drop(CLUSTER_COL),
            n_centroids=n_centroids or len(self.centroids),
            vector_col=self.vector_col,
            seed=seed,
        )

    def add(
        self,
        new_rows: DataFrame,
        *,
        auto_refit: bool = True,
        threshold: float = 0.2,
        seed: int = 42,
        materialize: bool = True,
    ) -> "IvfIndex":
        """Incremental maintenance: assign ONLY the new rows against the
        frozen centroids and append — the analog of the reference's
        incremental add path (`_rebuild_faiss` remove_ids+add_with_ids,
        pico_vdb.py:884-921).

        Centroid drift accumulates with appends, so past the reference's
        rebuild threshold (cumulative changed/base > `threshold`, default
        0.2 — pico_vdb.py:194-204, :877-881) the add AUTO-REFITS: a full
        seeded k-means over old+new rows (`last_mode == "full"`); below
        it the append is the cheap path (`last_mode == "incremental"`).
        `auto_refit=False` restores the always-append round-1 behavior
        for callers managing their own rebuild policy (VectorStore).

        `materialize=True` (default) localCheckpoints the assigned DELTA
        — O(batch), never O(index) — so the appended index stays valid
        after the caller's source files change (the streaming-ingest
        loop atomically SWAPS the store parquet between micro-batches;
        a lazy union over the old files would fail — or silently read
        stale data — on the next maintenance cycle; pinned by
        tests/test_streaming.py). The base side is already stable: a
        materialized build() is checkpointed, a read() index scans its
        own written files."""
        n_new = new_rows.count()
        pending = self.added_rows + n_new
        if auto_refit and self.base_rows is None:
            # non-materialized build: price the base once, lazily, so the
            # drift rule still governs (a silent None would disable
            # auto-refit forever on this index)
            self.base_rows = self.df.count()
        if (
            auto_refit
            and self.base_rows
            and pending / float(self.base_rows) > threshold
        ):
            combined = self.df.drop(CLUSTER_COL).unionByName(
                new_rows.select(*[c for c in self.df.columns if c != CLUSTER_COL])
            )
            rebuilt = IvfIndex.build(
                combined,
                n_centroids=len(self.centroids),
                vector_col=self.vector_col,
                seed=seed,
            )
            rebuilt.last_mode = "full"
            return rebuilt
        assigned = assign_clusters(new_rows, self.centroids, vector_col=self.vector_col)
        if materialize:
            assigned = assigned.localCheckpoint(eager=True)
        return IvfIndex(
            df=self.df.unionByName(assigned.select(*self.df.columns)),
            centroids=self.centroids,
            vector_col=self.vector_col,
            base_rows=self.base_rows,
            added_rows=pending,
            last_mode="incremental",
        )

    def remove(self, ids) -> "IvfIndex":
        """Drop rows by id from the index without refitting — the analog
        of `faiss.remove_ids` (pico_vdb.py:884-893). Removals count
        toward the caller's change budget, not `added_rows`."""
        id_list = [str(i) for i in ids]
        return IvfIndex(
            df=self.df.filter(~F.col(K_ID).isin(id_list)),
            centroids=self.centroids,
            vector_col=self.vector_col,
            base_rows=self.base_rows,
            added_rows=self.added_rows,
            last_mode="incremental",
        )


def ann_query(
    index: IvfIndex,
    queries: DataFrame,
    *,
    top_k: int = 10,
    nprobe: int = 8,
    better_than: float | None = None,
    round_to: int = 6,
    query_id: str = "query_id",
    vector_col: str = K_VECTOR,
    include_metadata: bool = False,
) -> DataFrame:
    """IVF batch top-k: each query scores only its `nprobe` nearest
    clusters. Same output shape as `batch_query`; recall < 1.0 by design
    (equivalence-band tested like FAISS-vs-NumPy,
    tests/test_task14_faiss_vs_numpy_results.py). At `nprobe >=
    n_centroids` every row is probed and the answer is exactly
    `batch_query`'s.

    Physical plan: probe sets are computed driver-side from the tiny
    (nq × k_centroids) GEMM; the store scan is filtered to the union of
    probed clusters (partition pruning on a cluster-partitioned store),
    then one `mapInArrow` task per partition runs the certified top-k
    kernel (`kernels.certified_topk`) with each query's probe set as its
    `allowed` mask. Shuffle is O(parts × nq × k). With
    `include_metadata`, the selected rows leave the scoring task with
    their metadata by Arrow `take` (the FAISS path's result shape,
    pico_vdb.py:732-751), so no second index scan joins it back; a
    store holding two rows with the same `_id_` returns each at most
    once per query, with its own metadata, as `batch_query` does.

    Regime note: pruning scales with |probe union| / n_centroids. A
    LARGE query batch saturates the union (nq × nprobe ≫ n_centroids ⇒
    every cluster probed) and the plan degenerates to exact-plus-masking
    — prefer the exact GEMM path there. IVF wins for small/selective
    batches, or with n_centroids sized ≫ nq × nprobe (e.g. √N clusters
    at 100 TB scale, where the per-cluster partition pruning also skips
    IO entirely).
    """
    from picovdb_spark.operators.similarity import collect_normalized_queries
    from picovdb_spark.operators.topk import topk_per_query

    spark = index.df.sparkSession
    vec_col = index.vector_col  # plain string local — the closure must not
    # capture `index` itself (it holds a DataFrame, unpicklable on workers)
    # user metadata named "rank" wins the name; ranking yields to _rank_
    rank_col = "_rank_" if "rank" in index.df.columns else "rank"
    meta = (
        [c for c in index.df.columns if c not in (K_ID, vec_col, CLUSTER_COL, K_DELETED)]
        if include_metadata
        else []
    )
    emit_cols = [K_ID, *meta]
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.StringType()),
            *[T.StructField(c, index.df.schema[c].dataType) for c in emit_cols],
            T.StructField(K_METRICS, T.DoubleType()),
        ]
    )
    qids, qmat = collect_normalized_queries(queries, query_id, vector_col)
    if qmat.size == 0 or top_k <= 0:
        empty = T.StructType([*out_schema.fields, T.StructField(rank_col, T.IntegerType())])
        return spark.createDataFrame([], schema=empty)
    cent = index.centroids
    nprobe = min(nprobe, len(cent))
    # (nq, n_cent) driver-side GEMM → per-query probe sets, as a dense
    # boolean matrix so the executor-side mask is pure NumPy indexing
    # (a per-row Python membership loop was the bottleneck: 100M python
    # iterations at 100k×1000q — bench history)
    probes = np.argpartition(-(qmat @ cent.T), nprobe - 1, axis=1)[:, :nprobe]
    probed_union = sorted({int(c) for row in probes for c in row})
    probe_bool = np.zeros((len(qids), len(cent)), dtype=bool)
    np.put_along_axis(probe_bool, probes, True, axis=1)
    bc = spark.sparkContext.broadcast((qids, qmat, probe_bool))

    def score(batches: Iterator) -> Iterator:
        b_qids, q64, b_probes = bc.value
        q32 = q64.astype(np.float32)

        def select(batch):
            vals = batch.column(1).flatten().to_numpy(zero_copy_only=False)
            src = vals.reshape(batch.num_rows, -1)
            clusters = batch.column(2).to_numpy(zero_copy_only=False)
            return certified_topk(
                q64, q32, src, top_k, round_to, allowed=b_probes[:, clusters]
            )

        yield from emit_topk(batches, select, emit_cols, b_qids, top_k)

    # Partition pruning: only probed clusters are scanned at all.
    cand = index.df.filter(F.col(CLUSTER_COL).isin(probed_union))
    local = cand.select(K_ID, vec_col, CLUSTER_COL, *meta).mapInArrow(score, schema=out_schema)
    out = topk_per_query(local, top_k, rank_col=rank_col)
    if better_than is not None:
        out = out.filter(F.col(K_METRICS) >= F.lit(float(better_than)))
    return out


# --------------------------------------------------------------------- RP-LSH

def rp_signatures(
    df: DataFrame,
    *,
    id_col: str,
    vector_col: str,
    n_bits: int = 32,
    n_bands: int = 8,
    dim: int | None = None,
    seed: int = 7,
) -> DataFrame:
    """Sign-random-projection signatures, banded: emits one row per
    (id, band_idx, band_key). Unit vectors with the same sign pattern
    against `n_bits` fixed random hyperplanes are likely neighbors
    (P[bit match] = 1 - θ/π); banding trades recall vs candidates like
    MinHash-LSH banding (operators/dedup.py)."""
    spark = df.sparkSession
    if dim is None:
        dim = len(df.select(vector_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bits, dim))
    bc = spark.sparkContext.broadcast(planes)
    rows_per_band = n_bits // n_bands

    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("band_idx", T.IntegerType()),
            T.StructField("band_key", T.LongType()),
        ]
    )

    def f(batches: Iterator) -> Iterator:
        import pandas as pd

        p = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            v = _unit_rows(stack_vectors(pdf[vector_col]))
            bits = (v @ p.T) > 0  # (n, n_bits)
            weights = 1 << np.arange(rows_per_band, dtype=np.int64)
            frames = []
            for b in range(n_bands):
                chunk = bits[:, b * rows_per_band : (b + 1) * rows_per_band]
                keys = chunk @ weights
                frames.append(
                    pd.DataFrame(
                        {id_col: pdf[id_col], "band_idx": np.int32(b), "band_key": keys}
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return df.select(id_col, vector_col).mapInPandas(f, schema=out_schema)


def lsh_ann_join(
    left: DataFrame,
    right: DataFrame,
    *,
    k: int,
    left_id: str,
    right_id: str,
    left_vec: str,
    right_vec: str,
    n_bits: int = 32,
    n_bands: int = 8,
    seed: int = 7,
    round_to: int = 6,
    exclude_self: bool = False,
) -> DataFrame:
    """Approximate kNN join via RP-LSH: candidates = band-key equi-join
    (hash shuffle on (band_idx, band_key) — NO cross product), then exact
    cosine rescoring and per-left top-k. The approximate twin of
    `similarity.knn_join`; at 100 TB the equi-join shape is what makes an
    all-pairs similarity join feasible at all."""
    from picovdb_spark.functions.vector import dot, l2_normalize
    from picovdb_spark.operators.topk import topk_per_query

    dim = len(left.select(left_vec).first()[0])
    ls = rp_signatures(
        left, id_col=left_id, vector_col=left_vec, n_bits=n_bits, n_bands=n_bands, dim=dim, seed=seed
    ).withColumnRenamed(left_id, "__lid")
    rs = rp_signatures(
        right, id_col=right_id, vector_col=right_vec, n_bits=n_bits, n_bands=n_bands, dim=dim, seed=seed
    ).withColumnRenamed(right_id, "__rid")
    cand = ls.join(rs, on=["band_idx", "band_key"]).select("__lid", "__rid").distinct()
    if exclude_self:
        cand = cand.filter(F.col("__lid") != F.col("__rid"))

    lv = left.select(
        F.col(left_id).alias("__lid"), l2_normalize(F.col(left_vec)).alias("__lv")
    )
    rv = right.select(
        F.col(right_id).alias("__rid"), l2_normalize(F.col(right_vec)).alias("__rv")
    )
    scored = (
        cand.join(lv, "__lid")
        .join(rv, "__rid")
        .withColumn(K_METRICS, F.round(dot(F.col("__lv"), F.col("__rv")), round_to))
    )
    return topk_per_query(
        scored.select(
            F.col("__lid").cast("string").alias("query_id"),
            F.col("__rid").cast("string").alias(K_ID),
            K_METRICS,
        ),
        k,
    )

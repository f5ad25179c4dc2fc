"""Product quantization (PQ) — compressed-vector ANN for stores whose
raw float vectors don't fit hot storage.

At 100 TB the raw vector column dominates everything (4·dim bytes/row);
PQ stores m one-byte codes instead (dim=1024, m=16 → 4 KB → 16 B,
256×). Queries score against the codes with ADC (asymmetric distance
computation: the query stays full-precision, each subspace contributes
a table lookup), then optionally re-rank a small candidate set against
the true vectors ("refine"). This is the memory/recall trade every
billion-scale ANN system makes (FAISS IVFPQ; Jégou, Douze, Schmid,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011).

Spark shape (mirrors operators/ann.py IVF):
- `fit_pq`       — per-subspace k-means on a bounded distributed sample
                   (driver-side Lloyd on ≤ sample_size rows, like
                   `fit_centroids`; the codebook is m·k·dsub floats —
                   kilobytes — and broadcasts everywhere)
- `pq_encode`    — one Arrow-batched map over the store: argmax inner
                   product per subspace → (id, codes array<byte-ish>).
                   No shuffle; the codes table is what you persist/cache.
- `PqIndex.query`— ADC scoring kernel over code partitions: per batch,
                   table = q_sub @ codebook_subᵀ (m × k floats per
                   query), score = Σ_sub table[sub, code]; partition-
                   local tie-complete top-R, k-row shuffle, optional
                   exact refine via a broadcast join of the tiny
                   candidate set back to the store.

Scoring is INNER PRODUCT on unit-normalized inputs (== cosine), matching
the engine's metric everywhere. With `refine_k >= store size` the result
is exactly the exact top-k (candidates = everything, rescored with true
vectors) — that configuration is the oracle-checkable twin, mirroring
the IVF full-probe entry; honest partial-refine recall is pinned in
tests/test_pq.py instead.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from picovdb_spark.operators.ann import stack_vectors
from picovdb_spark.operators.kernels import _exact_scores, _unit_rows
from picovdb_spark.schema import K_ID, K_METRICS, K_VECTOR

def _subspace_codes_f32(
    v: np.ndarray,
    v32: np.ndarray,
    books: np.ndarray,
    neg2bT: list[np.ndarray],
    cnorm2: list[np.ndarray],
    margins: list[np.float32],
) -> np.ndarray:
    """Per-subspace argmin codes via a float32 prescan, equal to the
    pure-float64 argmin over the full codebook row for row (its twin is
    `tests/test_pq.py::subspace_codes_f64`).

    Why: the per-subspace distance GEMMs and their (n, k) elementwise
    expansion were the encode kernel's wall, and they ran in float64
    purely because the store vectors arrive as float64 — the argmin
    itself needs far less precision than that. sgemm runs at ~2× the
    dgemm rate, and the elementwise expansion moves half the bytes
    (right-precision math inside the kernel; A/B in OPTIMIZATION_r12.md).

    Correctness: the prescan score g = |c|² - 2 x·c (float32; the
    per-row |x|² constant cannot move an argmin and is dropped; the ×2
    is folded into the centroid matrix — an exact power-of-two scale).
    With unit-normalized rows (store invariant) and PQ centroids that
    are means of unit subvectors, every accumulated |term| ≤ 3, so
    |g32 - g_real| ≤ (dsub+4)·2⁻²⁴·3 + O(u²); the margin
    8·(dsub+8)·2⁻²⁴ covers that with >2× slack plus the float64
    expression's own ≤ dsub·2⁻⁵³ noise. Any row whose second-best score
    sits within the margin of its best is re-argmin'd on the ORIGINAL
    float64 distance expression over the full codebook, so ties resolve
    with exactly the f64 path's first-min semantics. The only
    theoretical divergence is BLAS shape dependence of the refine's
    row-subset GEMM (last-ulp, same class as the documented
    driver_blas_threads note) — and codes are downstream-invariant to
    it (full-refine/full-probe entries rescore exactly)."""
    n = len(v)
    m, _, dsub = books.shape
    codes = np.empty((n, m), dtype=np.int32)
    rows = np.arange(n)
    for s in range(m):
        g = v32[:, s * dsub : (s + 1) * dsub] @ neg2bT[s]
        g += cnorm2[s][None, :]
        w = np.argmin(g, axis=1)
        codes[:, s] = w
        thresh = g[rows, w] + margins[s]
        amb = np.count_nonzero(g <= thresh[:, None], axis=1) > 1
        if amb.any():
            xs = v[amb, s * dsub : (s + 1) * dsub]
            cent = books[s]
            d2 = (
                (xs * xs).sum(axis=1)[:, None]
                - 2.0 * (xs @ cent.T)
                + (cent * cent).sum(axis=1)[None, :]
            )
            codes[amb, s] = np.argmin(d2, axis=1)
    return codes


def fit_pq(
    store: DataFrame,
    *,
    vector_col: str = K_VECTOR,
    m: int = 8,
    k: int = 256,
    sample_size: int = 25_000,
    n_iter: int = 10,
    seed: int = 42,
    sample: np.ndarray | None = None,
) -> np.ndarray:
    """Fit per-subspace codebooks on a bounded sample (drawn via the
    Arrow path, `ann.sample_matrix`; IVF-PQ passes one shared sample so
    centroids and codebooks price the collect once): returns
    (m, k, dim/m) float64. dim must divide evenly by m (standard PQ
    constraint; pad upstream if not)."""
    from picovdb_spark.operators.ann import sample_matrix

    if sample is None:
        sample = sample_matrix(
            store, vector_col=vector_col, sample_size=sample_size, seed=seed
        )
    if sample.size == 0:
        raise ValueError("cannot fit PQ codebooks on an empty store")
    x = _unit_rows(sample)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    kk = min(k, len(x))
    from picovdb_spark.operators.ann import kmeans_mean_update

    rng = np.random.default_rng(seed)
    books = np.empty((m, kk, dsub))
    x32 = x.astype(np.float32)  # fit in f32: clustering tolerates it and
    # it halves the memory traffic of the hot loop; ENCODING (pq_encode)
    # and ADC stay at their own documented precisions
    # NOTE on parallelism: unlike the wide IVF fit (fit_centroids, which
    # driver_blas_threads cuts 3.8×), these narrow per-subspace loops are
    # dominated by small GIL-holding kernels — measured flat under both
    # a raised BLAS pin AND a 16-thread subspace pool — so the simple
    # serial loop stays. ~10 s at m=16/k=256/25k vs the reference's
    # 50-110 s HNSW build.
    for s in range(m):
        xs = x32[:, s * dsub : (s + 1) * dsub]
        cent = xs[rng.choice(len(xs), size=kk, replace=False)]
        for _ in range(n_iter):
            # argmin_c |x - c|² = argmin_c (|c|² - 2 x·c): the |x|² term
            # is constant per row and dropped — no (n, k) broadcast of
            # row norms, half the FLOPs of the full expansion; computed
            # in place on the score buffer (bit-identical: IEEE +/× are
            # commutative) to avoid a second (n, k) allocation per iter
            sc = xs @ cent.T
            sc *= -2.0
            sc += (cent * cent).sum(axis=1)[None, :]
            assign = np.argmin(sc, axis=1)
            cent = kmeans_mean_update(xs, assign, cent)
        books[s] = cent.astype(np.float64)
    return books


def pq_encode(
    store: DataFrame,
    codebooks: np.ndarray,
    *,
    id_col: str = K_ID,
    vector_col: str = K_VECTOR,
    passthrough_cols: list[str] | None = None,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """(id, [passthrough…,] [__cluster,] codes array<int>) — one map
    pass, no shuffle. Vectors are unit-normalized before encoding (store
    invariant; zero ⇒ e₀). `passthrough_cols` carry narrow columns
    through the kernel unchanged. With `centroids`, the kernel ALSO
    assigns each row's IVF cluster (argmax cosine) in the same pass —
    chaining `assign_clusters` before this kernel would push the full
    vector payload across the JVM↔Python boundary twice more; fused, it
    crosses once (IVF-PQ build path)."""
    from picovdb_spark.operators.ann import CLUSTER_COL

    spark = store.sparkSession
    extra = list(passthrough_cols or [])
    with_cluster = centroids is not None
    bc = spark.sparkContext.broadcast(
        (
            np.ascontiguousarray(codebooks),
            np.ascontiguousarray(centroids) if with_cluster else None,
        )
    )
    out_schema = T.StructType(
        [T.StructField(id_col, store.schema[id_col].dataType)]
        + [T.StructField(c, store.schema[c].dataType) for c in extra]
        + ([T.StructField(CLUSTER_COL, T.IntegerType())] if with_cluster else [])
        + [T.StructField("codes", T.ArrayType(T.IntegerType()))]
    )

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        books, cent_mat = bc.value
        m, _, dsub = books.shape
        # once per task: f32 codebook views for the prescan (the ×2
        # folded into the matrix is an exact power-of-two scale)
        books32 = books.astype(np.float32)
        neg2bT = [np.ascontiguousarray((-2.0 * books32[s]).T) for s in range(m)]
        cnorm2 = [(books32[s] * books32[s]).sum(axis=1) for s in range(m)]
        margins = [np.float32(8.0 * (dsub + 8) * 2.0**-24)] * m
        for pdf in batches:
            if pdf.empty:
                continue
            v = _unit_rows(stack_vectors(pdf[vector_col]))
            codes = _subspace_codes_f32(v, v.astype(np.float32), books, neg2bT, cnorm2, margins)
            out = {id_col: pdf[id_col]}
            for c in extra:
                out[c] = pdf[c]
            if cent_mat is not None:
                # deliberately f64: unlike the subspace loop, this one
                # deep-k GEMM is memory-bound on its (n, k) output, so
                # an f32 prescan only trades the dgemm for a cast pass —
                # measured neutral (0.8-1.0×) at both bench shapes
                # (OPTIMIZATION_r12.md); same adjudication as
                # ann.assign_clusters
                out[CLUSTER_COL] = np.argmax(v @ cent_mat.T, axis=1).astype("int32")
            out["codes"] = list(codes)
            yield pd.DataFrame(out)

    sel_cols = [id_col, *extra]
    if vector_col not in sel_cols:
        # the vector may itself be a passthrough (IVF-PQ's cluster_raw
        # layout re-emits it next to the codes) — don't select it twice
        sel_cols.append(vector_col)
    return store.select(*sel_cols).mapInPandas(kernel, schema=out_schema)


# Ceiling on the broadcast ADC tables (nq × m × k float32). Past this,
# the per-executor deserialized copy competes with the data it scores —
# the caller must chunk the query batch (per-chunk top-k is independent).
MAX_ADC_TABLE_BYTES = 4 << 30


def adc_tables(codebooks: np.ndarray, qmat: np.ndarray) -> np.ndarray:
    """Per-query ADC lookup tables: (nq, m, k) float32 — q_sub · centroid
    per subspace. float32: ADC is an approximation by construction
    (refine rescores in float64), and halving table bytes halves the
    executor gather traffic."""
    m, k, dsub = codebooks.shape
    table_bytes = 4 * len(qmat) * m * k
    if table_bytes > MAX_ADC_TABLE_BYTES:
        raise ValueError(
            f"ADC tables for {len(qmat)} queries would be "
            f"{table_bytes >> 20} MiB of broadcast (cap "
            f"{MAX_ADC_TABLE_BYTES >> 20} MiB) — split the query batch "
            "and union the per-chunk results"
        )
    return np.einsum(
        "qsd,skd->qsk", qmat.reshape(len(qmat), m, dsub), codebooks
    ).astype(np.float32)


def exact_rescore(
    store: DataFrame,
    candidates: DataFrame,
    qids,
    qmat: np.ndarray,
    *,
    id_col: str = K_ID,
    vector_col: str = K_VECTOR,
    round_to: int = 6,
) -> DataFrame:
    """Rescore a tiny (query_id, id) candidate set EXACTLY against the
    store's raw vectors: broadcast join of the candidates (the store is
    never shuffled), then the exact kernels' float64 rescore
    (`kernels._exact_scores`). Shared by the PQ and IVF-PQ refine
    paths."""
    spark = store.sparkSession
    joined = store.select(id_col, vector_col).join(
        F.broadcast(candidates.select("query_id", id_col)), on=id_col
    )
    qindex = {str(q): i for i, q in enumerate(qids)}
    bq = spark.sparkContext.broadcast((qindex, qmat))

    rs_schema = T.StructType(
        [
            T.StructField("query_id", T.StringType()),
            T.StructField(id_col, store.schema[id_col].dataType),
            T.StructField(K_METRICS, T.DoubleType()),
        ]
    )

    def rescore(batches: Iterator) -> Iterator:
        import pandas as pd

        b_qindex, b_qmat = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            v = _unit_rows(stack_vectors(pdf[vector_col]))
            qidx = np.fromiter(
                (b_qindex[str(q)] for q in pdf["query_id"]), dtype=np.int64
            )
            s = np.round(_exact_scores(b_qmat, v, qidx, np.arange(len(v))), round_to)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].astype(str),
                    id_col: pdf[id_col],
                    K_METRICS: s,
                }
            )

    return joined.mapInPandas(rescore, schema=rs_schema)


def adc_local_candidates(
    codes_df: DataFrame,
    codebooks: np.ndarray,
    qids,
    qmat: np.ndarray,
    *,
    id_col: str,
    n_cand: int,
    round_to: int,
    probe_bool: np.ndarray | None = None,
) -> DataFrame:
    """Partition-local ADC scoring + tie-complete top-`n_cand`:
    (query_id, id, __adc). The ONE kernel behind both PQ (probe_bool
    None — score everything) and IVF-PQ (probe_bool (nq, n_centroids)
    — `codes_df` must then carry the `__cluster` column).

    Routed path (probe_bool set) is CLUSTER-SEGMENTED: the batch is
    sorted by cluster once, and each cluster's rows are scored ONLY
    against the queries that probe it. Total gather work is
    Σ_c (probers(c) × |c|) ≈ nq × nprobe × avg_cluster — a factor
    n_centroids/nprobe less than the dense (nq × n) matrix the r2
    kernel built and then masked to -inf (32× at nprobe 8/256; this
    was the whole routed-slower-than-exact overhead). Per-segment
    tie-complete top-n_cand is a superset of the batch-global
    selection for every query (a row in the batch top-n_cand is a
    fortiori in its own segment's top-n_cand), and the downstream
    global `topk_per_query` is exact, so results are identical.

    Tie semantics: selection on RAW float32 ADC scores padded by
    1.5·10^-round_to so a rounded boundary tie can't be dropped. ADC
    scores are approximate by design and every candidate is rescored
    exactly afterwards (`exact_rescore`), so the pad only widens the
    candidate set."""
    import pyarrow as pa  # noqa: F401  (workers import lazily)

    from picovdb_spark.operators.ann import CLUSTER_COL

    spark = codes_df.sparkSession
    m = codebooks.shape[0]
    # (m, nq, k) C-contiguous: the kernel gathers tables[s][qsel] as a
    # contiguous (nqs, k) block per subspace — the (nq, m, k) layout
    # made every per-subspace slice strided
    tables = np.ascontiguousarray(adc_tables(codebooks, qmat).transpose(1, 0, 2))
    bc = spark.sparkContext.broadcast(
        (np.asarray(qids, dtype=object), tables, probe_bool)
    )
    pad = 1.5 * 10.0 ** (-round_to)
    with_probe = probe_bool is not None

    def select_rows(scores: np.ndarray, cut: int, row_qidx: np.ndarray, ids):
        """Tie-complete top-`cut` per score row → (qid_idx, ids, scores)."""
        ns = scores.shape[1]
        cut = min(cut, ns)
        kth = np.partition(scores, ns - cut, axis=1)[:, ns - cut]
        qi, vi = np.nonzero(scores >= (kth - pad)[:, None])
        return row_qidx[qi], ids[vi], scores[qi, vi]

    def kernel(batches: Iterator) -> Iterator:
        import pyarrow as pa

        b_qids, b_tables, b_probes = bc.value
        nq = len(b_qids)
        all_q = np.arange(nq)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            code_col = batch.column(2 if b_probes is not None else 1)
            # zero-copy flatten: list<int32> column → (n, m) matrix
            codes = code_col.flatten().to_numpy(zero_copy_only=False).reshape(n, m)
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            out_q, out_i, out_s = [], [], []
            if b_probes is None:
                # PQ path: every query scores every row
                scores = np.zeros((nq, n), dtype=np.float32)
                for s in range(m):
                    scores += b_tables[s][:, codes[:, s]]
                q, i, sc = select_rows(scores, n_cand, all_q, ids)
                out_q.append(q); out_i.append(i); out_s.append(sc)
            else:
                clusters = (
                    batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
                )
                order = np.argsort(clusters, kind="stable")
                sorted_c = clusters[order]
                # segment bounds: one slice of `order` per distinct cluster
                cuts = np.flatnonzero(np.diff(sorted_c)) + 1
                for seg in np.split(order, cuts):
                    qsel = np.flatnonzero(b_probes[:, clusters[seg[0]]])
                    if qsel.size == 0:
                        continue
                    seg_codes = codes[seg]
                    # one (m, nqs, k) gather per segment, not m of them —
                    # and none at all in the full-probe regime (qsel ==
                    # arange(nq)), where copying the whole table per
                    # segment would dwarf the scoring itself
                    tq = b_tables if qsel.size == nq else b_tables[:, qsel, :]
                    scores = np.zeros((len(qsel), len(seg)), dtype=np.float32)
                    for s in range(m):
                        scores += tq[s][:, seg_codes[:, s]]
                    q, i, sc = select_rows(scores, n_cand, qsel, ids[seg])
                    out_q.append(q); out_i.append(i); out_s.append(sc)
            if not out_q:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(b_qids[np.concatenate(out_q)]),
                    pa.array(np.concatenate(out_i)),
                    pa.array(np.concatenate(out_s).astype(np.float64)),
                ],
                names=["query_id", id_col, "__adc"],
            )

    id_ddl = codes_df.schema[id_col].dataType.simpleString()
    cols = [id_col] + ([CLUSTER_COL] if with_probe else []) + ["codes"]
    return codes_df.select(*cols).mapInArrow(
        kernel, schema=f"query_id string, {id_col} {id_ddl}, __adc double"
    )


def finish_adc_topk(
    local: DataFrame,
    store: DataFrame | None,
    qids,
    qmat: np.ndarray,
    *,
    id_col: str,
    vector_col: str,
    top_k: int,
    n_cand: int,
    refine: bool,
    round_to: int,
) -> DataFrame:
    """Shared ADC finishing: either round the ADC scores, or merge the
    global top-`n_cand` candidates and rescore them EXACTLY against the
    raw store (broadcast join — the store is never shuffled), then the
    global per-query top-k."""
    from picovdb_spark.operators.topk import topk_per_query

    if not refine:
        scored = local.select(
            "query_id", id_col, F.round(F.col("__adc"), round_to).alias(K_METRICS)
        )
    else:
        if store is None:
            raise ValueError("refine requires the original store on the index")
        cand = topk_per_query(
            local.select("query_id", id_col, F.col("__adc").alias(K_METRICS)),
            n_cand,
            id_col=id_col,
            rank_col=None,
        ).select("query_id", id_col)
        scored = exact_rescore(
            store, cand, qids, qmat, id_col=id_col, vector_col=vector_col, round_to=round_to
        )
    return topk_per_query(scored, top_k, id_col=id_col)


def resolve_refine(refine_k, top_k: int) -> tuple[int, bool]:
    """(candidate width, refine?) from a `refine_k` argument; explicit
    nonsense (< 1) is rejected instead of silently ignored."""
    if refine_k is None:
        return int(top_k), False
    if int(refine_k) < 1:
        raise ValueError(f"refine_k must be >= 1, got {refine_k}")
    return int(refine_k), True


def empty_topk_result(codes_df: DataFrame, id_col: str) -> DataFrame:
    """Zero-row result with the SAME id column name/type as the
    non-empty path (a hardcoded `_id_ string` broke downstream joins on
    custom id columns only for empty query batches)."""
    id_ddl = codes_df.schema[id_col].dataType.simpleString()
    return codes_df.sparkSession.createDataFrame(
        [], schema=f"query_id string, {id_col} {id_ddl}, {K_METRICS} double, rank int"
    )


@dataclass
class PqIndex:
    """codes + codebooks + (for refine) the original store."""

    codes: DataFrame  # (id, codes)
    codebooks: np.ndarray  # (m, k, dsub)
    store: DataFrame | None = None  # needed for refine
    id_col: str = K_ID
    vector_col: str = K_VECTOR

    @classmethod
    def build(
        cls,
        store: DataFrame,
        *,
        id_col: str = K_ID,
        vector_col: str = K_VECTOR,
        m: int = 8,
        k: int = 256,
        sample_size: int = 25_000,
        seed: int = 42,
        storage: str = "memory",
    ) -> "PqIndex":
        from picovdb_spark.schema import K_DELETED

        if storage not in ("memory", "checkpoint", "lazy"):
            raise ValueError(
                f"storage must be 'memory', 'checkpoint' or 'lazy', got {storage!r}"
            )
        if K_DELETED in store.columns:
            # tombstoned rows must not be encoded (they'd surface in
            # top-k) — same rule as IvfIndex/IvfPqIndex.build
            store = store.filter(~F.col(K_DELETED)).drop(K_DELETED)
        books = fit_pq(
            store, vector_col=vector_col, m=m, k=k, sample_size=sample_size, seed=seed
        )
        codes = pq_encode(store, books, id_col=id_col, vector_col=vector_col)
        if storage == "memory":
            codes = codes.persist()
        elif storage == "checkpoint":
            codes = codes.localCheckpoint(eager=True)
        return cls(codes=codes, codebooks=books, store=store, id_col=id_col, vector_col=vector_col)

    def query(
        self,
        queries: DataFrame,
        *,
        top_k: int = 10,
        refine_k: int | None = None,
        query_id: str = "query_id",
        vector_col: str | None = None,
        round_to: int = 6,
    ) -> DataFrame:
        """ADC top-k per query: (query_id, _id_, _metrics_, rank).

        Without refine, `_metrics_` is the ADC approximation of cosine
        (table-lookup sum). With `refine_k=R`, the ADC top-R candidates
        are rescored EXACTLY against the true vectors (broadcast join of
        the tiny candidate set — the store is never shuffled) and the
        final top-k ranking/scores are exact cosine; R >= store size
        degenerates to exact top-k (the oracle configuration)."""
        from picovdb_spark.operators.similarity import collect_normalized_queries

        qids, qmat = collect_normalized_queries(
            queries, query_id, vector_col or self.vector_col
        )
        if qmat.size == 0:
            return empty_topk_result(self.codes, self.id_col)
        n_cand, refine = resolve_refine(refine_k, top_k)
        local = adc_local_candidates(
            self.codes,
            self.codebooks,
            qids,
            qmat,
            id_col=self.id_col,
            n_cand=n_cand,
            round_to=round_to,
        )
        return finish_adc_topk(
            local,
            self.store,
            qids,
            qmat,
            id_col=self.id_col,
            vector_col=self.vector_col,
            top_k=top_k,
            n_cand=n_cand,
            refine=refine,
            round_to=round_to,
        )

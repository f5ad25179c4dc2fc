"""Filtered batch top-k cosine search — the reference's core operator
(`query()`, /root/reference/picovdb/pico_vdb.py:539-775), decomposed per
SURVEY.md §2.2 into relational stages:

    queries → normalize (Q2) → [ids semi-join Q4] → [where prefilter Q5-Q8]
            → similarity scan (Q9) → per-query top-k (Q11)
            → better_than filter (Q13) → projection (Q14)

Two physical strategies for the similarity scan:

- ``method="sql"``: broadcast the (small) query batch and cross-join with
  the candidate store rows; the dot product is a Catalyst array
  expression inside whole-stage codegen. Catalyst pushes the metadata
  prefilters into the Parquet scan; WindowGroupLimit pre-truncates
  per-partition before the top-k shuffle.
- ``method="gemm"``: `mapInArrow` over store partitions against the
  broadcast query matrix, emitting only each partition's local top-k
  rows — O(num_q × k) rows per partition into the final shuffle instead
  of O(num_q × n). Each row leaves the scoring task with its metadata
  (Arrow `take` on the task's own input), so the answer is one pass over
  the store and one Spark job. This is the 100 TB path: scan stays
  columnar, the vector block is a zero-copy Arrow→NumPy reshape (no
  per-row Python loop), shuffle is bounded by k.

  Each task answers its batches with the certified top-k kernel
  (`operators/kernels.py`, shared by every exact scorer): one float32
  GEMM prescans the block, a derived bound M(d) on |prescan − exact|
  (`prescan_error_bound`) keeps every row that could still reach the
  rounded k-th score, and only those rows are rescored in float64 with
  a non-BLAS sum. The answer equals a float64 scan of every row.

Both paths rank on the score ROUNDED to `round_to` decimals (ties broken
by id; a NaN score, from a NaN in a vector, ranks greatest, as in
Spark's sort order) so results are identical across paths and
reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from picovdb_spark.functions.vector import dot, l2_normalize
from picovdb_spark.operators.kernels import _unit_rows, certified_topk, emit_topk, f32_norm2
from picovdb_spark.schema import K_DELETED, K_ID, K_METRICS, K_VECTOR
from picovdb_spark.session import coalesce_to_cores

WhereClause = dict[str, Any] | Column | Callable[[dict], bool] | None


def _apply_where(cand: DataFrame, where: WhereClause) -> DataFrame:
    """Q5/Q6/Q7: metadata prefilter.

    - dict: `{k: v}` equality, `{k: {"$in": [...]}}` membership
      (pico_vdb.py:615-638) — plain Column predicates, pushed into the scan.
    - Column: any Spark boolean expression (engine extension).
    - callable: arbitrary row predicate (pico_vdb.py:643-648) — the UDF
      slow path; evaluated over a struct of the metadata columns only.
    """
    if where is None:
        return cand
    if isinstance(where, Column):
        return cand.filter(where)
    if isinstance(where, dict):
        for key, value in where.items():
            if isinstance(value, dict) and "$in" in value:
                cand = cand.filter(F.col(key).isin(list(value["$in"])))
            else:
                cand = cand.filter(F.col(key) == F.lit(value))
        return cand
    if callable(where):
        # the reference passes the FULL doc dict including _id_
        # (pico_vdb.py:643-648; docs store meta[K_ID]) — only the vector
        # and the tombstone flag are engine-internal. Arrow-batched
        # pandas UDF (one Python call per batch, not per row); each
        # record is converted back to the reference's dict shape: nulls
        # as None (not NaN/NaT), arrays as Python lists.
        meta_cols = [c for c in cand.columns if c not in (K_VECTOR, K_DELETED)]
        # pandas promotes a nullable int column to float64 — restore the
        # declared integral type so predicates see int, like Row.asDict()
        int_cols = frozenset(
            c
            for c in meta_cols
            if isinstance(
                cand.schema[c].dataType,
                (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
            )
        )

        def _as_ref_dict(rec: dict) -> dict:
            import numpy as np
            import pandas as pd

            out = {}
            for k, v in rec.items():
                if isinstance(v, np.ndarray):
                    v = v.tolist()
                elif isinstance(v, np.generic):
                    v = v.item()
                elif v is pd.NaT or (isinstance(v, float) and v != v):
                    v = None
                elif isinstance(v, pd.Timestamp):
                    v = v.to_pydatetime()
                if k in int_cols and isinstance(v, float):
                    v = int(v)
                out[k] = v
            return out

        def batch_pred(pdf):
            import pandas as pd

            return pd.Series(
                [bool(where(_as_ref_dict(rec))) for rec in pdf.to_dict("records")]
            )

        pred = F.pandas_udf(batch_pred, T.BooleanType())
        return cand.filter(pred(F.struct(*[F.col(c) for c in meta_cols])))
    raise TypeError(f"unsupported where clause: {type(where)}")


def candidate_set(
    store: DataFrame,
    *,
    ids: Iterable[str] | DataFrame | None = None,
    where: WhereClause = None,
) -> DataFrame:
    """Q3-Q8: active rows ∩ ids prefilter ∩ where prefilter."""
    cand = store
    if K_DELETED in store.columns:
        cand = cand.filter(~F.col(K_DELETED))
    if ids is not None:
        if not isinstance(ids, DataFrame):
            from picovdb_spark.session import local_df

            ids_df = local_df(
                store.sparkSession, [(str(i),) for i in ids], f"{K_ID} string"
            )
        else:
            ids_df = ids
        # Q4: broadcast semi-join — the id list is small by contract.
        cand = cand.join(F.broadcast(ids_df), on=K_ID, how="left_semi")
    return _apply_where(cand, where)


def _normalized_queries(queries: DataFrame, query_id: str, vector_col: str) -> DataFrame:
    return queries.select(
        F.col(query_id).cast("string").alias("query_id"),
        l2_normalize(F.col(vector_col)).alias("__qv"),
    )


# Ceiling on the driver-resident float64 query matrix (bytes). Query
# batches are broadcast state by design (every kernel scores against
# them); a batch past this size must be CHUNKED by the caller — failing
# fast with instructions beats a driver OOM three stages into the job.
# 8 GiB ≈ 1M queries at dim 1024.
MAX_QUERY_MATRIX_BYTES = 8 << 30


def normalize_query_matrix(qids, qmat):
    """L2-normalize a driver-resident query matrix in place-compatible
    NumPy (float64, zero ⇒ e₀ — pico_vdb.py:585-590). Shared by the
    DataFrame collect path and the pre-collected `(ids, matrix)` query
    form. Returns (ids ndarray[object], unit float64 matrix)."""
    import numpy as np

    if isinstance(qids, (str, bytes)):
        # a bare string would silently iterate into per-character ids
        raise ValueError(
            "query ids must be a sequence of ids, not a single string"
        )
    # coerce ids to str up front: the DataFrame path's schema enforces
    # string ids, but a pre-collected (ids, matrix) batch can carry ints
    # (or anything) — without this they crash executor-side in
    # pa.array(..., type=pa.string()) with an opaque ArrowTypeError
    qids = np.asarray([str(i) for i in qids], dtype=object)
    qmat = np.asarray(qmat, dtype=np.float64)
    if qmat.ndim != 2 or len(qids) != qmat.shape[0]:
        raise ValueError(
            f"query matrix must be (len(ids), dim); got ids={len(qids)} "
            f"matrix={qmat.shape}"
        )
    if qmat.nbytes > MAX_QUERY_MATRIX_BYTES:
        raise ValueError(
            f"query batch is {qmat.nbytes >> 20} MiB as a float64 matrix "
            f"(cap {MAX_QUERY_MATRIX_BYTES >> 20} MiB): query batches are "
            "driver-resident broadcast state — split the batch and union "
            "the per-chunk results (each chunk's top-k is independent), "
            "or use knn_join_blocked for a query side that should never "
            "live on the driver at all"
        )
    return qids, _unit_rows(qmat)


def collect_normalized_queries(queries: DataFrame, query_id: str, vector_col: str):
    """Collect the (bounded) query batch RAW and L2-normalize driver-side
    in NumPy — same semantics as the `l2_normalize` expression (float64,
    zero ⇒ e₀) but O(collect) instead of a Catalyst higher-order fold,
    which is interpreted per element and pathological at high dim
    (measured: 58s vs 0.3s for 1000 × dim-1024). The transfer is
    Arrow-columnar (`toArrow`), not row-pickled `.collect()` — a flat
    buffer + reshape instead of a million boxed floats (measured 0.35s →
    ~0.02s at 1000 × 1024). Returns (ids, qmat) — empty qmat if no
    queries."""
    import numpy as np

    tbl = queries.select(
        F.col(query_id).cast("string").alias("query_id"), F.col(vector_col)
    ).toArrow()
    if tbl.num_rows == 0:
        return np.empty(0, dtype=object), np.empty((0, 0))
    qids = np.asarray(tbl.column("query_id").to_pylist(), dtype=object)
    vec = tbl.column(vector_col).combine_chunks()
    if vec.null_count:
        # a null list row would silently vanish in flatten() and shift
        # every later row's values in the reshape — fail loudly instead
        raise ValueError(f"query column {vector_col!r} contains null vectors")
    vals = vec.flatten().to_numpy(zero_copy_only=False)
    f64_bytes = 8 * vals.size
    if f64_bytes > MAX_QUERY_MATRIX_BYTES:
        raise ValueError(
            f"query batch is {f64_bytes >> 20} MiB as a float64 matrix "
            f"(cap {MAX_QUERY_MATRIX_BYTES >> 20} MiB): query batches are "
            "driver-resident broadcast state — split the batch and union "
            "the per-chunk results (each chunk's top-k is independent), "
            "or use knn_join_blocked for a query side that should never "
            "live on the driver at all"
        )
    # one shared normalize kernel (zero ⇒ e₀, pico_vdb.py:585-590) so the
    # DataFrame and pre-collected paths can never desynchronize
    return normalize_query_matrix(qids, vals.reshape(tbl.num_rows, -1))


def batch_query(
    store: DataFrame,
    queries: DataFrame | tuple,
    *,
    top_k: int = 10,
    better_than: float | None = None,
    where: WhereClause = None,
    ids: Iterable[str] | DataFrame | None = None,
    method: str = "auto",
    normalized: bool = False,
    score_dtype: str = "float64",
    round_to: int = 6,
    query_id: str = "query_id",
    vector_col: str = K_VECTOR,
    include_vector: bool = False,
) -> DataFrame:
    """Batch filtered top-k cosine search.

    Parameters mirror `PicoVectorDB.query`
    (/root/reference/picovdb/pico_vdb.py:539-562): `top_k`, `better_than`
    (post-ranking score threshold), `where` (metadata prefilter), `ids`
    (candidate id allow-list). `queries` is a DataFrame with columns
    (`query_id`, `vector_col`) — or, for the GEMM path only, a
    pre-collected ``(ids, matrix)`` tuple (sequence of ids + 2-D
    array-like), the serving form: a request handler that already holds
    the batch in memory (the reference's own `query(np_batch)` shape,
    bench/batch_queries.py:33-39) skips a per-batch Spark collect job.

    Returns (query_id, _id_, <metadata…>, _metrics_, rank) — descending
    score per query. `_metrics_` is rounded to `round_to` decimals; the
    adaptive over-fetch of the reference (Q10) is unnecessary here because
    all filters are applied before the LIMIT. The GEMM path answers in
    one store pass and one Spark job: the scoring task emits each
    selected row with its own metadata (see `_gemm_topk`), so a store
    holding two rows with the same `_id_` returns each at most once per
    query, with its own score and metadata, exactly as the SQL path
    does. Its scores come from the certified top-k kernel
    (`kernels.certified_topk`): a float32 prescan pruned by the derived
    bound `prescan_error_bound` and an exact float64 rescore of the
    survivors, so the rows and scores equal a float64 scan of every
    row, under any BLAS kernel set. `score_dtype` accepts "float64"
    (default) and "float32"; both run that one kernel.

    Broadcast lifetime: each GEMM call broadcasts its query matrix, and
    PySpark keeps that broadcast's pickle file in the driver's temp dir
    until `destroy()` is called or the session stops. Nothing here
    destroys it, because re-running the returned DataFrame reads it
    again. A 1000 × 1024 batch leaves 8 MB per call, so a long-lived
    session serving many batches accumulates them.
    """
    from picovdb_spark.operators.topk import topk_per_query

    cand = candidate_set(store, ids=ids, where=where)
    # `rank` is the engine's output column; if the store carries user
    # metadata with that name, the ranking column yields to `_rank_`.
    rank_col = "_rank_" if "rank" in cand.columns else "rank"

    if not isinstance(queries, DataFrame) and method == "auto":
        method = "gemm"
    if not isinstance(queries, DataFrame) and method != "gemm":
        raise TypeError(
            "pre-collected (ids, matrix) queries are only supported by "
            "method='gemm'; build a DataFrame for the SQL path"
        )

    if method == "auto":
        # GEMM is the scale path: columnar scan, Arrow-batched BLAS,
        # O(partitions × num_q × k) shuffle. The SQL-expression path is
        # kept for oracle parity and pure-SQL deployments.
        method = "gemm"

    if method == "gemm":
        out = _gemm_topk(
            cand,
            queries,
            query_id=query_id,
            vector_col=vector_col,
            top_k=top_k,
            round_to=round_to,
            rank_col=rank_col,
            score_dtype=score_dtype,
            include_vector=include_vector,
        )
    elif method == "sql":
        qn = _normalized_queries(queries, query_id, vector_col)
        # Normalize each store vector ONCE, below the join — inside the
        # cross join the expression would re-run per (query, row) pair.
        store_vec = F.col(K_VECTOR) if normalized else l2_normalize(F.col(K_VECTOR))
        cand = cand.withColumn("__sv", store_vec)
        # Broadcast the (small) query batch: BroadcastNestedLoopJoin keeps
        # the store's partitioning — without it a cross join multiplies
        # partition counts (n_store × n_query tasks).
        scored = cand.crossJoin(F.broadcast(qn)).withColumn(
            K_METRICS, F.round(dot(F.col("__qv"), F.col("__sv")), round_to)
        )
        scored = scored.drop("__sv")
        out = topk_per_query(scored, top_k, rank_col=rank_col).drop("__qv")
        if not include_vector:
            out = out.drop(K_VECTOR)
        out = out.drop(K_DELETED)
        rest = [c for c in out.columns if c not in ("query_id", K_ID, K_METRICS, rank_col)]
        out = out.select("query_id", K_ID, *rest, K_METRICS, rank_col)
    else:
        raise ValueError(f"unknown method: {method!r}")

    if better_than is not None:
        # Q13: post-ranking threshold (pico_vdb.py:765-767)
        out = out.filter(F.col(K_METRICS) >= F.lit(float(better_than)))
    return out


def query_one(store: DataFrame, vector: list[float], **kwargs: Any) -> DataFrame:
    """Single-vector sugar over `batch_query`
    (/root/reference/picovdb/pico_vdb.py:777-796)."""
    spark = store.sparkSession
    from picovdb_spark.session import local_df

    q = local_df(
        spark,
        [("q0", [float(x) for x in vector])],
        T.StructType(
            [
                T.StructField("query_id", T.StringType()),
                T.StructField(K_VECTOR, T.ArrayType(T.FloatType())),
            ]
        ),
    )
    return batch_query(store, q, **kwargs)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    *,
    k: int,
    left_id: str,
    right_id: str,
    left_vec: str,
    right_vec: str,
    round_to: int = 6,
    exclude_self: bool = False,
) -> DataFrame:
    """Brute-force k-nearest-neighbors join on cosine similarity: for each
    left row, the k most similar right rows. The similarity-search
    baseline (exact); ANN variants live in operators/ann.py."""
    from picovdb_spark.operators.topk import topk_per_query

    l = left.select(
        F.col(left_id).cast("string").alias("query_id"),
        l2_normalize(F.col(left_vec)).alias("__qv"),
    )
    r = right.select(
        F.col(right_id).cast("string").alias(K_ID),
        l2_normalize(F.col(right_vec)).alias("__rv"),
    )
    pairs = r.crossJoin(F.broadcast(l))
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col(K_ID))
    scored = pairs.withColumn(K_METRICS, F.round(dot(F.col("__qv"), F.col("__rv")), round_to))
    return topk_per_query(scored, k).select("query_id", K_ID, K_METRICS, "rank")


def knn_join_blocked(
    left: DataFrame,
    right: DataFrame,
    *,
    k: int,
    left_id: str,
    right_id: str,
    left_vec: str,
    right_vec: str,
    round_to: int = 6,
    exclude_self: bool = False,
    left_blocks: int | None = None,
    right_blocks: int | None = None,
    score_dtype: str = "float64",
) -> DataFrame:
    """Exact k-nearest-neighbors join for TWO LARGE SIDES — same
    semantics as `knn_join_exact` (cosine on L2-normalized vectors,
    zero ⇒ e₀, scores rounded to `round_to`, ties by id) but neither
    side is broadcast or collected, so it scales past the driver-memory
    and broadcast caps that bound the baseline form.

    Distributed shape: block nested-loop as a COGROUP. Each side is
    hashed into blocks (`left_blocks` × `right_blocks` grid); the left
    side replicates across the right blocks and vice versa, so shuffle
    volume is |L|·right_blocks + |R|·left_blocks rows — choose the
    block counts to trade replication against per-task GEMM size
    (defaults: √parallelism each, giving ~parallelism tasks). Vectors
    shuffle in their input element type, with no widening cast. Each
    (left block, right block) cell answers its left rows with the
    certified top-k kernel (`kernels.certified_topk`: float32 prescan,
    exact float64 rescore of the survivors; `exclude_self` is its
    `allowed` mask), emitting a tie-complete local top-k per left row,
    and a global `topk_per_query` merges the per-cell candidates into
    the exact final ranking: the float64 answer, under any BLAS kernel
    set. Candidate volume into the merge is O(|L| · right_blocks · k).

    At 100 TB this is the EXACT baseline for corpus×corpus similarity;
    the sublinear paths (IVF/LSH routing in operators/ann.py,
    dedup.embedding_near_dup) should win whenever they apply — this
    exists for the regimes that need exactness or defy routing
    (verification sweeps, recall measurement, small-k joins of two
    mid-size tables). Measured vs the broadcast baseline (2k×128
    self-join on local[32]): even they break ~even at 100 queries, and
    the GEMM form wins 12× at 1,000 (1.2 s vs 14.7 s) and 25× at 2,000
    (1.3 s vs 31.3 s) — the baseline's per-pair interpreted `dot` HOF
    scales with |L|·|R| while the blocked kernel amortizes it into
    BLAS calls.

    `score_dtype` is "float64" (default) or its alias "float32"; both
    run the one certified kernel.

    Block sizing: with BOTH `left_blocks`/`right_blocks` unspecified,
    auto-sizing runs two `count()` jobs to learn the |L|/|R| ratio —
    cheap on cached/parquet inputs but re-executes the upstream plan on
    derived frames; pass at least one explicit count to skip them (the
    other side is then completed count-free as ceil(parallelism/fixed),
    which is the shuffle optimum once one side is pinned)."""
    import math

    from picovdb_spark.operators.topk import topk_per_query

    spark = left.sparkSession
    # validate BEFORE defaulting: `x or side` would silently rewrite an
    # explicit 0 to the default instead of rejecting it
    for name, v in (("left_blocks", left_blocks), ("right_blocks", right_blocks)):
        if v is not None and v < 1:
            raise ValueError(f"block counts must be >= 1, got {name}={v}")
    if score_dtype not in ("float32", "float64"):
        raise ValueError(f"score_dtype must be float64 (or float32), got {score_dtype!r}")
    if left_blocks is None or right_blocks is None:
        # Size-aware grid. Shuffle volume is |L|·rb + |R|·lb rows, so
        # for a fixed cell count lb·rb ≈ P the optimum is
        # lb = √(P·|L|/|R|) (Lagrange on L·rb + R·lb with lb·rb = P):
        # equal sides get the symmetric √P×√P grid, a 10k×1M join gets
        # lb=1 — the 1M side shuffles ONCE instead of √P times
        # (measured 5× less shuffle at that shape; the symmetric grid
        # cost the whole row ~2× in wall clock).
        par = max(1, spark.sparkContext.defaultParallelism)
        if left_blocks is None and right_blocks is None:
            # the √ formula needs the size ratio — the ONLY branch that
            # runs the two sizing count() jobs (see docstring)
            n_l = max(1, left.select(F.lit(1)).count())
            n_r = max(1, right.select(F.lit(1)).count())
            left_blocks = max(1, min(par, round(math.sqrt(par * n_l / n_r))))
            right_blocks = max(1, math.ceil(par / left_blocks))
        else:
            # one side explicit: with that count FIXED its shuffle term
            # is fixed too, so minimizing the other term means the
            # smallest free count that still lands lb·rb near P —
            # ceil(P/fixed). Count-free (no jobs), and unlike the √
            # formula it respects the caller's pin: when rb is explicit
            # the old path solved lb as if rb were P/lb, which could
            # put lb far from the optimum for the grid actually run.
            if left_blocks is None:
                left_blocks = max(1, math.ceil(par / right_blocks))
            else:
                right_blocks = max(1, math.ceil(par / left_blocks))

    # Both grouping keys must be the SAME type (bigint) on both sides:
    # the hashed block id is bigint while a bare lit() explode yields
    # int, and Spark hashes int 3 and bigint 3 to DIFFERENT shuffle
    # partitions — mismatched types silently strand (left, right) cell
    # halves in different partitions and the cogroup emits nothing for
    # them (caught at sf0.1; invisible at sf0.001 where AQE coalesced
    # the whole exchange into one partition).
    l2 = left.select(
        F.col(left_id).cast("string").alias("query_id"),
        F.col(left_vec).alias("__qv"),
        F.pmod(F.xxhash64(F.col(left_id).cast("string")), F.lit(left_blocks)).alias("__lb"),
    ).withColumn(
        "__rb", F.explode(F.array(*[F.lit(b).cast("long") for b in range(right_blocks)]))
    )
    r2 = right.select(
        F.col(right_id).cast("string").alias(K_ID),
        F.col(right_vec).alias("__rv"),
        F.pmod(F.xxhash64(F.col(right_id).cast("string")), F.lit(right_blocks)).alias("__rb"),
    ).withColumn(
        "__lb", F.explode(F.array(*[F.lit(b).cast("long") for b in range(left_blocks)]))
    )

    kk = int(k)
    skip_self = bool(exclude_self)
    rnd = int(round_to)

    def cell_topk(ltbl, rtbl):
        # Arrow in/out (not pandas): a pandas round-trip would conflate
        # a NaN score with NULL in the double column, and the two sort
        # differently (NaN greatest, null last) — the baseline ranks a
        # NaN-score row FIRST, so the blocked form must emit real NaNs.
        import numpy as np
        import pyarrow as pa

        empty = pa.table(
            {
                "query_id": pa.array([], type=pa.string()),
                K_ID: pa.array([], type=pa.string()),
                K_METRICS: pa.array([], type=pa.float64()),
            }
        )
        if ltbl.num_rows == 0 or rtbl.num_rows == 0 or kk <= 0:
            # k <= 0 returns empty like the broadcast baseline's
            # rank <= 0 filter (not an executor-side partition error)
            return empty

        def rows(col):
            vec = col.combine_chunks()
            if vec.null_count:
                # a null list row silently vanishes in flatten() and
                # shifts every later row in the reshape — fail loudly
                raise ValueError("knn_join_blocked: null vectors in input")
            return vec.flatten().to_numpy(zero_copy_only=False).reshape(len(vec), -1)

        q64 = _unit_rows(rows(ltbl.column("__qv")).astype(np.float64))
        q32 = q64.astype(np.float32)
        src = rows(rtbl.column("__rv"))
        norm2 = f32_norm2(src)
        lids = np.asarray(ltbl.column("query_id").to_pylist(), dtype=object)
        rids = np.asarray(rtbl.column(K_ID).to_pylist(), dtype=object)
        # right-id → column positions for the self mask: O(L + R) dict
        # probes, never an O(L·R) object-dtype equality
        rpos: dict | None = None
        if skip_self:
            rpos = {}
            for j, rid in enumerate(rids):
                rpos.setdefault(rid, []).append(j)
        n = src.shape[0]
        out_q, out_i, out_s = [], [], []
        # Chunk the LEFT rows so the per-chunk prescan and masks stay
        # ~256 MB: a whole-cell matrix at the 1M tier is (L/lb)×(R/rb)
        # entries, which thrashes 20+ concurrent workers. Per-row top-k
        # is independent of the chunking, so results are bit-identical
        # to the unchunked form.
        chunk = max(1, int(256e6 // (8 * n)))
        for c0 in range(0, len(q64), chunk):
            c1 = min(c0 + chunk, len(q64))
            allowed = None
            if rpos is not None:
                allowed = np.ones((c1 - c0, n), dtype=bool)
                for qi in range(c1 - c0):
                    cols = rpos.get(lids[c0 + qi])
                    if cols:
                        allowed[qi, cols] = False
            qi, vi, score = certified_topk(
                q64[c0:c1], q32[c0:c1], src, kk, rnd, norm2=norm2, allowed=allowed
            )
            out_q.append(lids[c0 + qi])
            out_i.append(rids[vi])
            out_s.append(score)
        return pa.table(
            {
                "query_id": pa.array(np.concatenate(out_q), type=pa.string()),
                K_ID: pa.array(np.concatenate(out_i), type=pa.string()),
                K_METRICS: pa.array(np.concatenate(out_s), type=pa.float64()),
            }
        )

    cand = (
        l2.groupBy("__lb", "__rb")
        .cogroup(r2.groupBy("__lb", "__rb"))
        .applyInArrow(
            lambda lt, rt: cell_topk(lt, rt),
            schema=f"query_id string, {K_ID} string, {K_METRICS} double",
        )
    )
    return topk_per_query(cand, kk).select("query_id", K_ID, K_METRICS, "rank")


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    positives: DataFrame,
    *,
    k: int = 10,
    left_id: str = "query_id",
    right_id: str = "doc_id",
    left_vec: str = "embedding",
    right_vec: str = "embedding",
    pos_query_col: str | None = None,
    pos_doc_col: str | None = None,
    method: str = "broadcast",
    round_to: int = 6,
    exclude_self: bool = True,
    max_score: float | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the `k` most cosine-similar corpus documents that are NOT among its
    labeled positives — the standard retrieval-training data step (DPR /
    sentence-transformers style).

    `positives` is a (query_id, doc_id) pair frame (column names default
    to `left_id`/`right_id`, override via `pos_query_col`/`pos_doc_col`).
    `max_score` (optional) additionally drops negatives scoring AT OR
    ABOVE it — the usual guard against unlabeled positives / near-dups
    masquerading as negatives; with it set, a query may return fewer
    than `k` rows (there may not be k valid negatives, and that is the
    honest answer).

    Output: (query_id, _id_, _metrics_, rank) — same shape as
    `knn_join`, rank re-numbered 1..k after exclusion.

    Distributed shape: one exact kNN join over-fetched by the largest
    per-query positive count (a single one-row driver aggregate — the
    positives table is labels, tiny next to the corpus), then a
    broadcast left-anti join against the positive pairs and a window
    re-rank over the ≤ (k + max_pos) surviving rows per query. The
    corpus-side cost is exactly one kNN join; `method="blocked"` routes
    it through the cogrouped block-GEMM when the query side is too big
    to broadcast."""
    pq = pos_query_col or left_id
    pd_ = pos_doc_col or right_id
    p = positives.select(
        F.col(pq).cast("string").alias("query_id"),
        F.col(pd_).cast("string").alias(K_ID),
    ).distinct()
    row = p.groupBy("query_id").count().agg(F.max("count")).collect()
    max_pos = int(row[0][0] or 0) if row else 0
    kw = dict(
        k=k + max_pos,
        left_id=left_id,
        right_id=right_id,
        left_vec=left_vec,
        right_vec=right_vec,
        round_to=round_to,
        exclude_self=exclude_self,
    )
    if method == "broadcast":
        knn = knn_join(queries, corpus, **kw)
    elif method == "blocked":
        knn = knn_join_blocked(queries, corpus, **kw)
    else:
        raise ValueError(f"unknown method: {method!r}")
    neg = knn.drop("rank").join(
        F.broadcast(p), ["query_id", K_ID], "left_anti"
    )
    if max_score is not None:
        neg = neg.filter(F.col(K_METRICS) < F.lit(float(max_score)))
    from picovdb_spark.operators.topk import topk_per_query

    return topk_per_query(neg, k).select("query_id", K_ID, K_METRICS, "rank")


def _gemm_topk(
    cand: DataFrame,
    queries: DataFrame | tuple,
    *,
    query_id: str = "query_id",
    vector_col: str = K_VECTOR,
    top_k: int,
    round_to: int,
    rank_col: str = "rank",
    score_dtype: str = "float64",
    include_vector: bool = False,
) -> DataFrame:
    """Partition-local top-k scan with metadata, then global top-k:
    `batch_query`'s GEMM branch, returning its final columns.

    Mirrors the reference's vectorized scan (`scores = Q @ V.T` +
    argpartition, pico_vdb.py:680-713) but distributed: each task scores
    its slice of the store and emits only its local top-k per query, so
    the shuffle carries O(partitions × num_q × k) rows. The scan runs at
    most one task per core (`coalesce_to_cores`): a store with more
    partitions than cores has its neighbouring partitions scored by one
    task, and one with no more is scanned as it is. The query matrix
    goes out as an explicit `sparkContext.broadcast` made on every call,
    so each executor fetches it once, not per task. The task's input is
    (id, vector, *metadata); each Arrow batch is answered by
    `kernels.certified_topk` (rows of any norm, normalized in the
    kernel), and the selected rows leave the task with their metadata by
    Arrow `take` (`kernels.emit_topk`), so no second store scan joins it
    back. The global ranking applies the exact (rounded desc, id asc)
    order.

    `score_dtype` is "float64" or its alias "float32"; anything else
    raises.
    """
    import numpy as np

    from picovdb_spark.operators.topk import topk_per_query

    if score_dtype not in ("float64", "f64", "float32", "f32"):
        raise ValueError(f"unknown score_dtype: {score_dtype!r}")

    meta = [
        c for c in cand.columns
        if c not in (K_DELETED, K_ID) and (include_vector or c != K_VECTOR)
    ]
    emit_cols = [K_ID, *meta]
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.StringType()),
            *[T.StructField(c, cand.schema[c].dataType) for c in emit_cols],
            T.StructField(K_METRICS, T.DoubleType()),
        ]
    )

    spark = cand.sparkSession
    if isinstance(queries, DataFrame):
        qids, qmat = collect_normalized_queries(queries, query_id, vector_col)
    else:
        qids, qmat = normalize_query_matrix(*queries)
    if qmat.size == 0 or top_k <= 0:
        empty = T.StructType([*out_schema.fields, T.StructField(rank_col, T.IntegerType())])
        return spark.createDataFrame([], schema=empty)
    bc = spark.sparkContext.broadcast((qids, qmat))

    def score_batches(batches: Iterator) -> Iterator:
        b_qids, q64 = bc.value
        q32 = q64.astype(np.float32)

        def select(batch):
            vals = batch.column(1).flatten().to_numpy(zero_copy_only=False)
            src = vals.reshape(batch.num_rows, -1)  # zero-copy, float32 or float64
            return certified_topk(q64, q32, src, top_k, round_to)

        yield from emit_topk(batches, select, emit_cols, b_qids, top_k)

    in_cols = [K_ID, vector_col, *[c for c in meta if c != vector_col]]
    local = coalesce_to_cores(cand.select(*in_cols)).mapInArrow(score_batches, schema=out_schema)
    # (query_id, _id_, *meta, _metrics_) plus the appended rank column
    return topk_per_query(local, top_k, rank_col=rank_col)

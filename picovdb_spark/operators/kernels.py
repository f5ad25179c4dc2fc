"""The certified top-k kernel behind every exact cosine scorer.

`batch_query`'s GEMM path, `knn_join_blocked`'s cell kernel,
`ann_query`'s probed-list scoring and the resident store answer a
top-k the same way (filter-and-refine, as in *Incremental Based
Framework for Efficient Top-K Similarity Search*, EDBT 2020): a float32
GEMM prescans the rows, a derived bound on |prescan − exact| keeps every
row that could still reach the rounded k-th score, and only the kept
rows are rescored in float64 with a non-BLAS sum. So each of them
returns exactly what a float64 scan of every row returns, under any
BLAS kernel set.

Ranking is on the score ROUNDED to `round_to` decimals, ties broken by
id downstream; a NaN score (a NaN in a vector) ranks greatest, as in
Spark's sort order, and is emitted as NaN.
"""

from __future__ import annotations

import numpy as np

from picovdb_spark.schema import K_METRICS


def _unit_rows(mat):
    """Row-wise L2 normalize with the store's zero ⇒ e₀ rule
    (pico_vdb.py:62-67) — THE normalize kernel of every query path,
    scorer and index fit, so the rule can never desynchronize between
    them. Works in the input's float dtype. Copies before the e₀
    substitution (the input may alias a caller's array)."""
    norms = np.sqrt((mat * mat).sum(axis=1))
    zero = norms == 0.0
    if zero.any():
        mat = mat.copy()
        mat[zero] = 0.0
        mat[zero, 0] = 1.0
        norms[zero] = 1.0
    return mat / norms[:, None]


# Rows whose float32 squared norm falls below this are never pruned by a
# float32 prescan: their squares may have underflowed, so the prescan
# says nothing about the exact score. At or above it, the absolute
# underflow error is ≤ d·2⁻¹²⁰ after scaling — far inside the bound's
# headroom.
F32_MIN_NORM2 = 2.0**-60


def prescan_error_bound(d: int) -> float:
    """M(d): a bound on |float32 prescan − float64 exact| of one cosine
    score over `d` dimensions. THE margin of every float32 prescan that
    a float64 rescore then decides (`certified_topk`, the semantic-dedup
    pair prefilter).

    Setting: the exact score is q·v/‖v‖ with q a float64 unit vector;
    the prescan is fl32(q)·fl32(v) from a float32 GEMM, times the
    float32 inverse norm of fl32(v). With u = 2⁻²⁴ and γ_d = d·u/(1−d·u):

    - rounding q to float32: ≤ u (Cauchy–Schwarz, both sides unit);
    - rounding an `array<double>` store row to float32 turns its
      direction by ≤ 2u;
    - the float32 dot over d terms, in any order, with or without FMA:
      ≤ γ_d·Σ|q_j v_j| ≤ γ_d·(1+u) after scaling;
    - the float32 norm: the sum of squares carries a relative error
      ≤ γ_d, sqrt halves it, and sqrt, reciprocal and the scaling
      multiply add ≤ 3u on a score of magnitude ≤ 1+u;
    - the float64 rescore and `np.round`'s scaling: < 2⁻⁴⁹, below u.

    First order that is 1.5γ_d + 6u ≤ 1.6·d·u + 6u for d·u ≤ 1/16.
    M(d) = 4(d+4)·u covers it with 2.5× headroom, which also absorbs the
    second-order terms and subnormal underflow in rows whose float32
    squared norm is ≥ `F32_MIN_NORM2`. Past d = 2²⁰ the first-order
    argument no longer holds, and the bound is infinite: keep every row.
    Pre-normalized inputs (no norm term) are covered a fortiori.
    """
    if d > 1 << 20:
        return float("inf")
    return 4.0 * (d + 4) * 2.0**-24


def f32_norm2(src):
    """float32 squared norm of each row of `src` (any float rows) —
    the prescan's norm, precomputable once per block and passed to
    `certified_topk` as `norm2`. Overflow reads inf, NaN stays NaN."""
    v32 = src if src.dtype == np.float32 else src.astype(np.float32)
    with np.errstate(over="ignore", invalid="ignore"):
        return np.einsum("ij,ij->i", v32, v32)


def _exact_scores(q, v, qi, vi):
    """float64 dot of query row `q[qi[p]]` and row `v[vi[p]]` for every
    pair p. The sum is NumPy's pairwise reduction over each row, never a
    BLAS dot, so a score is the same bits under every OpenBLAS kernel
    set and however the pairs are chunked. Chunks keep the two gathered
    blocks in L2 (256 KB each)."""
    out = np.empty(len(qi))
    step = max(1, (1 << 15) // max(1, q.shape[1]))
    for lo in range(0, len(qi), step):
        hi = lo + step
        out[lo:hi] = (q[qi[lo:hi]] * v[vi[lo:hi]]).sum(axis=1)
    return out


def _exact_cosines(q, v, qi, vi):
    """THE float64 rescoring routine: cosine of unit query row
    `q[qi[p]]` and raw row `v[vi[p]]` (float32 or float64, any norm) for
    every pair p, as the `_exact_scores` dot over the row's float64 norm
    (the same pairwise reduction); an all-zero row is e₀
    (pico_vdb.py:62-67) and scores q's first component."""
    norms = np.empty(len(v))
    step = max(1, (1 << 16) // max(1, v.shape[1]))
    for lo in range(0, len(v), step):
        x = v[lo : lo + step].astype(np.float64)
        norms[lo : lo + step] = np.sqrt((x * x).sum(axis=1))
    den = norms[vi]
    with np.errstate(invalid="ignore", divide="ignore"):
        out = _exact_scores(q, v, qi, vi) / den
    zero = np.flatnonzero(den == 0.0)
    out[zero] = q[qi[zero], 0]
    return out


def _gather(blocks, rows):
    """Rows `rows` (sorted, counted across the list) of a list of row
    blocks, stacked into one array."""
    if len(blocks) == 1:
        return blocks[0][rows]
    offsets = np.cumsum([0] + [len(b) for b in blocks])
    cut = np.searchsorted(rows, offsets)
    parts = [
        b[rows[lo:hi] - off]
        for b, off, lo, hi in zip(blocks, offsets, cut[:-1], cut[1:])
        if hi > lo
    ]
    return np.concatenate(parts) if parts else blocks[0][rows]


def _prescan(q32, src, norm2=None):
    """float32 prescan of unit query rows `q32` against store rows `src`
    (float32 or float64 rows of any norm, or a list of such blocks
    scored as their concatenation): one sgemm per block scaled by each
    row's float32 inverse norm (`norm2`, computed here when not given);
    an exactly-zero row scores as e₀ (pico_vdb.py:62-67). Returns
    (scores (nq, n) float32, sure (n,) bool). Where `sure`,
    |score − exact| ≤ `prescan_error_bound(d)`; elsewhere (NaN/inf
    entries, float32 squared norm outside [`F32_MIN_NORM2`, float32
    max]) the score means nothing."""
    blocks = src if isinstance(src, list) else [src]
    v32 = [b if b.dtype == np.float32 else b.astype(np.float32) for b in blocks]
    if norm2 is None:
        norm2 = np.concatenate([f32_norm2(v) for v in v32])
    sure = (norm2 >= F32_MIN_NORM2) & (norm2 <= np.finfo(np.float32).max)
    pre = np.concatenate([q32 @ v.T for v in v32], axis=1) if len(v32) > 1 else q32 @ v32[0].T
    pre *= np.float32(1.0) / np.sqrt(np.where(sure, norm2, np.float32(1.0)))
    zero = np.flatnonzero(norm2 == 0.0)
    if len(zero):
        # exactly-zero source rows are e₀; a row whose float32 squares
        # merely underflowed stays unsure
        zero = zero[~_gather(blocks, zero).any(axis=1)]
        pre[:, zero] = q32[:, :1]
        sure[zero] = True
    return pre, sure


def _kth_lower_bound(scores, k):
    """Per row, a lower bound on the k-th largest of `scores` (nq, n):
    the k-th largest of the column-wise maxima of 8 contiguous column
    slices. Each of those k maxima is a distinct entry, so k entries
    are ≥ it. One max pass plus a partition over n/8 columns — ~6×
    cheaper than partitioning the whole matrix, for ~0.5% more
    candidates at 1000 × 6250; a small matrix (a single query) is
    partitioned whole, which is one call. Needs k ≥ 1."""
    n = scores.shape[1]
    m = -(-n // 8)
    if m < k or scores.size < 1 << 15:
        return np.partition(scores, n - k, axis=1)[:, n - k]
    mx = scores[:, :m].copy()
    for lo in range(m, n, m):
        w = min(m, n - lo)
        np.maximum(mx[:, :w], scores[:, lo : lo + w], out=mx[:, :w])
    return np.partition(mx, m - k, axis=1)[:, m - k]


def _group_topk(qi, score, k):
    """Tie-complete per-query top-k over candidate pairs: positions of
    every candidate whose rounded `score` is ≥ its query's k-th largest,
    a NaN score counting as the greatest. One lexsort, no per-query
    Python loop."""
    if len(qi) == 0:
        return np.empty(0, dtype=np.intp)
    key = np.where(np.isnan(score), np.inf, score)
    order = np.lexsort((-key, qi))
    qs, ks = qi[order], key[order]
    starts = np.flatnonzero(np.concatenate(([True], qs[1:] != qs[:-1])))
    counts = np.diff(np.append(starts, len(qs)))
    thr = np.repeat(ks[starts + np.minimum(k, counts) - 1], counts)
    return order[ks >= thr]


def certified_topk(q64, q32, src, k, round_to, *, norm2=None, allowed=None):
    """Tie-complete top-`k` of store rows `src` for each query row:
    (query idx, row idx, rounded exact score) of every row whose score
    rounded to `round_to` ties or beats the query's rounded k-th.

    `q64` are float64 unit queries and `q32` the same cast to float32;
    `src` is float32 or float64 rows of any norm, or a list of such
    blocks scored as their concatenation (one selection pass for many
    small blocks; row indices count across the list); `norm2`
    optionally their `f32_norm2` (a matching list for a list);
    `allowed` an optional (nq, n) bool mask of the rows each query may
    return. Needs k ≥ 1 and at least one row.

    1. prescan (`_prescan`): one float32 GEMM scaled by float32 inverse
       norms;
    2. keep every row whose prescan is ≥ a lower bound on the query's
       k-th prescan (`_kth_lower_bound`) − 2·M(d) − 10^-round_to,
       M = `prescan_error_bound`: the k-th exact score is ≥ the k-th
       prescan − M, and a row whose rounded score ties or beats the
       rounded k-th is within 10^-round_to of it, so its prescan is
       within 2M + 10^-round_to of the k-th prescan. Rows the prescan
       cannot vouch for (NaN/inf entries, a float32 squared norm
       outside [`F32_MIN_NORM2`, float32 max]) are always kept and
       never set the k-th; so is every row of a query holding NaN or
       inf. Masked rows neither set the k-th nor are kept;
    3. rescore the kept rows in float64 (`_exact_cosines`) and select
       tie-complete on the ROUNDED scores (`_group_topk`).

    No full-block float64 cast, dgemm or full-matrix rounding runs; the
    output equals rounding a float64 score of every allowed row.
    """
    if isinstance(norm2, list):
        norm2 = np.concatenate(norm2)
    pre, sure = _prescan(q32, src, norm2)
    n, d = pre.shape[1], q32.shape[1]
    unsure = ~sure
    any_unsure = unsure.any()
    if any_unsure:
        pre[:, unsure] = -np.inf
    if allowed is not None:
        pre[~allowed] = -np.inf
    margin = 2.0 * prescan_error_bound(d) + 10.0 ** (-round_to)
    # threshold rounded DOWN to float32, so the float32 comparison keeps
    # at least what the float64 rule keeps
    thr = np.nextafter(
        (_kth_lower_bound(pre, min(k, n)).astype(np.float64) - margin).astype(np.float32),
        np.float32(-np.inf),
    )
    keep = pre >= thr[:, None]
    if any_unsure:
        keep[:, unsure] = True
    qbad = ~np.isfinite(q64).all(axis=1)
    if qbad.any():
        keep[qbad] = True
    if allowed is not None:
        keep &= allowed
    qi, vi = np.divmod(np.flatnonzero(keep), n)
    kept = np.zeros(n, dtype=bool)
    kept[vi] = True
    rows = np.flatnonzero(kept)
    at = np.searchsorted(rows, vi)
    cand = _gather(src if isinstance(src, list) else [src], rows)
    score = np.round(_exact_cosines(q64, cand, qi, at), round_to)
    pick = _group_topk(qi, score, k)
    return qi[pick], vi[pick], score[pick]


def emit_topk(batches, select, emit_cols, qids, top_k):
    """One scoring task's output: run `select(batch)` → (query idx, row
    idx, rounded score) on every Arrow batch, carry each selected row's
    `emit_cols` out of the batch by Arrow `take`, and yield
    (query_id, *emit_cols, _metrics_) batches once, at task end.

    A single emit keeps the shuffle at O(num_q × k) per TASK however
    many Arrow batches the partition splits into: candidates of several
    batches are re-selected tie-complete, which keeps every row the
    task-level selection keeps (the k-th of a union is ≥ the k-th of
    any member). A store row is emitted at most once per query, with
    its own columns, even when two rows share an id."""
    import pyarrow as pa

    acc_q: list = []  # query indices into qids
    acc_s: list = []  # rounded scores
    acc_rows: list = []  # the selected rows' emitted columns
    for batch in batches:
        if batch.num_rows == 0:
            continue
        qi, vi, score = select(batch)
        acc_q.append(qi)
        acc_s.append(score)
        acc_rows.append(batch.select(emit_cols).take(pa.array(vi)))
    if not acc_q:
        return
    qi = np.concatenate(acc_q)
    score = np.concatenate(acc_s)
    rows = pa.Table.from_batches(acc_rows)
    if len(acc_q) > 1:
        pick = _group_topk(qi, score, top_k)
        qi, score, rows = qi[pick], score[pick], rows.take(pa.array(pick))
    out = pa.Table.from_arrays(
        [
            pa.array(qids[qi], type=pa.string()),
            *rows.columns,
            pa.array(score, type=pa.float64()),
        ],
        names=["query_id", *emit_cols, K_METRICS],
    )
    yield from out.to_batches()

"""Resident serving mode: node-local store blocks for repeated query
batches and in-process single queries.

The reference sustains ~1000 q/s because its store matrix lives in
process memory (`pico_vdb.py:62-75` keeps a contiguous float32 array;
`query` is one BLAS call against it). The Spark standard path re-pays a
JVM-cache → Arrow → Python hop of the full vector column on every query
batch.

`ResidentStore` is the Spark analog of "the index shard lives on the
serving node": `materialize()` runs one job that writes each block's
(ids, rows, cluster ids, float32 squared norms) to node-local shared
memory (`/dev/shm`, falling back to the local tmpdir), and `query()`
jobs map over a scan that carries only each row's source partition id —
no vector bytes cross the JVM→Python boundary — while the kernel
`np.load`s the blocks its input names with `mmap_mode="r"`: after first
touch the pages sit in the OS page cache, shared by every worker
process on the node.

One structure serves both regimes, after REPOSE (ICDE 2021): one local
index per block and one global merge (`topk_per_query`), with exact
search as its degenerate case.

- Routing off (`ResidentStore(store)`): each of the store's own
  partitions is one block holding one list, and every query scores
  every row. Float blocks answer exactly what `batch_query` answers.
- Routing on (`n_centroids=` or `centroids=`): centroids are fitted on
  the store, rows are assigned and repartitioned by cluster, and each
  block is sorted into whole inverted lists. The driver routes each
  query to its `nprobe` nearest centroids, and a task scores each list
  only against the queries routed to it — `nprobe / n_centroids` of the
  exact pass. At full probe float blocks again equal `batch_query`.

Float blocks hold the store's raw rows in its own element type and run
the certified top-k (`kernels.certified_topk`). int8 blocks
(`dtype="int8"`) hold per-row int8 codes of the rows normalized in
float32 plus a scale, 4× denser, and are approximate by construction.

A query scan carries each row's source partition as
`F.spark_partition_id()` below `session.coalesce_to_cores`, so a query
runs at most one task per core and each task loads exactly the blocks
its input names. Blocks are node-local: tasks follow the cached frame's
locality, and a task that finds a block it names missing (store closed,
partitioning changed, scheduled off the node) fails with
`_MISSING_BLOCK_MARKER` rather than silently rescanning; with
`on_missing="fallback"` a batch is served by the exact store scan
instead. `similarity.batch_query` stays the general-purpose route.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
import warnings
from collections import OrderedDict
from collections.abc import Iterator

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from picovdb_spark.operators.kernels import _group_topk, _unit_rows, certified_topk, f32_norm2
from picovdb_spark.schema import K_ID, K_METRICS, K_VECTOR
from picovdb_spark.session import coalesce_to_cores

_SHM_ROOT_CANDIDATES = ("/dev/shm", tempfile.gettempdir())

# Token every distributed missing-block error carries; the auto-re-arm
# matches on it to tell a lost block from an unrelated job failure, so
# it must not be a phrase a user path or data-source error could hold.
_MISSING_BLOCK_MARKER = "[resident-block-missing]"

# Largest (queries × rows) score matrix one kernel call builds; a task
# whose blocks exceed it scores them in several calls and emits each
# call's top-k, which the global merge re-ranks.
_MAX_SCORES = 1 << 24

# schema of a resident query task's hits
_HITS = f"query_id string, {K_ID} string, {K_METRICS} double"


def _shm_root() -> str:
    for d in _SHM_ROOT_CANDIDATES:
        if os.path.isdir(d) and os.access(d, os.W_OK):
            return d
    return tempfile.gettempdir()


def _quantize_rows_int8(mat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Symmetric per-row int8 quantization: scale = max|x|/127 (the
    functions.vector.quantize_int8 rule), HALF_UP rounding (Catalyst
    round()) via sign*floor(|x|+0.5) — np.round is half-to-even. An
    all-zero row gets scale 1 and all-zero codes instead of NaN.
    Returns (codes, scales)."""
    scales = (np.abs(mat).max(axis=1) / np.float32(127.0)).astype(np.float32)
    scales[scales == 0.0] = np.float32(1.0)
    scaled = mat / scales[:, None]
    codes = np.ascontiguousarray(
        (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(np.int8)
    )
    return codes, scales


def _block_artifacts(as_int8: bool) -> tuple[str, ...]:
    """Every per-block file: rows, ids and cluster ids, plus float32
    squared norms for float rows or per-row scales for int8 codes."""
    return ("mat", "ids", "clus", "scales" if as_int8 else "norm2")


def _write_block(blk_dir: str, pid: int, ids, mat, clus, as_int8: bool) -> None:
    """Write block `pid` atomically under `blk_dir`, its rows sorted by
    cluster so each inverted list is one contiguous segment."""
    order = np.argsort(clus, kind="stable")
    arrays = {"ids": ids[order], "clus": clus[order]}
    mat = np.ascontiguousarray(mat[order])
    if as_int8:
        arrays["mat"], arrays["scales"] = _quantize_rows_int8(_unit_rows(mat.astype(np.float32)))
    else:
        arrays["mat"], arrays["norm2"] = mat, f32_norm2(mat)
    os.makedirs(blk_dir, exist_ok=True)
    for name, arr in arrays.items():
        tmp = os.path.join(blk_dir, f".{name}_{pid}.tmp.npy")
        np.save(tmp, arr, allow_pickle=(name == "ids"))
        os.replace(tmp, os.path.join(blk_dir, f"{name}_{pid}.npy"))


def _load_block(blk_dir: str, pid: int, need, *, local: bool = False) -> dict:
    """Block `pid`'s files as {name: array}. Every artifact is checked
    up front: a block that lost only a sidecar must fail like a lost
    block, since skipping it would drop its rows from every answer. The
    rows are mmap'd: pages shared node-wide via the OS page cache."""
    paths = {a: os.path.join(blk_dir, f"{a}_{pid}.npy") for a in need}
    lost = sorted(os.path.basename(p) for p in paths.values() if not os.path.exists(p))
    if lost and local:
        raise RuntimeError(
            f"resident block file(s) {lost} not visible from this process "
            f"({blk_dir}) — query_local() serves from node-local blocks and "
            "must run co-resident with them; re-materialize() or use "
            "query() for the distributed path"
        )
    if lost:
        raise RuntimeError(
            f"{_MISSING_BLOCK_MARKER} file(s) {lost} missing under {blk_dir} — "
            "store closed, partitioning changed since materialize(), or this "
            "task ran on a node that never materialized; re-materialize() "
            "or use batch_query()"
        )
    return {
        a: np.load(p, mmap_mode="r" if a == "mat" else None, allow_pickle=a == "ids")
        for a, p in paths.items()
    }


def _open_blocks(blk_dir: str, pids, need, *, local: bool = False):
    """Load blocks `pids` and index their inverted lists: (blocks, ids of
    every loaded row in block order, {cluster: [(block idx, start, end,
    position of `start` in those ids), ...]})."""
    blocks, segmap, first = [], {}, 0
    for pid in pids:
        blk = _load_block(blk_dir, int(pid), need, local=local)
        bi = len(blocks)
        blocks.append(blk)
        clusters, starts = np.unique(blk["clus"], return_index=True)
        bounds = np.append(starts, len(blk["clus"]))
        for c, s, e in zip(clusters, bounds[:-1], bounds[1:]):
            segmap.setdefault(int(c), []).append((bi, int(s), int(e), first + int(s)))
        first += len(blk["clus"])
    ids = np.concatenate([b["ids"] for b in blocks]) if blocks else np.empty(0, dtype=object)
    return blocks, ids, segmap


def _scan_pids(batches: Iterator) -> np.ndarray:
    """The distinct source partition ids a query task's input names."""
    parts = [b.column(0).to_numpy() for b in batches if b.num_rows]
    return np.unique(np.concatenate(parts)) if parts else np.empty(0, dtype=np.int32)


def _route(q32, cent32, nprobe: int) -> dict:
    """{cluster: indices of the queries probing it}. With no centroids
    (routing off) every query probes the one list, cluster 0."""
    if cent32 is None:
        return {0: np.arange(len(q32))}
    npb = min(nprobe, len(cent32))
    probes = np.argpartition(-(q32 @ cent32.T), npb - 1, axis=1)[:, :npb].ravel()
    order = np.argsort(probes, kind="stable")
    ranked = probes[order]
    cuts = np.flatnonzero(ranked[1:] != ranked[:-1]) + 1
    return dict(zip(ranked[np.r_[0, cuts]].tolist(), np.split(order // npb, cuts)))


def _padded_topk(scores, k: int, round_to: int):
    """The int8 blocks' selection on approximate float32 scores (nq, n):
    every row within 1.5·10^-round_to of the raw k-th score, so no row
    whose ROUNDED score ties the k-th is dropped. Returns (query idx,
    row idx, rounded score)."""
    n = scores.shape[1]
    kk = min(k, n)
    kth = np.partition(scores, n - kk, axis=1)[:, n - kk]
    qi, vi = np.nonzero(scores >= (kth - 1.5 * 10.0 ** (-round_to))[:, None])
    return qi, vi, np.round(scores[qi, vi].astype(np.float64), round_to)


def _chunks(segs, max_rows: int):
    """`segs` in runs of at most `max_rows` rows (a longer segment is a
    run of its own)."""
    chunk, rows = [], 0
    for seg in segs:
        n = seg[2] - seg[1]
        if chunk and rows + n > max_rows:
            yield chunk
            chunk, rows = [], 0
        chunk.append(seg)
        rows += n
    if chunk:
        yield chunk


def _take_ids(ids, chunk, vi):
    """The ids of rows `vi`, counted across the segments of `chunk`."""
    offsets = np.cumsum([0] + [e - s for _, s, e, _ in chunk])
    seg = np.searchsorted(offsets, vi, side="right") - 1
    first = np.array([g for *_, g in chunk])
    return ids[first[seg] + vi - offsets[seg]]


def _score(opened, route, q64, q32, top_k, round_to, as_int8, f32_segment):
    """THE resident scoring kernel, shared by `query`'s tasks and
    `query_local`: over the blocks `_open_blocks` `opened`, for each set
    of queries routed to the same lists, one selection over the list of
    those lists' segments — the certified top-k on float rows, the
    padded rule on rescaled int8 dots (`f32_segment(block idx, start,
    end)` yields a segment's codes as float32). A call's score matrix is
    bounded by `_MAX_SCORES`.
    Returns (query idx, ids, rounded scores) of every candidate."""
    blocks, ids, segmap = opened
    groups: dict = {}
    for c, qidx in route.items():
        segs = segmap.get(c)
        if segs:
            groups.setdefault(qidx.tobytes(), (qidx, []))[1].extend(segs)
    side = "scales" if as_int8 else "norm2"
    out_q, out_ids, out_s = [], [], []
    for qidx, segs in groups.values():
        for chunk in _chunks(segs, max(1, _MAX_SCORES // len(qidx))):
            sides = [blocks[bi][side][s:e] for bi, s, e, _ in chunk]
            if as_int8:
                q = q32[qidx]
                scores = np.concatenate(
                    [(q @ f32_segment(*seg[:3]).T) * sc for seg, sc in zip(chunk, sides)], axis=1
                )
                qi, vi, sel = _padded_topk(scores, top_k, round_to)
            else:
                mats = [blocks[bi]["mat"][s:e] for bi, s, e, _ in chunk]
                qi, vi, sel = certified_topk(
                    q64[qidx], q32[qidx], mats, top_k, round_to, norm2=sides
                )
            out_q.append(qidx[qi])
            out_ids.append(_take_ids(ids, chunk, vi))
            out_s.append(sel)
    if not out_q:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=object), np.empty(0)
    return np.concatenate(out_q), np.concatenate(out_ids), np.concatenate(out_s)


def _rank_local(ids, scores, *, top_k: int, better_than) -> list[dict]:
    """One query's final ranking from rounded candidate scores: (NaN
    first, score desc, id asc), the first `top_k`, then the post-ranking
    `better_than` filter — `topk_per_query` plus `batch_query`'s
    threshold. NaN passes the threshold, as in Spark's ordering."""
    pick = _group_topk(np.zeros(len(scores), dtype=np.intp), scores, top_k)
    key = np.where(np.isnan(scores), np.inf, scores)
    order = sorted(pick, key=lambda i: (-key[i], str(ids[i])))[:top_k]
    return [
        {K_ID: str(ids[i]), K_METRICS: float(scores[i]), "rank": r + 1}
        for r, i in enumerate(order)
        if better_than is None or not scores[i] < float(better_than)
    ]


class ResidentStore:
    """Pin a store's vectors node-locally as blocks and serve repeated
    top-k queries against them.

    Usage::

        rs = ResidentStore(store_df)                  # exact: routing off
        rs = ResidentStore(store_df, n_centroids=256) # or: cluster-routed IVF
        rs.materialize()                              # one job: blocks -> /dev/shm
        hits = rs.query(queries_df, top_k=10, nprobe=8)
        hits = rs.query_local(vec, top_k=10, nprobe=8)  # in-process, no Spark job
        rs.close()                                    # blocks and broadcasts released

    `dtype` is "float32" (raw rows, exact) or "int8" (4× denser,
    approximate). `local_cache_bytes` bounds `query_local`'s FIFO cache
    of int8 segments cast to float32 (0 casts on every call); size it to
    the hot set, or it thrashes.

    `on_missing="fail"` (default) makes a lost block an error: a serving
    tier should page, not silently degrade. `"fallback"` runs a cheap
    existence probe before a batch and, when blocks are gone, serves the
    batch by the exact store scan (`batch_query(method="gemm")`): the
    same rows for float blocks at full probe, exact scores instead of
    quantized or routed ones otherwise. A healthy probe is cached for
    the store's lifetime (`probe_cache=False` probes every batch:
    one job each, and off local mode a probe task has no locality
    guarantee, so it can report a false loss); `invalidate_probe()`
    re-arms it. With `auto_rearm=True` a query that trusted the cached
    probe runs eagerly (`localCheckpoint`) so that a block lost since is
    caught, the probe re-armed and the batch retried once by the
    degraded path; callers that compose `query()` frames lazily pass
    `auto_rearm=False` and keep the plain fail-fast.

    Each `query` broadcasts its query matrix; the store keeps those
    broadcasts and `close()` destroys them, so a long-lived store holds
    one per call until then.
    """

    def __init__(
        self,
        store: DataFrame,
        *,
        n_centroids: int | None = None,
        centroids: "np.ndarray | None" = None,
        seed: int = 42,
        vector_col: str = K_VECTOR,
        id_col: str = K_ID,
        dtype: str = "float32",
        shm_dir: str | None = None,
        local_cache_bytes: int = 1 << 30,
        on_missing: str = "fail",
        probe_cache: bool = True,
        auto_rearm: bool = True,
    ):
        if dtype not in ("float32", "int8"):
            raise ValueError(f"dtype must be 'float32' or 'int8', got {dtype!r}")
        if on_missing not in ("fail", "fallback"):
            raise ValueError(f"on_missing must be 'fail' or 'fallback', got {on_missing!r}")
        self.store = store
        self.n_centroids = n_centroids
        self.centroids = centroids
        self.routed = n_centroids is not None or centroids is not None
        self.seed = seed
        self.vector_col = vector_col
        self.id_col = id_col
        self.dtype = dtype
        self.dir = shm_dir or os.path.join(_shm_root(), f"picovdb_resident_{uuid.uuid4().hex[:12]}")
        self.local_cache_bytes = int(local_cache_bytes)
        self.on_missing = on_missing
        self.probe_cache = bool(probe_cache)
        self.auto_rearm = bool(auto_rearm)
        self.n_rows: int | None = None
        self._frame: DataFrame | None = None  # the frame whose partitions are the blocks
        self._cent32 = None
        self._broadcasts: list = []
        self._reset_caches()

    def _reset_caches(self) -> None:
        """Drop the in-process serving caches and the probe result:
        unlinked block files stay readable through live mmaps, so a
        stale cache would keep serving a previous materialization."""
        self._local_cache = None
        self._seg_cache: OrderedDict = OrderedDict()
        self._seg_cache_sz = 0
        self._probe_ok = False

    # ------------------------------------------------------------ lifecycle

    def materialize(self) -> int:
        """One job writes every block: the store's own partitions when
        routing is off; otherwise the rows, assigned to fitted (or given)
        centroids and repartitioned by cluster into ≤ one block per core
        (persisted, so the blocks keep their rows). Returns the row count."""
        from picovdb_spark.operators.ann import CLUSTER_COL, assign_clusters, fit_centroids

        self._reset_caches()
        self._release_frame()
        src = self.store.select(
            F.col(self.id_col).cast("string").alias(self.id_col), F.col(self.vector_col)
        )
        if self.routed:
            if self.centroids is None:
                self.centroids = fit_centroids(
                    self.store, self.n_centroids, vector_col=self.vector_col, seed=self.seed
                )
            self._cent32 = np.ascontiguousarray(self.centroids.astype(np.float32))
            n_blocks = min(self.store.sparkSession.sparkContext.defaultParallelism, len(self._cent32))
            src = assign_clusters(src, self.centroids, vector_col=self.vector_col)
            self._frame = blocks = src.repartition(n_blocks, F.col(CLUSTER_COL)).persist()
        else:
            self._cent32, self._frame = None, self.store
            blocks = src.withColumn(CLUSTER_COL, F.lit(0))
        blk_dir, as_int8 = self.dir, self.dtype == "int8"

        def write_block(batches: Iterator) -> Iterator:
            import pyarrow as pa
            from pyspark import TaskContext

            ids, mats, clus = [], [], []
            for batch in batches:
                if batch.num_rows:
                    vals = batch.column(1).flatten().to_numpy(zero_copy_only=False)
                    ids.append(batch.column(0).to_numpy(zero_copy_only=False))
                    mats.append(vals.reshape(batch.num_rows, -1))
                    clus.append(batch.column(2).to_numpy().astype(np.int32))
            pid = TaskContext.get().partitionId()
            if ids:
                _write_block(
                    blk_dir, pid, np.concatenate(ids), np.vstack(mats), np.concatenate(clus), as_int8
                )
            yield pa.RecordBatch.from_arrays(
                [pa.array([pid], type=pa.int32()), pa.array([sum(map(len, ids))], type=pa.int64())],
                names=["pid", "rows"],
            )

        out = (
            blocks.select(self.id_col, self.vector_col, CLUSTER_COL)
            .mapInArrow(write_block, schema="pid int, rows long")
            .collect()
        )
        self.n_rows = sum(r["rows"] for r in out)
        self.block_pids = sorted(r["pid"] for r in out if r["rows"] > 0)
        return self.n_rows

    def _scan(self) -> DataFrame:
        """What every query-side job maps: the block frame's source
        partition id per row, at most one task per core."""
        return coalesce_to_cores(self._frame.select(F.spark_partition_id().alias("__pid")))

    def _release_frame(self) -> None:
        if self._frame is not None and self._frame is not self.store:
            try:
                self._frame.unpersist()
            except Exception:
                pass  # session gone

    def close(self) -> None:
        """Remove the blocks (a pass over the block frame's tasks, then
        on the driver), unpersist the routed block frame and destroy
        every query broadcast. A closed store fails loudly ("not
        materialized") from every entry point."""

        def rm(batches: Iterator) -> Iterator:
            import pyarrow as pa

            shutil.rmtree(blk_dir, ignore_errors=True)
            for _ in batches:
                pass
            yield pa.RecordBatch.from_arrays([pa.array([1])], names=["ok"])

        blk_dir = self.dir
        if self._frame is not None:
            try:
                self._scan().mapInArrow(rm, schema="ok long").count()
            except Exception:
                pass  # session gone — the driver-side removal still runs
            self._release_frame()
        shutil.rmtree(blk_dir, ignore_errors=True)
        for bc in self._broadcasts:
            try:
                bc.destroy()
            except Exception:
                pass
        self._broadcasts = []
        self._frame = None
        self.n_rows = None
        self._reset_caches()

    def invalidate_probe(self) -> None:
        """Re-arm the `on_missing="fallback"` existence probe, e.g. from
        an executor-loss listener, so the next batch re-checks the blocks."""
        self._probe_ok = False

    def __enter__(self) -> "ResidentStore":
        self.materialize()
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -------------------------------------------------------------- queries

    def _missing_blocks(self) -> list[int]:
        """One job over the query scan: the source partitions whose block
        lacks any file, seen from the task that would load it."""
        blk_dir, need = self.dir, _block_artifacts(self.dtype == "int8")

        def chk(batches: Iterator) -> Iterator:
            import pyarrow as pa

            lost = [
                int(p)
                for p in _scan_pids(batches)
                if not all(os.path.exists(os.path.join(blk_dir, f"{a}_{p}.npy")) for a in need)
            ]
            yield pa.RecordBatch.from_arrays([pa.array(lost, type=pa.int32())], names=["pid"])

        return sorted(r["pid"] for r in self._scan().mapInArrow(chk, schema="pid int").collect())

    def query(
        self,
        queries: DataFrame,
        *,
        top_k: int = 10,
        nprobe: int = 8,
        better_than: float | None = None,
        round_to: int = 6,
        query_id: str = "query_id",
        vector_col: str | None = None,
    ) -> DataFrame:
        """Batch top-k cosine over the blocks, each query against the
        `nprobe` lists it routes to (every row when routing is off).
        Output matches `batch_query(method="gemm")`: (query_id, _id_,
        _metrics_, rank), score rounded to `round_to`, ties by id; float
        blocks unrouted or at full probe return `batch_query`'s rows."""
        from picovdb_spark.operators.similarity import batch_query, collect_normalized_queries
        from picovdb_spark.operators.topk import topk_per_query

        if self.n_rows is None:
            raise RuntimeError("resident store not materialized — call materialize()")
        qcol = vector_col or self.vector_col
        # True: this call trusts a cached healthy probe and gets the eager
        # auto-re-arm on its way out
        probe_skipped = self.on_missing == "fallback" and self._probe_ok and self.auto_rearm
        if self.on_missing == "fallback" and not self._probe_ok:
            missing = self._missing_blocks()
            self._probe_ok = not missing and self.probe_cache
            if missing:
                warnings.warn(
                    f"resident blocks missing for partitions {missing[:8]} "
                    f"({len(missing)} total) — serving this batch via the exact "
                    "store scan (degraded mode); re-materialize() to restore "
                    "resident serving",
                    stacklevel=2,
                )
                return batch_query(
                    self.store.select(F.col(self.id_col).alias(K_ID), F.col(self.vector_col)),
                    queries.select(F.col(query_id), F.col(qcol).alias(self.vector_col)),
                    top_k=top_k,
                    better_than=better_than,
                    method="gemm",
                    round_to=round_to,
                    query_id=query_id,
                    vector_col=self.vector_col,
                )
        spark = self.store.sparkSession
        qids, q64 = collect_normalized_queries(queries, query_id, qcol)
        if q64.size == 0 or top_k <= 0:
            return spark.createDataFrame([], schema=f"{_HITS}, rank int")
        route = _route(q64.astype(np.float32), self._cent32, nprobe)
        bc = spark.sparkContext.broadcast((qids, q64, route))
        self._broadcasts.append(bc)
        blk_dir, as_int8 = self.dir, self.dtype == "int8"
        need = _block_artifacts(as_int8)

        def score_blocks(batches: Iterator) -> Iterator:
            import pyarrow as pa

            pids = _scan_pids(batches)
            if not len(pids):
                return
            opened = _open_blocks(blk_dir, pids, need)
            b_qids, b_q64, b_route = bc.value
            qi, ids, score = _score(
                opened, b_route, b_q64, b_q64.astype(np.float32), top_k, round_to,
                as_int8, lambda bi, s, e: np.array(opened[0][bi]["mat"][s:e], dtype=np.float32),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(b_qids[qi], type=pa.string()),
                    pa.array(ids, type=pa.string()),
                    pa.array(score, type=pa.float64()),
                ],
                names=["query_id", K_ID, K_METRICS],
            )

        out = topk_per_query(self._scan().mapInArrow(score_blocks, schema=_HITS), top_k)
        if better_than is not None:
            out = out.filter(F.col(K_METRICS) >= F.lit(float(better_than)))
        if not probe_skipped:
            return out
        try:
            return out.localCheckpoint(eager=True)
        except Exception as exc:  # Py4J wraps the kernel's RuntimeError
            if _MISSING_BLOCK_MARKER not in str(exc):
                raise
            warnings.warn(
                "resident block(s) lost since the cached health probe — "
                "re-arming the probe and retrying this batch via the "
                "degraded path",
                stacklevel=2,
            )
            # the retry enters with the probe cleared, so it is not
            # re-wrapped: a second failure reaches the caller
            self.invalidate_probe()
            return self.query(
                queries, top_k=top_k, nprobe=nprobe, better_than=better_than,
                round_to=round_to, query_id=query_id, vector_col=vector_col,
            )

    # ---------------------------------------------------- in-process serving

    def _local_blocks(self):
        """Every block mmap'd from THIS process and its list index,
        loaded once and cached; each row is touched once so the first
        queries measure the kernel, not page-in."""
        if self._local_cache is not None:
            return self._local_cache
        if self.n_rows is None:
            raise RuntimeError("resident store not materialized — call materialize()")
        self._local_cache = _open_blocks(
            self.dir, self.block_pids, _block_artifacts(self.dtype == "int8"), local=True
        )
        for blk in self._local_cache[0]:
            float(np.asarray(blk["mat"][:, 0]).astype(np.float32).sum())
        return self._local_cache

    def _hot_segment(self, bi: int, s: int, e: int) -> np.ndarray:
        """float32 copy of an int8 segment of a local block, FIFO-cached
        up to `local_cache_bytes` (0 = cast every call)."""
        key = (bi, s, e)
        seg = self._seg_cache.get(key)
        if seg is None:
            seg = np.array(self._local_cache[0][bi]["mat"][s:e], dtype=np.float32)
            if self.local_cache_bytes > 0:
                self._seg_cache[key] = seg
                self._seg_cache_sz += seg.nbytes
                while self._seg_cache_sz > self.local_cache_bytes and self._seg_cache:
                    _, old = self._seg_cache.popitem(last=False)
                    self._seg_cache_sz -= old.nbytes
        return seg

    def query_local(
        self,
        vector,
        *,
        top_k: int = 10,
        nprobe: int = 8,
        better_than: float | None = None,
        round_to: int = 6,
    ) -> list[dict]:
        """Single-query serving WITHOUT a Spark job: the same routing and
        scoring kernel as `query()` over the same blocks, read in-process
        — the analog of the reference's in-process exact scan
        (pico_vdb.py:680-713) with routing off and of its FAISS path
        (pico_vdb.py:716-751) with routing on. On float blocks the answer
        equals `query()`'s.

        Every block must be visible from this process (true in local mode
        and on a serving node holding the store's blocks). Returns
        [{'_id_', '_metrics_', 'rank'}, ...] best-first."""
        opened = self._local_blocks()
        if top_k <= 0:
            return []
        q64 = _unit_rows(np.asarray(vector, dtype=np.float64).reshape(1, -1))
        q32 = q64.astype(np.float32)
        _, ids, score = _score(
            opened, _route(q32, self._cent32, nprobe), q64, q32, top_k, round_to,
            self.dtype == "int8", self._hot_segment,
        )
        return _rank_local(ids, score, top_k=top_k, better_than=better_than)

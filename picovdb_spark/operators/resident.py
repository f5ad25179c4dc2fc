"""Resident serving mode: executor-local store shards for repeated
query batches.

The reference sustains ~1000 q/s because its store matrix lives in
process memory (`pico_vdb.py:62-75` keeps a contiguous float32 array;
`query` is one BLAS call against it). The Spark standard path re-pays a
JVM-cache → Arrow → Python hop of the full vector column on every query
batch — correct, but ~0.5 s/pass at 100k × 1024 that the reference never
pays.

`ResidentGemmStore` is the Spark analog of "the index shard lives on the
serving node": `materialize()` runs one job that writes each partition's
(ids, raw rows in the store's element type, float32 squared norms) to
node-local shared memory (`/dev/shm`, falling back to the local
tmpdir), and `query()` jobs map over a *pruned* scan of the cached
store — only a constant byte per row crosses the JVM→Python boundary —
while the kernel `np.load`s its partition's block with `mmap_mode="r"`:
after first touch the pages sit in the OS page cache, shared by every
worker process on the node, so a query pass costs one certified top-k
(`kernels.certified_topk`) and a k-row shuffle, nothing else. Float
blocks therefore answer exactly what `batch_query` answers, bit for
bit; int8 blocks are an approximate footprint mode.

Cluster semantics: blocks are node-local. Tasks are scheduled by cache
locality (PROCESS/NODE_LOCAL against the cached store), so on a
multi-executor cluster each node serves the shards it cached —
the standard pattern for index serving on Spark. A task scheduled off
its block's node (locality fallback after `spark.locality.wait`)
fails fast with a clear error rather than silently rescanning; resident
mode is an explicit serving optimization, not the default path —
`similarity.batch_query` stays the general-purpose route.

This mode exists for parity with the reference's query-serving regime
(BASELINE.md batch_queries.py); it is NOT used by the oracle entries.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from picovdb_spark.operators.kernels import _group_topk, _unit_rows, certified_topk, f32_norm2
from picovdb_spark.schema import K_ID, K_METRICS, K_VECTOR

_SHM_ROOT_CANDIDATES = ("/dev/shm", tempfile.gettempdir())


def _quantize_rows_int8(mat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Symmetric per-row int8 quantization shared by both resident
    stores: scale = max|x|/127 (the functions.vector.quantize_int8
    rule), HALF_UP rounding (Catalyst round()) via sign*floor(|x|+0.5)
    — np.round would be half-to-even and diverge at exact .5
    boundaries. Zero rows can't occur post-normalization, but a
    pre-normalized caller may still hand us one — guard the scale so it
    encodes as all-zero codes instead of NaN. Returns (codes, scales)."""
    scales = (np.abs(mat).max(axis=1) / np.float32(127.0)).astype(np.float32)
    scales[scales == 0.0] = np.float32(1.0)
    scaled = mat / scales[:, None]
    codes = np.ascontiguousarray(
        (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(np.int8)
    )
    return codes, scales


def _shm_root() -> str:
    for d in _SHM_ROOT_CANDIDATES:
        if os.path.isdir(d) and os.access(d, os.W_OK):
            return d
    return tempfile.gettempdir()


def _probe_missing_blocks(
    probe_df: DataFrame, blk_dir: str, block_pids, artifacts: tuple[str, ...]
) -> list[int]:
    """One cheap job over the same frame a resident query maps: each task
    reports whether its partition's block files are ALL visible from
    where it ran (`artifacts` lists every per-partition file the query
    kernel loads — a partition that lost only ids/scales must degrade
    too, not crash mid-query). Used by the `on_missing="fallback"`
    degraded mode — best-effort by nature (a node can die between this
    probe and the query job; the query's own fail-fast still backstops
    that race). On a multi-node cluster Spark gives no locality
    guarantee for these probe tasks, so a mis-scheduled probe can
    report a false 'missing' — which is why callers CACHE a healthy
    probe result (one probe per store lifetime, not one per batch) and
    re-probe only after `invalidate_probe()`."""
    from collections.abc import Iterator

    def chk(batches: Iterator) -> Iterator:
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        for _ in batches:
            pass
        ok = pid not in block_pids or all(
            os.path.exists(os.path.join(blk_dir, f"{name}_{pid}.npy"))
            for name in artifacts
        )
        yield pa.RecordBatch.from_arrays(
            [pa.array([pid], type=pa.int32()), pa.array([ok], type=pa.bool_())],
            names=["pid", "ok"],
        )

    rows = probe_df.mapInArrow(chk, schema="pid int, ok boolean").collect()
    return sorted(r["pid"] for r in rows if not r["ok"])


# sentinel token every query-kernel fail-fast message carries — the
# auto-re-arm path below matches on it to tell a lost block/sidecar
# from an unrelated job failure. Deliberately NOT a natural-language
# phrase: an earlier marker ("missing under") could collide with a
# user path or an unrelated data-source error embedded in the
# stringified exception, silently invalidating the probe and re-running
# the batch once before the real error surfaced.
_MISSING_BLOCK_MARKER = "[resident-block-missing]"


def _load_block(blk_dir: str, pid: int, need, *, block_pids=frozenset(), local=False):
    """Partition `pid`'s block files as {name: array}, or None when
    materialize wrote no block for it (`pid` not in `block_pids`, the
    query path) and none is there. Every artifact is checked up front: a partition that lost
    only a sidecar must fail like a lost block (silently skipping would
    drop its vectors from every answer) — in a distributed task with
    `_MISSING_BLOCK_MARKER`, which the auto-re-arm matches on. The rows
    are mmap'd: pages shared node-wide via the OS page cache, no copy."""
    paths = {a: os.path.join(blk_dir, f"{a}_{pid}.npy") for a in need}
    if not local and pid not in block_pids and not os.path.exists(paths["mat"]):
        return None
    lost = sorted(a for a, p in paths.items() if not os.path.exists(p))
    if lost and local:
        raise RuntimeError(
            f"resident block artifact(s) {lost} for partition {pid} not "
            f"visible from this process ({blk_dir}) — query_local() "
            "serves from node-local blocks and must run co-resident "
            "with them (a serving node); re-materialize() or use "
            "query() for the distributed path"
        )
    if lost:
        raise RuntimeError(
            f"{_MISSING_BLOCK_MARKER} artifact(s) {lost} for partition {pid} "
            f"under {blk_dir} — store closed, partitioning changed since "
            "materialize(), or this task ran on a node that never "
            "materialized; re-materialize() or use batch_query()"
        )
    return {
        a: np.load(p, mmap_mode="r" if a == "mat" else None, allow_pickle=a == "ids")
        for a, p in paths.items()
    }


def _remove_blocks(frame: DataFrame, blk_dir: str) -> None:
    """Best-effort removal of a store's block dir: one pass over
    `frame`'s partitions (the executors that wrote the blocks, by cache
    locality), then on the driver. A node whose executor is gone keeps
    its tmpfs blocks until reboot, which is why the dir name carries a
    unique token (stale dirs are identifiable and never collide with a
    new store's)."""

    def rm(batches: Iterator) -> Iterator:
        import pyarrow as pa

        shutil.rmtree(blk_dir, ignore_errors=True)
        yield pa.RecordBatch.from_arrays([pa.array([1])], names=["ok"])
        for _ in batches:
            pass

    try:
        frame.select(F.lit(True).alias("__probe")).mapInArrow(rm, schema="ok long").count()
    except Exception:
        pass  # session gone — driver-side cleanup still runs
    shutil.rmtree(blk_dir, ignore_errors=True)


def _serve_with_rearm(store, out: DataFrame, probe_skipped: bool, retry):
    """Auto-re-arm for `on_missing="fallback"` stores whose CACHED
    healthy probe skipped the per-batch check this call: execute the
    plan eagerly so a block lost since the probe surfaces NOW (the
    returned frame is lazy, so the kernel's fail-fast would otherwise
    land at some caller's collect, where only a manual
    `invalidate_probe()` could recover). On the kernel's missing-block
    error: invalidate the probe and retry ONCE — the retry re-probes,
    observes the loss, and serves the batch via the degraded exact path.
    Any other failure propagates untouched. The eager materialization
    is right for the collect-immediately serving pattern; callers that
    COMPOSE query() frames lazily (union many batches, collect once, or
    build plans they may discard) opt out with the store's
    `auto_rearm=False` and keep the plain fail-fast + manual
    `invalidate_probe()` contract. Two costs of the eager path, both
    reasons to opt out: (a) query() executes a Spark job even for a
    caller that only wanted to build/inspect the plan, and (b) each
    localCheckpoint pins the result's RDD blocks in executor storage
    until the driver GC collects the returned frame — a long-running
    serving loop that retains many result frames accumulates that
    storage (the blocks CANNOT be unpersisted here when superseded:
    localCheckpoint truncates lineage, so a frame whose blocks were
    dropped is unrecoverable, and prior results may still be live in
    the caller). Drop frame references promptly (or collect and let
    the frame go) and the ContextCleaner reclaims the blocks. The probe-just-ran and
    probe_cache=False paths return the plan lazily as before
    (`probe_skipped=False`). The retry call enters with `_probe_ok`
    freshly cleared, so its own result is NOT re-wrapped — a second
    failure surfaces to the caller."""
    if not probe_skipped:
        return out
    try:
        return out.localCheckpoint(eager=True)
    except Exception as exc:  # Py4J wraps the kernel's RuntimeError
        if _MISSING_BLOCK_MARKER not in str(exc):
            raise
        import warnings

        warnings.warn(
            "resident block(s) lost since the cached health probe — "
            "re-arming the probe and retrying this batch via the "
            "degraded path",
            stacklevel=3,
        )
        store.invalidate_probe()
        return retry()


# schema of a resident query task's hits
_HITS = f"query_id string, {K_ID} string, {K_METRICS} double"


def _hits_batch(qids, ids, scores):
    """A resident query task's (query_id, _id_, _metrics_) Arrow batch."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            pa.array(qids, type=pa.string()),
            pa.array(ids, type=pa.string()),
            pa.array(scores, type=pa.float64()),
        ],
        names=["query_id", K_ID, K_METRICS],
    )


def _write_block(blk_dir: str, pid: int, mat, as_int8: bool, normalized: bool, **sidecars):
    """Write partition `pid`'s block atomically under `blk_dir`: the
    `sidecars` (ids, clus), then either the raw rows with their float32
    squared norms or, for int8, the codes and scales of the rows
    normalized in float32 (taken as unit when `normalized`)."""
    if as_int8:
        unit = mat.astype(np.float32)
        sidecars["mat"], sidecars["scales"] = _quantize_rows_int8(
            unit if normalized else _unit_rows(unit)
        )
    else:
        sidecars["mat"], sidecars["norm2"] = mat, f32_norm2(mat)
    os.makedirs(blk_dir, exist_ok=True)
    for name, arr in sidecars.items():
        tmp = os.path.join(blk_dir, f".{name}_{pid}.tmp.npy")
        np.save(tmp, arr, allow_pickle=(name == "ids"))
        os.replace(tmp, os.path.join(blk_dir, f"{name}_{pid}.npy"))


def _block_artifacts(as_int8: bool, *extra: str) -> tuple[str, ...]:
    """Every per-partition file a block holds: float blocks keep the raw
    rows plus their float32 squared norms, int8 blocks codes plus
    per-row scales."""
    return ("mat", "ids", *extra, "scales" if as_int8 else "norm2")


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


def _rank_local(ids, scores, *, top_k: int, better_than) -> list[dict]:
    """One query's final ranking from rounded candidate scores: (NaN
    first, score desc, id asc), the first `top_k`, then the post-ranking
    `better_than` filter — `topk_per_query` plus `batch_query`'s
    threshold, shared by both stores' `query_local`. NaN passes the
    threshold, as in Spark's ordering."""
    pick = _group_topk(np.zeros(len(scores), dtype=np.intp), scores, top_k)
    key = np.where(np.isnan(scores), np.inf, scores)
    order = sorted(pick, key=lambda i: (-key[i], str(ids[i])))[:top_k]
    return [
        {K_ID: str(ids[i]), K_METRICS: float(scores[i]), "rank": r + 1}
        for r, i in enumerate(order)
        if better_than is None or not scores[i] < float(better_than)
    ]


class ResidentGemmStore:
    """Pin a store's vectors node-locally as blocks and serve repeated
    top-k query batches against them.

    Usage::

        rs = ResidentGemmStore(store_df)        # store: (_id_, _vector_, ...)
        rs.materialize()                        # one pass over the store
        hits = rs.query(queries_df, top_k=10)   # cheap, repeatable
        rs.close()                              # drop the shm blocks

    Float blocks (`block_dtype="float32"`, the default) hold the store's
    raw rows in its own element type plus their float32 squared norms,
    and both `query` and `query_local` run the certified top-k kernel
    (`kernels.certified_topk`): rows, scores and ranks equal
    `batch_query`'s bit for bit. `block_dtype="int8"` is an approximate
    footprint mode.
    """

    def __init__(
        self,
        store: DataFrame,
        *,
        vector_col: str = K_VECTOR,
        id_col: str = K_ID,
        normalized: bool = False,
        shm_dir: str | None = None,
        block_dtype: str = "float32",
        on_missing: str = "fail",
        probe_cache: bool = True,
        auto_rearm: bool = True,
    ):
        if block_dtype not in ("float32", "int8"):
            raise ValueError(f"block_dtype must be float32 or int8, got {block_dtype!r}")
        if on_missing not in ("fail", "fallback"):
            raise ValueError(f"on_missing must be 'fail' or 'fallback', got {on_missing!r}")
        self.store = store
        self.vector_col = vector_col
        self.id_col = id_col
        self.normalized = normalized
        # "fallback": before each query batch, a cheap existence probe
        # runs over the block partitions; if any expected block is gone
        # (preempted node, reaped tmpfs) the batch is served by the
        # exact store scan (`batch_query(method="gemm")`) instead of
        # failing — identical results for float blocks; for int8
        # blocks the degraded batch gets EXACT scores instead of the
        # quantized ones (better quality, not bit-stable across the
        # transition). "fail" (default) keeps the serving-tier
        # contract: a missing block is an operational error that should
        # page, not silently degrade.
        self.on_missing = on_missing
        # "int8": blocks hold symmetric per-row int8 codes + a float32
        # scale column (max|x|/127 — the same rule as
        # functions.vector.quantize_int8) of the unit rows (normalized
        # in float32 unless `normalized`) — 4× more store per serving
        # node at ~1e-3 cosine error on unit vectors. Scoring rescales
        # the integer dot: score = scale_i · (q · codes_i). An
        # APPROXIMATE serving mode by construction — accuracy is
        # band-tested, not oracle-checked.
        self.block_dtype = block_dtype
        self.token = uuid.uuid4().hex[:12]
        self.dir = shm_dir or os.path.join(_shm_root(), f"picovdb_resident_{self.token}")
        self.n_rows: int | None = None
        self.n_partitions: int | None = None
        # fallback-mode probe cache: a healthy probe sticks for the
        # store's lifetime (see _probe_missing_blocks on why per-batch
        # probing is both wasteful and locality-unsafe off local mode).
        # The trade-off is explicit: with probe_cache=True (default) an
        # executor/node loss AFTER the first healthy probe fails fast
        # until invalidate_probe() re-arms; probe_cache=False re-probes
        # every batch (one extra job each, and off local mode a
        # mis-scheduled probe can report a false 'missing') but always
        # auto-detects late losses. Long-lived serving stores on
        # preemptible nodes should pick False or wire invalidate_probe()
        # into their executor-loss listener.
        self.probe_cache = bool(probe_cache)
        # fallback-mode ergonomics vs laziness: with auto_rearm=True
        # (default), a query that SKIPPED the probe (cached healthy
        # result) executes eagerly inside query() so a block lost since
        # the probe is caught, the probe re-armed, and the batch retried
        # via the degraded path (_serve_with_rearm) — right for the
        # collect-immediately serving pattern. Callers that COMPOSE
        # query() frames lazily (union several batches, collect once)
        # should pass auto_rearm=False to keep the lazy contract: they
        # get the plain fail-fast and re-arm via invalidate_probe().
        self.auto_rearm = bool(auto_rearm)
        self._probe_ok = False

    # ------------------------------------------------------------ lifecycle

    def materialize(self) -> int:
        """One job over the store: each task writes its partition's block
        (ids.npy, mat.npy and norm2.npy, or int8 codes in mat.npy and
        scales.npy) atomically under the node-local resident dir.
        Returns the total row count."""
        # re-materializing must invalidate the in-process serving cache:
        # unlinked files stay readable through live mmaps, so a stale
        # cache would silently keep serving the PREVIOUS materialization
        self._local_cache = None
        self._probe_ok = False
        blk_dir = self.dir
        vec_col, id_col = self.vector_col, self.id_col
        pre_normalized = self.normalized
        as_int8 = self.block_dtype == "int8"

        def write_block(batches: Iterator) -> Iterator:
            import pyarrow as pa
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            ids_parts, mat_parts = [], []
            for batch in batches:
                n = batch.num_rows
                if n == 0:
                    continue
                vals = batch.column(1).flatten().to_numpy(zero_copy_only=False)
                ids_parts.append(batch.column(0).to_numpy(zero_copy_only=False))
                mat_parts.append(vals.reshape(n, -1))
            rows = 0
            if mat_parts:
                ids = np.concatenate(ids_parts)
                mat = np.ascontiguousarray(np.vstack(mat_parts))
                rows = len(ids)
                _write_block(blk_dir, pid, mat, as_int8, pre_normalized, ids=ids)
            yield pa.RecordBatch.from_arrays(
                [pa.array([pid], type=pa.int32()), pa.array([rows], type=pa.int64())],
                names=["pid", "rows"],
            )

        src = self.store.select(F.col(id_col).cast("string"), F.col(vec_col))
        out = src.mapInArrow(write_block, schema="pid int, rows long").collect()
        self.n_rows = sum(r["rows"] for r in out)
        self.n_partitions = len(out)
        # which partition ids actually wrote a block: lets query() tell a
        # legitimately-empty partition apart from a MISSING block (off-node
        # task, changed partitioning) — the latter must fail, not skip
        self.block_pids = frozenset(r["pid"] for r in out if r["rows"] > 0)
        return self.n_rows

    def close(self) -> None:
        """Remove the shm blocks, distributed and on the driver
        (`_remove_blocks`)."""
        _remove_blocks(self.store, self.dir)
        # drop the in-process serving cache AND the materialized marker:
        # the cache's mmaps point at removed files, and a closed store
        # must fail loudly ("not materialized") from every entry point —
        # the same lifecycle rule as ResidentIvfStore.close()
        self._local_cache = None
        self.n_rows = None
        self._probe_ok = False

    def invalidate_probe(self) -> None:
        """Re-arm the `on_missing="fallback"` existence probe. A healthy
        probe result is cached for the store's lifetime (per-batch
        probing costs one extra job per query and has no task-locality
        guarantee off local mode); call this after an observed
        executor/node loss so the next batch re-checks the blocks."""
        self._probe_ok = False

    def __enter__(self) -> "ResidentGemmStore":
        self.materialize()
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -------------------------------------------------------------- queries

    def query(
        self,
        queries: DataFrame,
        *,
        top_k: int = 10,
        better_than: float | None = None,
        round_to: int = 6,
        query_id: str = "query_id",
        vector_col: str | None = None,
    ) -> DataFrame:
        """Batch top-k cosine against the resident blocks. Output shape
        matches `batch_query(method="gemm")`: (query_id, _id_, _metrics_,
        rank), score rounded to `round_to`, ties by id; on float blocks
        the rows equal `batch_query`'s."""
        from picovdb_spark.operators.similarity import collect_normalized_queries
        from picovdb_spark.operators.topk import topk_per_query

        if self.n_rows is None:
            raise RuntimeError("resident store not materialized — call materialize()")
        # captured BEFORE the probe branch can flip _probe_ok: True means
        # this call trusts a cached health result and gets the eager
        # auto-re-arm wrap (_serve_with_rearm) on its way out
        probe_skipped = (
            self.on_missing == "fallback" and self._probe_ok and self.auto_rearm
        )
        if self.on_missing == "fallback" and not self._probe_ok:
            missing = _probe_missing_blocks(
                self.store.select(F.lit(True).alias("__probe")),
                self.dir,
                self.block_pids,
                _block_artifacts(self.block_dtype == "int8"),
            )
            if not missing and self.probe_cache:
                # healthy: remember it — per-batch probes cost one extra
                # job each and can false-'missing' off local mode (no
                # task-locality guarantee); invalidate_probe() re-arms,
                # probe_cache=False opts out entirely (see __init__)
                self._probe_ok = True
            if missing:
                import warnings

                from picovdb_spark.operators.similarity import batch_query

                warnings.warn(
                    f"resident blocks missing for partitions {missing[:8]} "
                    f"({len(missing)} total) — serving this batch via the "
                    "exact store scan (degraded mode); re-materialize() to "
                    "restore resident serving",
                    stacklevel=2,
                )
                # id+vector projection keeps the output shape identical
                # to the resident path (no metadata join-back); the query
                # side realigns its vector column to the store's so
                # batch_query's single vector_col fits both. NOTE for
                # int8 blocks: this serves EXACT scores for the
                # degraded batch, not the quantized ~1e-3-error scores
                # the resident path returns — better quality, but not
                # bit-stable across the transition.
                q_side = queries.select(
                    F.col(query_id),
                    F.col(vector_col or self.vector_col).alias(self.vector_col),
                )
                return batch_query(
                    self.store.select(
                        F.col(self.id_col).alias(K_ID), F.col(self.vector_col)
                    ),
                    q_side,
                    top_k=top_k,
                    better_than=better_than,
                    method="gemm",
                    round_to=round_to,
                    query_id=query_id,
                    vector_col=self.vector_col,
                )
        spark = self.store.sparkSession
        qids, qmat = collect_normalized_queries(
            queries, query_id, vector_col or self.vector_col
        )
        if qmat.size == 0 or top_k <= 0:
            return spark.createDataFrame(
                [], schema=f"{_HITS}, rank int"
            )
        bc = spark.sparkContext.broadcast((qids, qmat))
        blk_dir = self.dir
        block_pids = self.block_pids
        as_int8 = self.block_dtype == "int8"
        need = _block_artifacts(as_int8)

        def score_block(batches: Iterator) -> Iterator:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            for batch in batches:  # drain the (constant-column) input
                pass
            blk = _load_block(blk_dir, pid, need, block_pids=block_pids)
            if blk is None:
                return  # legitimately empty: materialize wrote no block
            mat, ids, side = blk["mat"], blk["ids"], blk[need[-1]]
            b_qids, q64 = bc.value
            q32 = q64.astype(np.float32)
            if as_int8:
                # rescaled integer dot: score = scale_i · (q · codes_i).
                # The f32 cast materializes the block per pass (CPU cost);
                # the int8 win is the 4× smaller RESIDENT footprint
                scores = (q32 @ mat.T.astype(np.float32)) * side[None, :]
                qi, vi, sel = _padded_topk(scores, top_k, round_to)
            else:
                qi, vi, sel = certified_topk(q64, q32, mat, top_k, round_to, norm2=side)
            yield _hits_batch(b_qids[qi], ids[vi], sel)

        # pruned probe of the cached store: the columnar cache serves only
        # the constant column (no vector bytes cross JVM→Python); the scan
        # keeps the store's partition ids and cache locality
        probe = self.store.select(F.lit(True).alias("__probe"))
        local = probe.mapInArrow(score_block, schema=_HITS)
        out = topk_per_query(local, top_k)
        if better_than is not None:
            out = out.filter(F.col(K_METRICS) >= F.lit(float(better_than)))
        return _serve_with_rearm(
            self,
            out,
            probe_skipped,
            lambda: self.query(
                queries,
                top_k=top_k,
                better_than=better_than,
                round_to=round_to,
                query_id=query_id,
                vector_col=vector_col,
            ),
        )

    # ---------------------------------------------------- in-process serving

    def _local_blocks(self):
        """mmap every resident block from THIS process; loaded once,
        cached, as ([(rows, norm2 or None)] per block, all ids). int8
        blocks are cast to scaled float32 ONCE here — a per-query cast
        would re-materialize the whole store every call, and unlike the
        IVF store there is no probed subset to cache hot segments of.
        The serving process therefore trades store-sized RAM for GEMV
        speed; the 4× int8 density still applies to the shm blocks the
        DISTRIBUTED path reads."""
        cached = getattr(self, "_local_cache", None)
        if cached is not None:
            return cached
        if self.n_rows is None:
            raise RuntimeError("resident store not materialized — call materialize()")
        as_int8 = self.block_dtype == "int8"
        blocks, id_parts = [], []
        for pid in sorted(self.block_pids):
            blk = _load_block(self.dir, pid, _block_artifacts(as_int8), local=True)
            mat = blk["mat"]
            if as_int8:
                # float32 copy scaled ONCE: (codes * scale_i) is exactly
                # what the distributed kernel's per-query rescale yields,
                # modulo multiplication order — see query_local docstring.
                # In-place multiply: the copy-then-multiply form would
                # transiently hold TWO float32 stores.
                mat = np.ascontiguousarray(mat, dtype=np.float32)
                mat *= blk["scales"][:, None]
                blocks.append((mat, None))
            else:
                # prefault: touch one element per row so first queries
                # measure GEMV, not page-in
                float(np.asarray(mat[:, 0]).astype(np.float32).sum())
                blocks.append((mat, blk["norm2"]))
            id_parts.append(blk["ids"])
        # ids pre-concatenated once: blocks are immutable after load, and
        # a per-query concatenate of a store-sized object array is pure
        # hot-loop waste
        ids_all = np.concatenate(id_parts) if id_parts else np.empty(0, dtype=object)
        self._local_cache = (blocks, ids_all)
        return self._local_cache

    def query_local(
        self,
        vector,
        *,
        top_k: int = 10,
        better_than: float | None = None,
        round_to: int = 6,
    ) -> list[dict]:
        """Exact single-query serving WITHOUT a Spark job: one certified
        top-k (`kernels.certified_topk`) over every node-local block —
        the EXACT-path analog of `ResidentIvfStore.query_local` (which
        routes), and the serving twin of the reference's in-process
        exact scan (pico_vdb.py:680-713, its "100 single queries =
        0.8-1.5 s" bench regime). On float blocks the answer equals
        `query()` and `batch_query` bit for bit. int8 blocks select with
        the padded rule on approximate scores (`_padded_topk`), and a
        score can differ from `query()`'s by one float32 ulp (the scale
        multiplies the f32 copy once here vs per-dot there) —
        tolerance-pinned in tests.

        Returns [{'_id_', '_metrics_', 'rank'}, ...] best-first."""
        blocks, ids_all = self._local_blocks()
        if not blocks or top_k <= 0:
            return []
        q64 = _unit_rows(np.asarray(vector, dtype=np.float64).reshape(1, -1))
        q32 = q64.astype(np.float32)
        mats = [mat for mat, _ in blocks]
        if self.block_dtype == "int8":
            scores = np.concatenate([mat @ q32[0] for mat in mats])
            _, vi, score = _padded_topk(scores[None, :], top_k, round_to)
        else:
            norms = [norm2 for _, norm2 in blocks]
            _, vi, score = certified_topk(q64, q32, mats, top_k, round_to, norm2=norms)
        return _rank_local(ids_all[vi], score, top_k=top_k, better_than=better_than)


class ResidentIvfStore:
    """Cluster-routed resident serving: IVF pruning ON TOP of the
    resident-block layout — the batch analog of FAISS IVF serving
    (reference `pico_vdb.py` keeps an in-process index; here the
    inverted lists live node-local, partitioned by cluster).

    Two differences from `ResidentGemmStore.query`:

    1. The store is REPARTITIONED BY CLUSTER before block write, so each
       node-local block holds a few whole inverted lists (contiguous
       row segments, sorted by cluster) instead of a random slice.
    2. The driver routes the query batch: one tiny GEMM against the
       centroid matrix picks each query's `nprobe` clusters, and the
       inverted routing table (cluster -> query indices, CSR layout)
       broadcasts with the query matrix. A task then scores each of its
       cluster segments against ONLY the queries probing that cluster —
       total scored work is `nprobe / n_centroids` of the exact pass,
       while the per-(query, cluster) certified top-k
       (`kernels.certified_topk`) keeps the global merge identical to
       the exact kernel's.

    Float blocks (`dtype="float32"` or `"float64"`, the same mode) hold
    the store's raw rows in its own element type plus their float32
    squared norms. Full probe (`nprobe >= n_centroids`) routes every
    query to every cluster, and `query` and `query_local` then equal
    `batch_query` bit for bit — that is the oracle-checked
    configuration; partial-probe recall is a pytest band (mirrors the
    reference's tests/test_task14 FAISS-vs-numpy recall assertions).

    Scale: the routing table is O(nq * nprobe) ints and the query
    matrix O(nq * dim) float64 — both broadcast-sized by construction
    (a 1M-query batch at dim 1024 is 8 GB and should be chunked by the
    caller). Blocks are whole inverted lists, so skewed clusters skew
    blocks; `n_blocks` > n_centroids spreads nothing (a cluster is
    atomic here) — keep n_centroids >= ~8x parallelism, the standard
    IVF sizing (sqrt(N) centroids; ann.py:fit_centroids docstring).
    """

    def __init__(
        self,
        store: DataFrame,
        *,
        n_centroids: int = 256,
        seed: int = 42,
        n_blocks: int | None = None,
        vector_col: str = K_VECTOR,
        id_col: str = K_ID,
        centroids: "np.ndarray | None" = None,
        dtype: str = "float32",
        shm_dir: str | None = None,
        local_cache_bytes: int = 1 << 30,
        on_missing: str = "fail",
        probe_cache: bool = True,
        auto_rearm: bool = True,
    ):
        # "int8": blocks hold symmetric per-row int8 codes + a float32
        # scale column (same rule as ResidentGemmStore's int8 mode) —
        # 4× more inverted lists per serving node at ~1e-3 cosine error;
        # queries stay float32 and scores are rescaled integer dots.
        # Approximate by construction: recall-band tested, not
        # oracle-checked. "float32" and "float64" are one exact mode:
        # raw rows in the store's element type, certified scoring.
        # `local_cache_bytes` bounds query_local's hot-segment float32
        # cache in int8 mode (0 disables): the STORE keeps its 4× density
        # in shm; the serving process trades up to this much RAM to skip
        # the per-query int8→float32 cast of hot probed segments.
        # Measured at ref scale (100k×1024, 256 clusters, nprobe 8):
        # ~5-7 ms/query uncached, ~1-2 ms/query steady-state cached —
        # an undersized budget (< hot-set bytes) FIFO-thrashes, so size
        # it to the expected hot set or disable.
        if dtype not in ("float32", "float64", "int8"):
            raise ValueError("dtype must be 'float32', 'float64' or 'int8'")
        if on_missing not in ("fail", "fallback"):
            raise ValueError(f"on_missing must be 'fail' or 'fallback', got {on_missing!r}")
        self.store = store
        self.dtype = dtype
        # "fallback": probe block existence per query batch and serve via
        # the exact store scan when blocks are gone (preemptible-cluster
        # degraded mode) — results are EXACT top-k, a quality superset of
        # the routed nprobe answer, at full-scan cost. Default "fail"
        # keeps missing blocks loud (see ResidentGemmStore.on_missing).
        self.on_missing = on_missing
        self.local_cache_bytes = int(local_cache_bytes)
        self.n_centroids = n_centroids
        self.seed = seed
        self.n_blocks = n_blocks
        self.vector_col = vector_col
        self.id_col = id_col
        self.centroids = centroids
        self.token = uuid.uuid4().hex[:12]
        self.dir = shm_dir or os.path.join(_shm_root(), f"picovdb_rivf_{self.token}")
        self.n_rows: int | None = None
        self._blocks_df: DataFrame | None = None
        # fallback-mode probe cache (see ResidentGemmStore.__init__ for
        # the probe_cache trade-off: cached healthy probe vs per-batch
        # auto-detection of late executor loss)
        self.probe_cache = bool(probe_cache)
        # fallback-mode ergonomics vs laziness: with auto_rearm=True
        # (default), a query that SKIPPED the probe (cached healthy
        # result) executes eagerly inside query() so a block lost since
        # the probe is caught, the probe re-armed, and the batch retried
        # via the degraded path (_serve_with_rearm) — right for the
        # collect-immediately serving pattern. Callers that COMPOSE
        # query() frames lazily (union several batches, collect once)
        # should pass auto_rearm=False to keep the lazy contract: they
        # get the plain fail-fast and re-arm via invalidate_probe().
        self.auto_rearm = bool(auto_rearm)
        self._probe_ok = False

    # ------------------------------------------------------------ lifecycle

    def materialize(self) -> int:
        """Fit (or accept) centroids, assign clusters executor-side,
        repartition by cluster, and write per-partition blocks of whole
        inverted lists: ids.npy, clus.npy (sorted int32) and either the
        raw rows (mat.npy) with their float32 squared norms (norm2.npy)
        or, for int8, the codes of the float32-normalized rows with
        scales.npy for 4x density. One shuffle of the vector column —
        the same cost as any IVF build's cluster-layout write
        (ann.IvfIndex.write)."""
        from picovdb_spark.operators.ann import assign_clusters, fit_centroids

        # re-materializing must invalidate the in-process serving caches:
        # unlinked files stay readable through live mmaps, so stale
        # caches would silently keep serving the PREVIOUS materialization
        self._local_cache = None
        self._seg_cache = None
        self._seg_cache_sz = 0
        self._probe_ok = False
        spark = self.store.sparkSession
        if self.centroids is None:
            self.centroids = fit_centroids(
                self.store, self.n_centroids, vector_col=self.vector_col, seed=self.seed
            )
        self._cent32 = np.ascontiguousarray(self.centroids.astype(np.float32))
        k = len(self._cent32)
        n_blocks = self.n_blocks or min(spark.sparkContext.defaultParallelism, k)

        src = self.store.select(
            F.col(self.id_col).cast("string").alias(self.id_col), F.col(self.vector_col)
        )
        blocks = assign_clusters(src, self.centroids, vector_col=self.vector_col).repartition(
            n_blocks, F.col("__cluster")
        )
        blocks = blocks.persist()
        self._blocks_df = blocks
        blk_dir = self.dir
        vec_col, id_col = self.vector_col, self.id_col
        as_int8 = self.dtype == "int8"

        def write_block(batches: Iterator) -> Iterator:
            import pyarrow as pa
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            ids_parts, mat_parts, clus_parts = [], [], []
            for batch in batches:
                n = batch.num_rows
                if n == 0:
                    continue
                cols = {name: i for i, name in enumerate(batch.schema.names)}
                vals = batch.column(cols[vec_col]).flatten().to_numpy(zero_copy_only=False)
                ids_parts.append(batch.column(cols[id_col]).to_numpy(zero_copy_only=False))
                mat_parts.append(vals.reshape(n, -1))
                clus_parts.append(
                    batch.column(cols["__cluster"]).to_numpy(zero_copy_only=False)
                )
            rows = 0
            if mat_parts:
                ids = np.concatenate(ids_parts)
                mat = np.vstack(mat_parts)
                clus = np.concatenate(clus_parts).astype(np.int32)
                order = np.argsort(clus, kind="stable")
                ids, mat, clus = ids[order], np.ascontiguousarray(mat[order]), clus[order]
                rows = len(ids)
                _write_block(blk_dir, pid, mat, as_int8, False, ids=ids, clus=clus)
            yield pa.RecordBatch.from_arrays(
                [pa.array([pid], type=pa.int32()), pa.array([rows], type=pa.int64())],
                names=["pid", "rows"],
            )

        out = blocks.mapInArrow(write_block, schema="pid int, rows long").collect()
        self.n_rows = sum(r["rows"] for r in out)
        self.block_pids = frozenset(r["pid"] for r in out if r["rows"] > 0)
        return self.n_rows

    def close(self) -> None:
        if self._blocks_df is not None:
            _remove_blocks(self._blocks_df, self.dir)
            try:
                self._blocks_df.unpersist()
            except Exception:
                pass
        shutil.rmtree(self.dir, ignore_errors=True)
        # drop the query_local mmap cache: unlinked files stay readable
        # through live mmaps, so without this a closed store would keep
        # serving stale data instead of failing loudly
        self._local_cache = None
        self._seg_cache = None
        self._seg_cache_sz = 0
        self.n_rows = None
        self._blocks_df = None
        self._probe_ok = False

    def invalidate_probe(self) -> None:
        """Re-arm the `on_missing="fallback"` existence probe after an
        observed executor/node loss (see ResidentGemmStore.invalidate_probe)."""
        self._probe_ok = False

    def __enter__(self) -> "ResidentIvfStore":
        self.materialize()
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -------------------------------------------------------------- queries

    def query(
        self,
        queries: DataFrame,
        *,
        top_k: int = 10,
        nprobe: int = 8,
        round_to: int = 6,
        query_id: str = "query_id",
        vector_col: str | None = None,
    ) -> DataFrame:
        """Routed batch top-k over the probed clusters only. Output shape
        matches `ResidentGemmStore.query` / `batch_query(method="gemm")`:
        (query_id, _id_, _metrics_, rank); with `nprobe >= n_centroids`
        float blocks return exactly `batch_query`'s rows and scores."""
        from picovdb_spark.operators.similarity import collect_normalized_queries
        from picovdb_spark.operators.topk import topk_per_query

        if self.n_rows is None or self._blocks_df is None:
            raise RuntimeError("resident IVF store not materialized — call materialize()")
        # see ResidentGemmStore.query — same cached-probe auto-re-arm
        probe_skipped = (
            self.on_missing == "fallback" and self._probe_ok and self.auto_rearm
        )
        if self.on_missing == "fallback" and not self._probe_ok:
            missing = _probe_missing_blocks(
                self._blocks_df.select(F.lit(True).alias("__probe")),
                self.dir,
                self.block_pids,
                _block_artifacts(self.dtype == "int8", "clus"),
            )
            if not missing and self.probe_cache:
                self._probe_ok = True
            if missing:
                import warnings

                from picovdb_spark.operators.similarity import batch_query

                warnings.warn(
                    f"resident IVF blocks missing for partitions {missing[:8]} "
                    f"({len(missing)} total) — serving this batch via the "
                    "exact store scan (degraded mode, exact results); "
                    "re-materialize() to restore routed serving",
                    stacklevel=2,
                )
                return batch_query(
                    self.store.select(
                        F.col(self.id_col).alias(K_ID), F.col(self.vector_col)
                    ),
                    queries.select(
                        F.col(query_id),
                        F.col(vector_col or self.vector_col).alias(self.vector_col),
                    ),
                    top_k=top_k,
                    method="gemm",
                    round_to=round_to,
                    query_id=query_id,
                    vector_col=self.vector_col,
                )
        spark = self.store.sparkSession
        qids, qmat = collect_normalized_queries(
            queries, query_id, vector_col or self.vector_col
        )
        if qmat.size == 0 or top_k <= 0:
            return spark.createDataFrame(
                [], schema=f"{_HITS}, rank int"
            )
        q32 = qmat.astype(np.float32)
        k = len(self._cent32)
        npb = min(nprobe, k)
        nq = len(q32)
        cscores = q32 @ self._cent32.T  # (nq, k) — the routing GEMM
        probes = np.argpartition(-cscores, npb - 1, axis=1)[:, :npb]
        # invert to CSR: for cluster c, sort_q[starts[c]:ends[c]] = queries probing c
        flat_c = probes.ravel()
        flat_q = np.repeat(np.arange(nq, dtype=np.int64), npb)
        order = np.argsort(flat_c, kind="stable")
        sort_c, sort_q = flat_c[order], flat_q[order]
        starts = np.searchsorted(sort_c, np.arange(k))
        ends = np.searchsorted(sort_c, np.arange(k), side="right")

        bc = spark.sparkContext.broadcast((qids, qmat, sort_q, starts, ends))
        blk_dir = self.dir
        block_pids = self.block_pids
        as_int8 = self.dtype == "int8"
        need = _block_artifacts(as_int8, "clus")

        def score_block(batches: Iterator) -> Iterator:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            for batch in batches:
                pass
            blk = _load_block(blk_dir, pid, need, block_pids=block_pids)
            if blk is None:
                return
            mat, ids, clus, side = blk["mat"], blk["ids"], blk["clus"], blk[need[-1]]
            b_qids, b_q64, b_sq, b_st, b_en = bc.value
            b_q32 = b_q64.astype(np.float32)
            seg_clusters, seg_starts = np.unique(clus, return_index=True)
            seg_bounds = np.append(seg_starts, len(clus))
            out_q, out_v, out_s = [], [], []
            for ci, c in enumerate(seg_clusters):
                qidx = b_sq[b_st[c] : b_en[c]]
                if len(qidx) == 0:
                    continue
                s, e = seg_bounds[ci], seg_bounds[ci + 1]
                if as_int8:
                    # rescaled integer dot: score = scale_i · (q · codes_i)
                    scores = (
                        b_q32[qidx] @ mat[s:e].T.astype(np.float32)
                    ) * side[s:e][None, :]
                    qi, vi, score = _padded_topk(scores, top_k, round_to)
                else:
                    qi, vi, score = certified_topk(
                        b_q64[qidx], b_q32[qidx], mat[s:e], top_k, round_to, norm2=side[s:e]
                    )
                out_q.append(qidx[qi])
                out_v.append(vi + s)
                out_s.append(score)
            if not out_q:
                return
            oq = np.concatenate(out_q)
            ov = np.concatenate(out_v)
            osc = np.concatenate(out_s)
            yield _hits_batch(b_qids[oq], ids[ov], osc)

        probe = self._blocks_df.select(F.lit(True).alias("__probe"))
        local = probe.mapInArrow(score_block, schema=_HITS)
        return _serve_with_rearm(
            self,
            topk_per_query(local, top_k),
            probe_skipped,
            lambda: self.query(
                queries,
                top_k=top_k,
                nprobe=nprobe,
                round_to=round_to,
                query_id=query_id,
                vector_col=vector_col,
            ),
        )

    # --------------------------------------------------- in-process serving

    def _local_blocks(self):
        """mmap every resident block from THIS process and index its
        cluster segments: {cluster: [(block_i, start, end), ...]}.
        Loaded once, cached; mmap pages stay in the OS page cache."""
        cached = getattr(self, "_local_cache", None)
        if cached is not None:
            return cached
        if self.n_rows is None:
            raise RuntimeError("resident IVF store not materialized — call materialize()")
        artifacts = _block_artifacts(self.dtype == "int8", "clus")
        blocks, segmap = [], {}
        for pid in sorted(self.block_pids):
            blk = _load_block(self.dir, pid, artifacts, local=True)
            mat, clus = blk["mat"], blk["clus"]
            # prefault: touch one element per row (rows span >= a page at
            # serving dims) so first queries measure GEMV, not page-in
            float(np.asarray(mat[:, 0]).astype(np.float32).sum())
            bi = len(blocks)
            blocks.append((mat, blk["ids"], blk[artifacts[-1]]))
            seg_clusters, seg_starts = np.unique(clus, return_index=True)
            bounds = np.append(seg_starts, len(clus))
            for ci, c in enumerate(seg_clusters):
                segmap.setdefault(int(c), []).append(
                    (bi, int(bounds[ci]), int(bounds[ci + 1]))
                )
        self._local_cache = (blocks, segmap)
        return self._local_cache

    def _hot_segment(self, bi: int, s: int, e: int, mat) -> "np.ndarray":
        """float32 view of an int8 block segment, FIFO-cached up to
        `local_cache_bytes` (0 = cast every call)."""
        if self.local_cache_bytes <= 0:
            return mat[s:e].astype(np.float32)
        cache = getattr(self, "_seg_cache", None)
        if cache is None:
            from collections import OrderedDict

            cache = self._seg_cache = OrderedDict()
            self._seg_cache_sz = 0
        key = (bi, s, e)
        seg = cache.get(key)
        if seg is None:
            seg = mat[s:e].astype(np.float32)
            cache[key] = seg
            self._seg_cache_sz += seg.nbytes
            while self._seg_cache_sz > self.local_cache_bytes and cache:
                _, old = cache.popitem(last=False)
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
        """Single-query serving WITHOUT a Spark job: route on the
        centroids, run the certified top-k (`kernels.certified_topk`)
        over only the probed clusters' segments of the node-local
        blocks, merge top-k in-process. This is the serving-tier analog
        of the reference's in-process FAISS path (pico_vdb.py:716-751) —
        same latency class (milliseconds), same data and answer as
        `query()` (identical blocks, routing, kernel and tie rule; bit
        for bit on float blocks; int8 scores can differ by one float32
        ulp, tolerance-pinned in tests/test_resident.py).

        Requires every block to be visible from this process (true in
        local mode and on a serving node holding the store's shards; a
        partial node must use the distributed `query()`). Returns
        [{'_id_', '_metrics_', 'rank'}, ...] best-first."""
        blocks, segmap = self._local_blocks()
        if top_k <= 0:
            return []
        q64 = _unit_rows(np.asarray(vector, dtype=np.float64).reshape(1, -1))
        q32 = q64.astype(np.float32)
        k = len(self._cent32)
        npb = min(nprobe, k)
        # route on the FLOAT centroids with the float32 query, exactly
        # like query()'s routing GEMM — casting them to the block dtype
        # would truncate every component to 0 in int8 mode (|x| < 1) and
        # probe arbitrary clusters
        cscores = self._cent32 @ q32[0]
        probed = np.argpartition(-cscores, npb - 1)[:npb]
        segs, sides, seg_ids = [], [], []
        for c in probed:
            for bi, s, e in segmap.get(int(c), ()):
                mat, ids, side = blocks[bi]
                # an int8 segment is served from a byte-bounded FIFO cache
                # of float32 casts (the cast is ~4× the GEMV itself; the
                # store keeps its 4× int8 density, only this process's hot
                # set is f32)
                segs.append(self._hot_segment(bi, s, e, mat) if self.dtype == "int8" else mat[s:e])
                sides.append(side[s:e])
                seg_ids.append(ids[s:e])
        if not segs:
            return []
        if self.dtype == "int8":
            # scales multiply AFTER the dot, same order as the
            # distributed kernel, so scores agree to the ulp
            scores = np.concatenate([(seg @ q32[0]) * sc for seg, sc in zip(segs, sides)])
            _, vi, score = _padded_topk(scores[None, :], top_k, round_to)
        else:
            _, vi, score = certified_topk(q64, q32, segs, top_k, round_to, norm2=sides)
        return _rank_local(np.concatenate(seg_ids)[vi], score, top_k=top_k, better_than=better_than)

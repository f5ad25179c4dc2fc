"""`VectorStore` — the picovdb API surface re-expressed over DataFrames.

Reference API (/root/reference/picovdb/pico_vdb.py:105-1011, SURVEY.md §2.1):
construct/open, upsert, delete, query/query_one, get/get_all, count,
capacity, stats, vacuum, save/load, additional_data.

Design stance (SURVEY.md §7.0): the store *is* a DataFrame with schema
(_id_ string, _vector_ array<float>, _deleted_ boolean, <metadata…>).
Every method composes lazily; mutations produce a new DataFrame (MVCC by
immutability — the reference's RW-lock, pico_vdb.py:1019-1063, has no
Spark equivalent because snapshots are free). At cluster scale `upsert`
is the classic MERGE shape (left join + unionByName); on Delta/Iceberg
the same logical op is `MERGE INTO` — here it is expressed with joins so
it runs on plain Parquet.
"""

from __future__ import annotations

import functools
import json
import logging
import os
import shutil
import time
import uuid
from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from picovdb_spark.functions.vector import assert_dim, auto_id, l2_normalize
from picovdb_spark.schema import K_DELETED, K_ID, K_METRICS, K_VECTOR
from picovdb_spark.session import coalesce_to_cores, local_df

logger = logging.getLogger("picovdb_spark")


def _timed(name: str):
    """DEBUG-level op timing, mirroring the reference's @_timed decorator
    ("<op> took X ms", pico_vdb.py:81-94; tests/test_timing_logs.py)."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(*args: Any, **kwargs: Any):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                logger.debug("%s took %.1f ms", name, (time.perf_counter() - t0) * 1000)

        return wrapper

    return deco


class VectorStore:
    """Open-or-init semantics mirror `PicoVectorDB.__init__`
    (pico_vdb.py:105-214): if `storage_path` holds a saved store, load it;
    otherwise start empty with the declared `embedding_dim`."""

    def __init__(
        self,
        spark: SparkSession,
        embedding_dim: int,
        storage_path: str | None = None,
        *,
        checkpoint_mutations: bool = True,
        capacity: int | None = None,
        ann_incremental_threshold_ratio: float = 0.2,
    ):
        self.spark = spark
        self.dim = int(embedding_dim)
        self.storage_path = storage_path
        self._checkpoint = checkpoint_mutations
        self._additional: dict[str, Any] = {}
        # optional hard row cap — parity with the reference's fixed
        # pre-allocated capacity mode (pico_vdb.py:286-296, :440-442)
        self._capacity = capacity
        # lazy ANN maintenance state — the reference's pending-change
        # tracking + incremental-vs-full threshold
        # (faiss_incremental_threshold_ratio, pico_vdb.py:194-204)
        self._ann = None
        self._ann_ntotal = 0
        self._ann_pending: set[str] = set()
        self._ann_threshold = float(ann_incremental_threshold_ratio)
        # "full" | "incremental" | None — _last_faiss_rebuild_mode parity
        # (pico_vdb.py:204; tests/test_task36_faiss_incremental_threshold.py)
        self._last_ann_rebuild_mode: str | None = None
        if storage_path:
            _recover_interrupted_save(storage_path)
        if storage_path and os.path.exists(os.path.join(storage_path, "meta.json")):
            self._load(storage_path)
        elif storage_path and os.path.exists(os.path.join(storage_path, "vectors.parquet")):
            # vectors without meta.json = a half-written or damaged store;
            # silently initializing empty would make the data appear lost
            raise ValueError(
                f"corrupt store at {storage_path}: vectors.parquet present "
                "but meta.json missing"
            )
        else:
            self._df = spark.createDataFrame([], schema=self._base_schema())
            self._detached = True  # nothing on disk to detach from

    # ------------------------------------------------------------------ infra

    def _base_schema(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField(K_ID, T.StringType(), False),
                T.StructField(K_VECTOR, T.ArrayType(T.FloatType()), False),
                T.StructField(K_DELETED, T.BooleanType(), False),
            ]
        )

    @property
    def df(self) -> DataFrame:
        """The store as a DataFrame (all rows, incl. tombstones)."""
        return self._df

    def active(self) -> DataFrame:
        return self._df.filter(~F.col(K_DELETED))

    def _set(self, df: DataFrame, changed_ids: Iterable[str] | None = None) -> None:
        self._df = df
        # a checkpointed store lives in block storage, detached from any
        # files; an unmaterialized mutation still scans the loaded files
        self._detached = self._checkpoint
        # dirty-flag parity (pico_vdb.py:496-497): mutations don't rebuild
        # eagerly — they accumulate a pending-change set, and the next ANN
        # query picks incremental vs full maintenance by the change ratio
        # (_ensure_ann). An untracked mutation (changed_ids=None) drops
        # the index outright.
        if changed_ids is None:
            self._ann = None
            self._ann_pending.clear()
        elif self._ann is not None:
            self._ann_pending.update(str(i) for i in changed_ids)

    def _materialize(
        self, src: DataFrame, build: Callable[[DataFrame], DataFrame], **metrics: Column
    ) -> tuple[DataFrame, dict[str, Any]]:
        """Run a mutation's one Spark action; return the new store and
        the values of `metrics`, aggregates over the rows of `src`.

        The metrics ride on the action as an `Observation` attached to
        `src` below `build`, so a mutation's report costs no collect or
        count job of its own. The action is the eager `localCheckpoint`
        of `build(src)` — which truncates the lineage, the Delta-table
        analog of a commit, so chained mutations never grow an unbounded
        plan — or, with `checkpoint_mutations=False`, a `noop`-format
        write of the same plan, after which the store keeps the plan
        unobserved and unmaterialized. Either way the report is read the
        same way."""
        obs = Observation()
        observed = src.observe(obs, *[m.alias(k) for k, m in metrics.items()]) if metrics else src
        plan = build(observed)
        if self._checkpoint:
            out = plan.localCheckpoint(eager=True)
        else:
            plan.write.format("noop").mode("overwrite").save()
            out = build(src)
        return out, (obs.get if metrics else {})

    # ---------------------------------------------------------------- mutation

    @_timed("upsert")
    def upsert(
        self, items: list[dict] | DataFrame, *, report: str = "dict"
    ) -> dict[str, list[str]] | DataFrame:
        """Batch insert-or-update by id (pico_vdb.py:403-498).

        - validates vector dim (fail-fast, :413-421)
        - L2-normalizes vectors; zero ⇒ e₀ (:422)
        - records without `_id_` get the content-hash auto-id (:424-426),
          so re-upserting an identical vector updates instead of duplicating
        - returns `{"update": [ids...], "insert": [ids...]}` (:408)

        Upserting an id that was tombstoned revives the slot — the Spark
        analog of free-slot reuse (:434-439).

        One plan writes the new store: the store, streamed through a left
        join against the broadcast batch ids (the store side is never
        shuffled or broadcast), tags each row the batch supersedes, and
        the batch rows are appended. The report is observed on that plan
        (`_materialize`), so the call runs only the batch's last-wins
        shuffles, the broadcast of its ids and the one write. The batch
        is not cached: the plan reads it twice, for its ids and for its
        rows, so it must be deterministic. The merged
        store keeps at most one partition per core
        (`coalesce_to_cores`): the union would otherwise add the batch's
        partitions to the store's on every call, and every later call on
        the store would run one task per partition.

        `report="dict"` (reference parity) brings the id lists to the
        driver — fine for API-sized batches, not for a 10⁹-row bulk load.
        `report="dataframe"` keeps the report relational: returns a
        DataFrame of (_id_, action ∈ {update, insert}), ships no ids to
        the driver and drops the ANN index (the pending change-set is a
        driver-side structure; a bulk change wants a full rebuild
        anyway). Its checkpoint also holds the superseded rows, which the
        report is read from, until the next mutation.
        """
        if report not in ("dict", "dataframe"):
            raise ValueError(f"unknown report mode: {report!r}")
        batch = self._items_to_df(items) if not isinstance(items, DataFrame) else items
        if K_ID not in batch.columns:
            batch = batch.withColumn(K_ID, F.lit(None).cast("string"))
        batch = batch.withColumn(
            K_VECTOR, l2_normalize(assert_dim(F.col(K_VECTOR), self.dim)).cast("array<float>")
        )
        batch = batch.withColumn(
            K_ID, F.coalesce(F.col(K_ID).cast("string"), auto_id(F.col(K_VECTOR)))
        )
        # last-wins within the batch for duplicate ids
        w_dedup = F.row_number().over(
            Window.partitionBy(K_ID).orderBy(F.monotonically_increasing_id().desc())
        )
        batch = batch.withColumn("__rn", w_dedup).filter(F.col("__rn") == 1).drop("__rn")
        batch = batch.withColumn(K_DELETED, F.lit(False))

        existing = self._df
        # align schemas (schemaless metadata: new keys become new columns)
        for c in batch.columns:
            if c not in existing.columns:
                existing = existing.withColumn(c, F.lit(None).cast(batch.schema[c].dataType))
        for c in existing.columns:
            if c not in batch.columns:
                batch = batch.withColumn(c, F.lit(None).cast(existing.schema[c].dataType))
        cols = existing.columns

        # Classification is against ACTIVE ids: the reference pops
        # deleted ids from its index (pico_vdb.py:527-531), so
        # re-upserting a tombstoned id is an INSERT (slot revive), not
        # an update.
        hits = batch.select(K_ID, F.lit(True).alias("__hit"))
        superseded = (
            F.when(F.col("__hit").isNull(), F.lit(None).cast("string"))
            .when(~F.col(K_DELETED), F.lit("update"))
            .otherwise(F.lit("revive"))
        )
        tagged = (
            existing.join(F.broadcast(hits), K_ID, "left")
            .select(*cols, superseded.alias("__tag"))
            .unionByName(batch.select(*cols, F.lit("batch").alias("__tag")))
        )
        kept = F.col("__tag").isNull() | (F.col("__tag") == "batch")

        def merged(df: DataFrame) -> DataFrame:
            return coalesce_to_cores(df.filter(kept).drop("__tag"))

        if self._capacity is not None:
            # slot-reuse semantics (pico_vdb.py:434-442): free slots are
            # reusable, so the binding constraint is the ACTIVE row
            # count. Counted BEFORE the store is written so a rejected
            # upsert never materializes (or pins) the would-be store.
            active_after = merged(tagged).filter(~F.col(K_DELETED)).count()
            if active_after > self._capacity:
                raise RuntimeError(
                    f"capacity exceeded: {active_after} > {self._capacity} "
                    "(fixed-capacity store, pico_vdb.py:440-442)"
                )
        if report == "dataframe":
            out, _ = self._materialize(tagged, coalesce_to_cores)
            report_df = (
                out.filter(F.col("__tag").isin("update", "batch"))
                .groupBy(K_ID)
                .agg(F.max((F.col("__tag") == "update").cast("int")).alias("__upd"))
                .select(
                    K_ID,
                    F.when(F.col("__upd") == 1, F.lit("update"))
                    .otherwise(F.lit("insert"))
                    .alias("action"),
                )
            )
            if not self._checkpoint:
                # pin the report so later reads don't re-run the merge
                # against a store that has since mutated
                report_df = report_df.localCheckpoint(eager=True)
            self._set(out.filter(kept).drop("__tag"), changed_ids=None)
            return report_df
        store, m = self._materialize(
            tagged,
            merged,
            update=F.collect_list(F.when(F.col("__tag") == "update", F.col(K_ID))),
            batch=F.collect_list(F.when(F.col("__tag") == "batch", F.col(K_ID))),
        )
        updated = sorted(m["update"])
        inserted = sorted(set(m["batch"]) - set(updated))
        self._set(store, changed_ids=updated + inserted)
        return {"update": updated, "insert": inserted}

    @_timed("delete")
    def delete(self, ids: Iterable[str]) -> list[str]:
        """Tombstone rows by id; returns ids actually removed
        (pico_vdb.py:514-537) — the active rows among `ids`, observed
        on the one job that writes the new store. Rows stay until
        `vacuum()`."""
        id_list = [str(i) for i in ids]
        if not id_list:
            return []
        hit = F.col(K_ID).isin(id_list)
        store, m = self._materialize(
            self._df,
            lambda df: df.withColumn(
                K_DELETED, F.when(hit, F.lit(True)).otherwise(F.col(K_DELETED))
            ),
            removed=F.collect_list(F.when(hit & ~F.col(K_DELETED), F.col(K_ID))),
        )
        self._set(store, changed_ids=m["removed"])
        return sorted(m["removed"])

    @_timed("vacuum")
    def vacuum(self) -> int:
        """Physically drop tombstones (pico_vdb.py:831-853); returns the
        number of rows compacted away, observed on the one job that
        writes the compacted store."""
        store, m = self._materialize(
            self._df,
            lambda df: df.filter(~F.col(K_DELETED)),
            tombstones=F.sum(F.col(K_DELETED).cast("long")),
        )
        # the ACTIVE set is unchanged (tombstones were already pulled out
        # of the index when delete() recorded them) — keep the index
        self._set(store, changed_ids=())
        return m["tombstones"] or 0

    # ------------------------------------------------------------------- index

    def build_ann_index(self, n_centroids: int = 64, *, seed: int = 42):
        """Build (or rebuild — rebuild_index() parity, pico_vdb.py:855-860)
        the IVF coarse index over the active rows. No-op on an empty
        store (the reference's rebuild on an empty db is harmless too)."""
        from picovdb_spark.operators.ann import IvfIndex

        self._ann_pending.clear()
        if self.active().first() is None:
            self._ann = None
            self._ann_ntotal = 0
            return None
        # the cluster assignment runs at most one task per core
        active = coalesce_to_cores(self.active())
        self._ann = IvfIndex.build(active, n_centroids=n_centroids, seed=seed)
        self._ann_ntotal = self._ann.rows
        self._last_ann_rebuild_mode = "full"
        return self._ann

    def _ensure_ann(self):
        """Lazy index maintenance at query time (the reference rebuilds
        lazily in query/save, pico_vdb.py:658-664): with pending changes,
        pick incremental (`IvfIndex.add` with the changed ids as
        `replace`: drop their old rows, assign their active rows against
        the frozen centroids, one Spark job) when changed/ntotal <=
        threshold, else a full seeded refit — `_rebuild_faiss`'s
        change-ratio rule (pico_vdb.py:877-881) with the same default
        0.2. Returns the index, or None for an empty store."""
        if self._ann is None:
            return self.build_ann_index()
        if not self._ann_pending:
            return self._ann
        changed = sorted(self._ann_pending)
        ratio = len(changed) / float(max(self._ann_ntotal, 1))
        if ratio <= self._ann_threshold:
            # the cluster assignment runs at most one task per core
            changed_rows = coalesce_to_cores(
                self.active().filter(F.col(K_ID).isin(changed)).drop(K_DELETED)
            )
            self._ann = self._ann.add(changed_rows, replace=changed, auto_refit=False)
            self._ann_ntotal = self._ann.rows
            self._last_ann_rebuild_mode = "incremental"
            self._ann_pending.clear()
            return self._ann
        return self.build_ann_index(n_centroids=len(self._ann.centroids))

    # ----------------------------------------------------------------- queries

    @_timed("query")
    def query(self, queries: DataFrame | list, **kwargs: Any) -> DataFrame:
        """Batch filtered top-k cosine search; see operators/similarity.py.
        Stored vectors are unit-normalized on ingest, so scoring skips
        re-normalization (`normalized=True`).

        `ann=True` routes through the IVF index (built lazily on first
        use) — but ONLY for unfiltered whole-store queries; any
        `where`/`ids` filter falls back to the exact path, exactly the
        reference's faiss_ok rule (pico_vdb.py:667-668). An empty store
        has no index and takes the exact path too.
        """
        from picovdb_spark.operators.similarity import batch_query

        # `is None`, not truthiness: a Spark Column where-clause raises
        # on bool(); ANY filter routes to the exact path (pico_vdb.py:667)
        use_ann = (
            kwargs.pop("ann", False)
            and kwargs.get("where") is None
            and kwargs.get("ids") is None
        )
        nprobe = kwargs.pop("nprobe", 8)
        index = self._ensure_ann() if use_ann else None
        import numpy as np

        # the pre-collected serving form is (ids, 2-D matrix); a tuple of
        # two 1-D QUERY VECTORS (long-accepted input) stays on the
        # vector-batch path — the second element's dimensionality is the
        # unambiguous discriminator
        is_qtuple = (
            isinstance(queries, tuple)
            and len(queries) == 2
            and np.ndim(queries[1]) == 2
        )
        if is_qtuple:
            # every other input form flows through the array<float>
            # schema and is truncated to float32 before scoring; truncate
            # the user tuple's matrix too so identical vectors can never
            # score differently between input forms near rounded-score
            # boundaries
            queries = (queries[0], np.asarray(queries[1], dtype=np.float32))
        if not isinstance(queries, DataFrame) and not is_qtuple:

            # float32 FIRST: the DataFrame form's array<float> schema
            # truncates before scoring, so the fast path must too —
            # identical results either way
            vecs = queries if isinstance(queries, np.ndarray) else list(queries)
            arr = np.asarray(vecs, dtype=np.float32)
            if len(arr) and arr.ndim != 2:
                raise ValueError(
                    f"queries must be a 2-D batch of vectors; got shape {arr.shape}"
                )
            qids = [str(i) for i in range(len(arr))]
            if len(arr) and (
                index is not None or kwargs.get("method", "auto") in ("auto", "gemm")
            ):
                # the IVF and GEMM kernels take the batch as the
                # pre-collected serving form — no one-shot LocalRelation
                # to build and collect per query batch
                queries = (qids, arr)
            else:
                queries = local_df(
                    self.spark,
                    [(qids[i], [float(x) for x in arr[i]]) for i in range(len(arr))],
                    T.StructType(
                        [
                            T.StructField("query_id", T.StringType()),
                            T.StructField(K_VECTOR, T.ArrayType(T.FloatType())),
                        ]
                    ),
                )
        if index is not None:
            from picovdb_spark.operators.ann import ann_query

            return ann_query(
                index,
                queries,
                top_k=kwargs.get("top_k", 10),
                nprobe=nprobe,
                better_than=kwargs.get("better_than"),
                include_metadata=True,
            )
        kwargs.setdefault("normalized", True)
        return batch_query(self._df, queries, **kwargs)

    def query_one(self, vector: list[float], **kwargs: Any) -> DataFrame:
        return self.query([vector], **kwargs)

    def get(
        self,
        ids: str | list[str],
        include_vector: bool = False,
        *,
        preserve_order: bool = False,
    ) -> DataFrame:
        """Point lookup by id(s); missing ids are skipped
        (pico_vdb.py:927-957). An isin-filter compiles to Parquet
        row-group pruning — no shuffle.

        `preserve_order=True` returns rows in input-id order (the
        reference's list semantics, pico_vdb.py:945-957) via a broadcast
        position join + sort — only for bounded id lists."""
        id_list = [str(ids)] if isinstance(ids, str) else [str(i) for i in ids]
        out = self.active().filter(F.col(K_ID).isin(id_list))
        out = self._project(out, include_vector)
        if preserve_order:
            pos = local_df(
                self.spark,
                [(sid, p) for p, sid in enumerate(id_list)],
                f"{K_ID} string, __pos int",
            )
            out = out.join(F.broadcast(pos), on=K_ID).orderBy("__pos").drop("__pos")
        return out

    def get_by_id(self, sid: str, include_vector: bool = False) -> DataFrame:
        """Deprecated alias of `get` (pico_vdb.py:959-974)."""
        import warnings

        warnings.warn("get_by_id is deprecated; use get", DeprecationWarning, stacklevel=2)
        return self.get(sid, include_vector=include_vector)

    def get_all(self, include_vector: bool = False, include_deleted: bool = False) -> DataFrame:
        """Full scan of active rows; `include_deleted` appends id-only
        placeholder rows for tombstones (pico_vdb.py:976-1011)."""
        out = self._project(self.active(), include_vector)
        if include_deleted:
            ph = self._df.filter(F.col(K_DELETED)).select(K_ID)
            for c in out.columns:
                if c != K_ID:
                    ph = ph.withColumn(c, F.lit(None).cast(out.schema[c].dataType))
            out = out.unionByName(ph.select(*out.columns))
        return out

    def _project(self, df: DataFrame, include_vector: bool) -> DataFrame:
        cols = [c for c in df.columns if c != K_DELETED and (include_vector or c != K_VECTOR)]
        return df.select(*cols)

    # ------------------------------------------------------------------- stats

    def count(self) -> int:
        """COUNT of active rows (pico_vdb.py:325-328)."""
        return self.active().count()

    def capacity(self) -> int:
        """Total slots including tombstones (pico_vdb.py:317-323)."""
        return self._df.count()

    def __len__(self) -> int:
        return self.count()

    def stats(self) -> dict[str, Any]:
        """One aggregate pass: active/deleted/total/dim (pico_vdb.py:798-829)."""
        row = self._df.agg(
            F.count("*").alias("total"),
            F.sum(F.col(K_DELETED).cast("int")).alias("deleted"),
        ).first()
        total = row["total"] or 0
        deleted = row["deleted"] or 0
        return {
            "active": total - deleted,
            "deleted": deleted,
            "total": total,
            "dim": self.dim,
            "storage_path": self.storage_path,
            # on-disk footprint parity (pico_vdb.py:804-826): per-artifact
            # byte sizes of the persisted layout, empty if never saved
            "file_sizes": self._file_sizes(),
        }

    def _file_sizes(self) -> dict[str, int]:
        sizes: dict[str, int] = {}
        if not self.storage_path or not os.path.isdir(self.storage_path):
            return sizes
        for name in sorted(os.listdir(self.storage_path)):
            p = os.path.join(self.storage_path, name)
            if os.path.isfile(p):
                sizes[name] = os.path.getsize(p)
            elif os.path.isdir(p):  # vectors.parquet is a directory of parts
                sizes[name] = sum(
                    os.path.getsize(os.path.join(root, f))
                    for root, _, files in os.walk(p)
                    for f in files
                )
        return sizes

    # ------------------------------------------------------------- persistence

    @_timed("save")
    def save(self, path: str | None = None) -> str:
        """Atomic persist (pico_vdb.py:330-393): write to a staging dir,
        then rename into place — the Spark analog of tmp+os.replace.
        Layout: `{path}/vectors.parquet` + `{path}/meta.json`.

        The directory swap can't be a single rename (POSIX rename won't
        replace a non-empty dir), so a `{path}.swap-in-progress` marker
        brackets the two-step swap: a crash inside the window is detected
        on the next open and the swap is finished (staging is complete by
        then) or rolled back — never a silent empty-store init. After the
        swap, the instance must not depend on the replaced part-files, so
        the store snapshots into block storage (localCheckpoint) FIRST —
        a lazily-loaded store whose scan pointed at `path` stays live
        after its own save, and other instances' saves to the same path
        can't invalidate it either (snapshot isolation)."""
        path = path or self.storage_path
        if not path:
            raise ValueError("no storage path configured")
        # detach from any files the swap may replace — but only when the
        # current plan may still reference them (freshly loaded, or
        # checkpoint_mutations=False); an already-checkpointed store
        # would pay a pointless second full materialization per save
        if not getattr(self, "_detached", False):
            self._df = self._df.localCheckpoint(eager=True)
            self._detached = True
        staging = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        os.makedirs(staging, exist_ok=True)
        try:
            self._df.write.mode("overwrite").parquet(os.path.join(staging, "vectors.parquet"))
            # ANN artifact parity: the reference's save() persists its
            # FAISS index next to the vectors (pico_vdb.py:347, :362,
            # after a lazy rebuild if dirty, :330-340). Here: if an IVF
            # index was built, bring it current (same maintenance rule
            # as query time) and persist it inside the same atomic swap.
            idx = self._ensure_ann() if self._ann is not None else None
            if idx is not None:
                idx.write(os.path.join(staging, "ann_ivf"))
            meta = {
                "embedding_dim": self.dim,
                "additional_data": self._additional,
                "schema": self._df.schema.json(),
            }
            with open(os.path.join(staging, "meta.json"), "w") as f:
                json.dump(meta, f)
            if os.path.exists(path):
                old = f"{path}.old-{uuid.uuid4().hex[:8]}"
                marker = _swap_marker(path)
                with open(marker, "w") as f:
                    json.dump({"old": old, "staging": staging}, f)
                os.replace(path, old)
                os.replace(staging, path)
                os.remove(marker)
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.replace(staging, path)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        if idx is not None and idx.path is not None:
            # an index read from files may scan the artifact the swap
            # just replaced: re-point it at the files now under `path`.
            # A checkpointed index depends on no files and stays as is.
            from picovdb_spark.operators.ann import IvfIndex

            self._ann = IvfIndex.read(
                self.spark, os.path.join(path, "ann_ivf"), schema=self._df.schema
            )
            self._ann_ntotal = self._ann.rows
        self.storage_path = path
        return path

    def _load(self, path: str) -> None:
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        if int(meta["embedding_dim"]) != self.dim:
            # dim mismatch on load ⇒ the persisted store wins (the
            # reference rebuilds its index instead, pico_vdb.py:265-280)
            self.dim = int(meta["embedding_dim"])
        self._additional = meta.get("additional_data", {})
        # the saved schema is passed, so the reopen runs no schema-
        # inference job over the Parquet footers
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        self._df = self.spark.read.schema(schema).parquet(os.path.join(path, "vectors.parquet"))
        self._detached = False  # lazy scan of the files under `path`
        ann_dir = os.path.join(path, "ann_ivf")
        if os.path.isdir(ann_dir):
            # persisted index reopens lazily — no rebuild on load, the
            # reference's load-or-rebuild rule (pico_vdb.py:265-280)
            from picovdb_spark.operators.ann import IvfIndex

            self._ann = IvfIndex.read(self.spark, ann_dir, schema=schema)
            self._ann_ntotal = self._ann.rows

    def flush(self) -> None:
        """No-op for parity (memmap flush, pico_vdb.py:395-401)."""

    # -------------------------------------------------------- additional data

    def store_additional_data(self, **kw: Any) -> None:
        self._additional.update(kw)

    def get_additional_data(self) -> dict[str, Any]:
        return dict(self._additional)

    # ------------------------------------------------------------------ helpers

    def _items_to_df(self, items: list[dict]) -> DataFrame:
        # eager Python-side dim check for list inputs, matching the
        # reference's fail-fast ValueError before any work is scheduled
        # (pico_vdb.py:413-421); DataFrame inputs keep the distributed
        # assert_dim expression instead
        for it in items:
            n = len(it[K_VECTOR])
            if n != self.dim:
                raise ValueError(f"vector dim mismatch: expected {self.dim}, got {n}")
        meta_keys: list[str] = []
        for it in items:
            for k in it:
                if k not in (K_ID, K_VECTOR, K_METRICS) and k not in meta_keys:
                    meta_keys.append(k)
        rows = [
            tuple(
                [
                    str(it[K_ID]) if K_ID in it and it[K_ID] is not None else None,
                    [float(x) for x in it[K_VECTOR]],
                ]
                + [it.get(k) for k in meta_keys]
            )
            for it in items
        ]
        fields = [
            T.StructField(K_ID, T.StringType(), True),
            T.StructField(K_VECTOR, T.ArrayType(T.FloatType()), False),
        ]
        for k in meta_keys:
            sample = next((it[k] for it in items if it.get(k) is not None), None)
            fields.append(T.StructField(k, _infer_type(sample), True))
        return self.spark.createDataFrame(rows, schema=T.StructType(fields))


def _swap_marker(path: str) -> str:
    return f"{path}.swap-in-progress"


def _recover_interrupted_save(path: str) -> None:
    """Detect and repair a crash inside save()'s two-step directory swap.
    If the live dir is missing, finish the swap from the (complete)
    staging dir, else roll back to the preserved old dir; leftovers are
    cleaned best-effort. No-op without a marker."""
    marker = _swap_marker(path)
    if not os.path.exists(marker):
        return
    try:
        with open(marker) as f:
            info = json.load(f)
    except (OSError, ValueError):
        info = {}
    staging, old = info.get("staging"), info.get("old")
    if not os.path.exists(path):
        if staging and os.path.exists(os.path.join(staging, "meta.json")):
            os.replace(staging, path)  # staging was complete: finish
        elif old and os.path.exists(os.path.join(old, "meta.json")):
            os.replace(old, path)  # staging gone/partial: roll back
    os.remove(marker)
    for d in (staging, old):
        if d and os.path.exists(d):
            shutil.rmtree(d, ignore_errors=True)


def _infer_type(sample: Any) -> T.DataType:
    if isinstance(sample, bool):
        return T.BooleanType()
    if isinstance(sample, int):
        return T.LongType()
    if isinstance(sample, float):
        return T.DoubleType()
    return T.StringType()

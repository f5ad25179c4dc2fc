"""picovdb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the `wensheng/picovdb` reference
(filtered batch top-k cosine search + CRUD/persistence), generalized into
batch LLM-data-pipeline operators (dedup, similarity join, text analysis)
designed for cluster scale.

Everything is expressed DataFrame-first: logical plans are declared with
the PySpark DataFrame/SQL API so Catalyst handles pushdown, pruning and
join strategy; NumPy GEMM via `mapInPandas` is used only as the
vectorized fast path for the dense similarity scan.
"""

from __future__ import annotations

import os as _os


def _openblas_core(cpuinfo: str = "/proc/cpuinfo") -> str | None:
    """OpenBLAS core type for this CPU, read from the `flags` line of
    `cpuinfo`; None when the file is unreadable or lacks AVX2+FMA.

    OpenBLAS's own detection misses CPUs that report a generic model
    (e.g. "Intel(R) Xeon(R) Processor" under a hypervisor) and falls
    back to its SSE3 Prescott kernels, ~4× slower per GEMM than the
    AVX-512 ones on the same core. The choice goes into
    OPENBLAS_CORETYPE below, before anything loads NumPy; the JVM that
    `get_spark` starts inherits it, and so do its Python workers."""
    try:
        with open(cpuinfo) as f:
            flags = next((ln.split(":", 1)[1].split() for ln in f if ln.startswith("flags")), [])
    except OSError:
        return None
    if "avx512f" in flags:
        return "SkylakeX"
    if "avx2" in flags and "fma" in flags:
        return "Haswell"
    return None


if (_core := _openblas_core()) is not None:
    _os.environ.setdefault("OPENBLAS_CORETYPE", _core)

from picovdb_spark.schema import (
    K_ID,
    K_VECTOR,
    K_METRICS,
    vector_store_schema,
    load_table,
    load_embeddings_store,
)
from picovdb_spark.compat import PicoVectorDB
from picovdb_spark.operators.resident import ResidentStore
from picovdb_spark.operators.similarity import batch_query
from picovdb_spark.session import get_spark
from picovdb_spark.sources import read_picovdb_store, write_picovdb_store
from picovdb_spark.store import VectorStore

__version__ = "0.1.0"

__all__ = [
    "K_ID",
    "K_VECTOR",
    "K_METRICS",
    "PicoVectorDB",
    "ResidentStore",
    "VectorStore",
    "batch_query",
    "get_spark",
    "vector_store_schema",
    "load_table",
    "load_embeddings_store",
    "read_picovdb_store",
    "write_picovdb_store",
]

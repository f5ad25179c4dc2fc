"""Standalone perf probe for the reference-scale 1000-query batch.

Builds the same 100k x 1024 pre-normalized corpus as bench.py and times
N successive passes of the exact workload, printing each wall time, so
kernel changes can be measured without running the whole suite.

Usage: python scripts/perf_ref100k.py [n_passes]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from picovdb_spark.operators.similarity import batch_query
from picovdb_spark.schema import K_VECTOR
from picovdb_spark.session import get_spark


def main() -> None:
    n_passes = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    spark = get_spark("perf_ref100k")
    n, dim, parts = 100_000, 1024, 32
    schema = T.StructType(
        [
            T.StructField("_id_", T.StringType()),
            T.StructField(K_VECTOR, T.ArrayType(T.FloatType())),
        ]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy()
            rng = np.random.default_rng(int(ids[0]) + 1)
            mat = rng.standard_normal((len(ids), dim)).astype(np.float32)
            mat /= np.sqrt((mat * mat).sum(axis=1))[:, None]
            yield pd.DataFrame({"_id_": ids.astype(str), K_VECTOR: list(mat)})

    store = spark.range(n).repartition(parts).mapInPandas(gen, schema=schema).cache()
    store.count()
    queries = (
        store.limit(1000).select(F.col("_id_").alias("query_id"), F.col(K_VECTOR)).cache()
    )
    queries.count()

    for i in range(n_passes):
        t0 = time.perf_counter()
        batch_query(
            store, queries, top_k=10, method="gemm", normalized=True
        ).write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        print(f"pass {i}: {dt:.3f}s  ({1000 / dt:.0f} q/s)", flush=True)


if __name__ == "__main__":
    main()

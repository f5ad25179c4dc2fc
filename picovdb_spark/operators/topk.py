"""Per-query top-k selection (SURVEY.md §2.2 Q11).

Reference picks argsort vs argpartition by k/n ratio
(/root/reference/picovdb/pico_vdb.py:698-713); in Spark the same choice is
Catalyst's: `ORDER BY … LIMIT k` becomes TakeOrderedAndProject, and the
windowed per-query variant gets rank-limit pushdown (WindowGroupLimit,
Spark ≥3.5) so each partition pre-truncates to k rows *before* the
shuffle — the distributed partial+final top-k shape.

Determinism: rank on the ROUNDED score (so the DuckDB oracle ranks the
same values) with `_id_` string order as tie-breaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from picovdb_spark.schema import K_ID, K_METRICS


def topk_per_query(
    scored: DataFrame,
    top_k: int,
    *,
    query_col: str = "query_id",
    score_col: str = K_METRICS,
    id_col: str = K_ID,
    rank_col: str | None = "rank",
) -> DataFrame:
    """Keep the `top_k` highest-scoring rows per query, descending, ties
    broken by id. Emits an optional 1-based `rank` column."""
    w = Window.partitionBy(query_col).orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    # two DataFrame ops when the rank is kept: each op is one eager
    # analysis on the JVM, a fixed cost of every call
    rn = rank_col or "__rn"
    out = scored.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) <= top_k)
    return out if rank_col else out.drop(rn)

"""Streaming deduplication — drop repeated documents DURING ingest,
across micro-batches, with bounded state.

A 100 TB training-data pipeline dedups at ingest time (the alternative —
land everything, batch-dedup later — doubles storage and delays every
downstream consumer). Two engine forms, both pure Structured Streaming
(no reference analog; the reference is batch-only, SURVEY.md §2.4):

- `stream_exact_dedup`: content-hash exact dedup. The hash is computed
  JVM-side (md5 of the text — same digest as the batch
  `operators/dedup.exact_dedup`, so stream and batch agree row-for-row),
  then `dropDuplicatesWithinWatermark` keeps one row per digest with
  state bounded by the event-time watermark: a duplicate arriving within
  the watermark horizon is dropped, state older than the horizon is
  evicted. The horizon is the deliberate, bounded-memory trade every
  streaming dedup makes — duplicates farther apart than the horizon are
  caught by the periodic batch sweep (`dedup_exact`), the standard
  lambda-style split.

- `stream_simhash_mark`: near-dup MARKING on the stream. Exact-state
  lookup can't express "similar", so the stream computes the 64-bit
  SimHash fingerprint (same vectorized kernel as batch
  `operators/dedup.simhash_pairs` — identical fingerprints to the batch
  sweep) plus its pigeonhole block keys map-side, no state at all; a
  downstream batch join of block keys against the accumulated corpus
  resolves candidates. Fingerprinting is the expensive part and happens
  exactly once per document, on arrival.

Both run identically over batch DataFrames (the batch twin drops the
watermark clause), which is how the oracle entry checks the plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DEFAULT_TEXT = "text"


def content_digest(text_col: str = _DEFAULT_TEXT) -> F.Column:
    """JVM-side md5 digest of the document text — the same digest the
    batch `exact_dedup` groups on, so streaming and batch dedup agree."""
    return F.md5(F.col(text_col).cast("binary"))


def stream_exact_dedup(
    docs: DataFrame,
    *,
    text_col: str = _DEFAULT_TEXT,
    id_col: str | None = None,
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep one copy of each distinct content digest.

    Streaming input with `ts_col`: `dropDuplicatesWithinWatermark` on the
    digest keeps the FIRST-ARRIVING copy — state for a digest is dropped
    once the watermark passes its event time + horizon, so state size is
    bounded by the horizon's ingest volume, not the corpus (the scale
    requirement).

    Batch input: arrival order doesn't exist, so "first" must be made
    deterministic — with `id_col` the kept copy is the smallest id per
    digest (the same canonical rule as `operators/dedup.exact_dedup`,
    and what the oracle entry checks); without it, an arbitrary
    `dropDuplicates` copy.
    """
    out = docs.withColumn("__digest", content_digest(text_col))
    if docs.isStreaming:
        if ts_col is None:
            # the batch fallbacks are wrong on a stream: the min-id
            # window is unsupported (AnalysisException at start), and a
            # bare dropDuplicates accumulates UNBOUNDED state — the
            # exact opposite of this module's contract
            raise ValueError(
                "streaming input requires ts_col (+ watermark) so dedup "
                "state stays bounded by the watermark horizon"
            )
        out = out.withWatermark(ts_col, watermark)
        return out.dropDuplicatesWithinWatermark(["__digest"]).drop("__digest")
    if id_col is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("__digest").orderBy(F.col(id_col).asc())
        return (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__digest", "__rn")
        )
    return out.dropDuplicates(["__digest"]).drop("__digest")


def stream_simhash_mark(
    docs: DataFrame,
    *,
    text_col: str = _DEFAULT_TEXT,
    shingle_n: int = 3,
    bits: int = 48,
    max_hamming: int = 7,
) -> DataFrame:
    """Stateless near-dup marking: append (simhash, block keys) to each
    arriving document — one fingerprint pass, no shuffle, no state.

    Fingerprints come from the SAME kernel as the batch sweep
    (`operators/dedup.simhash_fingerprint`) and block keys from the same
    pigeonhole split as `simhash_pairs` (any pair within `max_hamming`
    bit flips shares ≥ 1 of the `max_hamming + 1` blocks), so a
    downstream equi-join of (block_idx, block key) against the
    accumulated corpus yields exactly the batch sweep's candidate set
    for the newly arrived rows — fingerprinting happens once per
    document, on arrival, instead of per sweep."""
    from collections.abc import Iterator

    from pyspark.sql import types as T

    from picovdb_spark.operators.dedup import simhash_fingerprint

    out_schema = T.StructType(
        list(docs.schema.fields) + [T.StructField("simhash", T.LongType())]
    )
    cols = docs.columns

    def kernel(batches: Iterator) -> Iterator:
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.copy()
            pdf["simhash"] = [
                simhash_fingerprint(t, shingle_n=shingle_n, bits=bits)
                for t in pdf[text_col]
            ]
            yield pdf

    blocks = max_hamming + 1
    if bits % blocks:
        # same precondition as the batch simhash_pairs: a truncated
        # block split would emit keys covering only part of the
        # fingerprint and silently diverge from the batch sweep's
        # candidate set (the module's stream==batch contract)
        raise ValueError(
            f"bits={bits} not divisible by max_hamming+1={blocks} blocks"
        )
    marked = docs.select(*cols).mapInPandas(kernel, schema=out_schema)
    block_bits = bits // blocks
    return marked.withColumn(
        "blocks",
        F.array(
            *[
                F.shiftright(F.col("simhash"), i * block_bits)
                .bitwiseAND(F.lit((1 << block_bits) - 1))
                for i in range(blocks)
            ]
        ),
    )


def stream_minhash_screen(
    docs: DataFrame,
    index: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = _DEFAULT_TEXT,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    est_threshold: float = 0.5,
) -> DataFrame:
    """Screen ARRIVING documents against the historical corpus's
    `operators/dedup.minhash_index` — the streaming form of
    `minhash_dedup_against`: every row comes back marked with whether it
    near-duplicates something the corpus already owns.

    Per micro-batch this IS `minhash_dedup_against` (delegated
    wholesale — one signature/banding construction in the codebase, so
    stream and batch screens can never drift), reduced to the best match
    per document and joined back onto the arriving rows. The index is
    re-read per micro-batch, so an index refresh (foreachBatch atomic
    swap) is picked up on cadence; no stream state is ever kept — the
    index IS the state and it lives in storage.

    Run it INSIDE foreachBatch (the module's ingestion pattern —
    streaming/ingest.py): each micro-batch is a batch DataFrame there,
    so the full screen (matched_id included) runs per batch with zero
    cross-batch state. A direct streaming DataFrame input raises: the
    best-match reduction is an aggregation, and collapsing the exploded
    band candidates back to one row per document is stateful in any
    form Structured Streaming allows — doing it per micro-batch via
    foreachBatch is the design, not a workaround.

    Returns all input columns + (matched_id, est_jaccard, is_known_dup);
    matched_id is the best-estimate indexed near-dup (highest estimate,
    ties → smallest id, deterministic).
    """
    if docs.isStreaming:
        raise ValueError(
            "stream_minhash_screen runs inside foreachBatch: wrap the "
            "write with .foreachBatch(lambda bdf, _: sink(stream_minhash_"
            "screen(bdf, index, ...))) so each micro-batch screens as a "
            "batch — collapsing band candidates to one row per document "
            "is stateful in every direct streaming form"
        )
    from picovdb_spark.operators.dedup import minhash_dedup_against

    # delegate to the batch screen wholesale — ONE signature/banding
    # construction in the whole codebase (dedup._sig_band_lists_from_hashes),
    # candidate pairs deduped before the estimator runs once per pair
    pairs = minhash_dedup_against(
        docs.select(F.col(id_col), F.col(text_col)),
        index,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        est_threshold=est_threshold,
    )
    # best match per new doc: highest estimated Jaccard, ties -> smallest
    # indexed id. A row_number window (not max-of-struct with a negated
    # id) so the tie-break works for ANY orderable id type — string ids
    # would fail or silently NULL under arithmetic negation. Same
    # hash-partition-by-id_new shuffle shape as a groupBy; candidate
    # pairs per micro-batch are band-join survivors, far smaller than
    # the batch itself.
    from pyspark.sql.window import Window

    w = Window.partitionBy("id_new").orderBy(
        F.col("est_jaccard").desc(), F.col("id_indexed").asc()
    )
    best = (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("id_new").alias(id_col),
            F.col("id_indexed").alias("matched_id"),
            F.col("est_jaccard"),
        )
    )
    return docs.join(best, on=id_col, how="left").withColumn(
        "is_known_dup", F.col("matched_id").isNotNull()
    )

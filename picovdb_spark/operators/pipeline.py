"""End-to-end corpus curation: the full pre-training data decision in
ONE composable plan.

The reference stops at vector search; the pipelines that FEED it (and
any LLM pre-training corpus) run this exact chain before a single
embedding is computed:

    [paragraph/span removal] → exact dedup → near-dup components →
    keep-best-by-quality → quality floor → repetition screen →
    [bigram-LM unnaturalness band] → [benchmark decontamination] →
    train/val/test split

`curate_corpus` composes the already-oracle-checked operators
(dedup.exact_dedup / minhash_lsh_pairs / connected_components /
keep_best_per_component, textops.quality_score / repetition_stats /
decontaminate / dataset_split) into one DataFrame: one row per input
document, every intermediate signal kept for audit, a single `keep`
verdict and a `drop_reason` naming the FIRST failing gate (stable
precedence, so downstream counts are reconcilable run-over-run).

Scale shape: every stage is either map-side (quality, repetition,
split), a narrow-key shuffle (content digest, band buckets,
component ids), or a broadcast semi-join (eval n-grams). Document
text never shuffles; the joins below carry ids + scalar columns only.
The expensive near-dup stage inherits `max_bucket_size` so one
boilerplate bucket can't quadratically dominate (see
dedup.minhash_lsh_pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from picovdb_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    keep_best_per_component,
    minhash_lsh_pairs,
    paragraph_dedup,
)
from picovdb_spark.operators.textops import (
    dataset_split,
    decontaminate,
    ngram_lm_score,
    quality_score,
    repetition_stats,
)

# drop_reason precedence — first failing gate wins, so run-over-run
# counts per reason are stable under unrelated gate changes
REASONS = (
    "span_empty",
    "exact_dup",
    "near_dup",
    "low_quality",
    "repetitive",
    "unnatural",
    "contaminated",
)


def curate_corpus(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_docs: DataFrame | None = None,
    quality_min: float = 0.3,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = None,
    weights: dict[str, float] | None = None,
    paragraph_sep: str | None = None,
    paragraph_min_chars: int = 1,
    max_dup_word_frac: float = 0.5,
    max_top_bigram_frac: float = 0.05,
    lm: dict | None = None,
    lm_bits_max: float | None = None,
    return_text: bool = False,
    split_by_component: bool = False,
) -> DataFrame:
    """One row per input document:

    (id, n_tokens, quality, dup_word_frac, top_bigram_frac,
     n_paras, n_kept, bits_per_token, component_id, split, keep,
     drop_reason[, text_clean])

    - `return_text` appends `text_clean` — the text every gate actually
      saw (span-rewritten when `paragraph_sep` is set, the input text
      otherwise; "" for span-empty husks). The payload joins the narrow
      audit spine by id, so text still moves once; leave it off when
      only the audit verdicts are consumed.

    - `keep` — survives every gate; `drop_reason` is NULL.
    - `paragraph_sep` (optional, e.g. "\\n\\n") runs corpus-wide span
      removal (dedup.paragraph_dedup) FIRST — the FineWeb order — and
      every later gate sees the REWRITTEN text; documents whose every
      span was seen earlier gate as span_empty. The cleaned corpus is
      materialized once (localCheckpoint) so the six downstream stages
      don't re-elect winners. Off (None) ⇒ n_paras/n_kept are NULL.
    - `lm` + `lm_bits_max` (optional): an `ngram_lm_fit` model gates
      documents whose bits-per-token EXCEEDS the cap as `unnatural`
      (gibberish/spam); NULL-scored docs (<2 tokens) pass this gate —
      the length/quality gates own short docs. Off ⇒ bits_per_token
      NULL.
    - exact duplicates: only the canonical (min-id) copy can survive.
    - near-dup components (MinHash-LSH pairs at `jaccard_threshold`,
      transitively closed): only the best-QUALITY member survives
      (ties → smallest id), the rule real pipelines use instead of
      keeping an arbitrary copy.
    - `quality < quality_min` → low_quality; Gopher repetition screen
      (`max_dup_word_frac` / `max_top_bigram_frac` — corpus-dependent
      tunables exactly as in Gopher/FineWeb; defaults are the
      repetition_stats defaults) → repetitive; any eval n-gram overlap
      (when `eval_docs` given) → contaminated.
    - `split` (train/val/test per `weights`, deterministic md5 bucket)
      is assigned to every row — filter `keep` downstream; dropped
      rows keep their split for audit symmetry.
    - `split_by_component=True` hashes the near-dup COMPONENT instead
      of the id for split assignment (`dataset_split(group_col=)`), so
      a near-dup cluster can never straddle train/eval — the
      leakage-safe form. Singleton documents carry component_id = own
      id, which hashes to the same assignment the plain id split gives
      (span-empty husks have no component row and hit the NULL-group
      id-hash fallback); split fractions then hold over clusters, not
      documents (inherent to group splitting).

    The span-removal pass, the LSH pair sweep and the component label
    propagation run jobs during this call (each is materialized once
    because later stages read it more than once); every gate after them
    is lazy and runs in the caller's first action over the result.

    The returned frame carries two audit handles as attributes (both
    zero-cost — they alias plans the curate pass materialized anyway):
    ``_near_dup_pairs`` (the checkpointed LSH pair list) and
    ``_split_spine`` (the (id, split) projection), the exact inputs
    `leakage_from_pairs` wants for a cross-split leakage audit without
    re-running any sweep.
    """
    if lm is None and lm_bits_max is not None:
        raise ValueError(
            "lm_bits_max set without an lm model: pass lm=ngram_lm_fit(...) "
            "or drop the cap — a silent no-op gate would keep every "
            "gibberish doc the cap was meant to drop"
        )
    if paragraph_sep is not None:
        spans = paragraph_dedup(
            docs,
            id_col=id_col,
            text_col=text_col,
            sep=paragraph_sep,
            min_chars=paragraph_min_chars,
        ).localCheckpoint(eager=True)
        span_cols = spans.select(id_col, "n_paras", "n_kept")
        # The output spine keeps EVERY input id (one row per input
        # document), but husks (every span seen earlier, n_kept==0) are
        # routed around the gate chain instead of through it: their
        # identical "" texts would otherwise all collide on md5("")
        # (one hot window partition in exact_dedup, an h²/2 candidate
        # blow-up in the LSH self-join for h husks). They rejoin via
        # the left joins below with NULL gate columns; the span_empty
        # branch of the reason expression condemns them.
        ids = spans.select(id_col)
        docs = spans.filter(F.col("n_kept") > 0).select(
            F.col(id_col), F.col("text_clean").alias(text_col)
        )
    else:
        span_cols = None
        ids = docs.select(id_col)

    ex = exact_dedup(docs, id_col=id_col, text_col=text_col).select(
        id_col, F.col("is_dup").alias("__exact_dup")
    )
    # quality has TWO consumers (the keep-best election and the output
    # join) — without the lazy checkpoint its full-corpus Arrow kernel
    # runs once per consumer (measured ~2× the quality pass at the 500k
    # tier); the checkpointed frame is narrow (id + scalars)
    q = quality_score(docs, id_col=id_col, text_col=text_col).localCheckpoint(
        eager=False
    )
    rep = repetition_stats(
        docs,
        id_col=id_col,
        text_col=text_col,
        max_dup_word_frac=max_dup_word_frac,
        max_top_bigram_frac=max_top_bigram_frac,
    ).select(
        id_col,
        "dup_word_frac",
        "top_bigram_frac",
        F.col("keep").alias("__rep_keep"),
    )
    pairs = minhash_lsh_pairs(
        docs,
        id_col=id_col,
        text_col=text_col,
        threshold=jaccard_threshold,
        max_bucket_size=max_bucket_size,
    )
    comps = connected_components(pairs, docs, id_col=id_col)
    best = keep_best_per_component(comps, q, id_col=id_col).select(
        id_col, "component_id", F.col("keep").alias("__best_in_comp")
    )
    # split over the FULL id spine (no text needed) so span-empty husks
    # keep their split for audit symmetry; component-grouped when asked.
    # connected_components returns a row for EVERY node (singletons get
    # component_id = own id), so singleton docs hash the same string the
    # id-hash split would — identical assignment by construction, NOT
    # by fallback. Only husks (absent from the post-span `docs`, hence
    # from `comps`) hit dataset_split's NULL-group id-hash fallback.
    if split_by_component:
        split_src = ids.join(comps.select(id_col, "component_id"), id_col, "left")
        split = dataset_split(
            split_src, id_col=id_col, weights=weights, group_col="component_id"
        ).select(id_col, "split")
    else:
        split = dataset_split(ids, id_col=id_col, weights=weights).select(id_col, "split")

    out = (
        ids.join(ex, id_col, "left")
        .join(q, id_col, "left")
        .join(rep, id_col, "left")
        .join(best, id_col, "left")
        .join(split, id_col, "left")
    )
    if span_cols is not None:
        out = out.join(span_cols, id_col, "left")
    else:
        out = out.withColumn("n_paras", F.lit(None).cast("long")).withColumn(
            "n_kept", F.lit(None).cast("long")
        )
    if lm is not None:
        lms = ngram_lm_score(docs, lm, id_col=id_col, text_col=text_col).select(
            id_col, "bits_per_token"
        )
        out = out.join(lms, id_col, "left")
    else:
        out = out.withColumn("bits_per_token", F.lit(None).cast("double"))
    if eval_docs is not None:
        cont = decontaminate(docs, eval_docs, id_col=id_col, text_col=text_col).select(
            id_col, F.lit(True).alias("__contaminated")
        )
        out = out.join(cont, id_col, "left")
    else:
        out = out.withColumn("__contaminated", F.lit(None).cast("boolean"))

    unnatural = (
        (F.col("bits_per_token") > F.lit(float(lm_bits_max)))
        if (lm is not None and lm_bits_max is not None)
        else F.lit(False)
    )
    reason = (
        F.when(F.coalesce(F.col("n_kept"), F.lit(1)) == 0, F.lit("span_empty"))
        .when(F.col("__exact_dup"), F.lit("exact_dup"))
        .when(~F.coalesce(F.col("__best_in_comp"), F.lit(True)), F.lit("near_dup"))
        .when(F.col("quality") < F.lit(float(quality_min)), F.lit("low_quality"))
        .when(~F.coalesce(F.col("__rep_keep"), F.lit(True)), F.lit("repetitive"))
        .when(F.coalesce(unnatural, F.lit(False)), F.lit("unnatural"))
        .when(F.coalesce(F.col("__contaminated"), F.lit(False)), F.lit("contaminated"))
    )
    if return_text:
        out = out.join(
            docs.select(id_col, F.col(text_col).alias("__text_clean")),
            id_col,
            "left",
        )
    result = out.select(
        id_col,
        "n_tokens",
        "quality",
        "dup_word_frac",
        "top_bigram_frac",
        "n_paras",
        "n_kept",
        "bits_per_token",
        "component_id",
        "split",
        reason.alias("drop_reason"),
        reason.isNull().alias("keep"),
        *(
            [F.coalesce(F.col("__text_clean"), F.lit("")).alias("text_clean")]
            if return_text
            else []
        ),
    )
    # audit handles (see docstring): the pair list is already
    # checkpointed by minhash_lsh_pairs; the split spine is a pure
    # projection over the (materialized) id spine — neither re-runs a
    # sweep when fed to leakage_from_pairs
    result._near_dup_pairs = pairs  # type: ignore[attr-defined]
    result._split_spine = split  # type: ignore[attr-defined]
    return result


def curation_report(curated: DataFrame) -> dict:
    """Aggregate the per-document verdicts into the run report a corpus
    job logs: total, kept, and per-reason drop counts. One small
    groupBy; call on the (narrow) curate_corpus output."""
    rows = curated.groupBy("drop_reason").agg(F.count("*").alias("n")).collect()
    by_reason = {r["drop_reason"]: r["n"] for r in rows}
    kept = by_reason.pop(None, 0)
    total = kept + sum(by_reason.values())
    return {
        "total": total,
        "kept": kept,
        "dropped": {r: by_reason.get(r, 0) for r in REASONS if r in by_reason},
    }


def split_leakage_report(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    split_col: str = "split",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Cross-split near-duplicate leakage audit: every near-dup pair
    (MinHash-LSH at `threshold`) whose two documents sit in DIFFERENT
    dataset splits — the pairs that make a held-out eval measure
    memorization instead of generalization. Run it after any split
    assignment; a non-empty result is the argument for re-splitting
    with `dataset_split(group_col=...)` (group-hash splits keep
    near-dup clusters together) or for dropping the val/test member.

    Input must carry `split_col` (join `dataset_split` output first).
    Output: (id_a, id_b, split_a, split_b, jaccard), id_a < id_b.

    Scale shape: the pair list is the LSH self-join's output — tiny
    relative to the corpus — so the two split-spine joins hash on ids
    with AQE free to broadcast the pair side; the corpus text moves
    only inside `minhash_lsh_pairs`' own banded plan. No new shuffle
    class beyond what the dedup sweep already pays, which is the point:
    the audit reuses the near-dup machinery, it doesn't re-implement it.
    """
    pairs = minhash_lsh_pairs(
        docs,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
    )
    return leakage_from_pairs(
        pairs, docs.select(id_col, split_col), id_col=id_col, split_col=split_col
    )


def leakage_from_pairs(
    pairs: DataFrame,
    splits: DataFrame,
    *,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """The join half of `split_leakage_report`, for callers that ALREADY
    hold a near-dup pair list (any (id_a, id_b, jaccard) frame — a
    `minhash_lsh_pairs` sweep the dedup pass computed anyway, or
    `embedding_near_dup`'s (id_a, id_b, cosine) renamed): two hash
    joins against the (id, split) spine, keep pairs whose members sit
    in different splits. Never re-runs the similarity machinery — the
    audit should always ride an existing sweep's output."""
    score_cols = [c for c in pairs.columns if c not in ("id_a", "id_b")]
    return (
        pairs.join(
            splits.select(
                F.col(id_col).alias("id_a"), F.col(split_col).alias("split_a")
            ),
            "id_a",
        )
        .join(
            splits.select(
                F.col(id_col).alias("id_b"), F.col(split_col).alias("split_b")
            ),
            "id_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b", *score_cols)
    )


def prepare_training_data(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    # curation knobs (forwarded to curate_corpus)
    eval_docs: DataFrame | None = None,
    quality_min: float = 0.3,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = None,
    weights: dict[str, float] | None = None,
    paragraph_sep: str | None = None,
    paragraph_min_chars: int = 1,
    max_dup_word_frac: float = 0.5,
    max_top_bigram_frac: float = 0.05,
    lm: dict | None = None,
    lm_bits_max: float | None = None,
    # mixture (optional): absolute per-domain token budgets
    token_budgets: dict[str, int] | None = None,
    domain_col: str = "lang",
    # tokenize / window / pack
    merges: list[tuple[str, str]] | None = None,
    chunk_tokens: int = 256,
    overlap: int = 0,
    max_tokens: int = 1024,
    # shard dealing over packed bins (optional)
    n_shards: int | None = None,
    seed: str = "prep-v1",
    # split strategy + leakage audit
    split_by_component: bool = False,
    leakage_report: bool = False,
) -> tuple[DataFrame, ...]:
    """Raw corpus → trainer-ready packed sequences, in one composed
    plan — the full pre-training data path:

        curate_corpus (span removal → dedup ladder → quality/LM/decontam
        gates → split) → [per-domain token-budget sampling] →
        [BPE tokenize] → context-window chunking → greedy sequence
        packing (split-pure bins) → [deterministic shard dealing]

    Returns ``(sequences, curated)``:

    - ``sequences`` — one row per chunk: (split, doc_id, chunk_idx,
      n_tokens, chunk_text, pack_group, bin_idx[, shard, shard_pos]).
      A (split, pack_group, bin_idx) triple is one training sequence:
      its chunks' token total never exceeds `max_tokens` (greedy
      packing; a single over-long chunk gets a bin to itself), and a
      bin never mixes dataset splits. With `n_shards`, whole BINS are
      dealt round-robin over an md5 shuffle order (shard sizes differ
      by at most one bin; sequences are never torn across shards) —
      call :func:`~picovdb_spark.operators.ordering.release_global_rank`
      on ``sequences`` once written, as with `shard_plan` itself.
    - ``curated`` — the per-document audit spine (curate_corpus output
      with `text_clean`): every drop accounted by reason, `keep` the
      exact predicate the sequence side used.
    - with ``leakage_report=True`` a THIRD frame is returned:
      `leakage_from_pairs` over the near-dup pair list the curate pass
      already checkpointed and the split spine it already computed —
      (id_a, id_b, split_a, split_b, jaccard), every near-dup pair
      whose members landed in different splits. ZERO extra sweeps: the
      audit is two small hash joins on existing materializations. Pair
      `split_by_component=True` (forwarded to `curate_corpus`) to make
      that report empty by construction — near-dup clusters are then
      split as a unit.

    Token accounting: with `merges`, chunk windows and the pack budget
    are in BPE tokens (`bpe_encode`, pure map); otherwise whitespace
    tokens. `token_budgets` sampling runs BEFORE tokenization on
    whitespace counts (the budget spec's own unit).

    Scale shape: curation's joins carry ids + scalars (text moves once,
    into `text_clean`); sampling is the two-pass bucketed form;
    tokenize/chunk are pure maps; packing is ONE shuffle on
    (split, pack_group) with chunk text riding that same exchange; the
    shard deal ranks the (much smaller) distinct-bin spine and joins
    back on the bin key. Multi-consumer stages are lazily
    checkpointed (`curated`, read by the sequence side and by the
    caller, and `packed` before the shard join) so the curate ladder
    and chunk+pack each run ONCE regardless of options, also when the
    caller reads both outputs.

    Not in the reference (it ingests ready-made vectors); this is the
    SURVEY §7.4 pipeline front-end composed end-to-end.
    """
    from picovdb_spark.operators.chunking import chunk_documents
    from picovdb_spark.operators.sharding import shard_plan
    from picovdb_spark.operators.textops import pack_sequences, sample_to_budget
    from picovdb_spark.operators.tokenizer import bpe_encode

    audit = curate_corpus(
        docs,
        id_col=id_col,
        text_col=text_col,
        eval_docs=eval_docs,
        quality_min=quality_min,
        jaccard_threshold=jaccard_threshold,
        max_bucket_size=max_bucket_size,
        weights=weights,
        paragraph_sep=paragraph_sep,
        paragraph_min_chars=paragraph_min_chars,
        max_dup_word_frac=max_dup_word_frac,
        max_top_bigram_frac=max_top_bigram_frac,
        lm=lm,
        lm_bits_max=lm_bits_max,
        return_text=True,
        split_by_component=split_by_component,
    )
    # `curated` has two consumers, the `kept` branch below and the
    # caller: the lazy checkpoint runs the curate gates once for both,
    # and the stages that re-read `kept` (budget sampling's two passes,
    # the BPE re-attach join, the shard deal) re-scan it, not the gates
    curated = audit.localCheckpoint(eager=False)
    curated._near_dup_pairs = audit._near_dup_pairs  # type: ignore[attr-defined]
    curated._split_spine = audit._split_spine  # type: ignore[attr-defined]
    kept = curated.filter(F.col("keep")).select(
        F.col(id_col),
        F.col("split"),
        F.col("n_tokens"),
        F.col("text_clean").alias(text_col),
    )

    if token_budgets is not None:
        kept = kept.join(docs.select(id_col, domain_col), id_col, "left")
        kept = sample_to_budget(
            kept,
            token_budgets,
            id_col=id_col,
            domain_col=domain_col,
            tokens_col="n_tokens",
            salt=f"{seed}:budget",
        ).drop("cum_tokens", domain_col)

    if merges is not None:
        toks = bpe_encode(kept, merges, id_col=id_col, text_col=text_col)
        # bpe_encode returns only (id, bpe_tokens, n_bpe_tokens) — a
        # pure map; re-attach the split by id (narrow columns both
        # sides; AQE turns this into a local join when kept is small)
        tokenized = toks.join(kept.select(id_col, "split"), id_col)
        chunks = chunk_documents(
            tokenized,
            id_col=id_col,
            tokens_col="bpe_tokens",
            carry_cols=("split",),
            chunk_tokens=chunk_tokens,
            overlap=overlap,
        )
    else:
        chunks = chunk_documents(
            kept,
            id_col=id_col,
            text_col=text_col,
            carry_cols=("split",),
            chunk_tokens=chunk_tokens,
            overlap=overlap,
        )

    packed = pack_sequences(
        chunks,
        id_cols=(id_col, "chunk_idx"),
        token_col="n_tokens",
        max_tokens=max_tokens,
        partition_salt=f"{seed}:pack",
        strategy="greedy",
        group_cols=("split",),
        payload_cols=("chunk_text",),
    )

    if n_shards is not None:
        # the shard deal reads `packed` twice (the distinct-bin spine
        # feeding shard_plan's eager rank job, then the join back) —
        # checkpoint so chunk+pack run once
        packed = packed.localCheckpoint(eager=False)
        bin_key = F.concat_ws(
            ":",
            F.col("split"),
            F.col("pack_group").cast("string"),
            F.col("bin_idx").cast("string"),
        )
        bins = packed.select(bin_key.alias("__bin_id")).distinct()
        plan = shard_plan(
            bins, n_shards, id_col="__bin_id", seed=f"{seed}:shard"
        )
        out = packed.withColumn("__bin_id", bin_key).join(
            plan, "__bin_id"
        ).drop("__bin_id")
        # shard_plan ranks via a cached source — surface the handle so
        # the caller can release_global_rank(sequences) once written
        out._global_rank_source = plan._global_rank_source  # type: ignore[attr-defined]
        packed = out

    if leakage_report:
        leakage = leakage_from_pairs(
            curated._near_dup_pairs,  # type: ignore[attr-defined]
            curated._split_spine,  # type: ignore[attr-defined]
            id_col=id_col,
        )
        return packed, curated, leakage
    return packed, curated

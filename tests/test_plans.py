"""Physical-plan regression tests — the engine's at-scale guarantees.

Each test pins a property that is invisible at sf0.001 but decides
whether the same code works at 100 TB: predicate pushdown into the
Parquet scan, column pruning (the 1 KB-per-row vector column must not be
read by metadata-only queries), broadcast strategy (query batch
broadcast; store side never shuffled for a query, and scanned once by
the GEMM path), and rank-limit pushdown (WindowGroupLimit partial top-k
before the shuffle).
"""

import pytest
from pyspark.sql import functions as F

from picovdb_spark.operators.similarity import batch_query
from picovdb_spark.plans import explain_str, pushed_filters, scan_columns
from picovdb_spark.schema import K_DELETED, K_ID, K_VECTOR, load_embeddings_store, load_table


@pytest.fixture(scope="module")
def store(spark, sf_dir):
    # Another module may have cache()d the same store plan (e.g.
    # test_similarity's fixture): Spark's CacheManager then substitutes
    # the InMemoryRelation for the Parquet scan in OUR plans, hiding
    # PushedFilters/ReadSchema and failing every pushdown assertion —
    # an order-dependence, not a product regression. Plan tests must
    # see the raw scan, so start from an empty cache.
    spark.catalog.clearCache()
    return load_embeddings_store(spark, sf_dir)


@pytest.fixture(scope="module")
def queries(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 4)
        .select(
            F.col("vec_id").cast("string").alias("query_id"),
            F.col("embedding").alias(K_VECTOR),
        )
    )


def test_where_filter_pushed_to_scan(store, queries):
    """Q5 prefilter must reach the Parquet reader (row-group pruning),
    not run post-scan — the reference's prefilter-before-GEMM rule
    (pico_vdb.py:613-656) done by Catalyst."""
    df = batch_query(store, queries, top_k=5, where={"label": 3}, method="sql")
    assert "EqualTo(label,3)" in pushed_filters(df)


def test_in_filter_pushed_to_scan(store, queries):
    df = batch_query(store, queries, top_k=5, where={"label": {"$in": [1, 2]}}, method="sql")
    assert any(f.startswith("In(label") for f in pushed_filters(df))


def test_metadata_query_never_reads_vectors(store):
    """Column pruning: get_all()-style projection must not read the
    embedding column (it dominates IO: ~256 B vs ~20 B per row)."""
    proj = store.filter(~F.col(K_DELETED)).select(K_ID, "label")
    for cols in scan_columns(proj):
        assert "embedding" not in cols


def test_gemm_plan_scans_store_once_without_join(store, queries):
    """The GEMM path's scoring task emits each row's metadata itself:
    the plan reads the store once and holds no join, so the store is
    never shuffled on _id_ and no second scan recovers metadata."""
    df = batch_query(store, queries, top_k=5, method="gemm")
    assert "label" in df.columns
    assert "Join" not in explain_str(df)
    assert len(scan_columns(df)) == 1
    # simple mode inlines Exchange args: the store must never hash-shuffle on _id_
    simple = explain_str(df, mode="simple")
    assert "Exchange hashpartitioning(_id_" not in simple


def test_query_batch_is_broadcast_not_shuffled(store, queries):
    """SQL path: the similarity 'join' must be a broadcast nested-loop
    (query batch broadcast to store partitions) — a shuffle cross join
    multiplies partitions and dies at scale."""
    plan = explain_str(batch_query(store, queries, top_k=5, method="sql"))
    assert "BroadcastNestedLoopJoin" in plan


def test_topk_rank_pushdown(store, queries):
    """Per-query top-k must pre-truncate per partition before the
    shuffle (WindowGroupLimit, Spark >= 3.5) — the distributed
    partial+final top-k (SURVEY.md §4)."""
    plan = explain_str(batch_query(store, queries, top_k=5, method="sql"))
    assert "WindowGroupLimit" in plan


def test_ids_prefilter_is_broadcast_semi_join(store, queries):
    plan = explain_str(
        batch_query(store, queries, top_k=5, ids=[str(i) for i in range(50)], method="sql")
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_point_lookup_pushes_in_filter_native_store(spark, tmp_path):
    """On a natively-written store (string _id_ in Parquet), get()'s isin
    filter pushes into the scan. (On the embeddings VIEW the id is a
    cast of vec_id, which blocks pushdown — that is why the point_lookup
    entry filters on the physical key; this test pins the native case.)"""
    p = str(tmp_path / "native_store")
    spark.createDataFrame(
        [(str(i), [float(i), 0.0], False, i % 3) for i in range(100)],
        schema=f"{K_ID} string, {K_VECTOR} array<float>, {K_DELETED} boolean, label int",
    ).write.parquet(p)
    native = spark.read.parquet(p)
    df = native.filter(~F.col(K_DELETED)).filter(F.col(K_ID).isin(["1", "2"])).select(K_ID, "label")
    fs = pushed_filters(df)
    assert any("_id_" in f and ("In(" in f or "EqualTo" in f or "Or(" in f) for f in fs), fs
    for cols in scan_columns(df):
        assert K_VECTOR not in cols


def test_star_join_broadcasts_small_dims(spark, sf_dir):
    """rel_region_revenue: nation/region (25/5 rows) must broadcast —
    only the orders↔customer join may shuffle."""
    import __spark_entry__ as entry_mod

    plan = explain_str(entry_mod.queries()["rel_region_revenue"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2


def test_point_lookup_entry_pushes_physical_key(spark, sf_dir):
    # the point-lookup callable now ships inside store_read_suite; the
    # per-path plan property is pinned on the unregistered variant
    import __spark_entry__ as entry_mod

    df = entry_mod._point_lookup(spark, sf_dir)
    fs = pushed_filters(df)
    assert any("vec_id" in f and ("In(" in f or "EqualTo" in f or "Or(" in f) for f in fs), fs


def test_driver_built_side_is_local_relation(store, queries):
    """Small driver-built join sides (id lists, query batches) must plan
    as LocalTableScan (JVM LocalRelation via session.local_df), never as
    a broadcast over `Scan ExistingRDD` — explicitly broadcasting a
    Python-RDD-backed relation costs a Python-worker round trip per
    build (~6 s vs ~0.3 s measured at local[32])."""
    plan = explain_str(
        batch_query(store, queries, top_k=5, ids=[str(i) for i in range(50)], method="sql")
    )
    assert "LocalTableScan" in plan
    assert "Scan ExistingRDD" not in plan


def test_bm25_query_side_is_local_relation(spark):
    from picovdb_spark.operators.retrieval import bm25_search
    from picovdb_spark.session import local_df

    docs = local_df(
        spark,
        [(1, "apple banana"), (2, "banana cherry")],
        "doc_id long, text string",
    )
    q = local_df(spark, [("q", "banana")], "query_id string, query string")
    plan = explain_str(bm25_search(docs, q, top_k=3))
    # the qterms side must be a LocalRelation; the checkpointed postings
    # legitimately scan as ExistingRDD but must never be the broadcast side
    assert "LocalTableScan" in plan


def test_knn_join_blocked_plan_no_cartesian(spark, sf_dir):
    """The blocked kNN plan must be the cogrouped block grid — a
    FlatMapCoGroupsInArrow over two hash exchanges — never a cartesian
    or broadcast-nested-loop join (the shapes that can't scale past one
    executor), and the vectors must shuffle in their input element type:
    no cast widens (or narrows) them."""
    from picovdb_spark.operators.similarity import knn_join_blocked

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    kw = dict(
        left_id="vec_id", right_id="vec_id",
        left_vec="embedding", right_vec="embedding",
        left_blocks=2, right_blocks=2,
    )
    df = knn_join_blocked(emb, emb, k=3, **kw)
    plan = explain_str(df)
    assert "FlatMapCoGroupsInArrow" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the analyzed plan would show any cast the grid projection applies
    analyzed = str(df._jdf.queryExecution().analyzed())
    assert "embedding#" in analyzed and "as array<" not in analyzed, analyzed[:2000]


def test_window_dedup_reassembly_is_hash_set_subtraction(spark):
    """Round-6 verdict item pin: the reassembly must be the
    array_except (hash-set) position subtraction, not the O(removed)
    per-token array_contains probe — the plan itself is the evidence."""
    from picovdb_spark.operators.dedup import window_dedup

    docs = spark.createDataFrame(
        [("a", "x y z w x y z w"), ("b", "x y z w q r s t")],
        "doc_id string, text string",
    )
    plan = explain_str(window_dedup(docs, window=4))
    assert "array_except" in plan, plan
    assert "array_contains" not in plan, plan


def test_minhash_signature_path_is_arrow_not_interpreted_hofs(spark, monkeypatch):
    """Structural pin: the signature+banding construction must be the
    Arrow kernel (one MapInPandas), with NO interpreted lambda-HOF
    (array_min(transform(...))) left on the corpus-sized path — the
    regression this guards cost 31 s of a 44 s LSH wall at 500k docs.
    The Catalyst twin (functions/text.minhash_signature) remains test-
    only; if it leaks back into the production plan this fails. The
    plan checked is the one `lsh_bucket_stats` actually collects over
    its band rows, captured at its collect()."""
    from picovdb_spark.operators.dedup import lsh_bucket_stats

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}") for i in range(8)],
        "doc_id long, text string",
    )
    DataFrame = type(docs)  # the concrete class whose collect() runs
    plans = []
    collect = DataFrame.collect

    def capturing_collect(self):
        plans.append(explain_str(self))
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", capturing_collect)
    stats = lsh_bucket_stats(docs)
    monkeypatch.undo()
    assert stats["buckets"] > 0
    assert len(plans) == 1
    plan = plans[0]
    assert "MapInPandas" in plan, plan
    assert "array_min(transform(" not in plan, plan


def test_window_hash_path_is_arrow_not_interpreted_hofs(spark):
    """Same pin for the window-dedup hash pass: one MapInPandas emits
    the (id, start, digest) rows; the interpreted
    transform(sequence, md5(array_join(slice))) chain must not return."""
    from picovdb_spark.operators.dedup import _window_hash_rows

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h") for i in range(4)], "doc_id long, text string"
    )
    plan = explain_str(_window_hash_rows(docs, "doc_id", "text", 4))
    assert "MapInPandas" in plan, plan
    assert "array_join(slice(" not in plan, plan


def test_quality_and_langid_paths_have_no_lambda_hofs(spark):
    """r10 structural pin: quality_score and lang_id must stay on
    native functions — array_remove for the empty-token drop (not a
    filter() lambda) and regexp_count for stopword hits (not
    size(filter(λ array_contains))). HOF lambdas evaluate INTERPRETED
    per token; these two expressions sit under every Catalyst text path
    and were the quality gate's dominant compute at 500k docs."""
    from picovdb_spark.operators.textops import lang_id, quality_score

    docs = spark.createDataFrame(
        [("a", "the quick brown fox"), ("b", "der schnelle fuchs")],
        "doc_id string, text string",
    )
    # extended mode prints full projection expressions; formatted
    # abbreviates Project lists and would hide the markers
    qplan = explain_str(quality_score(docs), mode="extended")
    assert "lambdafunction" not in qplan.lower(), qplan
    assert "array_remove" in qplan and "regexp_count" in qplan, qplan
    # r11: tokenize ONCE — the optimized plan must carry exactly one
    # split() (the named __t projection); inlining it into every
    # consumer re-expands it 4x in codegen and tripled the gate's
    # first-execution wall (interleaved A/B at 500k: 16.1 -> 5.4 s)
    from picovdb_spark.plans import optimized_plan_str
    opt = optimized_plan_str(quality_score(docs))
    assert opt.count("split(") == 1, opt
    lplan = explain_str(lang_id(docs), mode="extended")
    assert "lambdafunction" not in lplan.lower(), lplan
    assert "regexp_count" in lplan, lplan  # lang_id needs no token arrays at all


def test_no_hot_path_plans_sort_aggregate(spark):
    """r11 structural sweep, institutionalized: no corpus-scale Catalyst
    path may plan a SortAggregate — the paragraph/window elections'
    min(struct) did (struct agg buffers aren't UnsafeRow-mutable, so
    the whole aggregate falls to sort-based with a per-partition sort
    of every shuffled row by its md5 key), and that single plan shape
    was the 15-85 s first-execution band at 31M spans. Every operator
    here must stay HashAggregate/ObjectHashAggregate-only."""
    from picovdb_spark.operators import dedup as D
    from picovdb_spark.operators import textops as X

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h i j") for i in range(6)], "doc_id long, text string"
    )
    cases = {
        "exact_dedup": D.exact_dedup(docs),
        "paragraph_dedup": D.paragraph_dedup(docs, sep=" "),
        "window_dedup": D.window_dedup(docs, window=4),
        "minhash_lsh_pairs": D.minhash_lsh_pairs(docs),
        "simhash_pairs": D.simhash_pairs(docs),
        "quality_score": X.quality_score(docs),
        "token_stats": X.token_stats(docs),
        "lang_id": X.lang_id(docs),
        "repeated_ngram_stats": X.repeated_ngram_stats(docs, n=3),
        "top_ngrams": X.top_ngrams(docs, n=2, k=3),
        "doc_fingerprint": X.doc_fingerprint(docs),
    }
    offenders = {
        name: df._jdf.queryExecution().executedPlan().toString().count("SortAggregate")
        for name, df in cases.items()
    }
    offenders = {k: v for k, v in offenders.items() if v}
    assert not offenders, f"sort-based aggregation crept in: {offenders}"


def test_string_id_election_is_the_reasoned_sort_aggregate(spark):
    """String-id corpora (URLs/UUIDs — the common production key) elect
    through min(struct(id, pos)), which PLANS SortAggregate — and that
    is the package's second REASONED SortAggregate (with asof_join's
    max_by, joins.py), not an oversight: min(string) can never
    HashAggregate (variable-length agg buffers aren't UnsafeRow-
    mutable), and the only hash-agg route — a dense-long surrogate id
    election — LOST an interleaved A/B at 1M docs in every
    order-balanced pair (struct 1.37x faster with 15-byte ids, 6x with
    ~100-byte URL ids, output checksums identical): its forward join
    re-shuffles every wide id, then pays a ~30M-row back-join. The
    surrogate was deleted; this test pins that string ids plan the
    struct SortAggregate."""
    from picovdb_spark.operators import dedup as D

    sdocs = spark.createDataFrame(
        [(f"url://{i}", "a b c d e f g h i j") for i in range(6)],
        "doc_id string, text string",
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "SortAggregate" in plan(D.paragraph_dedup(sdocs, sep=" "))
    assert "SortAggregate" in plan(D.window_dedup(sdocs, window=4))


def _operator_below(df, op: str) -> str:
    """The physical operator directly below the first `op` in the
    formatted plan's tree."""
    tree = explain_str(df).split("\n\n", 1)[0].splitlines()
    i = next(n for n, line in enumerate(tree) if op in line)
    return tree[i + 1].split("+-", 1)[-1].strip()


def test_scoring_passes_run_at_most_one_task_per_core(spark):
    """ROADMAP 2(a): the Python scoring pass of `batch_query` and of
    `ann_query` reads a narrow coalesce to `defaultParallelism`
    partitions. A cached store with no more partitions than cores is
    scanned as it is (its scored stage runs exactly one task per
    partition); one with more runs one task per core."""
    import numpy as np

    from picovdb_spark.operators.ann import IvfIndex, ann_query
    from picovdb_spark.plans import job_tasks

    cores = spark.sparkContext.defaultParallelism
    rng = np.random.default_rng(3)
    rows = [(f"s{i}", rng.standard_normal(8).tolist(), i % 3) for i in range(120)]
    base = spark.createDataFrame(rows, f"{K_ID} string, {K_VECTOR} array<float>, label int")
    q = ([f"q{i}" for i in range(4)], rng.standard_normal((4, 8)))
    qdf = spark.createDataFrame(
        [(qid, v.tolist()) for qid, v in zip(*q)], f"query_id string, {K_VECTOR} array<float>"
    )
    index = IvfIndex.build(base, n_centroids=4)
    assert _operator_below(ann_query(index, qdf, top_k=3, nprobe=2), "MapInArrow").startswith("Coalesce")

    for n_parts, tasks in ((max(cores // 2, 1), max(cores // 2, 1)), (3 * cores, cores)):
        store = base.repartition(n_parts).cache()
        assert store.count() == 120
        out = batch_query(store, q, top_k=3)
        assert _operator_below(out, "MapInArrow").startswith("Coalesce")
        _, jobs = job_tasks(spark, out.collect)
        assert max(t for stages in jobs for t in stages) == tasks, jobs
        store.unpersist()

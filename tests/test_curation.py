"""curate_corpus (operators/pipeline.py): the composed curation chain
must apply every gate with stable precedence, one row per input doc.
Fixture plants one representative per drop class plus clean survivors.
"""

import pytest
from pyspark.sql import functions as F

from picovdb_spark.operators.pipeline import REASONS, curate_corpus, curation_report


def _natural(seed_word: str, n: int = 60) -> str:
    # natural-ish text: distinct words with stopwords sprinkled in so the
    # quality heuristic (length + diversity + stopword prior) clears 0.3
    words = []
    for i in range(n):
        words.append(f"{seed_word}{i}")
        if i % 3 == 0:
            words.append("the")
        if i % 5 == 0:
            words.append("of")
    return " ".join(words)


@pytest.fixture(scope="module")
def corpus(spark):
    base = _natural("alpha")
    near = base.replace("alpha7 ", "omega7 ", 1)  # 1-word mutation of base
    rows = [
        (1, base),                      # clean, canonical of the near-dup pair
        (2, base),                      # exact duplicate of 1
        (3, near),                      # near-dup of 1, same length → loses keep-best
        (4, "tiny tiny tiny"),          # low quality (short, no diversity)
        (5, ("spam " * 200).strip()),   # repetitive (one word repeated)
        (6, _natural("bravo")),         # clean
        (7, _natural("leaky")),         # contaminated (overlaps eval below)
    ]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string")
    eval_docs = spark.createDataFrame(
        [(100, _natural("leaky"))], schema="doc_id long, text string"
    )
    return docs, eval_docs


def test_curate_corpus_gates_and_precedence(spark, corpus):
    docs, eval_docs = corpus
    out = curate_corpus(docs, eval_docs=eval_docs).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == 7  # one row per input doc, none lost

    assert by_id[1]["keep"] and by_id[1]["drop_reason"] is None
    assert by_id[6]["keep"] and by_id[6]["drop_reason"] is None
    assert by_id[2]["drop_reason"] == "exact_dup"
    assert by_id[3]["drop_reason"] == "near_dup"
    assert by_id[4]["drop_reason"] == "low_quality"
    assert by_id[5]["drop_reason"] == "repetitive"
    assert by_id[7]["drop_reason"] == "contaminated"
    # the near-dup component groups 1, 2, 3 under the canonical min id
    assert by_id[1]["component_id"] == by_id[2]["component_id"] == by_id[3]["component_id"]
    # every row gets a split, and splits come from the declared set
    assert all(r["split"] in ("train", "val", "test") for r in out)


def test_curate_corpus_without_eval_set(spark, corpus):
    docs, _ = corpus
    out = curate_corpus(docs).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[7]["keep"]  # no eval set → no contamination gate
    assert by_id[2]["drop_reason"] == "exact_dup"


def test_curation_report_counts(spark, corpus):
    docs, eval_docs = corpus
    rep = curation_report(curate_corpus(docs, eval_docs=eval_docs))
    assert rep["total"] == 7
    assert rep["kept"] == 2
    assert rep["dropped"] == {
        "exact_dup": 1,
        "near_dup": 1,
        "low_quality": 1,
        "repetitive": 1,
        "contaminated": 1,
    }
    assert set(rep["dropped"]) <= set(REASONS)


def test_curate_corpus_sf_scale_invariants(spark, sf_dir):
    """On the real documents table: exactly one row per doc, every kept
    exact-dup group has a single survivor, and reasons come from the
    declared vocabulary."""
    from picovdb_spark.schema import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = curate_corpus(docs)
    assert out.count() == docs.count()
    bad = out.filter(
        F.col("drop_reason").isNotNull()
        & ~F.col("drop_reason").isin(*REASONS)
    )
    assert bad.count() == 0
    # at most one kept doc per component
    multi = (
        out.filter(F.col("keep"))
        .groupBy("component_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )
    assert multi.count() == 0


def test_curate_corpus_plan_stays_equi_join(spark, corpus):
    """The composed chain must keep every join an equi-join (hash or
    sort-merge) — no BroadcastNestedLoopJoin / CartesianProduct sneaks
    in through the composition."""
    from picovdb_spark.plans import explain_str

    docs, eval_docs = corpus
    plan = explain_str(curate_corpus(docs, eval_docs=eval_docs))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_curate_corpus_survives_blank_docs(spark, corpus):
    """An empty doc must flow through the full chain as a low_quality
    drop — not abort the job on an unguarded division."""
    docs, eval_docs = corpus
    blank = spark.createDataFrame([(99, ""), (98, "   ")], "doc_id long, text string")
    out = curate_corpus(docs.unionByName(blank), eval_docs=eval_docs).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert not by_id[99]["keep"] and by_id[99]["drop_reason"] is not None
    assert not by_id[98]["keep"]


def test_curate_with_span_removal_and_lm_band(spark):
    """The two optional stages: paragraph_sep rewrites text before every
    gate (FineWeb order), and an LM cap gates gibberish as 'unnatural'."""
    from picovdb_spark.operators.textops import ngram_lm_fit

    boiler = "standard cookie banner text here"
    rows = [
        (1, _natural("core") + "\n\n" + boiler),   # keeps its unique half
        (2, boiler + "\n\n" + _natural("delta")),  # loses the banner, keeps delta
        (3, boiler),                               # nothing left -> span_empty
        (4, _natural("echo")),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # LM trained on natural-ish text; score a shuffled-gibberish doc high
    lm_train = spark.createDataFrame(
        [(i, _natural(f"w{i}")) for i in range(20)], "doc_id long, text string"
    )
    lm = ngram_lm_fit(lm_train)
    try:
        out = {
            r["doc_id"]: r
            for r in curate_corpus(
                docs, paragraph_sep="\n\n", lm=lm, lm_bits_max=1e9
            ).collect()
        }
        assert out[3]["drop_reason"] == "span_empty" and not out[3]["keep"]
        assert out[1]["n_paras"] == 2 and out[1]["n_kept"] == 2
        assert out[2]["n_paras"] == 2 and out[2]["n_kept"] == 1
        assert out[4]["keep"]
        # bits column populated when lm given
        assert out[4]["bits_per_token"] is not None

        # a tight cap flips high-bits docs to 'unnatural' (precedence
        # after repetitive, before contaminated)
        med = sorted(
            r["bits_per_token"] for r in out.values() if r["bits_per_token"]
        )[1]
        out2 = {
            r["doc_id"]: r
            for r in curate_corpus(
                docs, paragraph_sep="\n\n", lm=lm, lm_bits_max=med - 1e-9
            ).collect()
        }
        assert any(r["drop_reason"] == "unnatural" for r in out2.values())
    finally:
        lm["unigrams"].unpersist()


def test_curate_optional_stages_off_yield_null_columns(spark, corpus):
    docs, _ = corpus
    r = curate_corpus(docs).limit(1).collect()[0]
    assert r["n_paras"] is None and r["n_kept"] is None
    assert r["bits_per_token"] is None


def test_split_leakage_report_flags_cross_split_near_dups(spark):
    """Planted near-dup pairs: the cross-split pair is reported with
    both split labels; the same-split pair is not leakage; unrelated
    docs never appear. Output ids keep the id_a < id_b pair order."""
    from picovdb_spark.operators.pipeline import split_leakage_report

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (1, base, "train"),
            (2, base + " extra", "test"),      # near-dup of 1, crosses splits
            (3, base + " more", "train"),      # near-dup of 1, same split
            (4, "completely different words in this unrelated document", "test"),
        ],
        "doc_id long, text string, split string",
    )
    rows = split_leakage_report(docs).collect()
    got = {(r["id_a"], r["id_b"]): (r["split_a"], r["split_b"]) for r in rows}
    assert (1, 2) in got and got[(1, 2)] == ("train", "test")
    assert (2, 3) in got and got[(2, 3)] == ("test", "train")
    assert (1, 3) not in got, "same-split pair is not leakage"
    assert all(4 not in p for p in got)
    assert all(a < b for a, b in got)


def test_leakage_from_pairs_rides_any_pair_list(spark):
    """leakage_from_pairs joins an EXISTING pair frame (any score
    columns — here an embedding near-dup shape) against the split
    spine without re-running similarity machinery; extra score columns
    pass through."""
    from picovdb_spark.operators.pipeline import leakage_from_pairs

    pairs = spark.createDataFrame(
        [(1, 2, 0.98), (2, 3, 0.97), (5, 6, 0.99)],
        "id_a long, id_b long, cosine double",
    )
    splits = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "test"), (5, "train"), (6, "train")],
        "doc_id long, split string",
    )
    rows = {(r["id_a"], r["id_b"]): r for r in leakage_from_pairs(pairs, splits).collect()}
    assert set(rows) == {(1, 2)}  # 2-3 same split, 5-6 same split
    assert rows[(1, 2)]["cosine"] == 0.98  # score column rides through
    assert rows[(1, 2)]["split_a"] == "train" and rows[(1, 2)]["split_b"] == "test"

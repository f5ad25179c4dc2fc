"""Incremental dedup: minhash_index + minhash_dedup_against.

The index is text-free (one ~200-byte row per historical doc); new
batches screen against it by signature-estimated Jaccard. Candidates
come from the same banding as minhash_lsh_pairs, so the self-screen's
candidate set must match the self-join's exactly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from picovdb_spark.operators.dedup import (
    minhash_dedup_against,
    minhash_index,
    minhash_lsh_pairs,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200).cache()


def test_index_is_text_free_and_one_row_per_doc(spark, docs):
    idx = minhash_index(docs)
    assert set(idx.columns) == {"doc_id", "sig", "bands", "text_hash"}
    assert idx.count() == docs.count()
    row = idx.filter(F.size("sig") > 0).first()
    assert len(row["sig"]) == 16 and len(row["bands"]) == 4
    # the corpus has no sub-shingle docs, so no short-route rows
    assert idx.filter(F.col("text_hash").isNotNull()).count() == 0


def test_self_screen_candidates_match_self_join(spark, docs):
    """Screening the corpus against its own index with est_threshold=0
    must surface exactly the band-collision pairs the self-join sees."""
    idx = minhash_index(docs)
    against = {
        (min(r["id_new"], r["id_indexed"]), max(r["id_new"], r["id_indexed"]))
        for r in minhash_dedup_against(docs, idx, est_threshold=0.0).collect()
        if r["id_new"] != r["id_indexed"]
    }
    self_join = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.0).collect()
    }
    assert against == self_join


def test_planted_batch_detection(spark, docs):
    """Exact copy -> est 1.0; perturbed copy -> high est; novel doc ->
    absent at the threshold."""
    base = docs.limit(1).collect()[0]
    words = base["text"].split(" ")
    near = " ".join(words[:-3])  # drop last 3 words: high overlap
    batch = spark.createDataFrame(
        [
            (900001, base["text"]),
            (900002, near),
            (900003, "completely novel never seen zz yy xx ww vv uu tt"),
        ],
        "doc_id long, text string",
    )
    idx = minhash_index(docs)
    hits = {
        r["id_new"]: r
        for r in minhash_dedup_against(batch, idx, est_threshold=0.5).collect()
        if r["id_indexed"] == base["doc_id"]
    }
    assert hits[900001]["est_jaccard"] == 1.0
    assert 900002 in hits and hits[900002]["est_jaccard"] >= 0.5
    assert 900003 not in hits


def test_index_roundtrips_through_parquet(spark, docs, tmp_path):
    """The production shape: persist the index, reload, screen."""
    path = str(tmp_path / "mh_index")
    minhash_index(docs).write.parquet(path)
    reloaded = spark.read.parquet(path)
    batch = docs.limit(5).select(
        (F.col("doc_id") + 800000).alias("doc_id"), "text"
    )
    out = minhash_dedup_against(batch, reloaded, est_threshold=0.99)
    got = {(r["id_new"] - 800000, r["id_indexed"]) for r in out.collect()}
    # every batch doc is an exact copy of its source -> est 1.0 self-hit
    assert {(i, i) for i in got if False} == set()  # shape guard only
    assert all(a == b for a, b in got) and len(got) >= 5


def test_bucket_cap_drops_boilerplate(spark):
    """60 identical docs form one giant bucket; the cap suppresses the
    candidate explosion for a screened batch too."""
    boiler = [(i, "the same boilerplate page text repeated here") for i in range(60)]
    corpus = spark.createDataFrame(boiler, "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1000, "the same boilerplate page text repeated here")],
        "doc_id long, text string",
    )
    idx = minhash_index(corpus)
    uncapped = minhash_dedup_against(batch, idx, est_threshold=0.5).count()
    capped = minhash_dedup_against(
        batch, idx, est_threshold=0.5, max_bucket_size=10
    ).count()
    assert uncapped == 60
    assert capped == 0


def test_sub_shingle_docs_excluded_and_bands_must_divide(spark):
    """(a) docs shorter than shingle_n have empty shingle sets — they
    must be DROPPED before banding (all-null signatures used to collapse
    every short doc into one md5('') band bucket: an O(h^2) candidate
    blow-up that could never pass verify); in the index they become
    text_hash side-table rows (never band rows), so the SIGNATURE path
    keeps its shape while the short route catches exact copies; (b)
    bands not dividing num_hashes raises instead of silently banding
    only a prefix of the signature."""
    import pytest as _pytest

    from picovdb_spark.operators.dedup import (
        lsh_bucket_stats,
        minhash_dedup_against,
        minhash_index,
        minhash_lsh_pairs,
    )

    short = [(i, "tiny doc") for i in range(50)]  # 2 tokens < shingle_n=3
    real = [
        (100, "the quick brown fox jumps over the lazy dog today"),
        (101, "the quick brown fox jumps over the lazy dog today"),
    ]
    docs = spark.createDataFrame(short + real, "doc_id long, text string")

    # no empty-shingle rows among the index's SIGNATURE rows; the 50
    # short docs persist as text_hash side-table rows instead
    idx = minhash_index(docs)
    assert idx.filter(F.col("sig").isNotNull()).count() == 2
    assert idx.filter(F.col("text_hash").isNotNull()).count() == 50
    # … so no boilerplate bucket: every band bucket holds <= 2 docs
    assert lsh_bucket_stats(docs)["max_bucket"] == 2
    # self-join still finds the real pair, nothing among the short docs
    pairs = minhash_lsh_pairs(docs).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(100, 101)]
    # signature-only index (include_short=False): the old behavior —
    # short batch docs are absent, not est=0 rows
    idx_sig_only = minhash_index(docs, include_short=False)
    assert idx_sig_only.count() == 2
    batch = spark.createDataFrame(
        [(200, "tiny doc"), (201, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    hits = minhash_dedup_against(batch, idx_sig_only).collect()
    assert {(r["id_new"], r["id_indexed"]) for r in hits} == {(201, 100), (201, 101)}

    with _pytest.raises(ValueError, match="must divide"):
        minhash_lsh_pairs(docs, num_hashes=16, bands=5)


def test_short_doc_reingested_is_caught_by_the_screen(spark):
    """Structural close of the sub-shingle recall hole: a 2-token doc
    re-ingested is flagged by `minhash_dedup_against` itself (no
    caller-side exact_dedup pass), via the index's normalized-token
    hash side table — including case/whitespace variants, which is the
    shingle pipeline's own normalization. Near-variants of short docs
    and long docs stay out of the short route."""
    hist = spark.createDataFrame(
        [
            (1, "tiny doc"),
            (2, "other short"),
            (3, "the quick brown fox jumps over the lazy dog today"),
        ],
        "doc_id long, text string",
    )
    idx = minhash_index(hist).localCheckpoint(eager=True)
    batch = spark.createDataFrame(
        [
            (100, "tiny doc"),            # exact short copy -> hit on 1
            (101, "Tiny  DOC"),           # normalization variant -> hit on 1
            (102, "tiny document"),       # short NEAR-dup -> out of scope
            (103, "wholly new words"),    # novel 3-token doc -> signature path, no hit
            (104, "the quick brown fox jumps over the lazy dog today"),
        ],
        "doc_id long, text string",
    )
    hits = minhash_dedup_against(batch, idx, est_threshold=0.5).collect()
    got = {(r["id_new"], r["id_indexed"]): r["est_jaccard"] for r in hits}
    assert got[(100, 1)] == 1.0 and got[(101, 1)] == 1.0
    assert got[(104, 3)] == 1.0
    assert not any(new in (102, 103) for new, _ in got)
    # an index from BEFORE the text_hash column (simulated by dropping
    # it) degrades to the documented old behavior instead of erroring
    legacy = idx.drop("text_hash")
    legacy_hits = minhash_dedup_against(batch, legacy, est_threshold=0.5).collect()
    assert {(r["id_new"], r["id_indexed"]) for r in legacy_hits} == {(104, 3)}


def test_short_route_respects_bucket_cap(spark):
    """max_bucket_size applies the same combined-population rule to the
    short route's text_hash groups: 60 identical 2-token docs in the
    index + 1 in the batch would emit 60 exact pairs uncapped — the cap
    suppresses the group entirely, while a rare short dup still hits."""
    from pyspark.sql import functions as F  # noqa: F811

    corpus = spark.createDataFrame(
        [(i, "ok thanks") for i in range(60)] + [(100, "rare short")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1000, "ok thanks"), (1001, "rare short")], "doc_id long, text string"
    )
    idx = minhash_index(corpus).localCheckpoint(eager=True)
    uncapped = minhash_dedup_against(batch, idx, est_threshold=0.5).collect()
    assert sum(1 for r in uncapped if r["id_new"] == 1000) == 60
    capped = minhash_dedup_against(
        batch, idx, est_threshold=0.5, max_bucket_size=10
    ).collect()
    assert {(r["id_new"], r["id_indexed"]) for r in capped} == {(1001, 100)}


def test_index_growth_across_schema_epochs(spark):
    """The docstring's growth recipe works across the text_hash schema
    epoch: a pre-epoch (3-column) index unions with a new build via
    allowMissingColumns, and the merged index screens with the short
    route active for the NEW rows only."""
    old_epoch = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    new_epoch = spark.createDataFrame(
        [(2, "tiny doc")], "doc_id long, text string"
    )
    old_idx = minhash_index(old_epoch, include_short=False)
    assert set(old_idx.columns) == {"doc_id", "sig", "bands"}
    grown = old_idx.unionByName(minhash_index(new_epoch), allowMissingColumns=True)
    batch = spark.createDataFrame(
        [(10, "tiny doc"), (11, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    hits = minhash_dedup_against(batch, grown.localCheckpoint(eager=True))
    assert {(r["id_new"], r["id_indexed"]) for r in hits.collect()} == {
        (10, 2),
        (11, 1),
    }


def test_null_text_short_route_oracle_parity(spark):
    """A NULL-text doc must behave identically in the engine's short
    route and the DuckDB oracle's short CTE (round-8 advice). The
    engine convention is `_tok_list(None) == []` — NULL tokenizes as
    empty, so a NULL-text doc short-route-matches empty-text and other
    NULL-text docs at est_jaccard 1.0; the oracle pins the same
    convention via `coalesce(text, '')` in its tok CTE
    (__spark_entry__._D_TOK). Without the coalesce, DuckDB's
    string_split(lower(NULL)) evaluates NULL and len(NULL) < k drops
    NULL-text docs from the short CTE entirely."""
    import duckdb
    import pandas as pd

    from __spark_entry__ import _D_TOK

    hist_rows = [
        (1, None),
        (2, ""),
        (3, "tiny doc"),
        (4, "the quick brown fox jumps over the lazy dog today"),
    ]
    batch_rows = [
        (100, None),
        (101, ""),
        (102, "tiny doc"),
        (103, "wholly new unrelated words"),
    ]
    hist = spark.createDataFrame(hist_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    idx = minhash_index(hist).localCheckpoint(eager=True)
    got = {
        (r["id_new"], r["id_indexed"])
        for r in minhash_dedup_against(batch, idx, est_threshold=0.5).collect()
    }

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(hist_rows + batch_rows, columns=["doc_id", "text"]),
    )
    want = {
        (n, i)
        for n, i in con.execute(
            f"""
            WITH tok AS (SELECT doc_id, {_D_TOK} AS t FROM documents),
            short AS (
              SELECT doc_id, md5(coalesce(array_to_string(t, ' '), '')) AS th
              FROM tok WHERE len(t) < 3
            )
            SELECT b.doc_id AS id_new, a.doc_id AS id_indexed
            FROM short a JOIN short b ON a.th = b.th
            WHERE a.doc_id < 100 AND b.doc_id >= 100
            """
        ).fetchall()
    }
    con.close()
    # every batch doc here is sub-shingle, so the engine's hits ARE the
    # short route's — they must equal the oracle's short-pair set
    assert got == want
    # and the NULL-text batch doc really is caught against both the
    # NULL-text and the empty-text history docs
    assert (100, 1) in got and (100, 2) in got

"""paragraph_dedup — corpus-wide span removal (RefinedWeb/FineWeb style).

Covers the real configuration (multi-paragraph texts split on "\\n\\n")
that the synthetic driver corpus can't exercise (its documents are
single-line word streams, so the driver suite runs the operator at word
granularity instead), plus a bit-exact DuckDB twin of the full
split → elect → reassemble pipeline.
"""

from __future__ import annotations

import duckdb
import pytest

from picovdb_spark.operators.dedup import paragraph_dedup

DOCS = [
    # doc 1: unique intro + a boilerplate footer
    (1, "alpha beta gamma\n\nshared footer text"),
    # doc 2: repeats doc 1's footer (must lose it) + unique body
    (2, "delta epsilon\n\nshared footer text\n\nzeta eta"),
    # doc 3: entirely made of already-seen paragraphs -> husk
    (3, "shared footer text\n\nalpha beta gamma"),
    # doc 4: consecutive separators -> empty paragraphs are kept
    (4, "solo para\n\n\n\ntail para"),
    # doc 5: internal repeat — second copy inside the SAME doc drops too
    (5, "repeat me\n\nrepeat me\n\nunique tail"),
    # doc 6: empty document
    (6, ""),
]


@pytest.fixture(scope="module")
def cleaned(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    rows = paragraph_dedup(df, sep="\n\n").collect()
    return {r["doc_id"]: r for r in rows}


def test_first_occurrence_wins_and_later_spans_drop(cleaned):
    assert cleaned[1]["text_clean"] == "alpha beta gamma\n\nshared footer text"
    assert cleaned[1]["n_paras"] == 2 and cleaned[1]["n_kept"] == 2
    # doc 2 loses only the footer, order preserved
    assert cleaned[2]["text_clean"] == "delta epsilon\n\nzeta eta"
    assert cleaned[2]["n_paras"] == 3 and cleaned[2]["n_kept"] == 2


def test_all_duplicate_doc_becomes_empty_husk(cleaned):
    assert cleaned[3]["n_kept"] == 0
    assert cleaned[3]["text_clean"] == ""


def test_empty_paragraphs_preserve_formatting(cleaned):
    # "\n\n\n\n" splits to ["solo para", "", "tail para"]; the empty
    # middle is ineligible (min_chars=1) and must survive verbatim
    assert cleaned[4]["text_clean"] == "solo para\n\n\n\ntail para"
    assert cleaned[4]["n_paras"] == 3 and cleaned[4]["n_kept"] == 3


def test_within_doc_repeat_drops_second_copy(cleaned):
    assert cleaned[5]["text_clean"] == "repeat me\n\nunique tail"


def test_empty_document_roundtrips(cleaned):
    assert cleaned[6]["n_paras"] == 1  # split("") == [""]
    assert cleaned[6]["n_kept"] == 1
    assert cleaned[6]["text_clean"] == ""


def test_duckdb_twin_bit_exact(spark):
    """The whole pipeline restated in SQL must agree doc-for-doc."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        (r["doc_id"], r["n_paras"], r["n_kept"], r["text_clean"])
        for r in paragraph_dedup(df, sep="\n\n").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", DOCS)
    sep = "chr(10) || chr(10)"
    want = set(
        tuple(t)
        for t in con.execute(
            f"""
WITH p AS (SELECT doc_id, string_split(text, {sep}) AS arr FROM d),
x AS (SELECT doc_id, unnest(arr) AS para, unnest(range(len(arr))) AS pos FROM p),
e AS (SELECT doc_id, pos, para, md5(para) AS h FROM x WHERE length(para) >= 1),
w AS (SELECT doc_id, pos, para FROM (
        SELECT doc_id, pos, para,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        FROM e) WHERE rn = 1),
k AS (SELECT doc_id, pos, para FROM x WHERE length(para) < 1
      UNION ALL SELECT doc_id, pos, para FROM w),
c AS (SELECT doc_id, count(*) AS n_kept,
             string_agg(para, {sep} ORDER BY pos) AS text_clean
      FROM k GROUP BY doc_id)
SELECT p.doc_id, len(p.arr) AS n_paras, COALESCE(c.n_kept, 0) AS n_kept,
       COALESCE(c.text_clean, '') AS text_clean
FROM p LEFT JOIN c USING (doc_id)
"""
        ).fetchall()
    )
    assert got == want


def test_word_granularity_matches_driver_configuration(spark, sf_dir):
    """The driver-suite configuration (sep=' ' over the synthetic word
    streams) must conserve totals: kept words <= total words, and every
    distinct word survives exactly once corpus-wide."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    out = paragraph_dedup(docs, sep=" ")
    agg = out.agg(
        F.sum("n_paras").alias("np"), F.sum("n_kept").alias("nk")
    ).collect()[0]
    distinct_words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 1)
        .select("w")
        .distinct()
        .count()
    )
    empty_words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") < 1)
        .count()
    )
    assert agg["nk"] == distinct_words + empty_words
    assert agg["nk"] <= agg["np"]


def test_election_is_hash_aggregated_for_integral_ids(spark):
    """The winner election must plan as HashAggregate (map-side partial
    combine), never SortAggregate: min(struct(id,pos)) plans sort-based
    on BOTH sides of the shuffle — a full per-partition sort of every
    (digest,id,pos) triplet by md5 string, measured 15-85 s at 31M
    spans on first execution vs ~3 s for the hash-agg shape. At 100 TB
    every execution is a first execution, so the plan shape IS the
    cost."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    plan = paragraph_dedup(df, sep="\n\n")._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


def test_election_scans_corpus_once(spark):
    """r12: every span takes a SINGLE election pass under a
    prefix-disjoint binary key (0x01||digest for eligible spans,
    0x00||id:pos singletons for unconditional keeps). The previous form
    evaluated the corpus scan + split + posexplode TWICE — one subtree
    electing eligible spans, a second re-deriving the ineligible spans
    it unioned back — so the plan carried two scans of the source and a
    Union. Pin the optimized shape: exactly one scan of the corpus
    relation feeding the election side (the reassembly join re-reads
    the source once more by design — text moves once), and no Union."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    plan = paragraph_dedup(df, sep="\n\n")._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    # the whole pipeline touches the source exactly twice: once for the
    # election (keep-list), once for the reassembly text rewrite
    assert plan.count("LocalTableScan") <= 2


def test_decimal_election_parity_negative_and_extreme_ids(spark):
    """The id*10^10+pos decimal encoding must reproduce lexicographic
    (id,pos) min for NEGATIVE and near-Long.MAX ids (base-10^10
    positional arithmetic holds for the full signed-long range)."""
    rows = [
        (-9_223_372_036_854_775_000, "shared\n\nneg body"),
        (-1, "shared\n\nminus one"),
        (0, "shared\n\nzero"),
        (9_223_372_036_854_775_000, "shared\n\nbig"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["n_kept"] for r in paragraph_dedup(df, sep="\n\n").collect()}
    # most-negative id wins the shared paragraph; everyone keeps their body
    assert got == {
        -9_223_372_036_854_775_000: 2,
        -1: 1,
        0: 1,
        9_223_372_036_854_775_000: 1,
    }


def test_string_id_fallback_matches_long_id_results(spark):
    """Non-integral id types take the struct-min fallback; results must
    agree with the integral fast path on the same corpus (modulo the id
    representation)."""
    df_long = spark.createDataFrame(DOCS, "doc_id long, text string")
    df_str = df_long.selectExpr("cast(doc_id as string) as doc_id", "text")
    got_long = {
        (str(r["doc_id"]), r["n_paras"], r["n_kept"], r["text_clean"])
        for r in paragraph_dedup(df_long, sep="\n\n").collect()
    }
    got_str = {
        (r["doc_id"], r["n_paras"], r["n_kept"], r["text_clean"])
        for r in paragraph_dedup(df_str, sep="\n\n").collect()
    }
    assert got_long == got_str


def test_window_election_is_hash_aggregated_for_integral_ids(spark):
    """window_dedup's winner election must plan HashAggregate for the
    same reason as paragraph_dedup's (min(struct) ⇒ SortAggregate ⇒
    per-partition sort of every (digest,id,start) triplet)."""
    from picovdb_spark.operators.dedup import window_dedup

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "c d e f g h i j k l")],
        "doc_id long, text string",
    )
    plan = (
        window_dedup(df, window=5)._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortAggregate" not in plan


def test_decimal_vs_struct_election_randomized_parity(spark):
    """Seeded random corpus (mixed-sign ids, heavy paragraph sharing),
    run once with `long` ids (the decimal-encoded HashAggregate
    election) and once with the same ids as decimal(20,0) (a non-
    integral type, so the min(struct) election): the two must agree
    row-for-row — same winners under ties on digest, same reassembled
    text."""
    import random

    rng = random.Random(411)
    vocab = [f"p{j}" for j in range(30)]  # few distinct paragraphs => many collisions
    rows = []
    ids = rng.sample(range(-(10**12), 10**12), 200)
    for did in ids:
        paras = [vocab[rng.randrange(len(vocab))] for _ in range(rng.randrange(1, 6))]
        rows.append((did, "\n\n".join(paras)))
    df_long = spark.createDataFrame(rows, "doc_id long, text string")
    df_dec = df_long.selectExpr("cast(doc_id as decimal(20,0)) as doc_id", "text")

    def run(df):
        out = paragraph_dedup(df, sep="\n\n")
        plan = out._jdf.queryExecution().executedPlan().toString()
        return plan, {
            int(r["doc_id"]): (r["n_paras"], r["n_kept"], r["text_clean"])
            for r in out.collect()
        }

    plan_long, fast = run(df_long)
    plan_dec, ref = run(df_dec)
    assert "SortAggregate" not in plan_long  # decimal-encoded election
    assert "SortAggregate" in plan_dec  # min(struct) election
    assert len(fast) == 200
    assert fast == ref

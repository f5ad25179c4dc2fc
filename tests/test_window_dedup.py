"""window_dedup — cross-document repeated token-window removal (the
exact-substring dedup of Lee et al. 2022, at word granularity).

Planted layouts cover the cases paragraph_dedup cannot: duplicated runs
that straddle paragraph-free text, within-doc repeats, short docs below
the window, and partial overlap between a duplicated region and unique
context. Plus a bit-exact DuckDB twin of the whole
window → elect → cover → reassemble pipeline.
"""

from __future__ import annotations

import duckdb
import pytest

from picovdb_spark.operators.dedup import window_dedup

W = 4  # small window so fixtures stay readable

_BOILER = "w1 w2 w3 w4 w5"  # 5 tokens -> two length-4 windows
DOCS = [
    # doc 1: first occurrence of the boilerplate run — keeps everything
    (1, f"intro one two {_BOILER} outro alpha"),
    # doc 2: repeats the boilerplate mid-text — exactly those 5 tokens go
    (2, f"unique stuff here {_BOILER} more unique tail"),
    # doc 3: shorter than the window — untouched even though it repeats
    # a seen fragment
    (3, "w1 w2 w3"),
    # doc 4: within-doc repeat — the SECOND copy of its own 4-token run
    # drops, the first survives
    (4, "r1 r2 r3 r4 mid r1 r2 r3 r4"),
    # doc 5: empty document
    (5, ""),
]


@pytest.fixture(scope="module")
def cleaned(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    rows = window_dedup(df, window=W).collect()
    return {r["doc_id"]: r for r in rows}


def test_first_occurrence_keeps_later_loses(cleaned):
    assert cleaned[1]["text_clean"] == f"intro one two {_BOILER} outro alpha"
    assert cleaned[1]["n_removed"] == 0
    # doc 2: the 5 boilerplate tokens (union of its two loser windows)
    # are removed; the unique context on both sides survives
    assert cleaned[2]["text_clean"] == "unique stuff here more unique tail"
    assert cleaned[2]["n_removed"] == 5
    assert cleaned[2]["n_tokens"] == 11


def test_short_doc_passes_through(cleaned):
    assert cleaned[3]["text_clean"] == "w1 w2 w3"
    assert cleaned[3]["n_removed"] == 0


def test_within_doc_repeat_drops_second_copy(cleaned):
    assert cleaned[4]["text_clean"] == "r1 r2 r3 r4 mid"
    assert cleaned[4]["n_removed"] == 4


def test_empty_doc_one_row(cleaned):
    # "" splits to one empty token; no window, no edit
    assert cleaned[5]["n_tokens"] == 1
    assert cleaned[5]["n_removed"] == 0
    assert cleaned[5]["text_clean"] == ""


def test_one_row_per_input_doc(cleaned):
    assert sorted(cleaned) == [d for d, _ in DOCS]


def test_window_validation(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    with pytest.raises(ValueError, match="window"):
        window_dedup(df, window=1)


def test_duckdb_twin(spark, sf_dir):
    """Bit-exact vs a DuckDB implementation of the same algorithm on the
    real documents table (sf0.001 word streams)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_clean"])
        for r in window_dedup(docs, window=8).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            """
    WITH t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS arr
               FROM documents),
    w AS (SELECT doc_id, unnest(range(len(arr) - 8 + 1)) AS s,
                 unnest(list_transform(range(len(arr) - 8 + 1),
                        s -> md5(array_to_string(arr[s+1:s+8], ' ')))) AS h
          FROM t WHERE len(arr) >= 8),
    l AS (SELECT doc_id, s FROM (
            SELECT doc_id, s,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn,
                   count(*) OVER (PARTITION BY h) AS c
            FROM w) WHERE c > 1 AND rn > 1),
    rm AS (SELECT DISTINCT doc_id, unnest(range(s, s + 8)) AS pos FROM l),
    k AS (SELECT t.doc_id, u.pos, arr[u.pos + 1] AS tok
          FROM t, LATERAL (SELECT unnest(range(len(arr))) AS pos) u
          WHERE NOT EXISTS (SELECT 1 FROM rm
                            WHERE rm.doc_id = t.doc_id AND rm.pos = u.pos))
    SELECT t.doc_id, len(t.arr) AS n_tokens,
           len(t.arr) - count(k.pos) AS n_removed,
           coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS text_clean
    FROM t LEFT JOIN k ON t.doc_id = k.doc_id
    GROUP BY t.doc_id, t.arr
    """
        ).fetchall()
    }
    assert got == want


def test_pathological_doc_no_quadratic_reassembly(spark):
    """Round-6 verdict item: reassembly must be O(tokens + removed), not
    O(tokens x removed). One 120k-token doc losing half its tokens would
    cost ~3.6e9 membership probes under the former per-token
    array_contains scan (tens of seconds in codegen); the hash-set
    subtraction (array_except over positions) finishes the whole job in
    a few seconds. Correctness is asserted exactly; the wall bound is a
    generous regression tripwire for the quadratic shape only."""
    import time

    n_half = 60_000
    # unique prefix, then the same 60k-token run again: every second-
    # occurrence window is a duplicate, so positions [60000, 120000)
    # are removed — r ~= n/2
    run = " ".join(f"t{i}" for i in range(n_half))
    doc = spark.createDataFrame(
        [("big", run + " " + run), ("other", run)], "doc_id string, text string"
    )
    t0 = time.perf_counter()
    rows = {r["doc_id"]: r for r in window_dedup(doc, window=8).collect()}
    wall = time.perf_counter() - t0
    big = rows["big"]
    assert big["n_tokens"] == 2 * n_half
    # the first copy in "big" wins (doc_id "big" < "other" on the first
    # window ties? no: election is min(struct(id, s)) per digest, and
    # "big" < "other"), so big keeps its first run, loses the second;
    # "other" loses everything to big's windows
    assert big["n_removed"] == n_half
    assert big["text_clean"] == run
    assert rows["other"]["n_removed"] == n_half
    assert rows["other"]["text_clean"] == ""
    assert wall < 30.0, f"reassembly took {wall:.1f}s — quadratic shape is back"


def _md5_window_rows(docs, id_col, text_col, window):
    """Catalyst twin of `dedup._window_hash_rows`: one (id, s, __h1, __h2)
    row per window, keyed by md5 of the window's token join (__h2 is a
    constant — the election and loser probe only need key equality)."""
    from pyspark.sql import functions as F

    arr = F.split(F.coalesce(F.col(text_col), F.lit("")), " ", -1)
    n = F.size("__arr")
    hashes = F.transform(
        F.sequence(F.lit(0), n - F.lit(window)),
        lambda s: F.md5(F.array_join(F.slice(F.col("__arr"), s + 1, window), " ")),
    )
    return (
        docs.select(F.col(id_col), arr.alias("__arr"))
        .filter(n >= window)
        .select(F.col(id_col), F.posexplode(hashes).alias("s", "__h1"))
        .withColumn("__h2", F.lit(0).cast("long"))
    )


def test_window_dedup_poly_kernel_matches_md5_kernel(spark, monkeypatch):
    """Seeded random corpus (heavy window sharing, empty/unicode
    tokens): window_dedup under the vectorized polynomial kernel must
    produce output identical to the same operator keyed by md5 of each
    window (the Catalyst twin swapped in for `_window_hash_rows`) — the
    end-to-end form of the partition property in test_properties.py."""
    import random

    from picovdb_spark.operators import dedup as D

    rng = random.Random(413)
    vocab = ["a", "bb", "Ω", "字x", "", "tok5", "tok6", "tok7"]
    rows = []
    for did in rng.sample(range(-(10**9), 10**9), 120):
        toks = [vocab[rng.randrange(len(vocab))] for _ in range(rng.randrange(0, 14))]
        rows.append((did, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run():
        return sorted(
            (r["doc_id"], r["n_tokens"], r["n_removed"], r["text_clean"])
            for r in D.window_dedup(df, window=3).collect()
        )

    poly = run()
    monkeypatch.setattr(D, "_window_hash_rows", _md5_window_rows)
    md5 = run()
    assert any(r[2] for r in md5)  # the corpus really shares windows
    assert poly == md5

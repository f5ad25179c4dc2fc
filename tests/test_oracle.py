"""Local mirror of the driver's t2 correctness gate: run every
`__spark_entry__.queries()` entry at sf0.01 and compare with its DuckDB
`oracle_sql()` twin — row count, column set, dtype kinds, and
order-insensitive values (exact for non-floats, 1e-9 for floats; the
engine rounds floats to 6 decimals on both sides so they should be
bit-equal — tolerance only covers platform ulps).
"""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_DIR_CORRECTNESS

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR_CORRECTNESS}/{t}.parquet'"
        )
    yield con
    con.close()


def _normalize(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


QUERY_NAMES = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(name, spark, duck):
    oracles = entry_mod.oracle_sql()
    sdf = entry_mod.queries()[name](spark, SF_DIR_CORRECTNESS)
    got = sdf.toPandas()
    if name not in oracles:
        assert len(got) >= 0  # rows-only check (non-SQL-expressible op)
        return
    want = duck.execute(oracles[name]).fetchdf()

    assert sorted(got.columns) == sorted(want.columns), f"{name}: column mismatch"
    assert len(got) == len(want), f"{name}: row count {len(got)} != {len(want)}"
    g, w = _normalize(got), _normalize(want)
    for col in g.columns:
        gk, wk = g[col].dtype.kind, w[col].dtype.kind
        assert (gk == wk) or {gk, wk} <= {"i", "u"}, f"{name}.{col}: dtype {g[col].dtype} vs {w[col].dtype}"
        for i, (a, b) in enumerate(zip(g[col], w[col])):
            if isinstance(a, float) or isinstance(b, float):
                ok = (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=0, abs_tol=1e-9)
            else:
                ok = a == b
            assert ok, f"{name}.{col}[{i}]: {a!r} != {b!r}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "query_id" in df.columns and "_metrics_" in df.columns


def _catalyst_sig_bands(docs, shingle_n, num_hashes, bands):
    """(doc_id, sig, bands) by the documented Catalyst reference form —
    minhash_signature/band_value over transform(sh, md5_hash32) — for
    docs with at least one shingle."""
    from pyspark.sql import functions as F

    from picovdb_spark.functions.text import band_value, md5_hash32, minhash_signature
    from picovdb_spark.operators import dedup as D

    rows = num_hashes // bands
    hashed = (
        D._shingled(docs, "doc_id", "text", shingle_n)
        .filter(F.size("sh") > 0)
        .withColumn("hs", F.transform(F.col("sh"), md5_hash32))
    )
    sigs = hashed.select("doc_id", *minhash_signature(F.col("hs"), num_hashes))
    return sigs.select(
        "doc_id",
        F.array(*[F.col(f"mh{i}") for i in range(num_hashes)]).alias("sig"),
        F.array(
            *[
                band_value([F.col(f"mh{b * rows + r}") for r in range(rows)])
                for b in range(bands)
            ]
        ).alias("bands"),
    )


def test_minhash_sig_arrow_kernel_matches_catalyst_reference(spark):
    """The Arrow signature+banding kernel (`minhash_index`, the route
    `lsh_bucket_stats` bands; it replaced interpreted Catalyst HOFs that
    cost 31 s of the 44 s 500k LSH wall) must stay BIT-IDENTICAL to the
    documented Catalyst reference form — minhash_signature/band_value
    over transform(sh, md5_hash32) — which is also what the DuckDB
    oracle twins restate in SQL. Persisted minhash_index epochs depend
    on this identity across upgrades."""
    from pyspark.sql import functions as F

    from picovdb_spark.functions.text import tokens
    from picovdb_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 50}" for j in range(3 + i % 20))) for i in range(200)]
        + [(900, ""), (901, None), (902, "a b")],
        "doc_id long, text string",
    )
    num_hashes, bands = 16, 4
    ref = {
        r["doc_id"]: (r["sig"], r["bands"])
        for r in _catalyst_sig_bands(docs, 3, num_hashes, bands).collect()
    }
    got_rows = D.minhash_index(
        docs, num_hashes=num_hashes, bands=bands, include_short=False
    ).collect()
    got = {r["doc_id"]: (r["sig"], r["bands"]) for r in got_rows}
    assert len(got_rows) == len(got) == 200  # 900-902 sub-shingle: dropped
    assert ref == got

    # short-route form: sub-shingle rows kept with NULL sig/bands beside
    # their text_hash (Catalyst md5 of the normalized token join);
    # signature rows unchanged
    short_ref = {
        r["doc_id"]: r["h"]
        for r in docs.select(
            "doc_id",
            F.md5(F.concat_ws(" ", tokens(F.coalesce(F.col("text"), F.lit(""))))).alias("h"),
        ).collect()
    }
    kept = {
        r["doc_id"]: r
        for r in D.minhash_index(
            docs, num_hashes=num_hashes, bands=bands, include_short=True
        ).collect()
    }
    assert len(kept) == 203
    for short_id in (900, 901, 902):
        assert kept[short_id]["sig"] is None and kept[short_id]["bands"] is None
        assert kept[short_id]["text_hash"] == short_ref[short_id]
    for doc_id, (sig, bds) in ref.items():
        assert kept[doc_id]["sig"] == sig and kept[doc_id]["bands"] == bds
        assert kept[doc_id]["text_hash"] is None


def test_lsh_bucket_stats_matches_catalyst_reference(spark):
    """`lsh_bucket_stats` equals the bucket statistics of the Catalyst
    reference band rows on a corpus with one skewed boilerplate bucket,
    sub-shingle docs, empty text and NULL text. Sub-shingle, empty and
    NULL docs have no signature, so they must not form a bucket of their
    own: six of them in a shared NULL bucket per band would add 15
    candidate pairs per band and one bucket per band."""
    from pyspark.sql import functions as F

    from picovdb_spark.operators.dedup import lsh_bucket_stats

    boiler = "cookie banner accept all cookies to continue reading"
    rows = [(i, " ".join(f"w{(i * 5 + j) % 40}" for j in range(4 + i % 9))) for i in range(120)]
    rows += [(1000 + i, boiler) for i in range(25)]  # one skewed bucket per band
    rows += [(2000, ""), (2001, None), (2002, "a b"), (2003, "x"), (2004, "  "), (2005, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    num_hashes, bands = 16, 4

    sizes = (
        _catalyst_sig_bands(docs, 3, num_hashes, bands)
        .select(F.posexplode("bands").alias("band_idx", "band"))
        .groupBy("band_idx", "band")
        .agg(F.count("*").alias("n"))
    )
    ref_row = sizes.agg(F.percentile_approx("n", 0.99).alias("p99")).collect()[0]
    ns = [r["n"] for r in sizes.collect()]
    ref = {
        "buckets": len(ns),
        "max_bucket": max(ns),
        "p99_bucket": int(ref_row["p99"]),
        "candidate_pairs": sum(n * (n - 1) // 2 for n in ns),
    }
    assert ref["max_bucket"] == 25  # the boilerplate bucket
    assert lsh_bucket_stats(docs, num_hashes=num_hashes, bands=bands) == ref

"""Property-based tests (hypothesis) for the scalar vector kernels:
the Spark expressions must agree with a NumPy reference on arbitrary
float32 inputs — including zeros, subnormals, and mixed magnitudes.

Each example ships a BATCH of vectors through one Spark job (per-example
jobs would make shrinking pathologically slow)."""

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from picovdb_spark.functions.vector import auto_id, dot, l2_norm, l2_normalize
from pyspark.sql import functions as F

DIM = 8

finite_f32 = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False, width=32
)
vec = st.lists(finite_f32, min_size=DIM, max_size=DIM)


@pytest.fixture(scope="module")
def sess(spark):
    return spark


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(vs=st.lists(vec, min_size=1, max_size=16))
def test_normalize_matches_numpy(sess, vs):
    df = sess.createDataFrame(
        [([float(x) for x in v],) for v in vs], schema="v array<float>"
    )
    got = df.select(l2_normalize(F.col("v")).alias("n"), l2_norm(F.col("v")).alias("m")).collect()
    for (v, row) in zip(vs, got):
        x = np.asarray(v, dtype=np.float32).astype(np.float64)
        norm = float(np.sqrt((x * x).sum()))
        assert math.isclose(row["m"], norm, rel_tol=1e-12, abs_tol=1e-12)
        n = np.asarray(row["n"])
        if norm == 0.0:
            expected = np.zeros(DIM)
            expected[0] = 1.0  # zero ⇒ e₀ invariant (pico_vdb.py:62-67)
            assert np.allclose(n, expected)
        else:
            assert np.allclose(n, x / norm, rtol=1e-9, atol=1e-12)
            # unit length within float error
            assert math.isclose(float((n * n).sum()), 1.0, rel_tol=0, abs_tol=1e-9)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(pairs=st.lists(st.tuples(vec, vec), min_size=1, max_size=16))
def test_dot_matches_numpy_and_is_symmetric(sess, pairs):
    df = sess.createDataFrame(
        [([float(x) for x in a], [float(x) for x in b]) for a, b in pairs],
        schema="a array<float>, b array<float>",
    )
    got = df.select(
        dot(F.col("a"), F.col("b")).alias("ab"), dot(F.col("b"), F.col("a")).alias("ba")
    ).collect()
    for (a, b), row in zip(pairs, got):
        xa = np.asarray(a, dtype=np.float32).astype(np.float64)
        xb = np.asarray(b, dtype=np.float32).astype(np.float64)
        want = float((xa * xb).sum())
        # same-order left fold ⇒ tight agreement; symmetry may differ
        # only by float association error
        assert math.isclose(row["ab"], want, rel_tol=1e-9, abs_tol=1e-6)
        assert math.isclose(row["ab"], row["ba"], rel_tol=1e-9, abs_tol=1e-6)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(v=vec)
def test_auto_id_deterministic_and_scale_invariant(sess, v):
    """Content-hash id: equal vectors get equal ids; positive scaling
    preserves the id (hash of the NORMALIZED vector) unless the vector
    is zero."""
    rows = [
        ([float(x) for x in v],),
        ([float(x) for x in v],),
        ([float(x) * 2.0 for x in v],),
    ]
    df = sess.createDataFrame(rows, schema="v array<float>")
    ids = [r[0] for r in df.select(auto_id(F.col("v"))).collect()]
    assert ids[0] == ids[1]
    norm = math.sqrt(sum(float(x) * float(x) for x in v))
    if norm > 0 and all(abs(x) < 1e5 for x in v):
        assert ids[0] == ids[2]  # scale-invariant on comfortably finite input


def test_l2_normalize_empty_array_stays_empty(sess):
    """sequence(1,0) counts DOWN — the e0 branch must not turn a length-0
    vector into [1.0, 0.0]."""
    from pyspark.sql import functions as F

    df = sess.createDataFrame([([],), ([0.0, 0.0],)], schema="v array<float>")
    got = [r[0] for r in df.select(l2_normalize(F.col("v"))).collect()]
    assert got[0] == []
    assert got[1] == [1.0, 0.0]  # zero vector of dim 2 ⇒ e0


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(vs=st.lists(vec, min_size=1, max_size=16))
def test_quantize_int8_round_trip_bound(sess, vs):
    """Codes stay in [-127, 127]; reconstruction error per component is
    <= scale/2 (the rounding radius); zero vectors round-trip exactly."""
    from picovdb_spark.functions.vector import dequantize_int8, quantize_int8

    df = sess.createDataFrame(
        [([float(x) for x in v],) for v in vs], schema="v array<float>"
    )
    got = df.select(
        quantize_int8(F.col("v")).alias("qv"),
        dequantize_int8(quantize_int8(F.col("v"))).alias("r"),
    ).collect()
    for v, row in zip(vs, got):
        x = np.asarray(v, dtype=np.float32).astype(np.float64)
        scale = row["qv"]["scale"]
        codes = np.asarray(row["qv"]["q"], dtype=np.int64)
        recon = np.asarray(row["r"])
        assert codes.min() >= -127 and codes.max() <= 127
        if np.abs(x).max() == 0.0:
            assert scale == 1.0
            assert np.array_equal(recon, x)
        else:
            assert math.isclose(scale, np.abs(x).max() / 127.0, rel_tol=1e-12)
            assert np.abs(recon - x).max() <= scale / 2 + 1e-15


def test_quantize_int8_empty_vector(sess):
    from picovdb_spark.functions.vector import dequantize_int8, quantize_int8

    df = sess.createDataFrame([([],)], schema="v array<float>")
    row = df.select(
        quantize_int8(F.col("v")).alias("qv"),
        dequantize_int8(quantize_int8(F.col("v"))).alias("r"),
    ).first()
    assert row["qv"]["q"] == [] and row["r"] == []


# quantized values make rounded-score ties COMMON rather than measure-zero,
# which is exactly where the gemm/sql dual-path equivalence can break
tie_f32 = st.sampled_from([0.0, 0.25, -0.25, 0.5, -0.5, 1.0, -1.0])
tie_vec = st.lists(tie_f32, min_size=DIM, max_size=DIM)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    store_vs=st.lists(tie_vec, min_size=1, max_size=24),
    q_vs=st.lists(tie_vec, min_size=1, max_size=4),
    k=st.integers(min_value=1, max_value=5),
)
def test_batch_query_gemm_equals_sql_on_tie_heavy_stores(sess, store_vs, q_vs, k):
    """Dual-path equivalence under adversarial inputs: quantized
    components force massive rounded-score ties (plus zero vectors and
    duplicate rows), and a 7-row Arrow batch cap forces the multi-batch
    merged-emit path. The float64 GEMM kernel must equal the pure-SQL
    formulation EXACTLY — both round the same float64 values, so this
    is the invariant the DuckDB oracle gate rests on. (float32's
    looser same-sets/1e-4 contract is pinned on real data in
    test_similarity.py; on tie-heavy inputs its rounded-boundary
    membership legitimately depends on precision.)"""
    from picovdb_spark.operators.similarity import batch_query

    store = sess.createDataFrame(
        [(f"s{i}", [float(x) for x in v]) for i, v in enumerate(store_vs + store_vs[:2])],
        "_id_ string, _vector_ array<float>",
    )
    queries = sess.createDataFrame(
        [(f"q{i}", [float(x) for x in v]) for i, v in enumerate(q_vs)],
        "query_id string, _vector_ array<float>",
    )
    old = sess.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    sess.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        sql_r = sorted(map(tuple, batch_query(store, queries, top_k=k, method="sql").collect()))
        g64 = sorted(map(tuple, batch_query(store, queries, top_k=k, method="gemm").collect()))
    finally:
        sess.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert g64 == sql_r


# --------------------------------------------------------- Arrow-kernel twins

# Arbitrary text including unicode, repeated/empty tokens, and multi-space
# runs — the token/shingle edge cases (single-space split keeps empty
# strings; md5 operates on UTF-8 bytes on both engines).
doc_text = st.one_of(
    st.none(),
    st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=120),
    st.lists(
        st.sampled_from(["a", "bb", "ccc", "Ω", "字", "", "x y"]), max_size=30
    ).map(" ".join),
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(doc_text, min_size=1, max_size=12))
def test_signature_kernel_matches_catalyst_twin_on_arbitrary_text(sess, texts):
    """Property form of the Arrow-kernel pin: on ARBITRARY text
    (unicode, empty tokens, multi-space runs) the vectorized
    signature+banding kernel (`minhash_index`) equals the declarative
    Catalyst twin bit-for-bit — both hash the UTF-8 of the same
    shingle strings."""
    from picovdb_spark.functions.text import band_value, md5_hash32, minhash_signature
    from picovdb_spark.operators import dedup as D

    docs = sess.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    num_hashes, bands = 8, 2
    rows = num_hashes // bands
    sh = D._shingled(docs, "doc_id", "text", 2)

    hashed = sh.filter(F.size("sh") > 0).withColumn(
        "hs", F.transform(F.col("sh"), md5_hash32)
    )
    sigs = hashed.select("doc_id", *minhash_signature(F.col("hs"), num_hashes))
    ref = {
        r["doc_id"]: (r["sig"], r["bands"])
        for r in sigs.select(
            "doc_id",
            F.array(*[F.col(f"mh{i}") for i in range(num_hashes)]).alias("sig"),
            F.array(
                *[
                    band_value([F.col(f"mh{b * rows + r}") for r in range(rows)])
                    for b in range(bands)
                ]
            ).alias("bands"),
        ).collect()
    }
    got = {
        r["doc_id"]: (r["sig"], r["bands"])
        for r in D.minhash_index(
            docs, shingle_n=2, num_hashes=num_hashes, bands=bands, include_short=False
        ).collect()
    }
    assert ref == got


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(doc_text, min_size=1, max_size=10))
def test_window_hash_poly_kernel_partitions_windows_like_md5(sess, texts):
    """The vectorized polynomial window-hash kernel must emit the same
    (doc, start) windows as the Catalyst
    transform/sequence/md5(array_join(slice)) form and induce the SAME
    hash-equality PARTITION over them — that partition is the only thing
    the election consumes, so partition equality on arbitrary text
    (unicode, empty tokens, multi-space runs, doc boundaries inside one
    Arrow chunk) pins both the byte-offset arithmetic and
    collision-freedom at test scale."""
    from collections import defaultdict

    from picovdb_spark.operators import dedup as D

    window = 3
    docs = sess.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    arr = F.split(F.coalesce(F.col("text"), F.lit("")), " ", -1)
    toks = docs.select(F.col("doc_id"), arr.alias("__arr"))
    n = F.size("__arr")
    hashes = F.transform(
        F.sequence(F.lit(0), n - F.lit(window)),
        lambda s: F.md5(F.array_join(F.slice(F.col("__arr"), s + 1, window), " ")),
    )
    md5_rows = (
        toks.filter(n >= window)
        .select(F.col("doc_id"), F.posexplode(hashes).alias("s", "__h"))
        .collect()
    )
    poly_rows = D._window_hash_rows(docs, "doc_id", "text", window).collect()

    def partition(keyed):
        groups = defaultdict(set)
        for key, win in keyed:
            groups[key].add(win)
        return {frozenset(v) for v in groups.values()}

    md5 = partition((r["__h"], (r["doc_id"], r["s"])) for r in md5_rows)
    poly = partition(((r["__h1"], r["__h2"]), (r["doc_id"], r["s"])) for r in poly_rows)
    assert len(poly_rows) == len(md5_rows)
    assert poly == md5


def _shingle_hash_lists(lists) -> list:
    """String-space reference for `_hashed_shingle_lists`: md5_hash32 of
    each shingle string (first 4 digest bytes big-endian == first 8 hex
    chars as an int), per row."""
    import hashlib

    return [
        [int.from_bytes(hashlib.md5(s.encode()).digest()[:4], "big") for s in lst]
        for lst in lists
    ]


def test_sig_band_lists_from_hashes_maps_empty_lists_to_null():
    """The shared signature kernel maps an empty hash list (a sub-shingle
    doc) to (None, None) without disturbing its neighbours in the batch:
    min over an empty set is undefined, and the flattened reduceat must
    keep every other row's offsets aligned."""
    from picovdb_spark.operators.dedup import (
        _minhash_coeff_arrays,
        _sig_band_lists_from_hashes,
    )

    A, B = _minhash_coeff_arrays(16, 4)
    sig, bands = _sig_band_lists_from_hashes(
        [[], [7, 11], [], [], [7, 11], [3]], A, B, 16, 4
    )
    for k in (0, 2, 3):
        assert sig[k] is None and bands[k] is None
    assert sig[1] == sig[4] and bands[1] == bands[4]  # real rows intact
    assert len(sig[1]) == 16 and len(bands[1]) == 4
    assert sig[5] != sig[1]
    with pytest.raises(ValueError, match="must divide"):
        _minhash_coeff_arrays(16, 5)


def test_hashed_shingle_lists_matches_string_form():
    """The slice-md5 fused shingle hasher must emit the SAME
    md5_hash32 multiset per row as the string-space form
    (`_shingle_hash_lists` over `_shingle_set(_tok_list(...))`) — order
    excepted (both are set-derived; every consumer is order-free). The
    randomized corpus covers the byte-offset edge cases: non-ASCII
    (multi-byte UTF-8 tokens), repeated shingles, multi-space runs
    (empty-token filtering), None/NaN/empty text, sub-shingle docs, and
    numeric ids coming through pandas object columns."""
    import random

    from picovdb_spark.operators.dedup import (
        _hashed_shingle_lists,
        _shingle_set,
        _tok_list,
    )

    rng = random.Random(1207)
    vocab = ["the", "café", "naïve", "δ", "tok", "x", "reißverschluss", "日本語", "a"]
    texts: list = [None, "", " ", float("nan"), "one two", "one  two   three"]
    for _ in range(200):
        n_tok = rng.randint(0, 12)
        toks = [rng.choice(vocab) for _ in range(n_tok)]
        if rng.random() < 0.3 and toks:
            toks = toks + toks  # force repeated shingles
        sep = "  " if rng.random() < 0.2 else " "
        texts.append(sep.join(toks).upper() if rng.random() < 0.2 else sep.join(toks))
    for n in (1, 2, 3, 5):
        fused = _hashed_shingle_lists(texts, n)
        strings = _shingle_hash_lists(
            [_shingle_set(_tok_list(t), n) for t in texts]
        )
        assert [sorted(x) for x in fused] == [sorted(x) for x in strings], n

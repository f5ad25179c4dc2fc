"""Deduplication operators for large-scale training-data pipelines.

The reference's only dedup is content-hash auto-id on ingest
(picovdb's pico_vdb.py:54-55,424-426 — identical vectors collapse to one
id). These operators generalize that to the standard LLM-corpus dedup
ladder, each designed Spark-first:

- exact_dedup             — every doc → smallest id sharing its md5(text)
- minhash_lsh_pairs       — shingle → minhash → band-bucket join → exact
                            Jaccard verify (the scalable near-dup path)
- lsh_bucket_stats        — band-bucket size distribution of that join
- ngram_jaccard_pairs     — exact all-pairs shingle Jaccard (O(n²) baseline)
- simhash_fingerprint     — one document's SimHash (shared with streaming)
- simhash                 — per-doc SimHash column, map-side
- simhash_pairs           — pigeonhole block join + exact Hamming verify
- embedding_near_dup      — cosine-threshold self-join (GEMM, RP-LSH or SQL)
- connected_components    — pair list → transitive dup clusters
- keep_best_per_component — keep the best-scoring doc per cluster
- paragraph_dedup         — drop repeated paragraphs corpus-wide
- window_dedup            — drop repeated token windows corpus-wide
- minhash_index           — text-free persistable MinHash index
- minhash_dedup_against   — screen a new batch against that index
- centroid_affinity       — nearest-centroid cosine/distance per row
- semantic_dedup_pairs    — SemDeDup: cosine pairs within k-means clusters

Every hash an output depends on is md5-derived (functions/text.py), so
every operator has a bit-identical DuckDB oracle; `window_dedup`'s
internal polynomial window keys only decide equality, and the oracle
checks the text they produce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from picovdb_spark.functions.text import (
    MINHASH_PRIME,
    _minhash_coeffs,
    jaccard,
)
from picovdb_spark.functions.vector import dot, l2_normalize
from picovdb_spark.operators.kernels import prescan_error_bound


def exact_dedup(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: every doc maps to the smallest id
    sharing its md5(text). Output (doc_id, canonical_id, is_dup).

    One hash-shuffle on the 128-bit digest; at 100 TB this is the classic
    map-side-combine groupBy — no row ever carries the full text through
    the shuffle, only (digest, id). The digest ships as 16-byte binary
    (unhex) — same equality, half the key bytes of the hex form."""
    hashed = docs.select(
        F.col(id_col), F.unhex(F.md5(F.col(text_col))).alias("__h")
    )
    w = Window.partitionBy("__h")
    return (
        hashed.withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("is_dup", F.col(id_col) != F.col("canonical_id"))
        .select(id_col, "canonical_id", "is_dup")
    )


def _tok_list(text) -> list:
    """THE tokenization both shingle kernels share — null/NaN text has
    NO tokens (matching the Catalyst tokens()/word_shingles twins:
    split(lower(null)) is null ⇒ no shingles; str(None) would mint a
    spurious 'none' token, visible at shingle_n=1 and to any
    token-count boundary check). One definition so `minhash_index`
    signatures can never drift from `minhash_lsh_pairs` signatures."""
    if text is None or (isinstance(text, float) and text != text):
        return []
    return [t for t in str(text).lower().split(" ") if t]


def _shingle_set(toks: list, n: int) -> list:
    """Distinct word n-grams of a token list; [] below n tokens."""
    if len(toks) < n:
        return []
    return list({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})


def _shingled(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Distinct word n-gram shingles per doc, (id, sh: array<string>), as
    an Arrow-batched kernel.

    Semantics identical to `functions.text.word_shingles` (and its DuckDB
    twin) except element ORDER inside the array, which no consumer
    observes (intersect/union and counts are order-free). The Catalyst
    expression chain (sequence→transform→element_at×n→concat_ws→
    array_distinct) allocates per-position; on long documents the Python
    set kernel is ~10× faster, and it is embarrassingly parallel — no
    shuffle."""
    from collections.abc import Iterator

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(id_col, docs.schema[id_col].dataType),
            T.StructField("sh", T.ArrayType(T.StringType())),
        ]
    )

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            out = [_shingle_set(_tok_list(text), n) for text in pdf[text_col]]
            yield pd.DataFrame({id_col: pdf[id_col], "sh": out})

    return docs.select(id_col, text_col).mapInPandas(kernel, schema=out_schema)


def _hashed_shingle_lists(texts, n: int, *, tokenized: bool = False) -> list:
    """Per row, the md5_hash32 int of every distinct shingle in
    `_shingle_set(_tok_list(text), n)`, computed WITHOUT constructing the
    per-position shingle strings.

    Equivalence (pinned by test_hashed_shingle_lists_matches_string_form):
    the shingle string for positions i..i+n-1 is ``" ".join(toks[i:i+n])``,
    and the whole token list joined once —``" ".join(toks)`` — contains
    every shingle as the byte SLICE between token-start offsets, because
    tokens are space-free by construction (split(" ") + empty filter) and
    UTF-8 multi-byte sequences never contain 0x20. So one encode + one
    vectorized space-scan yields every shingle's bytes as a memoryview
    slice, and ``md5(slice)`` equals ``md5(shingle.encode())`` exactly.
    Distinctness moves from string space to full-digest space — identical
    (a 128-bit digest collision is the only divergence), so the output is
    the same multiset of md5_hash32 ints as the string form, in arbitrary
    set order (every consumer is order-insensitive: min-perm signatures,
    array_intersect/array_union verify, and the DuckDB twins all carry
    set semantics). md5_hash32 is the first 4 digest bytes big-endian,
    i.e. the first 8 hex chars as an int.

    The per-position work is one C md5 over a borrowed slice + one set
    insert of the digest; the string form's per-position ``" ".join`` +
    string-set insert + per-distinct encode dominated the LSH kernel wall
    (~15 s of an 18.4 s per-partition wall at the 1M-doc tier).

    `tokenized=True`: `texts` are already `_tok_list`-shaped token
    lists (the pruned decontaminate path, which must tokenize before
    its disjointness check) — skips re-tokenization, same output."""
    import hashlib

    md5 = hashlib.md5
    from_bytes = int.from_bytes
    out: list = []
    for text in texts:
        toks = text if tokenized else _tok_list(text)
        nw = len(toks) - n + 1
        if nw <= 0:
            out.append([])
            continue
        joined = " ".join(toks)
        enc = joined.encode()
        # token-start byte offsets: for pure-ASCII text (the common
        # case) char lengths ARE byte lengths; otherwise re-measure each
        # token in bytes (tokens are space-free, so offsets fully
        # determine every shingle slice either way)
        off = [0] * (len(toks) + 1)
        k = 0
        p = 0
        if len(enc) == len(joined):
            for t in toks:
                p += len(t) + 1
                k += 1
                off[k] = p
        else:
            for t in toks:
                p += len(t.encode()) + 1
                k += 1
                off[k] = p
        mv = memoryview(enc)
        seen = {md5(mv[off[i] : off[i + n] - 1]).digest() for i in range(nw)}
        out.append([from_bytes(d[:4], "big") for d in seen])
    return out


def _shingled_hashed(
    docs: DataFrame, id_col: str, text_col: str, n: int, token_set=None
) -> DataFrame:
    """(id, sh: array<long>) of distinct-shingle md5_hash32 ints per doc,
    via the slice-md5 kernel (`_hashed_shingle_lists`) — for consumers
    that only ever HASH the gram strings (decontaminate joins on
    md5_hash32(gram)), so no gram string crosses the JVM↔Python boundary.

    `token_set` (optional frozenset): token-overlap prune for screens
    against a SMALL reference set (decontaminate) — docs whose token
    set is disjoint emit NO row at all: they can share no n-gram with
    the reference. The disjointness check is O(tokens) frozenset lookups
    on the already-tokenized doc, orders cheaper than gram hashing."""
    from collections.abc import Iterator

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(id_col, docs.schema[id_col].dataType),
            T.StructField("sh", T.ArrayType(T.LongType())),
        ]
    )

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            if token_set is None:
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "sh": _hashed_shingle_lists(pdf[text_col], n),
                    }
                )
                continue
            ids, toks_kept = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = _tok_list(text)
                if token_set.isdisjoint(toks):
                    continue
                ids.append(did)
                toks_kept.append(toks)
            if not ids:
                # an all-pruned batch must yield NOTHING: an empty
                # plain-list DataFrame infers float64 columns, which
                # Arrow cannot cast to (id_type, list<long>)
                continue
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "sh": _hashed_shingle_lists(toks_kept, n, tokenized=True),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(kernel, schema=out_schema)


def _minhash_coeff_arrays(num_hashes: int, bands: int) -> tuple:
    """The seeded `_minhash_coeffs` as int64 (A, B) vectors, after
    checking that `bands` divides `num_hashes` — a silent floor would
    band only rows·bands of the coordinates: lower recall with no
    signal (simhash_pairs' bits/bands guard is the same contract)."""
    import numpy as np

    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}); "
            f"got remainder {num_hashes % bands}"
        )
    coeffs = _minhash_coeffs(num_hashes)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b in coeffs], dtype=np.int64)
    return A, B


def _sig_band_lists_from_hashes(hlists: list, A, B, num_hashes: int, bands: int):
    """THE MinHash signature + banding math, over per-row md5_hash32
    lists (`_hashed_shingle_lists`): mh_i = min over the row's hashes
    of (a_i·h + b_i) mod MINHASH_PRIME, band = md5 of the comma-joined
    decimal slice of `num_hashes // bands` coordinates — bit-identical
    to the Catalyst `minhash_signature`/`band_value` twins and the
    DuckDB oracle (test-pinned). Vectorized as `num_hashes` mul-mod
    passes over the flattened batch, not interpreted per-element HOFs.
    Returns (sig_out, band_out) aligned with `hlists`; an empty list
    gets (None, None). `A`/`B` come from `_minhash_coeff_arrays`."""
    import hashlib

    import numpy as np

    rows = num_hashes // bands
    n_rows = len(hlists)
    lens = np.fromiter((len(x) for x in hlists), dtype=np.int64, count=n_rows)
    total = int(lens.sum())
    flat = np.fromiter(
        (h for lst in hlists for h in lst), dtype=np.int64, count=total
    )
    starts = np.zeros(n_rows, dtype=np.int64)
    if n_rows > 1:
        np.cumsum(lens[:-1], out=starts[1:])
    nonempty = lens > 0
    ne_starts = starts[nonempty]
    n_ne = int(nonempty.sum())
    mins = np.empty((n_ne, num_hashes), dtype=np.int64)
    if n_ne:
        for i in range(num_hashes):
            # a < 2^30, h < 2^32 ⇒ a·h + b < 2^62: no int64 overflow
            perm = (A[i] * flat + B[i]) % MINHASH_PRIME
            mins[:, i] = np.minimum.reduceat(perm, ne_starts)
    sig_out: list = []
    band_out: list = []
    j = 0
    for k in range(n_rows):
        if not nonempty[k]:
            # min over an empty shingle set is undefined ⇒ null (sig, bands)
            sig_out.append(None)
            band_out.append(None)
            continue
        s = mins[j]
        j += 1
        sig_out.append([int(v) for v in s])
        band_out.append(
            [
                hashlib.md5(
                    ",".join(
                        str(int(v)) for v in s[b * rows : (b + 1) * rows]
                    ).encode()
                ).hexdigest()
                for b in range(bands)
            ]
        )
    return sig_out, band_out


def _shingled_sig_bands(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """(id, shh, bands) in ONE Arrow pass — `minhash_lsh_pairs`' kernel:
    tokenize, hash every distinct shingle once (`_hashed_shingle_lists`),
    then min-perm and band (`_sig_band_lists_from_hashes`). One cached
    frame serves both the banded self-join (`bands`) and the Jaccard
    verify (`shh`, the md5_hash32 int per shingle). The verify's
    |∩|/|∪| over hash ints matches the string form up to the operator's
    documented 2^-32 md5_hash32 collision tolerance (the DuckDB oracle
    twin hashes the same way, so the gate comparison is exact). Empty
    shingle lists keep their row with bands=NULL (posexplode skips
    them; they can never be candidates)."""
    from pyspark.sql import types as T

    A, B = _minhash_coeff_arrays(num_hashes, bands)
    out_schema = T.StructType(
        [
            docs.schema[id_col],
            T.StructField("shh", T.ArrayType(T.LongType())),
            T.StructField("bands", T.ArrayType(T.StringType())),
        ]
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            hlists = _hashed_shingle_lists(pdf[text_col], n)
            _, band_out = _sig_band_lists_from_hashes(hlists, A, B, num_hashes, bands)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "shh": hlists, "bands": band_out}
            )

    return docs.select(id_col, text_col).mapInPandas(kernel, schema=out_schema)


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    round_to: int = 6,
    max_bucket_size: int | None = None,
    stage_times: dict | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    Pipeline: distinct word-n-gram shingles per doc → 16 md5-minhashes →
    4 bands of 4 → docs sharing any band bucket become candidates →
    exact Jaccard verification ≥ threshold.

    Scale shape: signatures are one narrow row per doc; the candidate
    join shuffles on (band_idx, band_hash) — never on text. Verification
    re-joins the shingle arrays only for candidate pairs (a vanishing
    fraction). `bands`/`num_hashes` trade recall for bucket size exactly
    like the reference's ef_search trades recall for scan cost.

    Skew guard: a bucket of size s contributes s² candidate pairs, so
    one boilerplate bucket (empty docs, shared headers) can dominate the
    whole job at corpus scale. `max_bucket_size` DROPS buckets larger
    than the cap before the self-join (standard LSH practice: such
    buckets are near-certainly boilerplate, and their members still pair
    via their other, more selective bands). None = uncapped (exact
    oracle parity).

    `stage_times` (optional dict, diagnostic — the curate_corpus
    contract): eagerly materializes the fused shingle+signature cache
    with its wall recorded under ``shingle_sig_bands``, so the final
    pair materialization (recorded under ``candidates_verify``) times
    only the self-join + Jaccard verify. Off (default): the cache fills
    lazily inside the one pair-materialization action (identical work,
    no decomposition).
    """
    import time as _time

    # ONE fused Arrow pass builds shingle hashes AND band hashes; the
    # single cached frame feeds both the banded self-join and the
    # verify join
    fused = _shingled_sig_bands(
        docs, id_col, text_col, shingle_n, num_hashes, bands
    ).cache()
    if stage_times is not None:
        _t0 = _time.perf_counter()
        fused.count()
        stage_times["shingle_sig_bands"] = round(_time.perf_counter() - _t0, 3)
    # candidates_verify timing starts HERE, not at the final
    # materialization: under AQE, localCheckpoint(eager=False) executes
    # the plan's upstream stages at call time (toRdd materializes AQE
    # query stages), so the banded self-join below largely runs inside
    # the "lazy" checkpoint statements — measured 6 s of a 12.6 s call
    # at the 1M tier misattributed before this timer moved
    _t_verify = _time.perf_counter()
    sh = fused.select(id_col, "shh")
    band_rows = fused.select(
        F.col(id_col), F.posexplode("bands").alias("band_idx", "band")
    )
    band_rows_cached = fused  # keep the handle: unpersist must hit
    # the CACHED plan even after the skew-guard rebinds band_rows below
    if max_bucket_size is not None:
        sizes = band_rows.groupBy("band_idx", "band").agg(F.count("*").alias("__n"))
        small = sizes.filter(F.col("__n") <= max_bucket_size).select("band_idx", "band")
        band_rows = band_rows.join(small, on=["band_idx", "band"], how="left_semi")
    a = band_rows.select(F.col(id_col).alias("id_a"), "band_idx", "band")
    b_ = band_rows.select(F.col(id_col).alias("id_b"), "band_idx", "band")
    cand = (
        a.join(b_, on=["band_idx", "band"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        # consumed twice below (the candidate-id spine and the final
        # pair join) — checkpoint so the banded self-join runs once
        .localCheckpoint(eager=False)
    )
    # verify reads the corpus's shingle arrays for CANDIDATE DOCS ONLY:
    # one semi-join pass shrinks the fused cache to the ≤2·|cand| docs
    # that appear in any pair, so the two array joins below deserialize
    # candidate arrays, not the whole corpus twice — at 100 TB this is
    # the difference between "verification is proportional to the
    # near-dup fraction" (the documented contract) and two full-corpus
    # array scans
    ids_needed = (
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh_small = sh.join(ids_needed, id_col, "left_semi").localCheckpoint(eager=False)
    sh_a = sh_small.select(F.col(id_col).alias("id_a"), F.col("shh").alias("sh_a"))
    sh_b = sh_small.select(F.col(id_col).alias("id_b"), F.col("shh").alias("sh_b"))
    out = (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), round_to))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # materialize the (small: one row per near-dup pair) result so the
    # shingle/band caches can be RELEASED now — .cache() entries are
    # never auto-evicted in a long-lived session, while the checkpoint
    # RDD is context-cleaned once the result goes out of scope
    out = out.localCheckpoint(eager=True)
    if stage_times is not None:
        stage_times["candidates_verify"] = round(_time.perf_counter() - _t_verify, 3)
    band_rows_cached.unpersist()  # the one fused cache (sh + bands)
    return out


def lsh_bucket_stats(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> dict:
    """Band-bucket size distribution for `minhash_lsh_pairs` — the skew
    diagnostic that decides whether a corpus needs `max_bucket_size`.

    The LSH self-join's cost is Σ_buckets s², so ONE giant bucket
    (boilerplate, empty docs) can dominate the whole job at corpus
    scale. Returns {buckets, max_bucket, p99_bucket, candidate_pairs}
    where candidate_pairs = Σ s·(s−1)/2 — the exact number of pairs the
    self-join will emit before verification. Sub-linear max/p99 growth
    across scale tiers is the evidence that the bucketed-join claim
    holds past the test SF (this aggregation is one narrow groupBy on
    (band_idx, band) — run it on a sample or the full corpus)."""
    # the `minhash_lsh_pairs` band rows: the same signature math, and
    # sub-shingle docs dropped (include_short=False) — they never join
    band_rows = minhash_index(
        docs,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        include_short=False,
    ).select(F.posexplode("bands").alias("band_idx", "band"))
    sizes = band_rows.groupBy("band_idx", "band").agg(F.count("*").alias("n"))
    row = sizes.agg(
        F.count("*").alias("buckets"),
        F.max("n").alias("max_bucket"),
        F.percentile_approx("n", 0.99).alias("p99_bucket"),
        # integer arithmetic end-to-end: n*(n-1) is even and >= 0, so
        # shiftright(·, 1) is an exact halving, and the long sum keeps
        # the count exact past 2^53 (a double sum silently loses integer
        # exactness at exactly the corpus scale this diagnostic exists
        # for; `/` would reintroduce it — Spark division is always
        # floating)
        F.sum(F.shiftright((F.col("n") * (F.col("n") - F.lit(1))).cast("long"), 1))
        .alias("candidate_pairs"),
    ).collect()[0]
    # an empty corpus (or filtered-to-empty sample) aggregates to NULLs
    return {
        "buckets": int(row["buckets"]),
        "max_bucket": int(row["max_bucket"] or 0),
        "p99_bucket": int(row["p99_bucket"] or 0),
        "candidate_pairs": int(row["candidate_pairs"] or 0),
    }


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """Exact all-pairs word-n-gram Jaccard ≥ threshold — the brute-force
    baseline that LSH approximates. O(n²): use on bounded inputs or as
    the per-bucket verifier. The self cross-join broadcasts one side."""
    sh = _shingled(docs, id_col, text_col, shingle_n)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), round_to))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_fingerprint(text, *, shingle_n: int = 3, bits: int = 48) -> int:
    """One document's SimHash: word shingles → md5-derived `bits`-bit
    hashes (bit-identical to the `md5_hash48` Catalyst kernel and the
    DuckDB oracle for bits=48, and to the same '0x'||substr(md5,1,N)
    construction for any other width) → signed bit vote → sign pattern.
    Shared by the batch fingerprint pass and the streaming mark operator
    so stream and batch sweeps produce identical fingerprints.

    `bits` ≤ 60 so the fingerprint stays a non-negative int64 (60 = 15
    hex chars of the md5). Wider fingerprints matter at corpus scale:
    the pairs join buckets on bits/(max_hamming+1)-bit blocks, and
    bucket count 2^block_bits must outgrow the corpus for the candidate
    set to stay near-linear (see simhash_pairs)."""
    import hashlib

    import numpy as np

    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60], got {bits}")
    hex_chars = (bits + 3) // 4
    shift = hex_chars * 4 - bits  # top `bits` of the hex prefix
    toks = _tok_list(text)  # NULL/NaN text has no tokens, as in the SQL twins
    if len(toks) >= shingle_n:
        shingles = {
            " ".join(toks[i : i + shingle_n]) for i in range(len(toks) - shingle_n + 1)
        }
    else:
        shingles = set()
    if not shingles:
        return 0
    hs = np.fromiter(
        (
            int(hashlib.md5(s.encode("utf-8")).hexdigest()[:hex_chars], 16) >> shift
            for s in shingles
        ),
        dtype=np.int64,
        count=len(shingles),
    )
    bits_m = (hs[:, None] >> np.arange(bits)) & 1  # (n_shingles, bits)
    votes = (2 * bits_m - 1).sum(axis=0)
    return int((1 << np.arange(bits, dtype=np.int64))[votes > 0].sum())


def simhash(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    bits: int = 48,
) -> DataFrame:
    """48-bit SimHash over word-shingle multisets → (id, simhash).

    Per-doc vectorized kernel (mapInPandas) around `simhash_fingerprint`.
    Embarrassingly parallel — NO shuffle at all (the earlier pure-SQL
    formulation exploded bits×shingles into a 48×|shingles| row shuffle;
    at sf0.1 that was 12s vs <2s for this kernel — bench history)."""
    from collections.abc import Iterator

    import numpy as np

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(id_col, docs.schema[id_col].dataType),
            T.StructField("simhash", T.LongType()),
        ]
    )

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            out_ids, out_hashes = [], []
            for sid, text in zip(pdf[id_col], pdf[text_col]):
                out_ids.append(sid)
                out_hashes.append(
                    simhash_fingerprint(text, shingle_n=shingle_n, bits=bits)
                )
            yield pd.DataFrame({id_col: out_ids, "simhash": np.asarray(out_hashes, dtype=np.int64)})

    return docs.select(id_col, text_col).mapInPandas(kernel, schema=out_schema)


def simhash_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    bits: int = 48,
    max_hamming: int = 7,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Block join with guaranteed recall: split the fingerprint into
    (max_hamming+1) blocks — two fingerprints within the threshold must
    agree on at least one whole block (pigeonhole), so joining per block
    finds every qualifying pair; Hamming is then verified exactly.

    SCALE RULE — pick (bits, max_hamming) so 2^(bits/(max_hamming+1))
    ≫ corpus size. The block join's candidate volume is
    Θ(n² · blocks / 2^block_bits): the oracle-parity default (48 bits,
    8 blocks of 6 → 64 buckets) is quadratic past ~10⁵ docs (measured:
    59 s at 1M docs while minhash took 8 s). At corpus scale use
    `bits=60, max_hamming=3` (4 blocks of 15 → 32k buckets, ~10⁸ ×
    fewer random collisions at 1M) — a deliberately tighter dup class,
    which is standard practice (Manku et al., WWW'07 use 64-bit
    fingerprints with k=3). `max_bucket_size` additionally DROPS
    boilerplate buckets before the self-join, same rule and rationale
    as `minhash_lsh_pairs` (members still pair via their other
    blocks)."""
    blocks = max_hamming + 1
    if bits % blocks:
        raise ValueError(
            f"bits={bits} not divisible by max_hamming+1={blocks} blocks"
        )
    block_bits = bits // blocks  # 48 bits / 8 blocks = 6-bit blocks
    sh = simhash(docs, id_col=id_col, text_col=text_col, shingle_n=shingle_n, bits=bits)
    # one explode, not `blocks` unioned selects: a union re-evaluates the
    # (expensive) fingerprint subtree once per branch per join side
    # — and the result is CACHED, or the self-join (and the optional
    # bucket-size prefilter) would re-run the fingerprint kernel per
    # consumer (2-3× the dominant cost at the 1M-doc tier)
    block_rows = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * block_bits)
                    .bitwiseAND(F.lit((1 << block_bits) - 1))
                    for i in range(blocks)
                ]
            )
        ).alias("block_idx", "block"),
    ).cache()
    block_rows_cached = block_rows
    if max_bucket_size is not None:
        sizes = block_rows.groupBy("block_idx", "block").agg(F.count("*").alias("__n"))
        small = sizes.filter(F.col("__n") <= max_bucket_size).select("block_idx", "block")
        block_rows = block_rows.join(small, on=["block_idx", "block"], how="left_semi")
    a = block_rows.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "block_idx", "block"
    )
    b = block_rows.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "block_idx", "block"
    )
    out = (
        a.join(b, on=["block_idx", "block"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    # materialize the (small) pair list, then release the fingerprint
    # cache — same lifecycle as minhash_lsh_pairs
    out = out.localCheckpoint(eager=True)
    block_rows_cached.unpersist()
    return out


def embedding_near_dup(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    round_to: int = 6,
    method: str = "auto",
    broadcast_cap_bytes: int = 1 << 30,
    gemm_flop_cap: float = 2e13,
    n_bits: int = 32,
    n_bands: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Pairs with cosine ≥ threshold — embedding-space near-dup detection.

    ``method="gemm"``: one side of the O(n²) product is collected +
    broadcast as a dense matrix; each partition computes a block GEMM and
    emits only pairs above the threshold — exact results, BLAS speed,
    shuffle carries only surviving pairs. Broadcastable to ~1M × 256-dim
    (≈1 GB float32-equivalent working set).

    ``method="lsh"``: the 100 TB path — RP-LSH banded candidates (a
    bucketed EQUI-join on (band_idx, band_key), never a cross product)
    followed by exact per-pair cosine verification. High-recall
    approximate: a true pair is missed only if all `n_bands` band keys
    differ (P ≈ (1-p^r)^b, p = 1-θ/π — e.g. ~2·10⁻⁴ at cosine 0.95 with
    32 bits / 8 bands).

    ``method="auto"`` routes by TWO independent budgets — an estimated
    broadcast footprint (rows × dim × 8 bytes vs `broadcast_cap_bytes`)
    AND the quadratic scoring cost (rows² × dim FLOPs vs
    `gemm_flop_cap`): GEMM only under both, LSH otherwise. The byte cap
    alone is not enough: a low-dim corpus can fit its broadcast under
    1 GiB while its all-pairs scan is 10⁷ seconds of BLAS (1M × 128
    slips under the byte cap at 1.02 GB but costs 1.3·10¹⁷ FLOPs).

    ``method="sql"``: pure Catalyst cross-join formulation (the DuckDB
    oracle shape).

    Laziness caveat: the LSH path (and therefore ``auto`` when it
    routes to LSH) EXECUTES EAGERLY at call time — it materializes the
    verified pair list via ``localCheckpoint(eager=True)`` so the
    banded-signature cache can be released before returning (the
    signature frame is corpus-sized; holding it for a lazy consumer
    would pin executor storage indefinitely). The returned frame is the
    small checkpointed pair list: re-counting or re-filtering it is
    cheap, and callers should NOT ``.cache()`` it again. ``gemm`` and
    ``sql`` stay lazy."""
    raw = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    n = emb.select(
        F.col(id_col).alias("id"),
        l2_normalize(F.col(vec_col)).alias("v"),
    )
    if method == "auto":
        dim_row = n.select(F.size("v")).first()
        if dim_row is None:
            return _near_dup_gemm(n, threshold=threshold, round_to=round_to)
        n_rows = n.count()
        est_bytes = n_rows * dim_row[0] * 8
        est_flops = float(n_rows) * n_rows * dim_row[0]
        method = (
            "gemm"
            if est_bytes <= broadcast_cap_bytes and est_flops <= gemm_flop_cap
            else "lsh"
        )
    if method == "gemm":
        return _near_dup_gemm(n, threshold=threshold, round_to=round_to)
    if method == "lsh":
        return _near_dup_lsh(
            raw,
            threshold=threshold,
            round_to=round_to,
            n_bits=n_bits,
            n_bands=n_bands,
            seed=seed,
        )
    a = n.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = n.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(dot(F.col("va"), F.col("vb")), round_to))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _near_dup_lsh(
    raw: DataFrame,
    *,
    threshold: float,
    round_to: int,
    n_bits: int,
    n_bands: int,
    seed: int,
) -> DataFrame:
    """RP-LSH bucketed candidates + exact cosine verify. Shuffles on
    (band_idx, band_key) for candidates and on id for the vector
    join-back — both narrow equi-joins; the full vector set is never
    collected driver-side.

    Takes RAW (un-normalized) vectors: sign-random-projection keys are
    scale-invariant, so the corpus-wide Catalyst `l2_normalize` pass the
    exact paths use is skipped here — at 200k × 128 that interpreted
    higher-order-function pass alone cost 39 s of a 58 s run. The exact
    cosine verify normalizes only the candidate pairs, in one Arrow
    kernel (float64, same rounding as the exact paths)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from picovdb_spark.operators.ann import rp_signatures

    # signatures are scanned twice (both sides of the self-join) —
    # persist so the python kernel runs once; 3 small columns, ~24 B/row
    sig = rp_signatures(
        raw, id_col="id", vector_col="v", n_bits=n_bits, n_bands=n_bands, seed=seed
    ).persist()
    a = sig.select(F.col("id").alias("id_a"), "band_idx", "band_key")
    b = sig.select(F.col("id").alias("id_b"), "band_idx", "band_key")
    cand = (
        a.join(b, on=["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    def _cos(va, vb):
        import numpy as np

        from picovdb_spark.operators.ann import stack_vectors
        from picovdb_spark.operators.kernels import _unit_rows

        # _unit_rows applies the store's zero→e₀ invariant, so a
        # pair of zero vectors scores 1.0 exactly like the gemm/sql
        # paths (which normalize via l2_normalize) — not 0.0
        ma = _unit_rows(stack_vectors(va))
        mb = _unit_rows(stack_vectors(vb))
        return pd.Series(np.einsum("ij,ij->i", ma, mb))

    _cos.__annotations__ = {"va": pd.Series, "vb": pd.Series, "return": pd.Series}
    cosine = pandas_udf(_cos, "double")

    va = raw.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = raw.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    out = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", F.round(cosine(F.col("va"), F.col("vb")), round_to))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
    # materialize the (small) verified pair list, then release the
    # signature cache — same lifecycle as minhash_lsh_pairs
    out = out.localCheckpoint(eager=True)
    sig.unpersist()
    return out


# Elements per (chunk × N) float64 score block in the GEMM kernel —
# 2^25 ≈ 256 MB. Module-level so tests can shrink it to force the
# chunk boundary on small fixtures.
GEMM_CHUNK_ELEMS = 1 << 25


def _near_dup_gemm(n: DataFrame, *, threshold: float, round_to: int) -> DataFrame:
    """Partition-block × broadcast-matrix exact threshold self-join."""
    from collections.abc import Iterator

    import numpy as np

    from pyspark.sql import types as T

    spark = n.sparkSession
    rows = n.collect()  # normalized (id, v); bounded by the broadcast limit
    ids = np.array([r["id"] for r in rows], dtype=object)
    mat = np.asarray([r["v"] for r in rows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((ids, mat))

    id_type = n.schema["id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    chunk_elems = GEMM_CHUNK_ELEMS

    def block(batches: Iterator) -> Iterator:
        import pandas as pd

        from picovdb_spark.operators.ann import stack_vectors

        b_ids, b_mat = bc.value
        # bound the (chunk, N) float64 score matrix to ~256 MB no matter
        # how large the broadcast side is — an Arrow batch (10k rows)
        # against a 1M-row store would otherwise allocate 80 GB at once
        chunk_rows = max(1, chunk_elems // max(len(b_ids), 1))
        for pdf in batches:
            if pdf.empty:
                continue
            block_ids = pdf["id"].to_numpy()
            block_mat = stack_vectors(pdf["v"])
            for lo in range(0, len(block_ids), chunk_rows):
                cut_ids = block_ids[lo : lo + chunk_rows]
                scores = np.round(
                    block_mat[lo : lo + chunk_rows] @ b_mat.T, round_to
                )  # (chunk, N)
                bi, bj = np.nonzero(scores >= threshold)
                if len(bi) == 0:
                    continue
                left, right = cut_ids[bi], b_ids[bj]
                keep = left < right  # dedupe (a,b)/(b,a) and self-pairs
                yield pd.DataFrame(
                    {
                        "id_a": left[keep],
                        "id_b": right[keep],
                        "cosine": scores[bi, bj][keep],
                    }
                )

    return n.mapInPandas(block, schema=out_schema)


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    *,
    id_col: str = "doc_id",
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
    max_iter: int = 30,
) -> DataFrame:
    """Near-dup CLUSTERS from a pair list: assign every node the minimum
    id reachable through the pair graph. Output (id, component_id,
    is_dup) — component_id is the canonical (kept) document, everything
    else in the component is the dup set. This is the step that turns
    pairwise dedup output (minhash/simhash/embedding pairs) into an
    actionable keep/drop decision when duplicates form chains (a~b, b~c
    must collapse to ONE canonical doc, which pair output alone doesn't
    give).

    Algorithm: iterative hash-min label propagation — each round every
    node takes min(own label, neighbors' labels); converges in
    O(graph diameter) rounds (near-dup clusters are shallow — diameter
    is small in practice; cf. the large-star/small-star MapReduce CC
    family, Kiveris et al. 2014, for adversarially deep graphs). Each
    round is one equi-join + one groupBy, both shuffling ONLY the
    (src, label) edge projection — never document payloads; lineage is
    cut per round with an eager localCheckpoint so the plan stays flat
    at 100 TB. The convergence check is a single-row count per round —
    driver control flow, not data movement."""
    a, b = pair_cols
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # iterate ONLY over nodes that touch an edge: isolated nodes can
    # never change label, and at corpus scale the dup subgraph is a tiny
    # fraction of the corpus — the loop must not carry the other 99%
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, on=F.col("src") == F.col("id"))
            .groupBy("dst")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        new = (
            labels.join(nbr, on=F.col("id") == F.col("dst"), how="left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias(
                    "comp"
                ),
                (F.col("nbr_comp") < F.col("comp")).alias("__changed"),
            )
        )
        new = new.localCheckpoint(eager=True)
        changed = new.filter(F.col("__changed")).limit(1).count()
        labels = new.drop("__changed")
        if changed == 0:
            break
    else:
        # silently returning partial labels would split true clusters
        # into several "canonical" docs — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds max_iter); raise max_iter"
        )
    # singletons rejoin here: component = own id, never a dup
    out = nodes.select(F.col(id_col)).join(
        labels, on=F.col(id_col) == F.col("id"), how="left"
    )
    comp = F.coalesce(F.col("comp"), F.col(id_col))
    return out.select(
        F.col(id_col),
        comp.alias("component_id"),
        (comp != F.col(id_col)).alias("is_dup"),
    )


def keep_best_per_component(
    components: DataFrame,
    scores: DataFrame,
    *,
    id_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """Turn dup components into a keep/drop decision by QUALITY instead
    of min-id: within each component keep the best-scoring document
    (ties break to the smallest id — deterministic). Output adds
    (score_col, keep) to the component labels.

    This is the decision rule real training-data pipelines use —
    min-id canonical keeps an arbitrary copy; keep-best retains the
    highest-quality one (longest/cleanest text) and drops the rest.
    One narrow shuffle on component_id; document payloads never move.

    Documents missing a score row stay in the output (LEFT join) with a
    NULL score and sort LAST within their component (nulls-last ranking)
    — an unscored doc never wins over a scored one, and is never
    silently dropped from the decision set."""
    j = components.join(scores.select(id_col, score_col), on=id_col, how="left")
    w = Window.partitionBy("component_id").orderBy(
        F.col(score_col).desc_nulls_last(), F.col(id_col).asc()
    )
    return (
        j.withColumn("__rn", F.row_number().over(w))
        .withColumn("keep", F.col("__rn") == 1)
        .drop("__rn")
    )


def _min_first_election(
    spans: DataFrame,
    key_cols: list[str],
    id_col: str,
    pos_col: str,
    *,
    with_count: bool = False,
) -> DataFrame:
    """Per key-group winner election — the lexicographically-FIRST
    (id, pos) in each group — shared by `paragraph_dedup` and
    `window_dedup`. Returns one row per distinct key:
    (*key_cols, id_col, pos_col[, __c = group count]). The path is
    chosen by the id dtype:

    - INTEGRAL ids: encode (id, pos) as ONE decimal id·10¹⁰ + pos, whose
      numeric order is the lexicographic (id, pos) order (pos ∈ [0, 2³¹)
      ⊂ [0, 10¹⁰); |id|·10¹⁰ < 10²⁹ cannot overflow decimal(33,0)).
      ``min(decimal)`` plans HashAggregate with a map-side partial.
      Decode is integral: pos = pmod(e, 10¹⁰), the non-negative
      remainder (exact for negative ids), and id = (e − pos) / 10¹⁰, a
      division of an exact multiple, so decimal-division rounding
      cannot perturb it.
    - every other type: ``min(struct(id, pos))`` — the same values, but
      planned SortAggregate on both shuffle sides (struct agg buffers
      aren't UnsafeRow-mutable). For string ids that sort is the
      cheaper plan; tests/test_plans.py pins it with the reason.
    """
    id_dtype = dict(spans.dtypes)[id_col]
    count_cols = ["__c"] if with_count else []
    count_aggs = [F.count("*").alias("__c")] if with_count else []

    if id_dtype not in ("tinyint", "smallint", "int", "bigint"):
        return (
            spans.groupBy(*key_cols)
            .agg(F.min(F.struct(F.col(id_col), F.col(pos_col))).alias("__w"), *count_aggs)
            .select(
                *key_cols,
                F.col(f"__w.{id_col}").alias(id_col),
                F.col(f"__w.{pos_col}").alias(pos_col),
                *count_cols,
            )
        )

    _K = F.lit(10_000_000_000).cast("decimal(11,0)")
    enc = F.col(id_col).cast("decimal(20,0)") * _K + F.col(pos_col)
    rem = F.pmod(F.col("__e"), _K)
    dec_id = ((F.col("__e") - rem) / _K).cast("long")
    return (
        spans.select(*key_cols, enc.alias("__e"))
        .groupBy(*key_cols)
        .agg(F.min("__e").alias("__e"), *count_aggs)
        .select(
            *key_cols,
            dec_id.cast(id_dtype).alias(id_col),
            rem.cast("int").alias(pos_col),
            *count_cols,
        )
    )


def paragraph_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    min_chars: int = 1,
    stage_times: dict | None = None,
) -> DataFrame:
    """Corpus-wide exact paragraph (span) dedup with removal — the
    RefinedWeb/FineWeb curation step the document-level ladder above
    can't express: split every document on `sep`, keep only the GLOBAL
    first occurrence of each repeated paragraph (ordered by
    (id, position) — deterministic), and reassemble each document from
    its surviving paragraphs in original order.

    Output: (id_col, n_paras, n_kept, text_clean). A document whose
    every paragraph appeared earlier in the corpus comes back with
    n_kept = 0 and text_clean = "" — the caller decides whether to drop
    such husks (the standard pipeline does).

    Paragraphs shorter than `min_chars` (default 1 — i.e. empty splits
    from consecutive separators) are never dedup-eligible: they carry
    formatting, not content, and deduping them corpus-wide would delete
    every blank line after the first document.

    NULL ids are out of contract (every source table here has non-null
    ids): a NULL-id doc can never be reassembled (the keep-list join is
    not null-safe), and which election form lets it win spans differs —
    the decimal form's min() skips NULL encodings. Filter NULL ids
    upstream if the input can contain them.

    Scale shape — the decision never shuffles text:
      1. posexplode to (id, pos, para) and key each span: map-side only.
      2. Elect the first (id, pos) per key (`_min_first_election`); only
         (key, id, pos) rows shuffle.
      3. Collapse the winners to one sorted int array per doc: a second
         narrow shuffle of (id, pos) only.
      4. Reassemble map-side: join the int keep-list back to `docs` on
         id (the single full-width shuffle; zero if the corpus is
         bucketed by id, and AQE broadcasts the keep-list when it fits)
         and pick each kept paragraph by one O(1) `element_at` into the
         once-materialized split array — O(kept) per doc.

    Reference contrast: the reference dedups whole payloads only via
    content-hash auto-ids (pico_vdb.py:54-55); sub-document spans are
    out of its model entirely.

    `stage_times` (optional dict, diagnostic — the minhash_lsh_pairs
    contract): eagerly materializes the narrow (id, keep-positions)
    list via localCheckpoint with its wall recorded under
    ``election`` (steps 1–3), so the caller's final materialization
    times only step 4 — record it as the remainder under
    ``reassembly``. Off (default): fully lazy, identical values.
    """
    import re as _re

    # NULL text behaves as the empty document ("" → one empty, always-
    # kept paragraph → text_clean "") instead of NULL-propagating into a
    # phantom span_empty husk (n_kept 0 with no spans at all)
    arr = F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep), -1)
    paras = docs.select(F.col(id_col), F.posexplode(arr).alias("pos", "para"))
    # ONE election pass over ALL spans, each with a binary election key
    # in one of two prefix-disjoint domains:
    #   eligible  → 0x01 ‖ unhex(md5(para))   (17 B: equality over the
    #               16-byte digest ≡ equality over the hex string)
    #   ineligible→ 0x00 ‖ utf8(id ':' pos)   (unique per span)
    # An ineligible span is its own singleton group, so it always wins
    # itself, and the two domains can never collide (different first
    # byte). The paragraph text never shuffles.
    key = F.when(
        F.length("para") >= min_chars,
        F.concat(F.lit(bytes([1])), F.unhex(F.md5(F.col("para")))),
    ).otherwise(
        F.concat(
            F.lit(bytes([0])),
            F.encode(
                F.concat_ws(
                    ":", F.col(id_col).cast("string"), F.col("pos").cast("string")
                ),
                "UTF-8",
            ),
        )
    )
    keep = _min_first_election(
        paras.select(F.col(id_col), F.col("pos"), key.alias("__h")),
        ["__h"],
        id_col,
        "pos",
    ).select(id_col, "pos")
    keeplist = keep.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("__keep")
    )
    if stage_times is not None:
        import time as _time

        # eager=True: the wall is the checkpoint statement itself, and
        # the narrow (id, int-array) frame — never text — hits local disk
        _t0 = _time.perf_counter()
        keeplist = keeplist.localCheckpoint(eager=True)
        stage_times["election"] = round(_time.perf_counter() - _t0, 3)
    # Reassembly: materialize the split ONCE as a named `__arr`
    # attribute below the join (an inlined split re-expands in the
    # generated code once per reference); `__keep` is already the
    # SORTED kept positions, so each kept paragraph is one O(1)
    # element_at — O(kept) total, document order. CollapseProject leaves
    # the two-projection form alone because `__arr` is non-cheap and
    # multiply-referenced.
    base = docs.join(keeplist, on=id_col, how="left").select(
        F.col(id_col),
        arr.alias("__arr"),
        F.coalesce(F.col("__keep"), F.array().cast("array<int>")).alias("__k"),
    )
    return base.select(
        F.col(id_col),
        F.size("__arr").cast("long").alias("n_paras"),
        F.size("__k").cast("long").alias("n_kept"),
        F.array_join(
            F.transform("__k", lambda p: F.element_at(F.col("__arr"), p + F.lit(1))),
            sep,
        ).alias("text_clean"),
    )


# Two odd 64-bit polynomial bases (odd => invertible mod 2^64) and
# their modular inverses, module-level so the kernel and the tests see
# one definition.
_POLY_B1 = 0x9E3779B97F4A7C15
_POLY_B2 = 0xC2B2AE3D27D4EB4F
_POLY_INV1 = pow(_POLY_B1, -1, 1 << 64)
_POLY_INV2 = pow(_POLY_B2, -1, 1 << 64)

def _build_pow_tables(m: int) -> tuple:
    """The four geometric power tables (B1^i, B2^i, B1^-i, B2^-i) of
    length `m`. They depend only on length, so the window kernel builds
    them once per TASK (rebuilding per Arrow chunk was over half the
    kernel's single-thread wall) and drops them when the task ends —
    a per-process cache would be retained for the life of every reused
    Python worker."""
    import numpy as np

    arrs = []
    for base in (_POLY_B1, _POLY_B2, _POLY_INV1, _POLY_INV2):
        # log-doubling build: a[k:2k] = a[:k] * B^k. ONE write pass
        # over the array — np.full + multiply.accumulate was ~100x
        # slower here because np.full's slow uint64-scalar fill
        # path multiplied with this host's expensive first-touch
        # faults (~60 us/page in a microVM)
        a = np.empty(m, np.uint64)
        a[0] = 1
        k = 1
        while k < m:
            j = min(k, m - k)
            bk = np.uint64(pow(base, k, 1 << 64))
            np.multiply(a[:j], bk, out=a[k : k + j])
            k += j
        arrs.append(a)
    return tuple(arrs)


def _window_hash_rows(
    docs: DataFrame, id_col: str, text_col: str, window: int
) -> DataFrame:
    """One (id, start, __h1, __h2) row per sliding token window — the
    `window_dedup` hash pass as an ARROW kernel. Tokens come from a
    literal single-space split of coalesce(text, ''), keeping empty
    tokens — exactly the Catalyst/DuckDB-twin tokenization; docs with
    fewer than `window` tokens contribute no rows.

    The window key is a 128-bit NON-CRYPTOGRAPHIC fingerprint: two
    independent 64-bit polynomial rolling hashes over the window's
    UTF-8 bytes, carried as two LONG columns. Per Arrow chunk, ONE numpy
    pass builds prefix sums S[i] = sum(b[j]*B^j) over a single
    concatenated byte buffer, and every window hash is
    (S[end]-S[start]) * B^{-start} — all uint64 wraparound arithmetic,
    no per-window Python. The kernel reuses a per-task scratch arena
    and per-task power tables (`_build_pow_tables`): guest memory is
    provisioned lazily, and first-touch faults on fresh large
    allocations cost ~100x a warm write.

    Correctness contract: window_dedup's election needs only hash
    EQUALITY <=> window-byte equality. Equal windows always collide
    (the hash is a pure function of the bytes); unequal windows collide
    with ~2^-128 probability per pair (two independent odd bases) — a
    BIRTHDAY bound of ~10^-20 at 10^13 windows. Unlike md5 it is not
    adversarially collision-resistant (Thue-Morse-style constructions
    defeat single mod-2^64 lanes), so corpora crafted to collide could
    fuse distinct windows; for natural training data this is the
    standard trade (MinHash/SimHash upstream are far coarser). The
    DuckDB oracle twin compares reassembled TEXT, and the property tests
    pin the partition against md5 of the window's token join.

    Token offsets are found VECTORIZED too: tokens contain no 0x20
    bytes (split removes them, and UTF-8 multi-byte sequences use only
    bytes >= 0x80), so every space byte in the concatenated buffer is a
    token boundary. Docs are joined with single spaces into one buffer
    per ~1 MB sub-chunk; window starts never cross doc boundaries
    because each doc's window count is bounded by its own token count,
    and the byte before the next token start is always a space (or the
    end sentinel), so each window hashes exactly the bytes of
    ``" ".join(tokens[s : s + window])``."""
    from pyspark.sql import types as _T

    win_schema = _T.StructType(
        [
            docs.schema[id_col],
            _T.StructField("s", _T.IntegerType()),
            _T.StructField("__h1", _T.LongType()),
            _T.StructField("__h2", _T.LongType()),
        ]
    )

    def kernel(batches):
        import numpy as np
        import pandas as pd

        # 1 MB chunks: small enough that every per-chunk allocation
        # (output gathers, the joined byte buffer, pandas columns) stays
        # under glibc's adapted mmap threshold and reuses touched heap
        # pages instead of paying fresh mmap first-touch faults
        CHUNK = 1 << 20  # bytes of encoded text per vector pass

        # Reused scratch buffers, allocated ONCE per task and touched
        # once: the dominant kernel cost on lazily-provisioned hosts is
        # FIRST-TOUCH page faults on fresh large numpy allocations, and
        # the fault storms serialize across concurrent workers. These —
        # and the power tables below — are generator-locals, so the
        # memory is released when the task finishes.
        u_buf = np.empty(CHUNK + 1, np.uint64)
        t_buf = np.empty(CHUNK + 1, np.uint64)
        S_buf = np.empty(CHUNK + 2, np.uint64)
        pow_tables: tuple | None = None

        def _powers(n):
            nonlocal pow_tables
            if pow_tables is None or len(pow_tables[0]) < n:
                pow_tables = _build_pow_tables(1 << max(n - 1, 1).bit_length())
            return tuple(a[:n] for a in pow_tables)

        def _lane(u, pws, base_inv_pws, a, c, N):
            # S[i] = sum_{j<i} u[j] * B^j  (mod 2^64, wraparound)
            t = t_buf[:N]
            np.multiply(u, pws, out=t)
            S = S_buf[: N + 1]
            S[0] = 0
            np.cumsum(t, out=S[1:])
            # hash [a, c) normalized to position 0: (S[c]-S[a]) * B^-a
            return (S[c] - S[a]) * base_inv_pws[a]

        for pdf in batches:
            if pdf.empty:
                continue
            ids_all = pdf[id_col].to_numpy()
            encs = [
                ("" if t is None else t).encode() for t in pdf[text_col]
            ]
            n_docs = len(encs)
            start = 0
            while start < n_docs:
                end, total = start, 0
                while end < n_docs and (
                    total == 0 or total + len(encs[end]) + 1 <= CHUNK
                ):
                    total += len(encs[end]) + 1
                    end += 1
                chunk = encs[start:end]
                big = b" ".join(chunk)
                b = np.frombuffer(big, dtype=np.uint8)
                N = len(b)
                lens = np.fromiter(
                    (len(e) for e in chunk), dtype=np.int64, count=end - start
                )
                dstart = np.zeros(len(lens), np.int64)
                np.cumsum(lens[:-1] + 1, out=dstart[1:])
                sp = np.flatnonzero(b == 0x20)
                # global token starts: 0 and every byte after a space
                # (doc-separator spaces start the next doc's token 0)
                T = np.empty(len(sp) + 2, np.int64)
                T[0] = 0
                T[1:-1] = sp + 1
                T[-1] = N + 1  # end sentinel: last token ends at N
                # tokens per doc = spaces strictly inside the doc + 1
                ntok = (
                    np.searchsorted(sp, dstart + lens)
                    - np.searchsorted(sp, dstart)
                    + 1
                )
                nw = np.maximum(ntok - window + 1, 0)
                total_nw = int(nw.sum())
                if total_nw == 0:
                    start = end
                    continue
                tok0 = np.zeros(len(lens), np.int64)
                np.cumsum(ntok[:-1], out=tok0[1:])
                doc_rep = np.repeat(np.arange(len(lens)), nw)
                cum_nw = np.zeros(len(lens), np.int64)
                np.cumsum(nw[:-1], out=cum_nw[1:])
                s = np.arange(total_nw, dtype=np.int64) - cum_nw[doc_rep]
                t0 = tok0[doc_rep]
                a = T[t0 + s]
                c = T[t0 + s + window] - 1  # byte before next token start
                if N + 2 > len(S_buf):
                    # one oversized doc (> CHUNK bytes) forms its own
                    # chunk; grow the scratch arena to fit it
                    u_buf = np.empty(N + 1, np.uint64)
                    t_buf = np.empty(N + 1, np.uint64)
                    S_buf = np.empty(N + 2, np.uint64)
                u = u_buf[:N]
                u[:] = b  # widening cast into the reused buffer
                pw1, pw2, ip1, ip2 = _powers(N)
                h1 = _lane(u, pw1, ip1, a, c, N)
                h2 = _lane(u, pw2, ip2, a, c, N)
                yield pd.DataFrame(
                    {
                        id_col: ids_all[start:end][doc_rep],
                        "s": pd.array(s.astype(np.int32), dtype="int32"),
                        "__h1": h1.view(np.int64),
                        "__h2": h2.view(np.int64),
                    }
                )
                start = end

    return docs.select(id_col, text_col).mapInPandas(kernel, schema=win_schema)


def window_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
) -> DataFrame:
    """Cross-document repeated token-WINDOW removal — the exact-substring
    dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), at word-token granularity: every length-
    `window` token span that occurs more than once in the corpus keeps
    only its GLOBAL first occurrence (ordered by (id, start) —
    deterministic); every other occurrence's tokens are removed and the
    document reassembled from the survivors. This catches boilerplate
    that does NOT align to paragraph separators (navigation chrome,
    license blocks mid-paragraph, templated sentences), which
    `paragraph_dedup` above cannot see.

    Output: (id_col, n_tokens, n_removed, text_clean) — one row per
    input document; docs shorter than `window` tokens pass through
    untouched (no window, no edit), matching the reference algorithm's
    behavior on short sequences.

    Scale shape — the same text-moves-once discipline as
    `paragraph_dedup`:
      1. Window fingerprints are built MAP-SIDE in an Arrow kernel
         (`_window_hash_rows`): a numpy-vectorized two-lane 64-bit
         polynomial rolling hash — O(n_tokens) wraparound arithmetic
         per doc with NO per-window Python. The collision contract is
         documented on the kernel.
      2. Winner election (`_min_first_election`) shuffles
         (lane1, lane2, id, start) rows only — window TEXT never leaves
         the mapper.
      3. Loser windows explode to covered token positions: O(dup_bytes
         x window) rows, proportional to the duplicated portion of the
         corpus only, then collapse to one sorted int array per doc
         (narrow (id, pos) shuffle).
      4. Reassembly joins the removal list back on id — the single
         full-width text shuffle (zero if the corpus is bucketed by id;
         AQE broadcasts the removal list when it fits).

    Reassembly is O(n_tokens + removed) per doc (hash-set position
    subtraction; see the inline note) — a pathological doc that loses
    half its tokens costs the same per-token work as a clean one
    (pinned by test_pathological_doc_no_quadratic_reassembly).

    Reference contrast: the reference dedups only whole payloads via
    content-hash auto-ids (pico_vdb.py:54-55); sub-document substrings
    are outside its model.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2 tokens, got {window}")
    arr = F.split(F.coalesce(F.col(text_col), F.lit("")), " ", -1)
    toks = docs.select(F.col(id_col), arr.alias("__arr"))
    wins = (
        _window_hash_rows(docs, id_col, text_col, window)
        # consumed twice (winner election + loser probe) with DIFFERENT
        # payloads, so the exchanges can't be reused — without this
        # checkpoint the window-hash pass AND the corpus text read run
        # twice (verified: two kernel projections, 0 ReusedExchange).
        # The materialized frame is narrow (id, start, two long hash
        # lanes); text stays out of it.
        .localCheckpoint(eager=False)
    )
    agg = (
        _min_first_election(wins, ["__h1", "__h2"], id_col, "s", with_count=True)
        .withColumnRenamed(id_col, "__wid")
        .withColumnRenamed("s", "__ws")
    )
    losers = (
        wins.join(agg.filter(F.col("__c") > 1), on=["__h1", "__h2"])
        .filter(~((F.col(id_col) == F.col("__wid")) & (F.col("s") == F.col("__ws"))))
        .select(F.col(id_col), F.col("s"))
    )
    removal = (
        losers.select(
            F.col(id_col),
            F.explode(F.sequence(F.col("s"), F.col("s") + F.lit(window - 1))).alias(
                "pos"
            ),
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("pos")).alias("__rm"))
    )
    rm = F.coalesce(F.col("__rm"), F.array().cast("array<int>"))
    n_all = F.size("__arr")
    # Reassembly is O(tokens + removed): kept POSITIONS come from one
    # hash-set subtraction (array_except builds a hash set of __rm), then
    # each kept token is an O(1) element_at into the materialized __arr
    # attribute. The former per-token array_contains(__rm, i) probe was
    # O(tokens × removed) — quadratic on a doc that loses half its
    # tokens. (A map_from_entries lookup would NOT fix it: Spark maps are
    # ArrayBasedMapData and GetMapValue is a linear key scan.)
    # array_except preserves first-array order, so tokens stay in
    # document order; `toks` puts the split below the join, so the
    # lambdas read a bound attribute instead of re-evaluating the split
    # per element.
    keep_pos = F.array_except(F.sequence(F.lit(0), n_all - F.lit(1)), rm)
    kept = F.transform(keep_pos, lambda p: F.element_at(F.col("__arr"), p + F.lit(1)))
    return toks.join(removal, on=id_col, how="left").select(
        F.col(id_col),
        n_all.cast("long").alias("n_tokens"),
        F.size(rm).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("text_clean"),
    )


def minhash_index(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    include_short: bool = True,
) -> DataFrame:
    """Self-contained, text-free MinHash index over a corpus — the
    persistable half of INCREMENTAL dedup: build it once over the
    historical corpus, write it as parquet, and screen every new crawl
    batch against it with `minhash_dedup_against` without ever touching
    (or storing) the historical text again.

    Schema: (id_col, sig: array<long>[num_hashes],
    bands: array<string>[bands], text_hash: string). Documents WITH at
    least `shingle_n` tokens carry (sig, bands) and a NULL text_hash;
    SUB-SHINGLE documents have no shingle set (min-over-empty is
    undefined), so instead of silently vanishing from the index they
    carry a NULL (sig, bands) and the md5 of their normalized token
    join — the tiny exact-hash side table `minhash_dedup_against` uses
    to catch a short document re-ingested verbatim (same tokens after
    lowercase/whitespace normalization — the shingle pipeline's own
    normalization, so 'Hi  World' matches 'hi world'). Set
    `include_short=False` for the signature-only 3-column
    (id, sig, bands) schema, which drops sub-shingle documents.
    Either way a row is ~200 bytes regardless of document size — a
    100 TB corpus indexes to ~20 GB, built in ONE corpus pass (one Arrow
    kernel emits the signatures and the short-route hash). Signatures
    use the same seeded permutations as `minhash_lsh_pairs`, so an index
    built today matches batches screened tomorrow (the coefficients are
    a deterministic function of `num_hashes` only).

    Growing the index after a screen is a union: append
    `minhash_index(new_unique_docs)` rows and rewrite (or partition the
    index by ingest date and just add a partition). ACROSS the schema
    epoch — an index persisted before the `text_hash` column existed —
    a plain `unionByName` raises on the missing column: grow with
    ``old.unionByName(new, allowMissingColumns=True)`` (old rows get a
    NULL text_hash: correct — their sub-shingle docs were never
    indexed), or read the partitioned layout with
    ``spark.read.option("mergeSchema", "true")``; a read that samples
    only an old file's schema would silently drop the short route."""
    # ONE Arrow pass: tokenize → slice-md5 shingle hashes → signatures
    # and bands, plus the short-route hash: md5 of the normalized token
    # join, matching Catalyst ``md5(concat_ws(' ', tokens(coalesce(text,
    # ''))))`` and DuckDB ``md5(coalesce(array_to_string(t, ' '), ''))``
    # — NULL text tokenizes as [] (`_tok_list`), so both twins pin it to
    # md5('').
    import hashlib

    from pyspark.sql import types as T

    A, B = _minhash_coeff_arrays(num_hashes, bands)
    out_schema = T.StructType(
        [
            docs.schema[id_col],
            T.StructField("sig", T.ArrayType(T.LongType())),
            T.StructField("bands", T.ArrayType(T.StringType())),
            *(
                [T.StructField("text_hash", T.StringType())]
                if include_short
                else []
            ),
        ]
    )
    n = shingle_n

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            hlists = _hashed_shingle_lists(pdf[text_col], n)
            sig, band = _sig_band_lists_from_hashes(hlists, A, B, num_hashes, bands)
            out = pd.DataFrame({id_col: pdf[id_col], "sig": sig, "bands": band})
            if include_short:
                out["text_hash"] = [
                    None
                    if h
                    else hashlib.md5(" ".join(_tok_list(t)).encode()).hexdigest()
                    for h, t in zip(hlists, pdf[text_col])
                ]
            else:
                # signature-only schema: sub-shingle docs are dropped,
                # not carried as NULLs
                out = out[out["sig"].notna()]
            if not out.empty:
                yield out

    return docs.select(id_col, text_col).mapInPandas(kernel, schema=out_schema)


def minhash_dedup_against(
    new_docs: DataFrame,
    index: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    est_threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Screen a new document batch against a historical corpus's
    `minhash_index` WITHOUT the historical text: the daily-crawl dedup
    step (is this new page a near-copy of anything we already have?).

    Returns (id_new, id_indexed, est_jaccard) for every new document
    whose estimated Jaccard similarity to an indexed document is
    ≥ `est_threshold`. est_jaccard is the standard MinHash estimator —
    the fraction of the `num_hashes` signature coordinates that agree —
    an unbiased estimate of the true shingle Jaccard with stderr
    ≈ sqrt(J(1−J)/num_hashes). Unlike `minhash_lsh_pairs`, verification
    uses signatures only (the index stores no shingles), which is
    exactly the trade a production incremental pipeline makes: ~200
    bytes per historical doc vs re-reading 100 TB of history per batch.
    Raise `num_hashes` (at index build time) to tighten the estimate.

    Coverage boundary, CLOSED for exact copies: documents with fewer
    than `shingle_n` tokens have no shingles, hence no signature — that
    is structural to MinHash (min-over-empty is undefined; before the
    empty-signature filter such pairs scored est_jaccard=0 and passed
    silently anyway). The index therefore carries a normalized-token
    content hash for its sub-shingle rows (`minhash_index`'s
    `text_hash` column), and this screen hash-joins the batch's
    sub-shingle docs against it — a short document re-ingested with the
    same normalized tokens IS flagged, as (id_new, id_indexed,
    est_jaccard=1.0). What remains out of scope is NEAR-duplication
    between sub-shingle docs (no shingle set, no Jaccard to estimate —
    at `shingle_n=3` a 2-token doc's only meaningful duplicate is an
    exact one). Indexes written before the `text_hash` column existed
    (or built with `include_short=False`) skip the short route and keep
    the old behavior.

    `shingle_n`/`num_hashes`/`bands` MUST match the index build — the
    signature permutations are seeded by position, so a mismatched
    num_hashes silently compares different permutations (array lengths
    don't carry in the schema, so this cannot be validated at plan
    time — persist the build parameters next to the index).

    Scale shape: the new batch's band rows join the exploded index
    bands on (band_idx, band) — a shuffle of (id, band-hash) pairs
    pruned to the NEW batch's buckets; signature arrays join in only
    for surviving candidates. `max_bucket_size` drops band buckets
    whose COMBINED (index + batch) population exceeds the cap before
    the join — same boilerplate guard, same semantics, as
    `minhash_lsh_pairs` — and applies the same combined-population rule
    to the short route's text_hash groups (a ubiquitous short string
    would otherwise explode h_index × h_batch exact pairs).

    The index is consumed THREE times (band explode, signature verify,
    short-route filter) — five with `max_bucket_size` set (the band
    census and the short-hash census are each their own pass) — so
    pass it MATERIALIZED (a parquet read, the normal case, or
    `.localCheckpoint(eager=True)`); screening against a lazily
    recomputed index pays the signature pipeline once per consumer
    (measured 4.6x slower at 900k docs: 90.6 s vs 19.6 s)."""
    # posexplode of a NULL bands array yields no rows, so the index's
    # sub-shingle (text_hash-only) rows drop out of the band join for
    # free — they participate only in the short-route hash join below
    idx_bands = index.select(
        F.col(id_col).alias("id_indexed"),
        F.posexplode("bands").alias("band_idx", "band"),
    )
    new_index = minhash_index(
        new_docs,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
    ).cache()
    new_bands = new_index.select(
        F.col(id_col).alias("id_new"),
        F.posexplode("bands").alias("band_idx", "band"),
    )
    if max_bucket_size is not None:
        both = idx_bands.select("band_idx", "band").unionByName(
            new_bands.select("band_idx", "band")
        )
        sizes = both.groupBy("band_idx", "band").agg(F.count("*").alias("__n"))
        small = sizes.filter(F.col("__n") <= max_bucket_size).select("band_idx", "band")
        idx_bands = idx_bands.join(small, on=["band_idx", "band"], how="left_semi")
        new_bands = new_bands.join(small, on=["band_idx", "band"], how="left_semi")
    cand = (
        new_bands.join(idx_bands, on=["band_idx", "band"])
        .select("id_new", "id_indexed")
        .distinct()
    )
    sig_new = new_index.select(F.col(id_col).alias("id_new"), F.col("sig").alias("sig_new"))
    sig_idx = index.select(
        F.col(id_col).alias("id_indexed"), F.col("sig").alias("sig_idx")
    )
    matches = F.size(
        F.filter(
            F.zip_with("sig_new", "sig_idx", lambda a, b: a == b), lambda v: v
        )
    )
    out = (
        cand.join(sig_new, "id_new")
        .join(sig_idx, "id_indexed")
        # k/num_hashes is exact in double for any k (num_hashes a small
        # power-of-two-ish int), so the estimate is reproducible
        # bit-for-bit across engines
        .withColumn(
            "est_jaccard", matches.cast("double") / F.lit(float(num_hashes))
        )
        .filter(F.col("est_jaccard") >= est_threshold)
        .select("id_new", "id_indexed", "est_jaccard")
    )
    if "text_hash" in index.columns and est_threshold <= 1.0:
        # short route: the batch's sub-shingle docs hash-join the
        # index's sub-shingle side table (both tiny at shingle_n=3 —
        # broadcastable in practice, but correct either way); an exact
        # normalized-token copy reports est_jaccard=1.0
        idx_short = index.filter(F.col("text_hash").isNotNull()).select(
            F.col(id_col).alias("id_indexed"), "text_hash"
        )
        new_short = new_index.filter(F.col("text_hash").isNotNull()).select(
            F.col(id_col).alias("id_new"), "text_hash"
        )
        if max_bucket_size is not None:
            # same boilerplate guard as the band path: a short string
            # shared by h_index + h_batch docs ('ok', 'thanks', the
            # empty post-strip text) would otherwise emit every one of
            # the h_i·h_b pairs into the eager checkpoint below —
            # exactly the blow-up the cap exists to stop
            both_h = idx_short.select("text_hash").unionByName(
                new_short.select("text_hash")
            )
            small_h = (
                both_h.groupBy("text_hash")
                .agg(F.count("*").alias("__n"))
                .filter(F.col("__n") <= max_bucket_size)
                .select("text_hash")
            )
            idx_short = idx_short.join(small_h, "text_hash", "left_semi")
            new_short = new_short.join(small_h, "text_hash", "left_semi")
        short_hits = new_short.join(idx_short, "text_hash").select(
            "id_new", "id_indexed", F.lit(1.0).alias("est_jaccard")
        )
        out = out.unionByName(short_hits)
    out = out.localCheckpoint(eager=True)
    new_index.unpersist()
    return out


def centroid_affinity(
    emb: DataFrame,
    centroids,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """(id, cluster, centroid_cos, centroid_dist) — each row's nearest
    centroid (argmax cosine, ties to the lowest index) and its rounded
    affinity. Map-side only: the (k, dim) centroid matrix broadcasts
    once per executor, no shuffle.

    This is the scoring half of the SemDeDup keep rule (Abbas et al.
    2023, "SemDeDup"): within a semantic-dup component, KEEP the member
    farthest from its cluster centroid (it carries the most marginal
    information) — i.e. feed `centroid_dist` to
    keep_best_per_component(score_col="centroid_dist")."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    cent = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(cent)
    src = emb.select(F.col(id_col).alias(id_col), F.col(vec_col).alias("v"))
    schema = T.StructType(
        [
            T.StructField(id_col, src.schema[id_col].dataType),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("centroid_cos", T.DoubleType()),
            T.StructField("centroid_dist", T.DoubleType()),
        ]
    )

    def score(batches: Iterator) -> Iterator:
        from picovdb_spark.operators.ann import stack_vectors

        c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = stack_vectors(pdf["v"])
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0.0] = 1.0  # zero vectors: cosine 0 everywhere
            s = (m / norms[:, None]) @ c.T
            cl = np.argmax(s, axis=1)
            best = np.round(s[np.arange(len(cl)), cl], round_to)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cluster": cl.astype("int32"),
                    "centroid_cos": best,
                    "centroid_dist": np.round(1.0 - best, round_to),
                }
            )

    return src.mapInPandas(score, schema=schema)


def semantic_dedup_pairs(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
    n_clusters: int = 256,
    threshold: float = 0.8,
    round_to: int = 6,
    max_cluster_size: int = 200_000,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    find near-duplicate pairs ONLY within each cluster — the standard
    semantic-dedup shape for web-scale corpora, where the O(n²) cosine
    self-join is spent per-cluster (Σ sᵢ²·d FLOPs) instead of globally
    (n²·d). Returns (id_a, id_b, cosine, cluster) for pairs with
    round(cosine, round_to) ≥ threshold and id_a < id_b; feed the pairs
    to connected_components + keep_best_per_component (classically with
    centroid_affinity's `centroid_dist` as the score — SemDeDup keeps
    the member farthest from its centroid).

    Approximate BY DESIGN: a cross-cluster near-dup pair is never
    examined (the paper's trade; raise n_clusters to shrink clusters,
    lower it to shrink the blind spot). `centroids=None` fits spherical
    k-means on a bounded sample (ann.fit_centroids); pass an explicit
    (k, dim) matrix for deterministic/oracle-checkable assignment.

    Scale shape: assignment is one map-side Arrow pass (centroids
    broadcast once; vectors normalized in the same pass, float64). The
    only shuffle is the groupBy(cluster) hash exchange of (id, v) rows.
    Each cluster's pairwise GEMM is chunked to ~256 MB score blocks
    (GEMM_CHUNK_ELEMS) so memory is bounded regardless of cluster size;
    `max_cluster_size` fail-fasts on a cluster whose s² scan would be a
    runtime blow-up — the fix is more clusters, and the error says so.
    At 100 TB: pick n_clusters ≈ N / 50k so clusters stay ~10-100k
    rows; the shuffle moves each vector exactly once."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    if centroids is None:
        from picovdb_spark.operators.ann import fit_centroids

        centroids = fit_centroids(emb, n_clusters, vector_col=vec_col, seed=seed)
    cent = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(cent)
    src = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    id_type = src.schema["id"].dataType
    assigned_schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("v", T.ArrayType(T.DoubleType())),
            T.StructField("cluster", T.IntegerType()),
        ]
    )

    def assign(batches: Iterator) -> Iterator:
        from picovdb_spark.operators.ann import stack_vectors

        c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = stack_vectors(pdf["v"])
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0.0] = 1.0
            m = m / norms[:, None]
            cl = np.argmax(m @ c.T, axis=1).astype("int32")
            yield pd.DataFrame({"id": pdf["id"], "v": list(m), "cluster": cl})

    assigned = src.mapInPandas(assign, schema=assigned_schema)

    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine", T.DoubleType()),
            T.StructField("cluster", T.IntegerType()),
        ]
    )
    cap = int(max_cluster_size)
    chunk_elems = GEMM_CHUNK_ELEMS

    def cluster_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        s = len(pdf)
        empty = pd.DataFrame(
            {"id_a": [], "id_b": [], "cosine": [], "cluster": []}
        )
        if s < 2:
            return empty
        if s > cap:
            raise ValueError(
                f"semantic_dedup_pairs: cluster {int(pdf['cluster'].iloc[0])} "
                f"has {s} rows (> max_cluster_size={cap}); its pairwise scan "
                f"is s²·d — raise n_clusters (SemDeDup's own knob) so "
                "clusters shrink, or raise max_cluster_size deliberately"
            )
        m = np.asarray(list(pdf["v"]), dtype=np.float64)
        ids = pdf["id"].to_numpy()
        cl = int(pdf["cluster"].iloc[0])
        chunk_rows = max(1, chunk_elems // s)
        # float32 prefilter + float64 refine: the full s²·d scan
        # runs in SINGLE precision (sgemm ~2× dgemm — knn_join_blocked
        # docstring), and only the sparse candidate set is re-scored
        # exactly in double. No pair can be missed: the float32 dot of
        # two float64 unit vectors is within prescan_error_bound(d) of
        # the exact cosine, and a true cosine just below `threshold`
        # can still ROUND up to it from half a rounding quantum below —
        # the margin covers both. Emitted values are float64 np.round
        # exactly as before (f64 dot error ~1e-14 against the
        # 0.5·10⁻ʳᵒᵘⁿᵈ quantum — no boundary risk, unlike float32 where
        # this class of flip is real; see operators/resident.py).
        m32 = np.ascontiguousarray(m, dtype=np.float32)
        margin = prescan_error_bound(m.shape[1]) + 10.0**-round_to
        pre_thr = threshold - margin
        outs = []
        for lo in range(0, s, chunk_rows):
            s32 = m32[lo : lo + chunk_rows] @ m32.T
            bi, bj = np.nonzero(s32 >= pre_thr)
            if len(bi) == 0:
                continue
            left, right = ids[bi + lo], ids[bj]
            ordered = left < right
            if not ordered.any():
                continue
            bi, bj = bi[ordered], bj[ordered]
            left, right = left[ordered], right[ordered]
            vals = np.round(
                np.einsum("ij,ij->i", m[bi + lo], m[bj]), round_to
            )
            keep = vals >= threshold
            if not keep.any():
                continue
            outs.append(
                pd.DataFrame(
                    {
                        "id_a": left[keep],
                        "id_b": right[keep],
                        "cosine": vals[keep],
                        "cluster": cl,
                    }
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else empty

    return assigned.groupBy("cluster").applyInPandas(cluster_pairs, schema=out_schema)

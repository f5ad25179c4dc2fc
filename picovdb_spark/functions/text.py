"""Text kernels for the LLM-data-pipeline operators (dedup, analysis).

All kernels are Catalyst array/string expressions (JVM-side, codegen).
Cross-engine determinism rule: every hash is derived from `md5` (present
in both Spark and DuckDB) — a 32-bit value is the first 8 hex chars, a
48-bit value the first 12, parsed as an integer. This keeps each
operator's DuckDB oracle bit-identical to the engine.

The `documents` testdata is lowercase space-separated words (verified:
no other characters), so tokenization is an exact split on ' '; the
regex fallback is provided for general text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokens a BPE-ish tokenizer would produce: runs of letters, runs of
# digits, or single non-space symbols.
BPE_TOKEN_RE = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9\\s]"

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "zu", "ein"],
    "es": ["el", "la", "de", "que", "y", "en", "un"],
    "fr": ["le", "la", "de", "et", "un", "une", "est"],
    "zh": ["de", "le", "shi", "zai", "he", "you"],
}


def tokens(text: Column) -> Column:
    """Split lowercase text on single spaces, dropping empties.

    `array_remove` (native, whole-stage codegen) instead of a
    ``filter()`` lambda: higher-order-function lambdas run INTERPRETED
    per element, and this helper sits under every Catalyst text path
    (quality, shingle twins, token counts) — at the 500k-doc tier the
    lambda form was a measurable slice of the quality gate's wall
    (r10; the same interpreted-HOF cost class r8/r9 removed from the
    dedup kernels). Identical values: both forms drop exactly the
    empty-string elements a multi-space split mints."""
    return F.array_remove(F.split(F.lower(text), " "), "")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams joined by ' ' — the dedup shingle unit."""
    t = tokens(text)
    idx = F.when(F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    parts = lambda i: [F.element_at(t, (i + j).cast("int")) for j in range(n)]  # noqa: E731
    return F.array_distinct(F.transform(idx, lambda i: F.concat_ws(" ", *parts(i))))


def char_shingles(text: Column, n: int = 5) -> Column:
    """Distinct character n-grams."""
    ln = F.length(text)
    idx = F.when(ln >= n, F.sequence(F.lit(1), ln - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(F.transform(idx, lambda i: F.substr(text, i, F.lit(n))))


def md5_hash32(s: Column) -> Column:
    """First 8 md5 hex chars as a long in [0, 2^32)."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def md5_hash48(s: Column) -> Column:
    """First 12 md5 hex chars as a long in [0, 2^48)."""
    return F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long")


# Universal-hash MinHash family: h_i(x) = (a_i·x + b_i) mod P over ONE
# md5-derived 32-bit base hash per shingle — 16× fewer md5 evaluations
# than hashing per (seed, shingle). P is the first prime > 2^32; a,b are
# fixed (seeded) with a,b < 2^30 so a·x + b < 2^62 never overflows BIGINT
# in either engine.
MINHASH_PRIME = 4294967311


def _minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(42)
    return [
        (rng.randrange(1, 1 << 30), rng.randrange(0, 1 << 30)) for _ in range(num_hashes)
    ]


def minhash_signature(shingle_hashes: Column, num_hashes: int = 16) -> list[Column]:
    """MinHash signature over a column of pre-hashed shingles
    (`transform(sh, md5_hash32)`): mh_i = min over shingles of
    (a_i·h + b_i) mod P. Empty shingle set ⇒ null.

    REFERENCE TWIN: production signatures come from the Arrow kernel
    `dedup._sig_band_lists_from_hashes` (interpreted Catalyst HOFs cost
    31 s of a 44 s LSH wall at the 500k-doc tier); this Catalyst form states
    the formula declaratively and pins the kernel bit-identical in
    tests/test_oracle.py::test_minhash_sig_arrow_kernel_matches_catalyst_reference
    — the same identity the DuckDB oracle twins restate in SQL."""
    coeffs = _minhash_coeffs(num_hashes)

    def perm(a: int, b: int):
        # factory keeps the lambda 1-ary (PySpark dispatches on arity)
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME)

    return [
        F.array_min(F.transform(shingle_hashes, perm(a, b))).alias(f"mh{i}")
        for i, (a, b) in enumerate(coeffs)
    ]


def band_value(sig_cols: list[Column]) -> Column:
    """LSH band bucket id: md5 over the band's signature slice
    (comma-joined decimal). Reference twin of the Arrow kernel's band
    hash — see `minhash_signature`."""
    return F.md5(F.concat_ws(",", *[c.cast("string") for c in sig_cols]))


def jaccard(a: Column, b: Column) -> Column:
    """|A∩B| / |A∪B| over distinct-element arrays, in double."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


# ------------------------------------------------------- DuckDB oracle twins

def duck_tokens(text_expr: str) -> str:
    return f"list_filter(string_split(lower({text_expr}), ' '), t -> t <> '')"


def duck_word_shingles(text_expr: str, n: int = 3) -> str:
    toks = duck_tokens(text_expr)
    parts = " || ' ' || ".join(f"__t[i+{j}]" for j in range(n))
    return (
        f"(SELECT list_distinct(list_transform(range(1, greatest(len(__t) - {n - 2}, 1)), "
        f"i -> {parts})) FROM (SELECT {toks} AS __t) __sub)"
    )


def duck_hash32(s_expr: str) -> str:
    return f"('0x' || substr(md5({s_expr}), 1, 8))::BIGINT"


def duck_hash48(s_expr: str) -> str:
    return f"('0x' || substr(md5({s_expr}), 1, 12))::BIGINT"

"""Text-analysis building blocks for the training-data pipeline:
tokenization, n-gram shingling, MinHash components, quality metrics.
All pure Catalyst expressions (JVM-side).

MinHash design (Broder 1997's single-base-hash form): each shingle is
hashed ONCE — ``base = hex(md5(x))[:15] as int64`` (full 60 bits, the
shingle's set identity) — and signature component i is the min over
shingles of the universal-hash mix ``(a_i * (base mod P) + b_i) mod P``
with P = 2^31 - 1. One expensive
digest per shingle + k cheap integer mixes replaces the previous
k-digests-per-shingle construction (8× md5 → 1× md5 on the dedup
pipeline's hottest stage). md5 is used as the base because it is the
engine-independent hash available in both Spark and the DuckDB oracle
(builtin ``hash()`` differs per engine); all mix arithmetic stays below
2^62, so int64 is exact in both. Shingles are word 3-grams: the shingle
space is |vocab|³, which keeps random-document collisions rare where
unigram tokens would not.

CSE hazard (see round-6 simhash note): Catalyst gives lambda bodies no
common-subexpression elimination and CollapseProject happily re-inlines
a projected expression into every consumer, so the per-shingle base
hash MUST be materialized (persist / checkpoint / exchange boundary)
before fanning out to the k component mins — otherwise the single md5
silently becomes k md5s again. ``shingle_hashes`` produces the array to
materialize; ``minhash_component`` consumes it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and")

# Every character the symbol-ratio quality metric does NOT count: the
# ASCII alphanumerics plus Java regex \s = [ \t\n\x0B\f\r]. Used by
# symbol_count() below via translate().
_NON_SYMBOL_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    " \t\n\x0b\f\r"
)


def symbol_count(col: Column) -> Column:
    """Count of characters matching ``[^A-Za-z0-9\\s]`` — computed as
    ``length(translate(text, <all non-symbol chars>, ''))``, i.e. strip
    the 68 alphanumeric/whitespace characters and measure what's left.

    Equivalent by definition to
    ``size(regexp_extract_all(text, '[^A-Za-z0-9\\s]', 0))`` (each
    match of that class is exactly one character), but translate() is a
    per-char table lookup instead of a regex engine pass — measured 9x
    faster on the sf1 documents corpus (2.23 s -> 0.25 s), and the
    symbol pass was the single largest cost inside the quality-gate
    stage of corpus_to_training_set. DuckDB oracles keep the
    regexp_extract_all spelling; the driver hash proves the per-doc
    equivalence on every corpus.
    """
    return F.length(F.translate(col, _NON_SYMBOL_CHARS, ""))


def tokens(col: Column) -> Column:
    """Whitespace tokens (regex split on runs of spaces, trimmed)."""
    return F.split(F.trim(col), " +")


def shingles(tok: Column, n: int = 3) -> Column:
    """Word n-gram shingles: [tok[i] .. tok[i+n-1]] joined by spaces;
    empty array when len < n.

    Built as zip_with over n shifted slices rather than
    transform(sequence, i -> element_at(tok, i+k)): per-element
    element_at re-inlines the whole upstream token expression (no CSE
    inside lambda bodies), turning an O(len) shingle pass into
    O(len²) recomputation of split(). Slices evaluate the token array
    O(n) times per ROW instead."""
    m = F.size(tok) - (n - 1)
    sh = F.slice(tok, 1, m)
    for k in range(1, n):
        sh = F.zip_with(
            sh, F.slice(tok, k + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(F.size(tok) >= n, sh).otherwise(
        F.array().cast("array<string>")
    )


MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def minhash_mix_consts(seed: int) -> tuple[int, int]:
    """Deterministic (a, b) for the seed-th universal-hash mix,
    a ∈ [1, P), b ∈ [0, P) — fixed golden-ratio/xxhash-prime spreads so
    Spark and the DuckDB oracle embed identical literals."""
    a = (0x9E3779B1 * (seed + 1)) % MINHASH_P
    if a == 0:  # unreachable for small seeds; keeps the family universal
        a = 1
    b = (0x85EBCA77 * seed + 0xC2B2AE35) % MINHASH_P
    return a, b


def shingle_hashes(shingle_col: Column) -> Column:
    """Per-shingle base hash array: the ONE md5 evaluation per shingle,
    kept at the FULL 60 bits (15 hex chars) — downstream set operations
    (the exact-Jaccard verify) treat these as shingle identities, and a
    60-bit space keeps collision odds ~2^-60 per pair where reducing to
    31 bits here would alias distinct shingles at 100 TB corpus sizes
    (code-review r7); the signature mixes reduce mod P themselves.
    Callers must land this on a materialization boundary (persist /
    checkpoint / exchange) before computing components — see the module
    docstring's CSE hazard."""
    return F.transform(
        shingle_col,
        lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast(
            "bigint"
        ),
    )


def minhash_component(hash_col: Column, seed: int) -> Column:
    """One MinHash signature component over a pre-hashed shingle array
    (from :func:`shingle_hashes`): min of the seed-th cheap mix. The
    60-bit base reduces mod P first so the a·h product stays below
    2^62 — exact int64 in both engines."""
    a, b = minhash_mix_consts(seed)
    return F.array_min(
        F.transform(
            hash_col,
            lambda h: (F.lit(a) * (h % MINHASH_P) + F.lit(b)) % MINHASH_P,
        )
    )
